package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The `Tables.table` contract: a table is resolved once per session and
  * version, and every call hands out a fresh frame over that resolution.
  */
class TablesSpec extends SparkSpec {

  /** Job groups of the Spark jobs `body` launches on this thread. A
    * marker job run after `body` fences the asynchronous listener bus:
    * once the marker is seen, every earlier job has been seen too.
    */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val group = s"tables-${System.nanoTime}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables contract")
      body
      sc.setJobGroup(s"$group-marker", "Tables contract marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$group-marker") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "marker job never reached the listener")
      seen.asScala.toSeq.filter(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second load launches no job and returns the same rows") {
    val first = Tables.orders(spark, sfTiny)
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobGroupsOf { second = Tables.orders(spark, sfTiny) }.isEmpty)
    assert(second.collect().toSeq.map(_.toString).sorted ==
      first.collect().toSeq.map(_.toString).sorted)
  }

  test("two loads carry disjoint attribute ids, so they self-join") {
    val a = Tables.orders(spark, sfTiny)
    val b = Tables.orders(spark, sfTiny)
    val idsA = a.queryExecution.analyzed.output.map(_.exprId).toSet
    val idsB = b.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(idsA.nonEmpty && idsA.intersect(idsB).isEmpty)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == a.count())
  }

  test("a table rewritten in place is resolved again, row count included") {
    val d = scratchDir("tables_rewrite")
    val src = Tables.orders(spark, sfTiny)
    src.limit(10).write.parquet(s"$d/orders.parquet")
    assert(Tables.orders(spark, d).count() == 10)
    assert(Tables.rowCount(spark, d, "orders") == 10)
    src.limit(7).write.mode("overwrite").parquet(s"$d/orders.parquet")
    assert(Tables.orders(spark, d).count() == 7)
    assert(Tables.rowCount(spark, d, "orders") == 7)
  }

  test("a missing table raises the reader's own error") {
    val d = scratchDir("tables_missing")
    val expected = intercept[Exception](spark.read.parquet(s"$d/orders.parquet"))
    val actual = intercept[Exception](Tables.orders(spark, d))
    assert(actual.getClass == expected.getClass)
    assert(actual.getMessage == expected.getMessage)
  }
}
