package graft

import java.io.IOException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * All engine operators are pure functions over these tables; at 100 TB the
  * same code reads `s3a://...` prefixes instead of a local dir — only the
  * path changes. Parquet scans get column pruning + predicate pushdown from
  * Catalyst for free, so loaders return the raw scan and let each query
  * project/filter (visible in the plan as `ReadSchema`/`PushedFilters`).
  *
  * Each table is resolved once per session. The first `table` call for a
  * (session, table path, table directory modification time) runs
  * `spark.read.parquet` — data-source lookup, file listing and the
  * schema-inference job — and keeps the resolved relation (schema plus
  * file index). Every later call with the same key returns a fresh frame
  * over that relation (`baseRelationToDataFrame`): a new scan node with
  * new attribute ids, so one plan can read a table twice (self-joins), and
  * no listing, lookup or Spark job. Input directories are treated as
  * immutable per version: rewriting a table (which replaces its directory
  * or its entries) changes the directory's modification time and the next
  * call resolves it again, but editing a data file in place without
  * touching the directory is not seen. A path that does not exist is
  * handed to `spark.read.parquet` unchanged, so it fails exactly as
  * before. Entries of a session are dropped when its SparkContext stops.
  */
object Tables {
  /** One resolved table version; `rows` is its exact row count (a parquet
    * footer-metadata aggregate), computed on first request.
    */
  private final class Resolved(spark: SparkSession, val relation: BaseRelation) {
    lazy val rows: Long = spark.baseRelationToDataFrame(relation).count()
  }
  private final case class Key(session: SparkSession, path: String, version: Long)
  private val resolved = new ConcurrentHashMap[Key, Resolved]()

  /** The resolved version of the table at `path`; None when its directory
    * cannot be stat'ed (missing path), so the caller falls back to a plain
    * read that raises the reader's own error.
    */
  private def lookup(spark: SparkSession, path: String): Option[Resolved] = {
    val p = new Path(path)
    val version =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
      catch { case _: IOException => return None }
    val key = Key(spark, path, version)
    Option(resolved.get(key)).orElse {
      val rel = spark.read.parquet(path).queryExecution.analyzed
        .asInstanceOf[LogicalRelation].relation
      val sc = spark.sparkContext
      if (!resolved.keySet.stream.anyMatch(_.session.sparkContext eq sc))
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            resolved.keySet.removeIf(_.session.sparkContext eq sc)
        })
      resolved.keySet.removeIf(k => (k.session eq spark) && k.path == path)
      val r = new Resolved(spark, rel)
      Some(Option(resolved.putIfAbsent(key, r)).getOrElse(r))
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    lookup(spark, path) match {
      case Some(r) => spark.baseRelationToDataFrame(r.relation)
      case None => spark.read.parquet(path)
    }
  }

  /** Exact row count of a table, memoized with its resolved version. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    lookup(spark, s"$dir/$name.parquet").map(_.rows)
      .getOrElse(table(spark, dir, name).count())

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` arrives as one of two physical types depending on how the
    * parquet was written: TIMESTAMP(NANOS) (which Spark 4 won't map to
    * TimestampType directly — with `spark.sql.legacy.parquet.nanosAsLong=true`
    * it scans as epoch-nanos LongType) or plain TIMESTAMP(MICROS) (ordinary
    * TimestampType). Branch on the SCANNED dtype: truncate ns→µs (integer
    * `div`, matching DuckDB) only when the scan produced a Long; otherwise
    * the column is already the timestamp every downstream operator expects.
    * An unconditional rewrite fails analysis the moment the data layout
    * changes underneath us — exactly what a lake engine must absorb.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // µs parquet with isAdjustedToUTC=false scans as TIMESTAMP_NTZ;
        // session TZ is pinned UTC (GraftSession), so this cast is
        // value-preserving and downstream sees one uniform TimestampType.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** One registered engine operator: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle twin used by the
  * driver's correctness gate. `oracle == None` → driver records a weaker
  * rows-only check (used for hash-family-dependent ops like MinHash).
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def queries: Seq[GraftQuery]
}
