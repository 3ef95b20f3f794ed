package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args.toSeq match {
      case Seq(s, o, rest @ _*) => (s, o, rest.toSet)
      case _ => sys.error("usage: Verify <sfDir> <outDir> [query ...]")
    }
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    // an oracle-pinned knob set would guarantee a false hash mismatch,
    // so refuse to produce the artifact at all
    Knobs.requireOracleDefaults(spark)
    // a typo'd name must fail loudly — filtering to an empty set would
    // exit green having verified nothing
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    selected.foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce folds upstream and would
      // run the whole query plan on one task; repartition keeps the plan
      // parallel and only the final write is single-file
      // scoped: one query's staged cache never outlives it
      try Materialize.scoped {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A missing dump silently VANISHES from the driver's correctness
        // artifact (round 6: 10 errored queries made a broken round look
        // fully green). Write a one-row `_graft_error` dump instead: the
        // driver's compare then finds the dir, sees a column set no oracle
        // produces, and records the query as a FAILURE with the message in
        // view — the artifact can never silently shrink.
        try {
          import spark.implicits._
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          Seq(msg).toDF("_graft_error").repartition(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
