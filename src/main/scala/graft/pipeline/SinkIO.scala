package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** The reader/writer seam the reference hard-wires to Postgres
  * (weather_task.py:72-99): one incremental-sink interface with a
  * file-native implementation (what the test harness exercises) and a
  * JDBC implementation (reference fidelity — S2/S3). `EventsPipeline`
  * semantics (watermark read, guarded append) depend only on this trait,
  * so swapping Postgres for parquet — or vice versa — is a constructor
  * argument, not a code change.
  */
trait SinkIO {

  /** 1-row frame holding the sink's high watermark as column `wm`
    * (null/empty sink → a single null row). The caller broadcast-joins
    * it (SURVEY P2): the broadcast exchange collects the row to the
    * driver and ships it to the executors.
    */
  def watermark(spark: SparkSession, tsCol: String): DataFrame

  /** S3: append rows. */
  def append(df: DataFrame): Unit

  /** Full read-back (S7 client-query source). */
  def readAll(spark: SparkSession): DataFrame
}

/** Date-partitioned parquet sink (the engine's native layout). */
final class ParquetSink(dir: String, partitionCol: Option[String] = None)
    extends SinkIO {

  private def exists(spark: SparkSession): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The read states its one column's type, so nothing is inferred: a
    * directory with no data file yet (created before the first append,
    * or holding only `_SUCCESS`-style markers, which Spark's file index
    * skips) reads as an empty scan and gives the null watermark instead
    * of failing with UNABLE_TO_INFER_SCHEMA.
    */
  override def watermark(spark: SparkSession, tsCol: String): DataFrame =
    if (!exists(spark))
      spark.range(1).select(lit(null).cast("timestamp").as("wm"))
    else
      spark.read.schema(new StructType().add(tsCol, TimestampType)).parquet(dir)
        .agg(max(col(tsCol)).as("wm"))

  override def append(df: DataFrame): Unit = {
    val w = df.write.mode(SaveMode.Append)
    partitionCol match {
      case Some(c) => w.partitionBy(c).parquet(dir)
      case None    => w.parquet(dir)
    }
  }

  override def readAll(spark: SparkSession): DataFrame =
    spark.read.parquet(dir)
}

/** JDBC sink (reference parity: Postgres in production, any JDBC URL —
  * the tests drive embedded Derby). The watermark MAX is pushed INTO the
  * database exactly as the reference does (weather_task.py:72-77): the
  * aggregate runs DB-side and Spark reads a 1×1 relation, so the sink
  * table is never scanned over the wire.
  */
final class JdbcSink(url: String, table: String, driver: String)
    extends SinkIO {

  private def base(spark: SparkSession) =
    spark.read.format("jdbc")
      .option("url", url)
      .option("driver", driver)

  /** Table existence via JDBC metadata — an explicit check, not an
    * exception swallow (the reference's catch-everything watermark,
    * weather_task.py:86-89, is exactly what this engine refuses to copy).
    */
  private def tableExists(): Boolean = {
    java.lang.Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      Iterator.continually(rs).takeWhile(_.next())
        .exists(_.getString("TABLE_NAME").equalsIgnoreCase(table))
    } finally conn.close()
  }

  override def watermark(spark: SparkSession, tsCol: String): DataFrame =
    if (!tableExists())
      // contract: fresh sink → single null row, everything passes through
      spark.range(1).select(lit(null).cast("timestamp").as("wm"))
    else
      base(spark)
        // S2: scalar subquery as the JDBC relation — MAX executes in the DB.
        // The column is double-quoted: Spark's JDBC writer creates quoted
        // (case-sensitive) identifiers on Derby/Postgres alike.
        .option("dbtable", s"""(SELECT MAX("$tsCol") AS wm FROM $table) t""")
        .load()
        .select(col("wm"))

  override def append(df: DataFrame): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .option("dbtable", table)
      .mode(SaveMode.Append)
      .save()

  override def readAll(spark: SparkSession): DataFrame =
    base(spark).option("dbtable", table).load()
}

object SinkIO {

  /** P2 against any sink: keep rows strictly newer than the watermark;
    * empty sink passes everything. The 1-row watermark is broadcast:
    * collected to the driver by the broadcast exchange, not by the caller.
    */
  def watermarkFilter(
      spark: SparkSession, df: DataFrame, sink: SinkIO, tsCol: String): DataFrame = {
    val wm = sink.watermark(spark, tsCol).select(col("wm").cast("timestamp"))
    df.crossJoin(broadcast(wm))
      .filter(col("wm").isNull || col(tsCol) > col("wm"))
      .drop("wm")
  }
}
