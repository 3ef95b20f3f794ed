package graft.pipeline

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-layout maintenance operators: the table-management jobs every
  * large parquet lake needs between ingest and query. The reference's
  * sink is an unindexed Postgres table (postgres/init.sql:1-17), so none
  * of these exist there — they are the §7.3-4 capability bar applied to
  * the storage layer, where 100 TB problems actually live:
  *
  *  - `sink_compaction`: streaming/micro-batch ingest produces thousands
  *    of KB-sized files per partition; NameNode/S3 listing and per-file
  *    open cost then dominate scans. Compaction rewrites a directory to
  *    size-targeted files — file count derives from measured input
  *    bytes, never a hardcoded partition count.
  *  - `sink_clustered_write`: range-clustering on the dominant filter
  *    key gives parquet row-group min/max stats real selectivity, so a
  *    key-range scan skips whole files instead of reading everything.
  *    This is the write-side half of predicate pushdown.
  *  - `sink_upsert_merge`: copy-on-write SCD-1 merge — one shuffled
  *    anti-join of the snapshot against the delta keys plus a union.
  *    At 100 TB the same plan runs per-partition with dynamic partition
  *    overwrite so only touched partitions rewrite; the join is the
  *    identical shape either way.
  *  - `src_jsonl_roundtrip`: JSONL is the lingua franca of training-data
  *    interchange; the round trip pins escaping fidelity (newlines,
  *    quotes, unicode) through the Spark JSON source against DuckDB's
  *    reading of the original parquet.
  */
object Layout extends QueryModule {

  /** Compact every parquet file under `inDir` into size-targeted files at
    * `outDir`. Returns (inputFiles, outputFiles). The output file count is
    * ceil(totalBytes / targetBytes) — measured, not guessed, so the same
    * call that merges 10k micro-batch droppings into 3 files also splits
    * one pathological 10 GB file into 80. The output is a single flat
    * dir: hive-partition columns of a partitioned input are read back
    * as data columns, so to compact a partitioned table partition-by-
    * partition (preserving its layout), call this once per leaf dir.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): (Int, Int) = {
    // recursive: partitioned layouts nest part files under key=value
    // dirs — a non-recursive listing would measure 0 bytes there and
    // "compact" everything into one file
    def parquetFiles(dir: Path): Array[org.apache.hadoop.fs.FileStatus] = {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(dir, true)
      val out = Array.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f
      }
      out.result()
    }
    val dataFiles = parquetFiles(new Path(inDir))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    (dataFiles.length, parquetFiles(new Path(outDir)).length)
  }

  /** Write `df` range-clustered on `key`: rows range-partitioned so each
    * file owns a contiguous, non-overlapping key interval, and sorted
    * within files so row-group min/max stats are tight. `numFiles` is a
    * caller decision (bytes-per-file policy) — at scale it comes from
    * input size the way `compact` derives it.
    */
  def clusteredWrite(df: DataFrame, key: String, numFiles: Int,
                     outDir: String): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(outDir)

  /** Interleave the low 8 bits of `c` into the even bit positions (the
    * classic bit-spread: 0b_abcd_efgh → 0b_a0b0c0d0_e0f0g0h0), the
    * building block of a 2-D Z-value. Pure bitwise ops — codegen'd,
    * no UDF.
    */
  private def spreadBits8(c: Column): Column = {
    val x1 = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F))
    val x2 = x1.bitwiseOR(shiftleft(x1, 2)).bitwiseAND(lit(0x3333))
    x2.bitwiseOR(shiftleft(x2, 1)).bitwiseAND(lit(0x5555))
  }

  /** Write `df` Z-ORDER clustered on two numeric keys: each key is
    * scaled to 8 bits against its min/max (one broadcast 1-row agg — the
    * watermark-filter pattern; never a rank window, which would
    * serialize the table through one task), the bits interleaved into a
    * 16-bit Z-value, and rows range-partitioned + sorted on it. Files
    * then own compact RECTANGLES of the (keyA, keyB) space instead of
    * stripes of one key, so parquet min/max stats prune a 2-D box
    * predicate on EITHER or BOTH keys — the multi-dimensional
    * generalization of `clusteredWrite`, which clusters perfectly on
    * one key and not at all on the second. (At 256×256 resolution the
    * curve's rectangle edges are 1/256 of each domain; production
    * implementations swap the linear scaling for rank-based boundaries
    * when keys are heavily skewed — same Z math, different
    * normalization.) The Z column is computed, used for layout, and
    * dropped — it never reaches disk.
    */
  def zorderWrite(df: DataFrame, keyA: String, keyB: String, numFiles: Int,
                  outDir: String): Unit = {
    val mm = df.agg(
      min(col(keyA)).as("a_min"), max(col(keyA)).as("a_max"),
      min(col(keyB)).as("b_min"), max(col(keyB)).as("b_max"))
    def scaled(k: String, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0)).otherwise(
        ((col(k) - lo).cast("double") * 255.0 / (hi - lo).cast("double"))
          .cast("int"))
    val z = shiftleft(spreadBits8(scaled(keyA, col("a_min"), col("a_max"))), 1)
      .bitwiseOR(spreadBits8(scaled(keyB, col("b_min"), col("b_max"))))
    df.crossJoin(broadcast(mm))
      .withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z", "a_min", "a_max", "b_min", "b_max")
      .write.mode("overwrite").parquet(outDir)
  }

  /** File-level min/max stats over `statsCols` for every parquet file
    * under `dataDir` — the data-skipping index a lake keeps NEXT TO a
    * table so a planner can prune files without opening their footers.
    * One column-pruned scan of the table builds it; it is tiny (rows =
    * files) and is meant to be persisted and maintained incrementally
    * at real scale. Parquet row-group stats already give per-FILE
    * skipping at read time, but only after listing and opening every
    * footer; an explicit index makes pruning an O(index) metadata query
    * — the difference between touching 10⁶ files and reading one small
    * table at 100 TB. Pairs naturally with `clusteredWrite`/
    * `zorderWrite`, which are what make per-file ranges TIGHT.
    */
  def buildSkippingIndex(spark: SparkSession, dataDir: String,
                         statsCols: Seq[String]): DataFrame = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    // _metadata.file_size rides along for free (computed per-file by the
    // scan, no extra listing): prunedScan's FileIndex needs lengths to
    // plan read splits without re-statting any admitted file
    spark.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("file"),
        col("_metadata.file_size").as("file_size"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Read `dataDir` with file pruning: consult the skipping `index` for
    * files whose [min, max] intervals intersect EVERY requested range,
    * read only those, and re-apply the ranges as a residual row filter
    * (file stats admit, never decide).
    *
    * The admitted set reaches Spark as a custom [[FileIndex]] fed
    * directly by the index query — no `collect()` of a path-string
    * array, and crucially none of `spark.read.parquet(paths: _*)`'s
    * per-path re-listing/qualification pass (at 10⁶ admitted files that
    * is 10⁶ filesystem RPCs before the first byte of data). File
    * lengths come from the index itself (`file_size`, recorded by
    * `buildSkippingIndex` from `_metadata`), so split planning touches
    * no filesystem metadata at all; the admitted `FileStatus` sequence
    * itself still lives on the driver during planning — the irreducible
    * cost every lake format's scan pays — streamed in via
    * `toLocalIterator`, never duplicated as a string array. A legacy
    * index without `file_size` falls back to the collected-paths read.
    *
    * A file whose stats are null for a range column holds only nulls
    * there and no range predicate can admit a null, so excluding it is
    * exact.
    */
  def prunedScan(spark: SparkSession, dataDir: String, index: DataFrame,
                 ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "prunedScan needs at least one range")
    val admit = ranges.map { case (c, lo, hi) =>
      col(s"${c}_min") <= lit(hi) && col(s"${c}_max") >= lit(lo)
    }.reduce(_ && _)
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (!index.columns.contains("file_size")) {
      // legacy index without lengths: the documented driver-array path
      val files = index.filter(admit).select(col("file"))
        .collect().map(_.getString(0))
      return (if (files.isEmpty) spark.read.parquet(dataDir).limit(0)
              else spark.read.parquet(files.toIndexedSeq: _*))
        .filter(residual)
    }
    val adm = index.filter(admit).select(col("file"), col("file_size"))
    // two scalars + one schema footer: the only up-front driver actions
    val head = adm
      .agg(count(lit(1)).as("n"), sum(col("file_size")).as("bytes"),
        min(col("file")).as("f0"))
      .head()
    if (head.getLong(0) == 0L)
      return spark.read.parquet(dataDir).limit(0).filter(residual)
    val dataSchema = spark.read.parquet(head.getString(2)).schema
    val fileIndex = new SkippingFileIndex(new Path(dataDir),
      () => adm.toLocalIterator(), head.getLong(1))
    val relation = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(fileIndex, new StructType(), dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat(),
        Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation).filter(residual)
  }

  /** A [[org.apache.spark.sql.execution.datasources.FileIndex]] whose
    * file list IS the skipping-index query: `listFiles` streams
    * (path, length) rows straight into the scan's split planner, so the
    * admitted set is never collected as a path array and no admitted
    * file is ever re-listed or re-statted (lengths come from the index).
    * Partition pruning stays with the index predicate upstream; this
    * index is deliberately partition-schema-free.
    */
  private final class SkippingFileIndex(
      root: Path,
      admitted: () => java.util.Iterator[org.apache.spark.sql.Row],
      totalBytes: Long)
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, PartitionDirectory}
    import scala.jdk.CollectionConverters._

    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[PartitionDirectory] = {
      val files = admitted().asScala.map { r =>
        FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(
          r.getLong(1), false, 1, 128L << 20, 0L, new Path(r.getString(0))))
      }.toSeq
      Seq(PartitionDirectory(InternalRow.empty, files))
    }
    override def inputFiles: Array[String] =
      admitted().asScala.map(_.getString(0)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = totalBytes
    override def partitionSchema: StructType = new StructType()
  }

  /** Copy-on-write upsert: rows of `base` whose key appears in `delta`
    * are replaced by the delta row; delta rows with new keys append.
    * One anti-join on the key + one union — no driver-side state.
    *
    * `evolve=true` permits ADDITIVE schema drift between the sides:
    * columns present on only one side come back null on the other
    * (surviving base rows null-fill a delta-introduced column; delta
    * rows null-fill a column they stopped carrying). Off by default —
    * silent null-filling would otherwise mask a typo'd column name in
    * a well-formed delta.
    */
  def upsert(base: DataFrame, delta: DataFrame, key: String,
             evolve: Boolean = false): DataFrame =
    base.join(delta.select(col(key)), Seq(key), "left_anti")
      .unionByName(delta, allowMissingColumns = evolve)

  /** CDC merge: `upsert` generalized to deltas that carry an op column
    * (`'u'` upsert / `'d'` delete — the Debezium-style row-op a real CDC
    * feed replicates from a transactional source like the reference's
    * Postgres sink, postgres/init.sql:1-17). Base rows whose key appears
    * in the delta — under EITHER op — are dropped by the same single
    * anti-join; only the non-delete delta rows come back in, so a
    * tombstone removes its key and an upsert replaces it, at identical
    * plan shape and cost to the delete-less `upsert`. The op column does
    * not survive into the merged output. Delete rows for absent keys
    * no-op (anti-join matches nothing), which is what makes a replayed
    * delete batch harmless.
    */
  def applyCdc(base: DataFrame, delta: DataFrame, key: String,
               opCol: String, evolve: Boolean = false): DataFrame =
    base.join(delta.select(col(key)), Seq(key), "left_anti")
      .unionByName(delta.filter(col(opCol) =!= lit("d")).drop(opCol),
        allowMissingColumns = evolve)

  /** Open an SCD-2 dimension history from a plain snapshot: every row
    * becomes the key's first version, valid from `eff` (a caller-chosen
    * event-time/version stamp, BIGINT) to the open horizon
    * (`valid_to = NULL`, `is_current = true`).
    */
  def scd2Init(snapshot: DataFrame, eff: Long): DataFrame =
    snapshot
      .withColumn("valid_from", lit(eff))
      .withColumn("valid_to", lit(null).cast(LongType))
      .withColumn("is_current", lit(true))

  /** SCD-2 merge: apply an attribute delta to a dimension HISTORY table
    * (the slowly-changing-dimension type 2 of Kimball's warehouse
    * vocabulary — the reference's Postgres sink is exactly the kind of
    * mutable dimension source this tracks over time). For each delta key
    * whose attributes genuinely differ from the key's CURRENT version
    * (null-safe comparison; brand-new keys always differ), the current
    * row is CLOSED (`valid_to = eff`, `is_current = false`) and a new
    * open version is inserted at `valid_from = eff`. Verbatim re-sends
    * do NOT create a version — change detection is what separates an
    * SCD-2 dimension from a write log (same posture as
    * `SnapshotStore.changes`). Closed history rows are immutable and
    * pass through untouched.
    *
    * Plan shape: two key-equi joins of the CURRENT slice against the
    * delta (classification + closing) and one anti-join — all shuffled
    * on the key, broadcastable when the delta is small, no driver
    * state. At 100 TB the history lives in the bucketed
    * `SnapshotStore`, so only buckets owning a delta key rewrite; the
    * merge plan per bucket is identical.
    *
    * Precondition: one row per key in `delta` (a CDC batch compacted to
    * its last image — enforce upstream with the per-key seq winner the
    * snapshot store already uses).
    */
  def scd2Merge(base: DataFrame, delta: DataFrame, key: String,
                attrs: Seq[String], eff: Long): DataFrame = {
    val cur  = base.filter(col("is_current"))
    val hist = base.filter(!col("is_current"))
    val effective = scd2Effective(cur, delta, key, attrs)
    val closing = cur
      .join(effective.select(col(key)), Seq(key), "left_semi")
      .withColumn("valid_to", lit(eff))
      .withColumn("is_current", lit(false))
    val stillCurrent = cur
      .join(effective.select(col(key)), Seq(key), "left_anti")
    val opened = scd2Init(effective, eff)
    hist.unionByName(stillCurrent).unionByName(closing).unionByName(opened)
  }

  /** Change detection shared by [[scd2Merge]] and the streaming loop:
    * delta rows that genuinely differ from the key's current version
    * (null-safe attribute comparison; brand-new keys always differ).
    */
  private[graft] def scd2Effective(cur: DataFrame, delta: DataFrame,
                                   key: String, attrs: Seq[String]): DataFrame = {
    val curAttrs = cur.select(
      col(key) +: attrs.map(c => col(c).as(s"_cur_$c")): _*)
    delta.select(col(key) +: attrs.map(col): _*)
      .join(curAttrs, Seq(key), "left")
      .filter(attrs.map(c => !(col(c) <=> col(s"_cur_$c"))).reduce(_ || _))
      .select(col(key) +: attrs.map(col): _*)
  }

  /** The ROW-LEVEL delta an SCD-2 merge writes: the closing image of
    * each effectively-changed key's current row plus its newly-opened
    * version — exactly the O(changed keys) rows an incremental store
    * commit needs, without restating the untouched history the way
    * [[scd2Merge]]'s full-table result does.
    */
  private[graft] def scd2Changes(cur: DataFrame, delta: DataFrame,
                                 key: String, attrs: Seq[String],
                                 eff: Long): DataFrame = {
    val effective = scd2Effective(cur, delta, key, attrs)
    val closing = cur
      .join(effective.select(col(key)), Seq(key), "left_semi")
      .withColumn("valid_to", lit(eff))
      .withColumn("is_current", lit(false))
    closing.unionByName(scd2Init(effective, eff))
  }

  /** Point-in-time (as-of) join of a fact frame against an SCD-2
    * history: each fact row picks the dimension version whose validity
    * interval contains the fact's timestamp (`valid_from <= ts <
    * valid_to`, open horizon = NULL). The join is EQUI on the key with
    * the interval as a residual filter — a key matches only its few
    * versions, so the residual fanout is O(versions-per-key), never a
    * range-join blowup; Catalyst plans it as an ordinary shuffled hash
    * join at any scale. Facts older than the key's first version (or
    * with no dimension key) drop out — inner semantics, the honest
    * answer for "what did the dimension say at that moment".
    */
  def pointInTimeJoin(facts: DataFrame, dim: DataFrame, key: String,
                      tsCol: String): DataFrame =
    facts.join(dim,
      facts(key) === dim(key) &&
        facts(tsCol) >= dim("valid_from") &&
        (dim("valid_to").isNull || facts(tsCol) < dim("valid_to")),
      "inner")
      .drop(dim(key))

  /** Materialize a shard manifest as a physical layout: one parquet
    * file per (source, shard_id) leaf dir. Repartitioning on exactly
    * the partition keys sends each shard's rows to one task, so each
    * leaf dir holds a single data file — the unit a training data
    * loader streams. One shuffle; at 100 TB the shard size knob (in
    * the manifest) bounds both task state and file size.
    */
  def shardedWrite(shards: DataFrame, outDir: String): Unit =
    shards.repartition(col("source"), col("shard_id"))
      .write.mode("overwrite").partitionBy("source", "shard_id")
      .parquet(outDir)

  private val jsonlSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  override def queries: Seq[GraftQuery] = Seq(

    // ───── JSONL sink → FAILFAST schema'd scan → typed rows ─────
    GraftQuery(
      "src_jsonl_roundtrip",
      (s, d) => {
        val tmp = Sources.scratch(d, "jsonl_")
        Tables.documents(s, d)
          .write.mode("overwrite").json(tmp)
        s.read.schema(jsonlSchema).option("mode", "FAILFAST").json(tmp)
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, text, lang, source, n_chars
        FROM documents ORDER BY doc_id
      """)),

    // ───── plain-text sink → line scan → parsed rows ─────
    // The WET/one-record-per-line shape raw web dumps arrive in: each
    // doc lands as a single text line (`spark.write.text`), read back
    // with the line source and re-keyed by parsing a tab-prefixed id —
    // the minimal schema-on-read contract (everything is a string
    // until you parse it). Text holds no types, so only (doc_id, text)
    // round-trips; the oracle reads the original table. The synthetic
    // corpus is newline-free by construction — a real ingest escapes
    // embedded newlines upstream (noted, as the format demands).
    GraftQuery(
      "src_text_lines",
      (s, d) => {
        val tmp = Sources.scratch(d, "textlines_")
        Tables.documents(s, d)
          .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(
            split(col("value"), "\t", 2).getItem(0).cast("long").as("doc_id"),
            split(col("value"), "\t", 2).getItem(1).as("text"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, text FROM documents ORDER BY doc_id
      """)),

    // ───── ORC sink → schema'd scan → typed rows ─────
    // The other columnar format a lake serves (Hive/Trino ecosystems
    // hand ORC files around the way parquet moves elsewhere). ORC is
    // just the medium under test: the round-tripped rows must be
    // value-identical to the source table, and Spark's ORC reader
    // gives the same column pruning + predicate pushdown surface as
    // parquet. The oracle reads the original parquet — DuckDB never
    // sees the ORC.
    GraftQuery(
      "src_orc_roundtrip",
      (s, d) => {
        val tmp = Sources.scratch(d, "orc_")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders ORDER BY o_orderkey
      """)),

    // ───── small-file compaction: 64 droppings → size-targeted files ─────
    // The landing write fakes a micro-batch ingest (64 tiny files); the
    // compacted read-back must be value-identical to the source table —
    // layout changes, content never does.
    GraftQuery(
      "sink_compaction",
      (s, d) => {
        val landing   = Sources.scratch(d, "compact_in_")
        val compacted = Sources.scratch(d, "compact_out_")
        Tables.events(s, d)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"))
          .repartition(64)
          .write.mode("overwrite").parquet(landing)
        compact(s, landing, compacted, 128L << 20) // 128 MB files
        s.read.parquet(compacted).orderBy(col("event_id"))
      },
      Some("""
        SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id, event_type, value
        FROM events ORDER BY event_id
      """)),

    // ───── range-clustered write + key-range pruned read-back ─────
    // Files own disjoint l_orderkey intervals (LayoutSpec proves the
    // min/max disjointness), so the between-filter read touches a
    // fraction of files via parquet stats instead of scanning all.
    GraftQuery(
      "sink_clustered_write",
      (s, d) => {
        val tmp = Sources.scratch(d, "clustered_")
        clusteredWrite(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
              col("l_quantity"), col("l_extendedprice")),
          "l_orderkey", numFiles = 8, tmp)
        s.read.parquet(tmp)
          .filter(col("l_orderkey").between(500, 800))
          .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_orderkey BETWEEN 500 AND 800
        ORDER BY l_orderkey, l_partkey, l_linenumber
      """)),

    // ───── Z-order clustered write + 2-D box-pruned read-back ─────
    // Files own rectangles of (l_orderkey, l_partkey) space (LayoutSpec
    // proves the 2-D file geometry beats 1-D clustering for box
    // predicates), and the box-filtered read-back must be
    // value-identical to the source — layout changes, content never
    // does.
    GraftQuery(
      "sink_zorder_write",
      (s, d) => {
        val tmp = Sources.scratch(d, "zorder_")
        zorderWrite(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
              col("l_quantity"), col("l_extendedprice")),
          "l_orderkey", "l_partkey", numFiles = 8, tmp)
        s.read.parquet(tmp)
          .filter(col("l_orderkey").between(500, 800) &&
            col("l_partkey").between(100, 400))
          .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_orderkey BETWEEN 500 AND 800
          AND l_partkey BETWEEN 100 AND 400
        ORDER BY l_orderkey, l_partkey, l_linenumber
      """)),

    // ───── skipping-index-pruned scan over a Z-ordered layout ─────
    // The full lake read path: Z-order the table, index each file's
    // (orderkey, partkey) envelope, answer a 2-D box query by pruning
    // files through the INDEX (LayoutSpec proves files are actually
    // skipped) and residual-filtering the survivors. Value-identical to
    // the oracle's plain WHERE — stats admit, never decide.
    GraftQuery(
      "src_skipping_scan",
      (s, d) => {
        val tmp = Sources.scratch(d, "skipidx_")
        zorderWrite(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
              col("l_quantity")),
          "l_orderkey", "l_partkey", numFiles = 8, tmp)
        val idx = buildSkippingIndex(s, tmp, Seq("l_orderkey", "l_partkey"))
        prunedScan(s, tmp, idx,
            Seq(("l_orderkey", 500L, 800L), ("l_partkey", 100L, 400L)))
          .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE l_orderkey BETWEEN 500 AND 800
          AND l_partkey BETWEEN 100 AND 400
        ORDER BY l_orderkey, l_partkey, l_linenumber
      """)),

    // ───── shard-plan-driven sharded write + layout-proving read-back ─────
    // curate_shard_plan's manifest made PHYSICAL: documents (with their
    // bodies) land as one parquet file per (source, shard_id). The
    // read-back re-derives the per-shard manifest THROUGH the layout —
    // partition-column values come from directory names, so the oracle
    // match proves the dirs encode exactly the planned assignment, and
    // the token/char sums prove every body rode into its planned shard.
    GraftQuery(
      "sink_sharded_write",
      (s, d) => {
        val tmp = Sources.scratch(d, "sharded_")
        val plan = graft.ops.Curation.shardPlan(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            graft.ops.Curation.tokenEstimate.as("n_tokens")))
        shardedWrite(
          plan.select(col("doc_id"), col("source"), col("n_tokens"),
              col("shard_id"))
            .join(Tables.documents(s, d).select(col("doc_id"), col("text")),
              Seq("doc_id")),
          tmp)
        s.read.parquet(tmp)
          .groupBy(col("source"), col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("shard_tokens"),
            sum(length(col("text")).cast("long")).as("shard_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy(col("source"), col("shard_id"))
      },
      Some(s"""
        WITH plan AS (${graft.ops.Curation.shardSql(
          s"(SELECT doc_id, source, ${graft.ops.Curation.tokenEstimateSql} AS n_tokens FROM documents) t0")})
        SELECT p.source, p.shard_id, COUNT(*) AS n_docs,
               CAST(SUM(p.n_tokens) AS BIGINT) AS shard_tokens,
               CAST(SUM(length(d.text)) AS BIGINT) AS shard_chars,
               MIN(p.doc_id) AS min_doc, MAX(p.doc_id) AS max_doc
        FROM plan p JOIN documents d ON p.doc_id = d.doc_id
        GROUP BY p.source, p.shard_id
        ORDER BY p.source, p.shard_id
      """)),

    // ───── copy-on-write SCD-1 merge: updates win, inserts append ─────
    // Deterministic delta derived from the base itself: every 97th key
    // is an update (price bump, status 'U'), every 193rd key re-enters
    // as a new key (status 'N'). The merged snapshot round-trips through
    // parquet so the sink path (not just the join) is under test.
    GraftQuery(
      "sink_upsert_merge",
      (s, d) => {
        val tmp  = Sources.scratch(d, "merge_")
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"))
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(193)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N"))
        upsert(base, updates.unionByName(inserts), "o_orderkey")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderpriority
          FROM orders),
        upd AS (
          SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                 o_totalprice + 100000.0 AS o_totalprice, o_orderpriority
          FROM base WHERE o_orderkey % 97 = 0),
        ins AS (
          SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                 'N' AS o_orderstatus, o_totalprice, o_orderpriority
          FROM base WHERE o_orderkey % 193 = 0),
        delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        UNION ALL
        SELECT * FROM delta
        ORDER BY o_orderkey
      """)),

    // ───── CDC merge with tombstones: updates win, deletes remove ─────
    // Same deterministic delta recipe as sink_upsert_merge, plus every
    // 151st key arrives as a DELETE op. Update keys exclude the delete
    // keys so each key's fate is a function of the key alone (both
    // engines must agree without order-of-application semantics). The
    // merged snapshot round-trips through parquet; deleted keys must be
    // absent in the read-back.
    GraftQuery(
      "sink_upsert_delete",
      (s, d) => {
        val tmp  = Sources.scratch(d, "cdc_merge_")
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"))
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0 &&
            pmod(col("o_orderkey"), lit(151)) =!= 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("_op", lit("u"))
        val deletes = base
          .filter(pmod(col("o_orderkey"), lit(151)) === 0)
          .withColumn("_op", lit("d"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(193)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("_op", lit("u"))
        applyCdc(base, updates.unionByName(deletes).unionByName(inserts),
            "o_orderkey", "_op")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderpriority
          FROM orders),
        upd AS (
          SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                 o_totalprice + 100000.0 AS o_totalprice, o_orderpriority
          FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 151 <> 0),
        del AS (
          SELECT o_orderkey FROM base WHERE o_orderkey % 151 = 0),
        ins AS (
          SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                 'N' AS o_orderstatus, o_totalprice, o_orderpriority
          FROM base WHERE o_orderkey % 193 = 0),
        touched AS (
          SELECT o_orderkey FROM upd UNION ALL SELECT o_orderkey FROM del
          UNION ALL SELECT o_orderkey FROM ins)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins
        ORDER BY o_orderkey
      """)),

    // ───── SCD-2 merge: close-and-insert dimension versioning ─────
    // v1 opens the customer dimension at eff=100; the eff=200 delta
    // touches every 7th key (segment + balance change) and RE-SENDS
    // every 13th key verbatim. The merged history must hold exactly one
    // closed row [100,200) + one open row for changed keys, one open
    // row for everyone else — the verbatim re-sends must NOT version
    // (change detection). Round-trips through parquet so the sink path
    // is under test; the oracle states the expected history directly.
    GraftQuery(
      "sink_scd2_merge",
      (s, d) => {
        val tmp  = Sources.scratch(d, "scd2_")
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val dim1 = scd2Init(base, 100L)
        val delta = base
          .filter(pmod(col("c_custkey"), lit(7)) === 0 ||
            pmod(col("c_custkey"), lit(13)) === 0)
          .withColumn("c_mktsegment",
            when(pmod(col("c_custkey"), lit(7)) === 0, lit("CHANGED"))
              .otherwise(col("c_mktsegment")))
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(7)) === 0,
              col("c_acctbal") + lit(500.0))
              .otherwise(col("c_acctbal")))
        scd2Merge(dim1, delta, "c_custkey",
            Seq("c_mktsegment", "c_acctbal"), 200L)
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy(col("c_custkey"), col("valid_from"))
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(100 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        FROM base WHERE c_custkey % 7 <> 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(100 AS BIGINT), CAST(200 AS BIGINT), FALSE
        FROM base WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, 'CHANGED', c_acctbal + 500.0,
               CAST(200 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        FROM base WHERE c_custkey % 7 = 0
        ORDER BY c_custkey, valid_from
      """)),

    // ───── point-in-time join: facts pick the dimension version valid
    // at fact time ─────
    // The same two-version history; facts carry a deterministic
    // timestamp o_orderkey % 300 spanning [0, 300). Facts before the
    // dimension opened (ts < 100) drop out; [100, 200) reads v1;
    // [200, 300) reads v2 for changed keys and still-v1 for the rest.
    // Equi on the key with the interval residual — O(versions-per-key)
    // fanout, an ordinary shuffled hash join at any scale.
    GraftQuery(
      "join_point_in_time",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val delta = base
          .filter(pmod(col("c_custkey"), lit(7)) === 0)
          .withColumn("c_mktsegment", lit("CHANGED"))
          .withColumn("c_acctbal", col("c_acctbal") + lit(500.0))
        val dim = scd2Merge(scd2Init(base, 100L), delta, "c_custkey",
          Seq("c_mktsegment", "c_acctbal"), 200L)
        val facts = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
            pmod(col("o_orderkey"), lit(300)).as("f_ts"))
        pointInTimeJoin(facts, dim, "c_custkey", "f_ts")
          .select(col("o_orderkey"), col("c_custkey"), col("f_ts"),
            col("c_mktsegment"), col("c_acctbal"), col("valid_from"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        dim AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(100 AS BIGINT) AS valid_from,
                 CAST(NULL AS BIGINT) AS valid_to
          FROM base WHERE c_custkey % 7 <> 0
          UNION ALL
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 CAST(100 AS BIGINT), CAST(200 AS BIGINT)
          FROM base WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey, 'CHANGED', c_acctbal + 500.0,
                 CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
          FROM base WHERE c_custkey % 7 = 0),
        facts AS (
          SELECT o_orderkey, o_custkey AS c_custkey,
                 o_orderkey % 300 AS f_ts
          FROM orders)
        SELECT f.o_orderkey, f.c_custkey, f.f_ts,
               d.c_mktsegment, d.c_acctbal, d.valid_from
        FROM facts f JOIN dim d
          ON f.c_custkey = d.c_custkey
         AND f.f_ts >= d.valid_from
         AND (d.valid_to IS NULL OR f.f_ts < d.valid_to)
        ORDER BY f.o_orderkey
      """)),

    // ───── additive schema evolution through the versioned store ─────
    // v1 commits the base table; v2 upserts a delta that CARRIES A NEW
    // COLUMN (evolve=true). The head read must null-fill the column on
    // every row the delta didn't touch — including whole buckets the
    // delta never rewrote, which still serve v1 files and are
    // reconciled by the reader's parquet schema merge. The oracle is
    // the plain relational statement of that contract.
    GraftQuery(
      "sink_upsert_evolve",
      (s, d) => {
        val tmp  = Sources.scratch(d, "evolve_")
        // versioned stores are not overwrite-idempotent like the other
        // sink queries: a re-run in the same JVM (plan audits, sweeps)
        // would collide below the committed head — start fresh
        new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(tmp), true)
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_orderpriority"))
        SnapshotStore.upsertVersion(s, base, "o_orderkey", None, tmp, 0L)
        val delta = base
          .filter(pmod(col("o_orderkey"), lit(89)) === 0)
          .withColumn("o_orderstatus", lit("E"))
          .withColumn("o_risk_score",
            pmod(col("o_orderkey"), lit(7)).cast("int"))
        SnapshotStore.upsertVersion(s, delta, "o_orderkey", None, tmp, 1L,
          evolve = true)
        SnapshotStore.read(s, tmp).get.orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
          FROM orders),
        delta AS (
          SELECT o_orderkey, o_custkey, 'E' AS o_orderstatus,
                 o_orderpriority, CAST(o_orderkey % 7 AS INTEGER) AS o_risk_score
          FROM base WHERE o_orderkey % 89 = 0)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               CAST(NULL AS INTEGER) AS o_risk_score
        FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        UNION ALL SELECT * FROM delta
        ORDER BY o_orderkey
      """)),

    // ───── change feed between two committed versions (CDC read) ─────
    // v1 = base; v2 = a CDC delta of updates, deletes, inserts, AND
    // no-op rewrites (identical values). `SnapshotStore.changes` reads
    // only the churned buckets and must report exactly the semantic
    // diff: updates with new values, deletes with last-seen values,
    // inserts — and NOT the no-op rewrites, which is what separates a
    // change feed from a write log. The oracle states the expected feed
    // directly from the same delta recipe.
    GraftQuery(
      "sink_change_feed",
      (s, d) => {
        val tmp  = Sources.scratch(d, "changefeed_")
        new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(tmp), true) // see sink_upsert_evolve
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_orderpriority"))
        SnapshotStore.upsertVersion(s, base, "o_orderkey", None, tmp, 0L)
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0 &&
            pmod(col("o_orderkey"), lit(151)) =!= 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("_op", lit("u"))
        val deletes = base
          .filter(pmod(col("o_orderkey"), lit(151)) === 0)
          .withColumn("_op", lit("d"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(193)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("_op", lit("u"))
        val noops = base // rewritten verbatim: must NOT appear in the feed
          .filter(pmod(col("o_orderkey"), lit(199)) === 0 &&
            pmod(col("o_orderkey"), lit(97)) =!= 0 &&
            pmod(col("o_orderkey"), lit(151)) =!= 0)
          .withColumn("_op", lit("u"))
        SnapshotStore.upsertVersion(s,
          updates.unionByName(deletes).unionByName(inserts).unionByName(noops),
          "o_orderkey", None, tmp, 1L, opCol = Some("_op"))
        SnapshotStore.changes(s, tmp, "o_orderkey", 0L, 1L)
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
          FROM orders)
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_orderpriority,
               'update' AS _change
        FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 151 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               'delete' AS _change
        FROM base WHERE o_orderkey % 151 = 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_orderpriority, 'insert' AS _change
        FROM base WHERE o_orderkey % 193 = 0
        ORDER BY o_orderkey
      """)),

    // ───── incremental JOIN-view maintenance over CDC ─────
    // The join half of the materialized-view story: orders ⋈ customer
    // materialized at v1, the ORDERS store advanced by the same CDC
    // recipe as sink_view_maintain (updates + deletes + inserts), and
    // the view MAINTAINED — churned fact buckets drop whole and their
    // new contents re-join a bucket-PRUNED customer read (the dim is
    // keyed by the join column, so only the buckets the delta's keys
    // hash into are served). The oracle computes the merged final
    // state joined directly, so maintained ≡ recomputed is value-
    // pinned. Neither the fact table nor the view is ever rescanned.
    GraftQuery(
      "sink_join_view_maintain",
      (s, d) => {
        val tmp = Sources.scratch(d, "joinmaint_")
        new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(tmp), true)
        val aDir = s"$tmp/orders"; val bDir = s"$tmp/customer"
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey").as("ck"),
            col("o_totalprice"))
        SnapshotStore.upsertVersion(s, base, "o_orderkey", None, aDir, 0L)
        SnapshotStore.upsertVersion(s,
          Tables.customer(s, d)
            .select(col("c_custkey").as("ck"), col("c_mktsegment")),
          "ck", None, bDir, 0L)
        val oldView = SnapshotStore.joinView(s, aDir, "o_orderkey",
          bDir, "ck", "ck")
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0 &&
            pmod(col("o_orderkey"), lit(151)) =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("_op", lit("u"))
        val deletes = base
          .filter(pmod(col("o_orderkey"), lit(151)) === 0)
          .withColumn("_op", lit("d"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(193)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("_op", lit("u"))
        SnapshotStore.upsertVersion(s,
          updates.unionByName(deletes).unionByName(inserts),
          "o_orderkey", None, aDir, 1L, opCol = Some("_op"))
        SnapshotStore.maintainJoin(s, aDir, "o_orderkey", 0L, 1L,
            bDir, "ck", "ck", oldView, "_ab", "_bb")
          .select(col("o_orderkey"), col("ck"), col("o_totalprice"),
            col("c_mktsegment"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey AS ck, o_totalprice FROM orders),
        upd AS (
          SELECT o_orderkey, ck, o_totalprice + 100000.0 AS o_totalprice
          FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 151 <> 0),
        del AS (
          SELECT o_orderkey FROM base WHERE o_orderkey % 151 = 0),
        ins AS (
          SELECT o_orderkey + 10000000 AS o_orderkey, ck, o_totalprice
          FROM base WHERE o_orderkey % 193 = 0),
        touched AS (
          SELECT o_orderkey FROM upd UNION ALL SELECT o_orderkey FROM del
          UNION ALL SELECT o_orderkey FROM ins),
        merged AS (
          SELECT o_orderkey, ck, o_totalprice
          FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
          UNION ALL SELECT * FROM upd
          UNION ALL SELECT * FROM ins)
        SELECT m.o_orderkey, m.ck, m.o_totalprice, c.c_mktsegment
        FROM merged m JOIN customer c ON c.c_custkey = m.ck
        ORDER BY m.o_orderkey
      """)),

    // ───── incremental materialized-view maintenance over CDC ─────
    // v1 = base; the per-customer (count, spend) view is aggregated once
    // at v1; v2 applies the sink_upsert_delete CDC recipe; the view at
    // v2 is then MAINTAINED from churned buckets only — the base table
    // is never rescanned. Decimal sums make the maintained view
    // bit-identical to a full recompute, which is exactly what the
    // oracle computes over the merged final state. Groups whose orders
    // were all deleted must vanish; inserted keys land in their groups.
    GraftQuery(
      "sink_view_maintain",
      (s, d) => {
        val tmp  = Sources.scratch(d, "viewmaint_")
        new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(tmp), true) // versioned store: see sink_upsert_evolve
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
        SnapshotStore.upsertVersion(s, base, "o_orderkey", None, tmp, 0L)
        val spendExpr = col("o_totalprice").cast(DecimalType(18, 2))
        val oldView = SnapshotStore.readVersion(s, tmp, 0L)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"), sum(spendExpr).as("spend"))
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(97)) === 0 &&
            pmod(col("o_orderkey"), lit(151)) =!= 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("o_totalprice", col("o_totalprice") + lit(100000.0))
          .withColumn("_op", lit("u"))
        val deletes = base
          .filter(pmod(col("o_orderkey"), lit(151)) === 0)
          .withColumn("_op", lit("d"))
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(193)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("_op", lit("u"))
        SnapshotStore.upsertVersion(s,
          updates.unionByName(deletes).unionByName(inserts),
          "o_orderkey", None, tmp, 1L, opCol = Some("_op"))
        SnapshotStore.maintainAgg(s, tmp, 0L, 1L, oldView,
            Seq("o_custkey"), Seq("spend" -> spendExpr))
          .select(col("o_custkey"), col("cnt"),
            col("spend").cast("double").as("spend"))
          .orderBy(col("o_custkey"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders),
        upd AS (
          SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                 o_totalprice + 100000.0 AS o_totalprice
          FROM base WHERE o_orderkey % 97 = 0 AND o_orderkey % 151 <> 0),
        del AS (
          SELECT o_orderkey FROM base WHERE o_orderkey % 151 = 0),
        ins AS (
          SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                 'N' AS o_orderstatus, o_totalprice
          FROM base WHERE o_orderkey % 193 = 0),
        touched AS (
          SELECT o_orderkey FROM upd UNION ALL SELECT o_orderkey FROM del
          UNION ALL SELECT o_orderkey FROM ins),
        merged AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
          UNION ALL SELECT * FROM upd
          UNION ALL SELECT * FROM ins)
        SELECT o_custkey, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM merged GROUP BY o_custkey ORDER BY o_custkey
      """))
  )
}
