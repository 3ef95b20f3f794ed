package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Every `spark.graft.*` session conf the engine reads, declared once.
  *
  * The contract:
  *  - Declared once. Each knob's key, type, default, valid range and oracle
  *    pinning are written here and nowhere else; a read site is one
  *    `Knobs.x.get(spark)` call. No other file names a `spark.graft.*` key.
  *  - Validated once. An unset or blank conf reads as the default. A value
  *    that does not parse, or lies outside the knob's range, raises
  *    `IllegalArgumentException` naming the key, at the read.
  *  - Pinned means Verify refuses. A knob marked `oraclePinned`
  *    parameterizes a plan whose DuckDB oracle is written for the default,
  *    so verifying with it set would guarantee a false hash mismatch:
  *    [[requireOracleDefaults]] (called by Verify) refuses any non-blank
  *    value, `auto` and an explicit default included.
  *  - Undeclared means rejected. `GraftSession` passes `SPARK_GRAFT_CONF`
  *    keys through [[requireDeclared]], so a typo'd or removed
  *    `spark.graft.*` knob fails instead of being silently ignored.
  */
object Knobs {

  private val declared = mutable.LinkedHashMap.empty[String, Knob[_]]

  sealed abstract class Knob[T](val key: String, val oraclePinned: Boolean) {
    require(key.startsWith("spark.graft.") && !declared.contains(key), key)
    declared(key) = this

    def default: T

    /** The accepted values, as the error message states them. */
    def range: String

    /** `raw` (trimmed, non-blank) as a value, or None when it does not
      * parse or lies outside the range.
      */
    protected def parse(raw: String): Option[T]

    def get(spark: SparkSession): T =
      spark.conf.getOption(key).map(_.trim).filter(_.nonEmpty) match {
        case None => default
        case Some(raw) => parse(raw).getOrElse(throw new IllegalArgumentException(
          s"$key must be $range, got '$raw'"))
      }
  }

  /** A `kind` ("an integer", "a cosine") in `[min, max]`; `max` None is
    * unbounded.
    */
  final class Num[T](key: String, val default: T, val min: T, val max: Option[T],
                     pinned: Boolean, kind: String)(read: String => Option[T])(
      implicit ord: Ordering[T]) extends Knob[T](key, pinned) {
    def range: String = max.fold(s"$kind >= $min")(m => s"$kind in [$min, $m]")
    protected def parse(raw: String): Option[T] =
      read(raw).filter(v => ord.gteq(v, min) && max.forall(ord.lteq(v, _)))
  }

  /** A skew cap's setting: unset, a fixed cap, or `auto`. */
  sealed trait Cap
  object Cap {
    case object Unset extends Cap
    case object Auto extends Cap
    final case class Fixed(n: Int) extends Cap
  }

  /** A bounded-quadratic skew cap (cell², df², deg²): an int `>= min`, or
    * `auto`, which derives the cap from the data's own tail.
    *
    * A fixed default is right for the corpus it was measured on and wrong
    * at 100× — the whole key-size distribution shifts (ScaleGen's
    * replication multiplies every df by the replica count), and an
    * operator should not hand-retune three numbers per corpus. `auto` is
    * `mult × p99(size)`, floor-clamped: everything inside mult× the
    * 99th-percentile key is normal mass the operator must process;
    * whatever lies beyond is the celebrity tail the cap exists to bound.
    * p99 via `percentile_approx` at accuracy 10⁴ (a bounded-size sketch —
    * the pre-aggregate stays one metadata-sized job regardless of corpus).
    *
    * `fallback` is the cap when the knob is unset (the oracle-pinned
    * value) and when `auto` meets an empty distribution.
    */
  final class CapKnob(key: String, val min: Int, val mult: Int, val floor: Int,
                      val fallback: Int) extends Knob[Cap](key, oraclePinned = true) {
    def default: Cap = Cap.Unset
    def range: String = s"an integer >= $min or 'auto'"
    protected def parse(raw: String): Option[Cap] =
      if (raw == "auto") Some(Cap.Auto)
      else raw.toIntOption.filter(_ >= min).map(Cap.Fixed)

    /** `mult × p99(sizeCol)` clamped to `[floor, Int.MaxValue]`;
      * `fallback` when the frame is empty (no distribution to read).
      */
    def fromP99(sizes: DataFrame, sizeCol: String): Int = {
      val p = sizes
        .agg(expr(s"percentile_approx($sizeCol, 0.99, 10000)").as("p"))
        .first().getAs[Number]("p")
      Option(p)
        .map(v => math.max(floor.toLong, mult.toLong * v.longValue))
        .map(v => math.min(v, Int.MaxValue.toLong).toInt)
        .getOrElse(fallback)
    }

    /** The cap `c` selects; `sizes` is built only for `auto`. */
    def resolve(c: Cap, sizes: => DataFrame, sizeCol: String): Int = c match {
      case Cap.Unset    => fallback
      case Cap.Auto     => fromP99(sizes, sizeCol)
      case Cap.Fixed(n) => n
    }
  }

  /** A comma-separated list, lower-cased. */
  final class Names(key: String) extends Knob[Set[String]](key, oraclePinned = false) {
    def default: Set[String] = Set.empty
    def range: String = "a comma-separated list"
    protected def parse(raw: String): Option[Set[String]] =
      Some(raw.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
  }

  private def int(key: String, default: Int, min: Int, pinned: Boolean = false) =
    new Num[Int](key, default, min, None, pinned, "an integer")(_.toIntOption)
  private def long(key: String, default: Long, min: Long, pinned: Boolean = false) =
    new Num[Long](key, default, min, None, pinned, "an integer")(_.toLongOption)

  // ── plan-parameterizing operator knobs (the oracles pin each default) ──

  /** dedup_semantic's cosine threshold. 0.35 exercises non-trivial
    * clusters on the synthetic corpus (max within-cell cosine ≈ 0.47);
    * production text embeddings would run 0.95+.
    */
  val semanticTau = new Num[Double]("spark.graft.semantic.tau", 0.35, -1.0, Some(1.0),
    pinned = true, "a cosine")(_.toDoubleOption)(Ordering.Double.TotalOrdering)

  /** text_tfidf drops tokens with document frequency below this from the
    * ranking; 1 keeps the whole vocabulary.
    */
  val tfidfMinDf = int("spark.graft.tfidf.minDf", 1, min = 1, pinned = true)

  /** dedup_ngram_jaccard's candidate-generation cap on shingle document
    * frequency. Unset runs the exact prefix-filtered path; a df-1
    * shingle is unique to one doc, hence `min` 1.
    */
  val shingleDfCutoff = new CapKnob("spark.graft.shingle.dfCutoff", min = 1,
    mult = 8, floor = 8, fallback = 8)

  /** IVF cell count. At corpus scale pick K ∝ n/targetCellSize (e.g.
    * 4k-row cells); 16 cells over the sf0.001 fixture's 500 vectors ≈
    * 31-row cells — the same ratio.
    */
  val annIvfCells = int("spark.graft.ann.ivfCells", 16, min = 1, pinned = true)

  /** IVF multiprobe width; 1 is single-probe. */
  val annNprobe = int("spark.graft.ann.nprobe", 1, min = 1, pinned = true)

  /** Lloyd's iterations for a learned IVF codebook; 0 keeps the
    * md5-ordered seed quantizer.
    */
  val annIvfKmeansIters = int("spark.graft.ann.ivfKmeansIters", 0, min = 0, pinned = true)

  /** Per-cell corpus cap for `sim_ann_ivf` — the Σ cell² bound for
    * skewed embedding distributions. The fallback sits several× above the
    * balanced cell at test SFs (≈ n/K rows), so it binds only when a
    * dominant cluster collapses into one cell; at corpus scale set it to
    * a small multiple of the target cell size.
    */
  val annIvfCellCap = new CapKnob("spark.graft.ann.ivfCellCap", min = 2,
    mult = 2, floor = 2, fallback = 2048)

  /** graph_jaccard_links' mid-degree cap — the deg² wedge bound. */
  val graphWedgeCap = new CapKnob("spark.graft.graph.wedgeCap", min = 1,
    mult = 2, floor = 8, fallback = 64)

  /** Keeps the 1/m md5 slice of ids in the quadratic truth arms
    * (EvalSampling); 1 is exhaustive.
    */
  val evalSampleMod = long("spark.graft.eval.sampleMod", 1L, min = 1L, pinned = true)

  // ── storage and deployment settings ──

  /** Hash buckets of a snapshot store, pinned at its first commit. */
  val snapshotBuckets = int("spark.graft.snapshot.buckets", 16, min = 1)

  /** Filesystem schemes besides the built-in ones that guarantee atomic
    * create-once (SnapshotStore's FILESYSTEM CONTRACT).
    */
  val snapshotAtomicCreateSchemes = new Names("spark.graft.snapshot.atomicCreateSchemes")

  /** Age after which a token-less commit marker counts as abandoned. */
  val snapshotCommitGraceMs = long("spark.graft.snapshot.commitGraceMs",
    5L * 60 * 1000, min = 0L)

  /** Age after which a slot claim counts as a crashed writer's leftover. */
  val snapshotClaimTtlMs = long("spark.graft.snapshot.claimTtlMs",
    30L * 60 * 1000, min = 0L)

  /** Mean bucket size past which the streaming scrub index rolls into a
    * generation with twice the buckets.
    */
  val streamScrubMaxBucketBytes = long("spark.graft.stream.scrubMaxBucketBytes",
    256L << 20, min = 1L)

  /** Per-partition payload target of sized exchanges (Sizing). 64 MB of
    * serialized shuffle rows expands 3–5× as JVM objects in a
    * hash-aggregate / sort buffer, so this keeps each task's working set
    * comfortably inside a standard 300–400 MB task memory share (1 GB
    * executor core with default memory fractions) — conservative enough
    * that estimate error of 2–3× still doesn't spill. Executors with a
    * different memory budget set their own.
    */
  val sizingTargetPartitionBytes = long("spark.graft.sizing.targetPartitionBytes",
    64L << 20, min = 1L)

  /** Every declared knob, in declaration order. */
  def all: Seq[Knob[_]] = declared.values.toSeq

  /** Verify's gate: refuse to run while any oracle-pinned knob is set. */
  def requireOracleDefaults(spark: SparkSession): Unit =
    all.filter(_.oraclePinned).foreach { k =>
      require(spark.conf.getOption(k.key).forall(_.trim.isEmpty),
        s"${k.key} is set, but its oracle pins the default — unset it for verification")
    }

  /** Rejects a `spark.graft.*` key no knob declares; other keys pass. */
  def requireDeclared(key: String): Unit =
    require(!key.startsWith("spark.graft.") || declared.contains(key),
      s"$key is not a declared engine knob (graft.Knobs)")
}
