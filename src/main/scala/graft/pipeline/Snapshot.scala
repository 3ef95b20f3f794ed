package graft.pipeline

import graft.Knobs
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod, when}

/** Versioned keyed snapshot on plain parquet: the minimal table-format
  * core (hash-bucketed data dirs + an append-only commit log) that
  * makes a continuously-upserted lake table safe without a heavyweight
  * format.
  *
  * Layout:
  * {{{
  *   dir/v00000007-3fa94c12/_bucket=3/  parquet for bucket 3, written
  *                                      by version 7's winning ATTEMPT
  *   dir/_commits/.m-v00000007-3fa94c12 the attempt's MANIFEST, fully
  *                                      written+closed BEFORE the CAS
  *   dir/_commits/v00000007             commit marker: created once
  *                                      (the CAS), content = the 16-hex
  *                                      token of the winning attempt
  *   dir/_claims/v00000007              advisory writer claim (fast
  *                                      fail only — never correctness)
  * }}}
  *
  * Rows are hash-partitioned on the key into a fixed number of buckets
  * (`Knobs.snapshotBuckets`, pinned at first commit). A version
  * rewrites ONLY the buckets its delta touches — upsert IO is
  * O(delta + touched buckets), not O(table), which is what makes
  * continuous CDC viable on a 100 TB snapshot. Untouched buckets keep
  * serving from the older attempt dir that last wrote them; each
  * commit's manifest records, for every bucket, which data dir holds
  * its current rows, and readers union exactly those leaf dirs.
  *
  * Commit protocol (compare-and-swap on the marker, the Delta/Iceberg-
  * log shape): versions are CONTIGUOUS — every commit is exactly
  * head + 1. Each attempt first writes its FULL manifest to a private
  * file (`_commits/.m-vNNNNNNNN-<token>`, no contention possible),
  * then races for the slot by creating `_commits/vNNNNNNNN` with
  * create-once semantics and writing only its 16-hex token into it.
  * Of all writers that merged from the same head, exactly ONE create
  * succeeds; every other contender gets a loud
  * [[ConcurrentWriteException]] at the create and retries against the
  * new head. There is no validate-then-publish window: the atomic
  * create IS the validation (plus one read-back, below). Two same-slot
  * attempts can never mix files, because each attempt writes its data
  * into its own `vNNNNNNNN-<token>` dir and only the winning token's
  * manifest is ever read; a loser's dir and manifest are invisible
  * orphans swept by retention. Data dirs never rename.
  *
  * FILESYSTEM CONTRACT (probed, not assumed): the marker CAS is only a
  * CAS where `FileSystem.create(path, overwrite = false)` is ATOMIC
  * create-once — true on local, HDFS, and ABFS; NOT true on S3A (and
  * object stores generally), where create-no-overwrite is an existence
  * HEAD at `create()` with the object PUT at `close()`, so two
  * same-slot writers can both "win" and the last close silently
  * overwrites the first. Every write therefore probes the dir's URI
  * scheme against a known-atomic allow list (`file hdfs viewfs
  * webhdfs abfs abfss`) and REFUSES anything else loudly before
  * touching the store. Deployments on a filesystem that does guarantee
  * atomic create-once (or that route commits through a conditional-PUT
  * / commit-service layer, the Delta/Iceberg answer on S3) extend the
  * list via `Knobs.snapshotAtomicCreateSchemes`; a genuinely
  * single-writer S3 deployment may do the same, accepting that the
  * multi-writer guarantee is then the deployer's, not the store's.
  *
  * Crash safety: a writer crashing before its marker create leaves
  * only invisible orphans (its attempt dir and manifest file). A
  * writer crashing INSIDE the marker write (after the create, before
  * the 16-byte token lands — a sub-millisecond window) leaves an
  * empty marker, which readers and writers treat as an IN-FLIGHT
  * commit, never a torn store: readers serve the previous version
  * (the manifest itself is already safe in its own file, so no
  * manifest content can ever be half-written), and writers refuse the
  * slot loudly while the marker is younger than
  * `Knobs.snapshotCommitGraceMs` (default 5 min), then
  * AUTO-HEAL — re-verify emptiness and delete the abandoned marker,
  * reopening the slot — so the store keeps committing with no manual
  * repair step. To settle the one interleave healing leaves open (a
  * writer stalled past the grace window whose token-write completes in
  * the microseconds between the healer's emptiness re-read and its
  * delete), every committer READS ITS MARKER BACK after close and
  * treats any token but its own as a loss: of two writers whose
  * marker writes ever overlapped a heal, at most one can see its own
  * token, so at most one ever reports success. The residual is a
  * stalled writer whose completed commit a healer erases after it
  * already read back — two adjacent metadata calls wide, after a
  * ≥ grace-window stall inside a 16-byte write — and even then the
  * healer re-commits from the same head, so the store never tears;
  * the loss is confined to the stalled writer's delta, which an
  * at-least-once caller redelivers under the same txn.
  *
  * Replay idempotence: the caller's `version` argument is a
  * TRANSACTION id (a streaming batchId), recorded in the manifest as
  * `txn`. Re-delivering the last committed txn no-ops on the head's
  * recorded txn — which is what turns streaming's at-least-once batch
  * delivery into an exactly-once snapshot — and a txn BELOW the head's
  * fails loudly (a reset checkpoint against a live store). Callers
  * that feed contiguous txns from 0 (every maintainer here) get
  * version numbers that coincide with their txns; a deliberately
  * lagging caller (the view fold catching up across a crash window)
  * reads its high-water mark back via [[latestTxn]].
  *
  * Claims are an ADVISORY fast-fail so a contender aborts before
  * paying for a doomed merge, not a correctness mechanism: an empty
  * create-once file per slot carrying the writer's token. A claim
  * older than `Knobs.snapshotClaimTtlMs` (default 30 min) is a
  * crashed writer's leftover and is reclaimed (delete + re-create +
  * read-back ownership verify — the read-back keeps simultaneous
  * reclaimers from both believing they won in all but a vanishing
  * interleave, and the marker CAS settles even that one). A writer
  * that outlives its own claim simply loses the CAS; it can never
  * corrupt the winner's data because attempts never share a dir.
  * Within one streaming checkpoint the query remains single-writer and
  * none of this machinery is exercised beyond one create/delete per
  * commit.
  *
  * Sizing: a bucket's data is table_size / numBuckets and each touched
  * bucket is rewritten by one task, so pick the bucket count so that
  * quotient is a sane task size (the knob is per-table, pinned at the
  * first commit; re-bucketing is a full rewrite by design).
  */
object SnapshotStore {

  /** Another writer holds this version's claim or won its commit race —
    * the OCC loser path. Retry against the new head with a fresh txn.
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** One committed version's bucket ownership: for every bucket, the
    * DATA DIR NAME (under the store root) holding its current rows.
    * `mode` records HOW rows were placed — `hash:<key>` (the default
    * hash-partitioned layout) or `content:<col>` (explicit content ids,
    * e.g. IVF cells) — so read paths that assume hash placement
    * (`lookupKey`, `maintainJoin`'s bucket prune) can verify it instead
    * of trusting a doc-comment contract. `txn` is the caller-supplied
    * transaction id this commit recorded (replay idempotence).
    */
  final case class Manifest(numBuckets: Int, buckets: Map[Int, String],
                            mode: Option[String] = None, txn: Long = 0L) {
    /** The version whose attempt last rewrote bucket `b` (parsed from
      * the owning dir name `vNNNNNNNN-<token>`). */
    def ownerVersion(b: Int): Long =
      buckets(b).drop(1).takeWhile(_ != '-').toLong
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionName(v: Long): String = f"v$v%08d"

  private def markerPath(dir: String, v: Long): Path =
    new Path(s"$dir/_commits/${versionName(v)}")

  /** An attempt's manifest file: dot-prefixed (never a version match),
    * private to its token (no contention), fully written BEFORE the
    * marker CAS so no committed version's manifest can be half-written.
    */
  private def manifestPath(dir: String, v: Long, token: String): Path =
    new Path(s"$dir/_commits/.m-${versionName(v)}-$token")

  private val tokenPat = "[0-9a-f]{16}".r

  /** The winning attempt's token inside a commit marker: None when the
    * marker is absent, unreadable, or does not carry a complete token —
    * the last meaning an IN-FLIGHT (or abandoned) commit whose writer
    * has created the marker but whose 16-byte token write has not
    * landed. Callers distinguish absent from in-flight via `exists`.
    */
  private def markerToken(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(s).filter(tokenPat.matches(_))
    } catch { case _: java.io.IOException => None }

  private def markerAgeMs(f: FileSystem, p: Path): Long =
    try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime
    catch { case _: java.io.IOException => Long.MaxValue }

  /** Highest COMMITTED version: the top marker carrying a winner token.
    * By the contiguous-slot invariant only the topmost marker can be
    * token-less (an in-flight commit at head+1 — no later slot can
    * exist until it resolves), so this reads at most a couple of
    * marker files, never O(history).
    */
  private def resolvedHead(f: FileSystem, dir: String): Option[Long] = {
    val commits = new Path(s"$dir/_commits")
    if (!f.exists(commits)) return None
    f.listStatus(commits).map(_.getPath.getName)
      .collect { case versionPat(n) => n.toLong }
      .sorted.reverseIterator
      .find(v => markerToken(f, markerPath(dir, v)).isDefined)
  }

  private val knownAtomicCreateSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "abfs", "abfss")

  /** Refuse to write through a filesystem whose `create(overwrite =
    * false)` is not atomic create-once — the marker CAS's entire
    * correctness (see the class doc's FILESYSTEM CONTRACT). S3A and
    * object stores generally implement it as check-then-create, which
    * reopens the lost-update this store exists to close.
    */
  private def requireAtomicCreate(spark: SparkSession, f: FileSystem,
                                  dir: String): Unit = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file").toLowerCase
    val extra = Knobs.snapshotAtomicCreateSchemes.get(spark)
    if (!(knownAtomicCreateSchemes ++ extra)(scheme))
      throw new IllegalStateException(
        s"snapshot store at $dir sits on scheme '$scheme', which is not " +
          "known to provide ATOMIC create-once — on S3A-like object " +
          "stores create(overwrite=false) is an existence HEAD at " +
          "create() with the PUT at close(), so two same-slot committers " +
          "can both pass and the commit CAS silently loses an update. " +
          "Route commits through a conditional-PUT/commit-service layer, " +
          "or — if this filesystem does guarantee atomic create-once, or " +
          "the deployment is provably single-writer — allow the scheme " +
          s"via ${Knobs.snapshotAtomicCreateSchemes.key}")
  }

  private def bucketDirName(b: Int): String = s"_bucket=$b"

  private def bucketPath(dir: String, owningDir: String, b: Int): String =
    s"$dir/$owningDir/${bucketDirName(b)}"

  private def bucketExpr(key: String, numBuckets: Int): Column =
    pmod(hash(col(key)), lit(numBuckets))

  private val versionPat = "v(\\d{8,})".r
  private val dataDirPat = "v(\\d{8,})-[0-9a-f]+".r

  private def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** Highest committed version, if any commit exists. An in-flight
    * commit (marker created, token not yet landed) is NOT committed:
    * readers keep serving the previous version until the token lands.
    */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    resolvedHead(fs(spark, dir), dir)

  /** The head's recorded transaction id (None before the first commit)
    * — the high-water mark a lagging exactly-once caller compares its
    * own txns against (versions are the store's contiguous commit
    * numbers; txns are the caller's, and they may lag apart).
    */
  def latestTxn(spark: SparkSession, dir: String): Option[Long] =
    manifest(spark, dir).map(_.txn)

  /** The head manifest (None before the first commit). */
  def manifest(spark: SparkSession, dir: String): Option[Manifest] =
    latestVersion(spark, dir).map(readManifest(fs(spark, dir), dir, _))

  private def readManifest(f: FileSystem, dir: String, v: Long): Manifest = {
    val mp = markerPath(dir, v)
    val token = markerToken(f, mp).getOrElse {
      if (!f.exists(mp)) // absent marker: caller's bug, same as before
        throw new java.io.FileNotFoundException(
          s"no commit marker for version $v in $dir")
      throw new IllegalStateException(
        s"version $v of $dir has an IN-FLIGHT (or abandoned) commit: its " +
          s"marker exists but carries no winner token yet (age " +
          s"${markerAgeMs(f, mp) / 1000}s). Readers serve the previous " +
          "version; a writer reopens the slot automatically once the " +
          s"marker outlives ${Knobs.snapshotCommitGraceMs.key}. Do NOT " +
          "delete the marker by hand unless the writer is confirmed dead.")
    }
    try {
      val in = f.open(manifestPath(dir, v, token))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val n = lines.head.stripPrefix("buckets=").toInt
      val mode = lines.tail.find(_.startsWith("mode="))
        .map(_.stripPrefix("mode="))
      val txn = lines.tail.find(_.startsWith("txn="))
        .map(_.stripPrefix("txn=").toLong).getOrElse(0L)
      Manifest(n, lines.tail
        .filter(l => l.nonEmpty && l.contains(","))
        .map { l =>
          val Array(b, dn) = l.split(",")
          b.toInt -> dn
        }.toMap, mode, txn)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"manifest ${manifestPath(dir, v, token)} for COMMITTED version " +
          s"$v is missing or unparseable — the manifest is fully written " +
          "and closed before the commit marker, so this indicates " +
          "external damage to the _commits dir, not a crashed writer.",
        e)
    }
  }

  private def renderManifest(m: Manifest): Array[Byte] =
    (Seq(s"buckets=${m.numBuckets}", s"txn=${m.txn}") ++
      m.mode.map(md => s"mode=$md").toSeq ++
      m.buckets.toSeq.sortBy(_._1).map { case (b, dn) => s"$b,$dn" })
      .mkString("\n").getBytes("UTF-8")

  /** The current snapshot contents (None before the first commit):
    * the union of every bucket's owning leaf dir per the head manifest.
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(spark, dir).map { v =>
      readFrames(spark, dir, readManifest(fs(spark, dir), dir, v))
    }

  private def readFrames(spark: SparkSession, dir: String,
                         m: Manifest): DataFrame = {
    val paths = m.buckets.toSeq.sortBy(_._1).map { case (b, dn) =>
      bucketPath(dir, dn, b)
    }
    // mergeSchema: after an additive schema evolution (`evolve=true`
    // upsert) untouched buckets still serve pre-evolution files, so the
    // union across leaf dirs must reconcile by NAME, null-filling the
    // columns a leaf predates. Cost is one footer read per leaf dir
    // (<= numBuckets), not a data scan; on a never-evolved store the
    // schemas are identical and this is a no-op.
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** All committed versions, ascending — the auditable history (commit
    * log entries are never pruned; DATA older than the retention
    * window is).
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val commits = new Path(s"$dir/_commits")
    val f = fs(spark, dir)
    if (!f.exists(commits)) Seq.empty
    else {
      val all = f.listStatus(commits).map(_.getPath.getName)
        .collect { case versionPat(n) => n.toLong }.toSeq.sorted
      // only the topmost marker can be in-flight (contiguous slots);
      // it is not a committed version until its token lands
      if (all.nonEmpty &&
          markerToken(f, markerPath(dir, all.last)).isEmpty) all.init
      else all
    }
  }

  /** The snapshot AS OF committed `version` (time travel): the union of
    * every bucket's owning leaf dir per THAT version's manifest — the
    * same plan shape as a head read, so an as-of query costs exactly a
    * current query. Readable while the version's data sits inside the
    * `retain` window; asking for a version whose data has been pruned
    * fails loudly on the missing leaf dirs (never a silent partial
    * snapshot), and asking for a never-committed version fails on the
    * commit-log check, which also keeps crash-orphan dirs unreadable.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val f = fs(spark, dir)
    require(f.exists(markerPath(dir, version)),
      s"version $version was never committed in $dir " +
        s"(committed: ${versions(spark, dir).mkString(", ")})")
    val m = readManifest(f, dir, version)
    // time-travel reads below the head verify their leaf dirs survive
    // retention up front (a handful of metadata calls) so a pruned
    // version refuses with the actionable message, not a scan error;
    // the head's dirs are never pruned, so head reads skip the checks
    if (!latestVersion(spark, dir).contains(version)) {
      val gone = m.buckets.collect {
        case (b, dn) if !f.exists(new Path(bucketPath(dir, dn, b))) => b
      }
      require(gone.isEmpty,
        s"version $version is outside the retention window: bucket(s) " +
          s"${gone.toSeq.sorted.mkString(", ")} were pruned (raise " +
          "`retain` on the writer to keep deeper history)")
    }
    readFrames(spark, dir, m)
  }

  /** Merge `delta` into the snapshot under transaction id `version`
    * (idempotent: the head's recorded txn no-ops a replay, so
    * at-least-once callers get an exactly-once snapshot). Delta rows
    * win over snapshot rows on `key`; new keys append. Within the
    * delta, the row with the highest `seqCol` per key wins, with an
    * md5-of-row tiebreak on equal seq so replays pick the SAME winner
    * (deterministic snapshot contents); pass a delta already unique on
    * `key` to skip that pass.
    *
    * With `opCol` set, the delta is a CDC feed: rows with op `'d'` are
    * tombstones that REMOVE their key from the snapshot, anything else
    * upserts (`Layout.applyCdc`). The per-key seq winner decides the
    * key's fate, so an update and a later delete in one batch deletes,
    * and vice versa. Tombstones cost the same as upserts — the key's
    * bucket merges and rewrites; nothing else moves — and the op column
    * never reaches disk. Deleting a key absent from the snapshot no-ops,
    * so replayed or duplicated delete batches are harmless.
    *
    * With `evolve` set, the delta may ADD columns (and/or stop carrying
    * old ones): the touched buckets' merge null-fills by name, untouched
    * buckets keep their pre-evolution files on disk, and readers
    * reconcile across vintages via parquet schema merge — an additive
    * column evolution rewrites NOTHING beyond the delta's own buckets.
    * Time travel preserves history faithfully: a pre-evolution version
    * reads back WITHOUT the new column. Type changes are not evolution
    * (the parquet merge refuses conflicting types, loudly).
    *
    * Only the key-hash buckets the delta touches are read back, merged,
    * and rewritten; every other bucket's files are untouched on disk and
    * carried forward by manifest reference. The one driver-side action
    * is collecting the distinct touched bucket ids (<= numBuckets ints).
    *
    * After committing, bucket dirs no retained manifest references are
    * deleted; a data dir survives as long as ANY retained version
    * still reads one of its buckets (log entries stay forever, so
    * version history remains auditable).
    *
    * Replay vs collision: at-least-once streaming can only replay the
    * LAST committed batch, so txn == head's txn no-ops (the replay) but
    * txn < head's throws — that is a writer running against a
    * checkpoint that was reset while the snapshot dir survived, and a
    * silent no-op there would discard every batch whose id collides
    * with an old txn. (The one undetectable case is a reset checkpoint
    * colliding on the very latest txn; recovery from a checkpoint loss
    * is to also start a fresh snapshot dir or re-point `retain`-aware
    * tooling at the old one.)
    *
    * With `bucketCol` set, rows are placed by that column's value (an
    * int in `[0, numBuckets)`) instead of `hash(key)` — the seam that
    * turns the store into a CONTENT-partitioned index (the ANN index's
    * IVF cell, an inverted index's term shard): readers that know which
    * buckets answer their query read ONLY those dirs (`readBuckets`),
    * so probe IO is buckets_probed/numBuckets of the index at any size.
    * Caller contract: a key's bucket value must be STABLE across deltas
    * (derive it from immutable row content, e.g. a frozen centroid
    * assignment) — the merge only consults the delta's own buckets, so
    * a key that moved buckets would survive in its old one.
    * Out-of-range bucket values fail the write loudly. `lookupKey`
    * remains hash-routed and applies only to hash-bucketed stores.
    */
  def upsertVersion(spark: SparkSession, delta: DataFrame, key: String,
                    seqCol: Option[String], dir: String, version: Long,
                    retain: Int = 2, opCol: Option[String] = None,
                    evolve: Boolean = false,
                    bucketCol: Option[String] = None,
                    numBuckets: Option[Int] = None): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val f = fs(spark, dir)
    // the CAS below is only a CAS on atomic-create filesystems — refuse
    // object stores loudly before touching anything (class doc contract)
    requireAtomicCreate(spark, f, dir)
    val latest = latestVersion(spark, dir)
    val head = latest.map(readManifest(f, dir, _))
    head.map(_.txn).foreach { t =>
      if (t == version) return // replay of the last committed batch
      require(t < version,
        s"txn $version collides below committed txn $t: the checkpoint " +
          "driving this writer was reset against a live snapshot dir " +
          "(single-writer, monotone-txn contract)")
    }
    // the CAS target: commits are contiguous, so every writer that
    // merged from this head races for exactly this slot
    val slot = latest.map(_ + 1).getOrElse(0L)
    val token = newToken()
    // a token-less marker at the slot is another writer's commit caught
    // between create and token-land: in-flight while younger than the
    // grace window (refuse loudly — it will resolve in milliseconds
    // unless that writer died), abandoned once older (heal: re-verify
    // emptiness and delete, reopening the slot — the read-back verify
    // after OUR close settles the stalled-writer interleave, class doc)
    val slotMarker = markerPath(dir, slot)
    if (f.exists(slotMarker) && markerToken(f, slotMarker).isEmpty) {
      val graceMs = Knobs.snapshotCommitGraceMs.get(spark)
      val age = markerAgeMs(f, slotMarker)
      if (age >= graceMs) {
        if (markerToken(f, slotMarker).isEmpty) f.delete(slotMarker, false)
      } else throw new ConcurrentWriteException(
        s"version $slot of $dir has an in-flight commit (marker age " +
          s"${age / 1000}s < grace ${graceMs / 1000}s) — another writer " +
          "is publishing this slot; retry once it lands or the grace " +
          "window passes (abandoned markers heal automatically)")
    }

    // advisory claim: fail a contender fast, before it pays for a
    // doomed merge (correctness is the marker CAS below, never this)
    acquireClaim(spark, f, dir, slot, token)
    try {
    // explicit per-store sizing beats the session default for content-
    // bucketed stores (numBuckets IS the content-domain size, e.g. the
    // IVF cell count); once committed the manifest's count is law
    val nBuckets = head.map(_.numBuckets)
      .orElse(numBuckets).getOrElse(Knobs.snapshotBuckets.get(spark))
    // placement mode is as much "law" as the bucket count: a delta
    // placed by a different rule than the committed rows would merge
    // against the wrong buckets and strand live rows
    val mode = bucketCol.map(c => s"content:$c").getOrElse(s"hash:$key")
    head.flatMap(_.mode).foreach { recorded =>
      require(recorded == mode,
        s"store at $dir is bucketed '$recorded' but this write places " +
          s"'$mode' — placement is pinned at first commit (rebucket into " +
          "a new generation to change it)")
    }
    // explicit content bucket (e.g. IVF cell) or the default key hash;
    // a value outside [0, numBuckets) would land rows in a dir no
    // manifest tracks — fail the write, not the readers
    def placeExpr: Column = bucketCol match {
      case Some(c) =>
        val b = col(c).cast("int")
        when(b.isNull || b < 0 || b >= lit(nBuckets),
          org.apache.spark.sql.functions.raise_error(
            org.apache.spark.sql.functions.concat_ws("",
              lit(s"bucketCol '$c' out of [0, $nBuckets): "),
              col(c).cast("string"))))
          .otherwise(b)
      case None => bucketExpr(key, nBuckets)
    }

    val deltaLatest = seqCol match {
      case Some(seq) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{md5, row_number, struct, to_json}
        delta.withColumn("_rn", row_number().over(
            Window.partitionBy(col(key))
              .orderBy(col(seq).desc, md5(to_json(struct(delta.columns.map(col): _*))))))
          .filter(col("_rn") === 1).drop("_rn")
      case None => delta
    }

    // a writer that lost its claim to a TTL reclaimer is already doomed
    // at the CAS — abort here, before the expensive merge, not after
    verifyClaim(f, dir, slot, token)

    // every attempt writes its own dir: two same-slot contenders can
    // never interleave files, and the loser's dir is an invisible
    // orphan (swept by retention once the head passes it)
    val attemptDir = s"$dir/${versionName(slot)}-$token"

    // Stage the bucket-tagged delta once: it feeds both the touched-set
    // collect and the merge write (otherwise the delta source recomputes).
    val tagged = deltaLatest
      .withColumn("_bucket", placeExpr).persist()
    try {
      val touched = tagged.select("_bucket").distinct()
        .collect().map(_.getInt(0)).toSet
      val baseTouched = head.flatMap { m =>
        val paths = m.buckets.collect { case (b, dn) if touched(b) =>
          bucketPath(dir, dn, b)
        }.toSeq
        if (paths.isEmpty) None
        else Some(spark.read.option("mergeSchema", "true").parquet(paths: _*))
      }
      val deltaData = tagged.drop("_bucket")
      val merged = (baseTouched, opCol) match {
        case (Some(base), Some(op)) =>
          Layout.applyCdc(base, deltaData, key, op, evolve)
        case (Some(base), None) =>
          Layout.upsert(base, deltaData, key, evolve)
        // first commit / all-new buckets: tombstones for never-seen keys
        // are no-ops, so a CDC delta just drops its delete rows
        case (None, Some(op)) => deltaData.filter(col(op) =!= lit("d")).drop(op)
        case (None, None)     => deltaData
      }
      // One task per touched bucket: each rewritten bucket lands as a
      // single file of size ~table/numBuckets (size the bucket count so
      // that is a sane task; Layout.compaction handles finer sizing).
      merged.withColumn("_bucket", placeExpr)
        .repartition(touched.size max 1, col("_bucket"))
        .write.partitionBy("_bucket")
        .mode("overwrite").parquet(attemptDir)
      // A bucket whose merge DELETED every row writes no partition dir
      // (partitionBy skips empty groups). The manifest must still own it
      // at this version — pointing at the old dir would resurrect the
      // deleted rows — so land a zero-row, schema-bearing parquet dir
      // for each (Catalyst folds limit(0) to an empty relation; the
      // write is a footer-only file). Listing the written dirs is
      // filesystem metadata, no recompute.
      val written = f.listStatus(new Path(attemptDir))
        .map(_.getPath.getName).filter(_.startsWith("_bucket="))
        .map(_.stripPrefix("_bucket=").toInt).toSet
      (touched -- written).foreach { b =>
        merged.limit(0).write.mode("overwrite")
          .parquet(s"$attemptDir/${bucketDirName(b)}")
      }
      // An EMPTY first commit (a store seeded ahead of its first data —
      // the pattern streaming maintainers use to create the table) must
      // still leave a READABLE snapshot: with zero owned buckets,
      // readVersion would have no parquet paths and no schema. One
      // zero-row schema-bearing bucket dir preserves both.
      val owned =
        if (head.isEmpty && touched.isEmpty) {
          merged.limit(0).write.mode("overwrite")
            .parquet(s"$attemptDir/${bucketDirName(0)}")
          Set(0)
        } else touched
      val attemptName = s"${versionName(slot)}-$token"
      val manifest = Manifest(nBuckets,
        head.map(_.buckets).getOrElse(Map.empty) ++
          owned.map(_ -> attemptName), Some(mode), version)
      f.mkdirs(new Path(s"$dir/_commits"))
      // Manifest FIRST, into this attempt's private file: fully written
      // and closed before the CAS, so no committed version's manifest
      // can ever be half-written (a loser's manifest is an invisible
      // orphan swept with its data dir).
      val mOut = f.create(manifestPath(dir, slot, token), false)
      try mOut.write(renderManifest(manifest)) finally mOut.close()
      // THE COMMIT — a single atomic create-once of the marker, whose
      // only content is this attempt's token. Of every writer that
      // merged from this head, exactly one create succeeds; the rest
      // fail loudly right here with their data stranded in invisible
      // orphan dirs. No separate validation step exists to race past:
      // losing writers include a TTL-reclaimed original that resumed
      // after its reclaimer already published.
      val mp = markerPath(dir, slot)
      val out =
        try f.create(mp, false)
        catch {
          case e: java.io.IOException =>
            throw new ConcurrentWriteException(
              s"lost the commit race for version $slot of $dir: another " +
                "writer (a concurrent commit, or the TTL-reclaimer of " +
                "this writer's own stalled claim) published it first — " +
                "this merge is stale; re-run the upsert against the new " +
                s"head with a fresh txn ($e)")
        }
      try {
        try out.write(token.getBytes("UTF-8")) finally out.close()
      } catch {
        case e: java.io.IOException =>
          // token-write failure: if our token actually landed the commit
          // is complete (fall through); otherwise self-heal the empty
          // marker NOW so the slot reopens immediately, not after grace
          if (!markerToken(f, mp).contains(token)) {
            if (markerToken(f, mp).isEmpty) f.delete(mp, false)
            throw e
          }
      }
      // Read-back verify — settles the grace-heal interleave (class
      // doc): if a healer reclaimed this marker mid-stall, the content
      // now carries ITS token and this writer must report a loss, not a
      // success, or two writers would both believe they committed.
      if (!markerToken(f, mp).contains(token))
        throw new ConcurrentWriteException(
          s"commit marker for version $slot of $dir was grace-reclaimed " +
            "while this writer stalled inside its token write — another " +
            "writer healed the slot and published; this merge is stale, " +
            "re-run the upsert against the new head with a fresh txn")
      pruneData(spark, dir, retain)
    } finally tagged.unpersist()
    } finally {
      // release the claim in every outcome — but only OUR claim: after
      // a TTL reclaim the file belongs to the reclaimer, and deleting
      // it out from under them would re-open the slot to a third writer
      val p = claimPath(dir, slot)
      if (claimOwner(f, p).contains(token)) f.delete(p, false)
    }
  }

  private def claimPath(dir: String, v: Long): Path =
    new Path(s"$dir/_claims/${versionName(v)}")

  /** The token inside a claim file, if the file exists and its content
    * is readable (a torn or vanished claim reads as un-owned — the
    * conservative answer for every caller).
    */
  private def claimOwner(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Claim `slot` via a create-once file carrying this writer's token —
    * the advisory OCC entry gate (commit correctness is the log-entry
    * CAS; this only fails contenders before they pay for a merge). An
    * existing claim younger than `Knobs.snapshotClaimTtlMs`
    * (default 30 min) is a live contender → loud loser. An older one is
    * a crashed writer's leftover (every in-process exit deletes its
    * claim) → reclaimed by delete + re-create + read-back: the re-read
    * verifies THIS writer's token landed, so of two simultaneous
    * reclaimers at most one can believe it won in every interleaving
    * short of a delete landing between a rival's create and read-back —
    * and even that one is settled by the commit CAS, losing loudly.
    */
  private def acquireClaim(spark: SparkSession, f: FileSystem, dir: String,
                           slot: Long, token: String): Unit = {
    f.mkdirs(new Path(s"$dir/_claims"))
    val p = claimPath(dir, slot)
    val ttlMs = Knobs.snapshotClaimTtlMs.get(spark)
    def tryCreate(): Boolean =
      try {
        val out = f.create(p, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        claimOwner(f, p).contains(token)
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age =
        try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue } // vanished: retry
      val reclaimed = age > ttlMs && { f.delete(p, false); tryCreate() }
      if (!reclaimed)
        throw new ConcurrentWriteException(
          s"version $slot of $dir is claimed by another writer " +
            s"(claim $p, age ${age / 1000}s, ttl ${ttlMs / 1000}s) — " +
            "either a live concurrent commit (retry with a fresh txn " +
            "once it lands) or a crashed writer's leftover (wait out the " +
            "ttl, or delete the claim file after confirming the writer " +
            "is dead)")
    }
  }

  /** Abort if this writer's claim was TTL-reclaimed while it prepared —
    * it is already doomed at the commit CAS, so stop before the merge.
    */
  private def verifyClaim(f: FileSystem, dir: String, slot: Long,
                          token: String): Unit =
    if (!claimOwner(f, claimPath(dir, slot)).contains(token))
      throw new ConcurrentWriteException(
        s"claim on version $slot of $dir was reclaimed (TTL) while this " +
          "writer prepared its merge — aborting before the data write; " +
          "re-run the upsert against the new head with a fresh txn")

  /** Point lookup: the current row(s) for one key value, reading ONLY
    * that key's hash bucket — IO is table_size/numBuckets at any table
    * size, which is what makes the store a serviceable key-value read
    * path (the same hash route the upsert writer takes, so reader and
    * writer can never disagree on placement). The filter lands on the
    * single bucket's parquet scan, so row-group stats prune within the
    * file too. Returns None before the first commit.
    */
  def lookupKey(spark: SparkSession, dir: String,
                key: String, value: Any): Option[DataFrame] =
    manifest(spark, dir).map { m =>
      // hash routing is only sound on a store hash-bucketed on THIS key;
      // the manifest records the placement, so verify instead of trusting
      // the caller (a content-bucketed store would route to a bucket that
      // simply doesn't hold the key and report it absent)
      m.mode.foreach { recorded =>
        require(recorded == s"hash:$key",
          s"lookupKey('$key') on a store bucketed '$recorded' — hash " +
            "routing would read the wrong bucket; use readBuckets with " +
            "content ids for content-bucketed stores")
      }
      // the literal must hash under the key column's EXACT type (Murmur3
      // is type-sensitive: hash(5: int) != hash(5L)) — pull the type
      // from any bucket's footer, then route via a 1-row local eval
      // through the same expression the writer bucketed with (no table
      // data is touched)
      val (b0, dn0) = m.buckets.head
      val keyType = spark.read
        .parquet(bucketPath(dir, dn0, b0))
        .schema(key).dataType
      val b = spark.range(1)
        .select(pmod(hash(lit(value).cast(keyType)), lit(m.numBuckets)).as("b"))
        .head().getInt(0)
      m.buckets.get(b) match {
        case Some(owner) =>
          spark.read.option("mergeSchema", "true")
            .parquet(bucketPath(dir, owner, b))
            .filter(col(key) === lit(value).cast(keyType))
        case None => // the key's bucket was never written: no such key
          spark.read
            .parquet(bucketPath(dir, dn0, b0))
            .limit(0)
      }
    }

  /** The current rows of ONLY the given bucket ids — the pruned read
    * path for content-bucketed stores (`upsertVersion(bucketCol=…)`):
    * a probe that knows which buckets can answer it (the query's
    * nprobe IVF cells, a search term's shard) unions just those dirs,
    * so IO is |buckets|/numBuckets of the index at any size. Bucket
    * ids never written serve no rows (they are simply absent from the
    * manifest); ids outside [0, numBuckets) are refused loudly — a
    * caller computing probe buckets with a different modulus than the
    * writer would otherwise silently read nothing. Returns None before
    * the first commit.
    */
  def readBuckets(spark: SparkSession, dir: String,
                  buckets: Set[Int]): Option[DataFrame] =
    manifest(spark, dir).map { m =>
      val bad = buckets.filter(b => b < 0 || b >= m.numBuckets)
      require(bad.isEmpty,
        s"bucket id(s) ${bad.toSeq.sorted.mkString(", ")} outside " +
          s"[0, ${m.numBuckets}) — probe and writer disagree on the layout")
      val paths = m.buckets.toSeq.sortBy(_._1)
        .collect { case (b, dn) if buckets(b) =>
          bucketPath(dir, dn, b)
        }
      if (paths.isEmpty) read(spark, dir).get.limit(0)
      else spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** The net row-level changes between two committed versions — the
    * CDC READ side of the store (time travel answers "what WAS the
    * table"; this answers "what CHANGED"), the feed a downstream
    * incremental consumer (index maintainer, cache invalidator,
    * replication target) tails instead of diffing snapshots.
    *
    * Output: one row per key whose contents differ between the
    * versions, carrying the key, every data column (union of both
    * vintages' schemas — evolution-safe), and `_change`:
    * `'insert'` (key absent at `fromVersion`; new values),
    * `'update'` (present in both, any column differs; new values),
    * `'delete'` (key absent at `toVersion`; LAST-SEEN values).
    * A key rewritten with identical values does NOT appear — the feed
    * reports semantic change, not write activity — and a span of
    * versions nets out (insert then delete within the span → no row).
    *
    * Cost model: only buckets whose manifest OWNERSHIP changed between
    * the two versions are read (ownership changes iff the bucket was
    * rewritten in the span), then one full-outer join on the key over
    * just those buckets' rows — O(churned buckets + changed rows),
    * never O(table). Both versions' churned data must still sit inside
    * the retention window (same loud refusal as `readVersion`).
    */
  def changes(spark: SparkSession, dir: String, key: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    val f = fs(spark, dir)
    val (m1, m2, churned) = spanChurn(f, spark, dir, fromVersion, toVersion)

    def side(m: Manifest): Option[DataFrame] =
      churnedRows(spark, dir, m, churned)
    (side(m1), side(m2)) match {
      case (None, None) => // no churn: an empty, schema-correct feed
        readVersion(spark, dir, toVersion).limit(0)
          .withColumn("_change", lit(""))
      case (o, n) =>
        val oldRaw = o.getOrElse(n.get.limit(0))
        val newRaw = n.getOrElse(o.get.limit(0))
        // align vintages by name: null-fill the columns a side predates
        val allCols = (oldRaw.columns ++ newRaw.columns).distinct.toSeq
        def aligned(df: DataFrame, other: DataFrame): DataFrame =
          df.select(allCols.map { c =>
            if (df.columns.contains(c)) col(c)
            else lit(null).cast(other.schema(c).dataType).as(c)
          }: _*)
        val ol = aligned(oldRaw, newRaw).as("o")
        val nw = aligned(newRaw, oldRaw).as("n")
        val dataCols = allCols.filterNot(_ == key)
        val differs = dataCols
          .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
          .reduceOption(_ || _).getOrElse(lit(false))
        val change = when(col(s"o.$key").isNull, lit("insert"))
          .when(col(s"n.$key").isNull, lit("delete"))
          .when(differs, lit("update"))
        val picked = allCols.map(c =>
          when(col(s"n.$key").isNotNull, col(s"n.$c"))
            .otherwise(col(s"o.$c")).as(c))
        ol.join(nw, col(s"o.$key") === col(s"n.$key"), "full_outer")
          .select(picked :+ change.as("_change"): _*)
          .filter(col("_change").isNotNull)
    }
  }

  /** Validate a version span (both committed, churned data inside
    * retention) and return its manifests plus the bucket ids whose
    * OWNERSHIP differs — exactly the buckets some version in the span
    * rewrote. Shared by the change feed and incremental view
    * maintenance, which both owe their O(churned buckets) cost bound to
    * this set.
    */
  private def spanChurn(f: FileSystem, spark: SparkSession, dir: String,
                        fromVersion: Long, toVersion: Long)
      : (Manifest, Manifest, Set[Int]) = {
    require(fromVersion < toVersion,
      s"span requires fromVersion < toVersion, got $fromVersion >= $toVersion")
    Seq(fromVersion, toVersion).foreach { v =>
      require(f.exists(markerPath(dir, v)),
        s"version $v was never committed in $dir " +
          s"(committed: ${versions(spark, dir).mkString(", ")})")
    }
    val m1 = readManifest(f, dir, fromVersion)
    val m2 = readManifest(f, dir, toVersion)
    val churned = (m1.buckets.keySet ++ m2.buckets.keySet)
      .filter(b => m1.buckets.get(b) != m2.buckets.get(b))
    // both sides' churned data must survive retention — a handful of
    // metadata calls, bounded by the churn, never the table
    Seq(fromVersion -> m1, toVersion -> m2).foreach { case (v, m) =>
      val gone = m.buckets.collect {
        case (b, dn) if churned(b) && !f.exists(new Path(bucketPath(dir, dn, b))) => b
      }
      require(gone.isEmpty,
        s"version $v is outside the retention window: churned bucket(s) " +
          s"${gone.toSeq.sorted.mkString(", ")} were pruned (raise " +
          "`retain` on the writer to keep deeper history)")
    }
    (m1, m2, churned)
  }

  /** A manifest's rows restricted to the given buckets, or None if it
    * owns none of them (mergeSchema reconciles cross-vintage columns).
    */
  private def churnedRows(spark: SparkSession, dir: String, m: Manifest,
                          churned: Set[Int]): Option[DataFrame] = {
    val paths = m.buckets.collect { case (b, dn) if churned(b) =>
      bucketPath(dir, dn, b)
    }.toSeq
    if (paths.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(paths: _*))
  }

  /** The bucket ids rewritten in a version span (spec/audit seam: pins
    * the O(churned buckets) cost bound of `changes`/`maintainAgg`). */
  private[graft] def churnedBuckets(spark: SparkSession, dir: String,
                                    fromVersion: Long, toVersion: Long): Set[Int] =
    spanChurn(fs(spark, dir), spark, dir, fromVersion, toVersion)._3

  /** Whether a span can be read incrementally: both versions committed
    * AND their churned data still inside the retention window. Lets a
    * caller choose a full-rebuild fallback instead of hitting
    * `changes`/`maintainAgg`'s loud refusal. An in-flight or damaged
    * commit entry (IllegalStateException) also answers false — the
    * caller's full rebuild is the right response to both.
    */
  def spanReadable(spark: SparkSession, dir: String,
                   fromVersion: Long, toVersion: Long): Boolean =
    try { spanChurn(fs(spark, dir), spark, dir, fromVersion, toVersion); true }
    catch {
      case _: IllegalArgumentException => false
      case _: IllegalStateException    => false
    }

  /** Incrementally maintain a grouped count-and-sums aggregate view
    * across a version span — the materialized-view counterpart of
    * `changes`.
    *
    * `oldView` is the full aggregate at `fromVersion` with columns
    * `groupCols ++ cntCol ++ sums.map(_._1)`; `sums` pairs each view
    * column with the row-level expression it sums (cast it to DECIMAL —
    * decimal addition is associative, which is what makes the
    * incremental result BIT-IDENTICAL to a full recompute; double sums
    * would drift with grouping order). The view at `toVersion` is
    * `oldView − partial(churned buckets @ from) + partial(churned
    * buckets @ to)`: per-group signed partials over only the buckets
    * the span rewrote, one shuffle on the group keys over
    * O(view + churned rows) — the base table is never rescanned.
    * Groups whose count reaches zero vanish, new groups appear.
    *
    * Count+sum covers the distributive family (avg = sum/cnt at read
    * time). Min/max are deliberately NOT supported: deleting a group's
    * extremum requires rescanning that group, so an exact min/max view
    * is not maintainable from deltas alone.
    */
  def maintainAgg(spark: SparkSession, dir: String,
                  fromVersion: Long, toVersion: Long,
                  oldView: DataFrame, groupCols: Seq[String],
                  sums: Seq[(String, Column)],
                  cntCol: String = "cnt"): DataFrame = {
    import org.apache.spark.sql.functions.{count, sum}
    val f = fs(spark, dir)
    val (m1, m2, churned) = spanChurn(f, spark, dir, fromVersion, toVersion)
    if (churned.isEmpty) return oldView

    def partial(rows: DataFrame, sign: Int): DataFrame = {
      val aggs = (count(lit(1)) * lit(sign)).cast("long").as(cntCol) +:
        sums.map { case (n, e) => (sum(e) * lit(sign)).as(n) }
      rows.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    val frames = Seq(Some(oldView),
      churnedRows(spark, dir, m1, churned).map(partial(_, -1)),
      churnedRows(spark, dir, m2, churned).map(partial(_, +1))).flatten
    val merged = frames.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(cntCol)).cast("long").as(cntCol),
        sums.map { case (n, _) => sum(col(n)).as(n) }: _*)
    merged.filter(col(cntCol) > 0)
  }

  /** Materialize the inner equi-join view A ⋈ B over two committed
    * stores, each row tagged with BOTH sides' owning bucket ids
    * (`_ab`, `_bb`) — the provenance `maintainJoin` needs to drop and
    * rebuild exactly the slices a delta invalidated. `joinCol` is a
    * column both stores carry (it may equal either store's key or
    * neither).
    */
  def joinView(spark: SparkSession, aDir: String, aKey: String,
               bDir: String, bKey: String, joinCol: String): DataFrame = {
    val mA = manifest(spark, aDir).getOrElse(
      sys.error(s"no committed store at $aDir"))
    val mB = manifest(spark, bDir).getOrElse(
      sys.error(s"no committed store at $bDir"))
    val a = read(spark, aDir).get
      .withColumn("_ab", bucketExpr(aKey, mA.numBuckets))
    val b = read(spark, bDir).get
      .withColumn("_bb", bucketExpr(bKey, mB.numBuckets))
    a.join(b, Seq(joinCol))
  }

  /** Incrementally maintain a `joinView` after ONE side advanced
    * `fromVersion` → `toVersion` — the JOIN half of the materialized-
    * view story (`maintainAgg` is the aggregate half; compose them for
    * aggregate-over-join views). `tagCol` names the view column
    * carrying the churned side's bucket ids (`"_ab"` when A advanced,
    * `"_bb"` when B advanced), `otherTag` the static side's.
    *
    * Correctness shape: the store's unit of change IS the bucket —
    * every view row whose churn-side bucket the span rewrote is
    * dropped whole, and the span's NEW bucket contents re-join against
    * the other side. No per-row diffing, no multiset bookkeeping:
    * inserts, updates, and tombstoned deletes all fall out of
    * drop-and-rebuild, and the result is row-identical to a full
    * recompute (SnapshotSpec pins both churn directions).
    *
    * Cost shape at 100 TB: O(churned-bucket rows ⋈ other side) — the
    * view and the churn side are never rescanned. The OTHER side's
    * read is bucket-PRUNED when its store key equals the join column
    * (the fact→dim direction: dim keyed by the join key serves only
    * the buckets the delta's keys hash into — the same ≤ numBuckets
    * driver-side ints as the upsert's touched-set); when it is keyed
    * otherwise the full other side joins (the dim→fact direction is
    * inherently O(facts matching changed keys) — bucket the fact store
    * by the join column if that direction dominates your churn).
    *
    * CONTENT-bucketed other stores (written with `bucketCol`) place
    * rows by an explicit id, not `hash(key)`, so the hash-derived
    * prune would read the WRONG buckets. The other store's manifest
    * records its placement mode, and the prune is taken ONLY when it
    * confirms hash-bucketing on the join column — any other mode (or a
    * pre-mode legacy manifest) falls back to the always-correct full
    * read, so a mistaken `otherKey == joinCol` on a content-bucketed
    * dim can no longer silently drop join rows. Content stores' own
    * pruning seam is `readBuckets` with caller-known content ids.
    */
  def maintainJoin(spark: SparkSession,
                   churnDir: String, churnKey: String,
                   fromVersion: Long, toVersion: Long,
                   otherDir: String, otherKey: String,
                   joinCol: String, oldView: DataFrame,
                   tagCol: String, otherTag: String): DataFrame = {
    val f = fs(spark, churnDir)
    val (_, m2, churned) = spanChurn(f, spark, churnDir, fromVersion, toVersion)
    if (churned.isEmpty) return oldView
    val mO = manifest(spark, otherDir).getOrElse(
      sys.error(s"no committed store at $otherDir"))
    val kept = oldView.filter(!col(tagCol).isin(churned.toSeq: _*))
    churnedRows(spark, churnDir, m2, churned) match {
      case None => kept
      case Some(rows) =>
        val nr = rows.withColumn(tagCol, bucketExpr(churnKey, m2.numBuckets))
        val other =
          if (otherKey == joinCol && mO.mode.contains(s"hash:$otherKey")) {
            val touched = nr
              .select(bucketExpr(joinCol, mO.numBuckets).as("_tb"))
              .distinct().collect().map(_.getInt(0)).toSet
            readBuckets(spark, otherDir, touched).get
          } else read(spark, otherDir).get
        kept.unionByName(
          nr.join(other.withColumn(otherTag, bucketExpr(otherKey, mO.numBuckets)),
            Seq(joinCol)))
    }
  }

  /** Re-bucket a hash-bucketed store into a NEW store dir with a
    * different bucket count — the scale-out reindex for when a growing
    * table's per-bucket size outgrows a sane task (the manifest pins
    * the count at first commit precisely so this is an explicit new
    * GENERATION, never an in-place mutation racing readers). One full
    * read → one full shuffled write, by design; the source store stays
    * untouched and serveable throughout, and the caller swaps readers
    * to `outDir` when the new generation's version 0 commits.
    * Content-bucketed stores re-bucket through their own builder
    * instead (e.g. a K-change on the vector index is a re-quantize).
    */
  def rebucket(spark: SparkSession, dir: String, outDir: String,
               key: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    manifest(spark, dir).flatMap(_.mode).foreach { recorded =>
      require(recorded == s"hash:$key",
        s"rebucket('$key') on a store bucketed '$recorded' — content-" +
          "bucketed stores re-bucket through their own builder")
    }
    val cur = read(spark, dir).getOrElse(
      sys.error(s"no committed store at $dir"))
    upsertVersion(spark, cur, key, seqCol = None, outDir, version = 0L,
      numBuckets = Some(newBuckets))
  }

  /** Delete bucket dirs that none of the `retain` newest committed
    * manifests reference, then any data dir left empty. Loser-attempt
    * and crash-orphan dirs (never referenced by any manifest) are
    * removed the same way once their slot falls below the retention
    * horizon.
    */
  private val manifestFilePat = "\\.m-v(\\d{8,})-([0-9a-f]+)".r

  private def pruneData(spark: SparkSession, dir: String, retain: Int): Unit = {
    val f = fs(spark, dir)
    val commits = new Path(s"$dir/_commits")
    val names = f.listStatus(commits).map(_.getPath.getName)
    val markers = names.collect { case versionPat(n) => n.toLong }.sorted
    // only the topmost marker can be token-less (an in-flight commit);
    // it must not advance the retention cutoff
    val committed =
      if (markers.nonEmpty &&
          markerToken(f, markerPath(dir, markers.last)).isEmpty)
        markers.init
      else markers
    val retained = committed.takeRight(retain)
    val cutoff = retained.min
    // (owning dir, bucket) pairs some retained manifest still reads; an
    // in-flight entry inside the window owns nothing (never visible)
    val referenced: Set[(String, Int)] = retained.flatMap { v =>
      try readManifest(f, dir, v).buckets.toSeq.map { case (b, dn) => (dn, b) }
      catch { case _: IllegalStateException => Seq.empty }
    }.toSet
    f.listStatus(new Path(dir))
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case dataDirPat(n) => Some(s.getPath -> n.toLong)
        case _             => None
      })
      .foreach { case (p, v) =>
        if (v < cutoff) {
          f.listStatus(p).foreach { st =>
            val name = st.getPath.getName
            val keep = name.startsWith("_bucket=") &&
              referenced((p.getName, name.stripPrefix("_bucket=").toInt))
            if (!keep) f.delete(st.getPath, true)
          }
          if (f.listStatus(p).isEmpty) f.delete(p, true)
        }
      }
    // LOSER manifest files (a lost CAS race's orphan) below the horizon:
    // tiny but unbounded over a store's life. A WINNING version's
    // manifest lives forever — the commit log stays auditable — so only
    // files whose token differs from their slot's winner are swept
    // (token reads are bounded by the losers present, normally zero).
    names.foreach {
      case nm @ manifestFilePat(n, tok) if n.toLong < cutoff =>
        if (!markerToken(f, markerPath(dir, n.toLong)).contains(tok))
          f.delete(new Path(s"$dir/_commits/$nm"), false)
      case _ => ()
    }
  }
}
