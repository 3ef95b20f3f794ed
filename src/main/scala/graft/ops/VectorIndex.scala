package graft.ops

import graft.{GraftQuery, Knobs, Materialize, QueryModule, Tables}
import graft.pipeline.{SnapshotStore, Sources}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF vector index — the "vector database on a lake" shape
  * (SURVEY.md §2.8 similarity-search scale path, productionized).
  *
  * `sim_ann_ivf` rebuilds its inverted file on every query; a serving
  * corpus can't. This module makes the IVF structure a TABLE:
  *
  *  - the coarse quantizer (K md5-ordered seed vectors, exactly
  *    `sim_ann_ivf`'s oracle-pinned default, dense-numbered 0..K-1) is
  *    FROZEN at build time into `dir/_centroids` — assignment is a pure
  *    function of (embedding, centroids), so every writer and reader
  *    agrees on placement forever;
  *  - vector rows live in a `SnapshotStore` whose bucket id IS the IVF
  *    cell (`upsertVersion(bucketCol = "cell", numBuckets = K)`):
  *    bucket dirs are posting lists, and the store's versioned manifest
  *    gives the index exactly-once incremental ingest, time travel,
  *    CDC deletes, and crash safety for free;
  *  - a query assigns its vectors to their `nprobe` nearest cells
  *    (broadcast K centroids — a narrow map) and reads ONLY those
  *    cells' bucket dirs (`SnapshotStore.readBuckets`): probe IO is
  *    nprobe/K of the index at ANY corpus size, the property that makes
  *    the structure an index rather than a scan. The only driver-side
  *    action is the ≤K-int probed-cell set (same metadata class as the
  *    store's touched-bucket collect).
  *
  * Scale shape (100 TB of embeddings): ingest is O(delta + touched
  * cells) — new vectors append to their cell's bucket, nothing else
  * moves; the in-cell exact search is bounded by the per-cell cap
  * (`Knobs.annIvfCellCap.fallback` — same Σ cell² skew bound as the
  * ephemeral operator, identically oracle-twinned); K scales as
  * n/targetCellSize with the same recall/nprobe tradeoff measured in
  * SCALE.md. Lloyd's-k-means centroids (`Similarity.kmeansCentroids`)
  * drop into `build(seeds = …)` unchanged — frozen thereafter, which is
  * the standard production contract (re-training the quantizer is a
  * reindex by design, never a silent drift).
  *
  * The registered query proves the WHOLE lifecycle under the value-level
  * oracle: build from a 3/4 base corpus → incrementally ingest the
  * remaining 1/4 → probe every vector for its nearest neighbor. The
  * DuckDB twin states the same math declaratively (seeds from the base
  * subset, assignment over the union), so the hash gate pins that
  * build + ingest + probe ≡ one-shot index of the final corpus.
  */
object VectorIndex extends QueryModule {

  private def centroidsDir(dir: String) = s"$dir/_centroids"
  private def codebooksDir(dir: String) = s"$dir/_pq_codebooks"

  /** Squared L2 between the m-th 16-dim slice of a full vector column
    * and a codebook SUB-vector column (`m` is a 1-based column in
    * scope) — the same left-to-right fold as `sim_ann_pq` (whose SQL
    * slices the seed by m; the codebook's `sub` IS that slice), so the
    * values are bit-stable across engines.
    */
  private def subdist(a: String, sub: String = "sub") = expr(
    s"""aggregate(zip_with(slice($a, (m-1)*16 + 1, 16), $sub,
         (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                 * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
       CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")

  /** The frozen PQ sub-codebooks: for each of 4 subspaces, 16 seed
    * SUB-vectors (the m-th 16-dim slice of the md5-ordered seeds —
    * `sim_ann_pq`'s quantizer) as `(m 1..4, c 0..15, sub)`. Carrying
    * the slice (not the full seed) is what lets a k-means refinement
    * (`kmeansSubCodebooks`) replace entries per subspace independently.
    */
  private[graft] def pqCodebooks(vecs: DataFrame): DataFrame =
    vecs
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(16)
      .select(col("vec_id").as("sid"), col("embedding").as("semb"))
      .withColumn("c", (row_number().over(
        Window.orderBy(md5(col("sid").cast("string")).asc, col("sid").asc))
        - 1).cast("int"))
      .select(col("c"), col("semb"), explode(expr("sequence(1, 4)")).as("m"))
      .select(col("c"), col("m"),
        expr("slice(semb, (m-1)*16 + 1, 16)").as("sub"))

  /** Per-subspace Lloyd's k-means refinement of the PQ sub-codebooks —
    * the standard production quantizer (Jégou et al. 2011 train their
    * codebooks; the md5 seeds are the oracle-pinned default). All 4
    * subspaces train in ONE frame per round:
    *   assign:   broadcast ≤64 codebook rows, narrow argmin-L2 map;
    *   recenter: posexplode each assigned 16-dim slice → mean per
    *             (m, c, pos) — one skinny shuffle with map-side
    *             combine — then rebuild the 16-float arrays.
    * Cells that lose every member keep their previous sub-vector, so
    * no codebook entry ever vanishes; each round goes through
    * `Materialize.advance` (plan cut, ≤64 rows cached by one count, the
    * replaced round released). Validated by measured ADC agreement
    * (VectorIndexSpec), not the value-level oracle, which pins the
    * seed path — the same posture as the IVF k-means centroids.
    */
  private[graft] def kmeansSubCodebooks(vecs: DataFrame,
                                        iters: Int): DataFrame = {
    var books = pqCodebooks(vecs)
    for (i <- 0 until iters) {
      val assignRows = vecs.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(books))
        .select(col("vec_id"), col("embedding"), col("m"), col("c"),
          subdist("embedding").as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id"), col("m"))
            .orderBy(col("d2").asc, col("c").asc)))
        .filter(col("rn") === 1)
      val recentered = assignRows
        .select(col("m"), col("c"),
          posexplode(expr("slice(embedding, (m-1)*16 + 1, 16)"))
            .as(Seq("pos", "x")))
        .groupBy(col("m"), col("c"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mx"))
        .groupBy(col("m"), col("c"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, mx))), s -> cast(s.mx AS FLOAT))")
          .as("nsub"))
      books = Materialize.advance(
        Option.when(i > 0)(books), // only a round this loop staged is released
        books.join(recentered, Seq("m", "c"), "left")
          .select(col("m"), col("c"),
            coalesce(col("nsub"), col("sub")).as("sub")))._1
    }
    books
  }

  /** PQ-encode vectors against frozen codebooks: adds `code1..code4`
    * (nearest sub-centroid per subspace, ties to the lowest code).
    * Narrow map over a broadcast 64-row frame.
    */
  private def encode(vecs: DataFrame, books: DataFrame): DataFrame = {
    val d2 = vecs.crossJoin(broadcast(books))
      .select(vecs.columns.map(col) :+ col("m") :+ col("c") :+
        subdist("embedding").as("d2"): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("d2").asc, col("c").asc)))
      .filter(col("rn") === 1)
    def codeCol(m: Int) = max(when(col("m") === m, col("c")))
    val codes = d2.groupBy(col("vec_id").as("cv"))
      .agg(codeCol(1).as("code1"), codeCol(2).as("code2"),
        codeCol(3).as("code3"), codeCol(4).as("code4"))
    vecs.join(codes, col("vec_id") === col("cv")).drop("cv")
  }

  /** Embeddings with the shared bit-stable L2 norm. */
  private def normed(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      expr("sqrt(vec_dot(embedding, embedding))").as("nrm"))

  /** The frozen coarse quantizer: K seed vectors in md5(vec_id) order
    * (the `sim_ann_ivf` oracle default), dense-numbered `cell` 0..K-1.
    * `sid` is retained because the assignment tie-break (equal cosine →
    * lowest sid) must match the oracle's. A learned codebook
    * (`Similarity.kmeansCentroids`) can be passed to `build` instead —
    * same schema, same downstream plans.
    */
  private[graft] def seedCentroids(vecs: DataFrame, k: Int): DataFrame =
    vecs
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id").as("sid"), col("embedding").as("semb"),
        col("nrm").as("snrm"))
      // K rows: the single-partition window is over the seed set only
      .withColumn("cell", (row_number().over(
        Window.orderBy(md5(col("sid").cast("string")).asc, col("sid").asc))
        - 1).cast("int"))

  /** Assign each vector its `nprobe` nearest cells (rank in `rn`).
    * Broadcast K centroids → narrow map: no shuffle of `vecs`; ties
    * break on lowest sid, mirroring the oracle.
    */
  private def assign(vecs: DataFrame, cents: DataFrame,
                     nprobe: Int): DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("c").desc, col("sid").asc)
    vecs.crossJoin(broadcast(cents))
      .select(vecs.columns.map(col) :+ col("sid") :+ col("cell") :+
        (expr("vec_dot(embedding, semb)") / (col("nrm") * col("snrm")))
          .as("c"): _*)
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= nprobe)
      .drop("sid", "c")
  }

  /** Create the index: freeze the quantizer, commit the base corpus as
    * version 1. `seeds` defaults to the md5-ordered seed quantizer over
    * `vecs`; pass a k-means codebook for learned cells.
    */
  def build(s: SparkSession, vecs: DataFrame, dir: String, k: Int,
            seeds: Option[DataFrame] = None,
            pqKmeansIters: Int = 0): Unit = {
    val cents = seeds.getOrElse(seedCentroids(vecs, k))
    cents.repartition(1).write.mode("errorifexists")
      .parquet(centroidsDir(dir))
    // PQ sub-codebooks freeze with the coarse quantizer: the index
    // always carries its 4-byte codes, so the ADC probe path is
    // available without re-reading (or re-shipping) full vectors.
    // pqKmeansIters > 0 freezes LEARNED sub-codebooks instead (the
    // production quantizer; the seed default stays oracle-pinned).
    val books =
      if (pqKmeansIters > 0) kmeansSubCodebooks(vecs, pqKmeansIters)
      else pqCodebooks(vecs)
    books.repartition(1).write.mode("errorifexists")
      .parquet(codebooksDir(dir))
    ingest(s, vecs, dir)
  }

  private def readCentroids(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(centroidsDir(dir))

  /** Incrementally add (or re-embed: same vec_id upserts) vectors.
    * O(delta + touched cells): assignment is a narrow broadcast map and
    * the store rewrites only the cells the delta lands in. `evolve`
    * admits a delta carrying NEW metadata columns (a lang tag, a source
    * id — the filtered-ANN pattern): the store null-fills old vintages
    * via the same additive-evolution contract as `upsertVersion`, and
    * the probe paths are unaffected because they project only the
    * index's own columns.
    */
  def ingest(s: SparkSession, vecs: DataFrame, dir: String,
             evolve: Boolean = false): Unit =
    ingestVersion(s, vecs, dir,
      SnapshotStore.latestTxn(s, dir).map(_ + 1).getOrElse(0L), evolve)

  /** `ingest` with an explicit version — the exactly-once seam for a
    * streaming writer (version = batchId; replays no-op on the marker).
    */
  def ingestVersion(s: SparkSession, vecs: DataFrame, dir: String,
                    version: Long, evolve: Boolean = false): Unit = {
    val cents = readCentroids(s, dir)
    val k = cents.count().toInt
    val books = s.read.parquet(codebooksDir(dir))
    // staged EAGERLY (r12, VERDICT r11 item 6): encode() reads its
    // input TWICE (the d2 code window and the final codes join), and
    // the upsert's first action materializes both sides as concurrent
    // AQE stages — unstaged, the corpus × K assignment cross-join
    // computed twice; lazily staged, the two stages raced to build the
    // same cache partitions (the banded-self-join pathology)
    val assigned = Materialize.stageEager(
      assign(vecs, cents, nprobe = 1).drop("rn"))
    SnapshotStore.upsertVersion(s,
      encode(assigned, books),
      key = "vec_id", seqCol = None, dir = dir, version = version,
      evolve = evolve, bucketCol = Some("cell"), numBuckets = Some(k))
  }

  // ─────────────── reindex policy (generation rollover) ───────────────

  /** Mean cell occupancy of the committed index, from the store's own
    * stats: total vectors (a parquet footer-metadata count — no data
    * pages move) over the manifest's frozen cell count. This is the
    * frozen-K health metric: as the corpus grows past K × cellCap the
    * per-cell probe cap starts truncating candidates (recall decays,
    * SCALE.md §10 measured 3.3× at 10×) — occupancy is the measurable
    * proxy for that drift.
    */
  def meanOccupancy(s: SparkSession, dir: String): Double = {
    val m = SnapshotStore.manifest(s, dir).getOrElse(
      sys.error(s"no committed index at $dir"))
    val n = SnapshotStore.read(s, dir).get.count()
    n.toDouble / m.numBuckets
  }

  /** Reindex trigger: mean occupancy crossed `triggerFactor × cellCap`.
    * At the default 0.8 the index signals before the cap actually
    * truncates the average cell, while skewed hot cells (bounded by the
    * same Σ cell² analysis as the ephemeral operator) ride the cap
    * until the rebuild lands.
    */
  def needsReindex(s: SparkSession, dir: String,
                   cellCap: Int = Knobs.annIvfCellCap.fallback,
                   triggerFactor: Double = 0.8): Boolean =
    meanOccupancy(s, dir) > triggerFactor * cellCap

  /** Rebuild the index as a NEW GENERATION in `outDir`, re-training the
    * coarse quantizer at K = ceil(n / targetCellSize) over the CURRENT
    * corpus — the recovery for frozen-K drift. The old generation is
    * never touched and stays serveable until the caller swaps probe
    * traffic to `outDir` (the same generation pattern as
    * `SnapshotStore.rebucket`; content-bucketed stores re-bucket through
    * this builder, their placement rule being the quantizer itself).
    * One full read → one bucketed write, by design. Returns the new K.
    */
  def reindex(s: SparkSession, dir: String, outDir: String,
              targetCellSize: Int): Int = {
    require(targetCellSize >= 1,
      s"targetCellSize must be >= 1, got $targetCellSize")
    val cur = SnapshotStore.read(s, dir).getOrElse(
      sys.error(s"no committed index at $dir"))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val n = cur.count()
    val k = math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    build(s, cur, outDir, k)
    k
  }

  /** The measured auto-reindex policy: when mean occupancy crosses
    * `triggerFactor × cellCap`, roll a new generation sized so occupancy
    * RESETS to `targetFactor × cellCap` (trigger > target is the
    * hysteresis — the corpus must grow trigger/target× again before the
    * next rollover, so steady ingest produces O(log growth) rebuilds,
    * not thrash). Returns the new generation's K, or None when the
    * index is healthy (outDir untouched). Callers keep serving `dir`
    * until Some(k) returns, then swap probes to `outDir`.
    */
  def maybeReindex(s: SparkSession, dir: String, outDir: String,
                   cellCap: Int = Knobs.annIvfCellCap.fallback,
                   triggerFactor: Double = 0.8,
                   targetFactor: Double = 0.4): Option[Int] = {
    require(targetFactor > 0 && targetFactor < triggerFactor,
      s"need 0 < targetFactor < triggerFactor, got $targetFactor / $triggerFactor")
    if (!needsReindex(s, dir, cellCap, triggerFactor)) None
    else Some(reindex(s, dir, outDir,
      targetCellSize = math.max(1, (targetFactor * cellCap).toInt)))
  }

  /** Nearest indexed neighbor (top-1, self excluded) for each query
    * vector: assign queries to their `nprobe` nearest cells, read ONLY
    * those cells' bucket dirs, exact-search within (corpus side capped
    * per cell — the same skew bound, rank rule, and default as
    * `sim_ann_ivf`).
    */
  def query(s: SparkSession, queries: DataFrame, dir: String,
            nprobe: Int = 1,
            cellCap: Int = Knobs.annIvfCellCap.fallback): DataFrame = {
    val cents = readCentroids(s, dir)
    // staged (r12, VERDICT r11 item 6): qa is consumed by the probed-
    // cell collect AND the scoring join — unstaged, the corpus × K
    // assignment cross-join + argmax window computed twice. Plain
    // stage() (not eager) is exactly right here: the collect is the
    // single FIRST consumer and reads every partition, so it builds the
    // cache sequentially and the join side only reads.
    val qa = Materialize.stage(assign(queries, cents, nprobe).drop("rn")
      .select(col("vec_id").as("va"), col("cell"),
        col("embedding").as("ea"), col("nrm").as("na")))
    // ≤K ints — metadata-class driver action, not a data collect
    val probed = qa.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val corpus = SnapshotStore.readBuckets(s, dir, probed).getOrElse(
      sys.error(s"no committed index at $dir"))
    val b = corpus
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)))
      .filter(col("crn") <= cellCap)
      .select(col("vec_id").as("vb"), col("cell").as("cell2"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("va"))
      .orderBy(col("cosine").desc, col("vb").asc)
    qa.join(b, col("cell") === col("cell2") && col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        (expr("vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("ann_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  /** Radius (range) probe over the persistent index: every stored
    * vector in the query's `nprobe` cells with cosine ≥ `tau` — the
    * pruned counterpart of `Similarity`'s brute-force
    * `sim_range_search`, same cell-pruned IO contract as [[query]]
    * (only probed cell dirs are read; recall < 1 by design, bounded by
    * the coarse quantizer exactly like top-k ANN). No argmax window —
    * the threshold bounds the output, so this is scan + filter only.
    */
  def rangeQuery(s: SparkSession, queries: DataFrame, dir: String,
                 tau: Double, nprobe: Int = 1,
                 cellCap: Int = Knobs.annIvfCellCap.fallback): DataFrame = {
    val cents = readCentroids(s, dir)
    // staged: same two-consumer shape as query() above
    val qa = Materialize.stage(assign(queries, cents, nprobe).drop("rn")
      .select(col("vec_id").as("va"), col("cell"),
        col("embedding").as("ea"), col("nrm").as("na")))
    // ≤K ints — metadata-class driver action, not a data collect
    val probed = qa.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val corpus = SnapshotStore.readBuckets(s, dir, probed).getOrElse(
      sys.error(s"no committed index at $dir"))
    val b = corpus
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)))
      .filter(col("crn") <= cellCap)
      .select(col("vec_id").as("vb"), col("cell").as("cell2"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    qa.join(b, col("cell") === col("cell2") && col("va") =!= col("vb"))
      .select(col("va").as("vec_id"), col("vb").as("match_id"),
        (expr("vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("vec_id").asc, col("match_id").asc)
  }

  /** IVF-ADC probe (the full Jégou et al. 2011 system): queries assign
    * to their `nprobe` cells; the in-cell scan reads ONLY
    * `(vec_id, cell, code1..4)` — the 4-byte codes, never the vectors
    * (visible as a pruned `ReadSchema`); each candidate's approximate
    * distance is four lookups into the query's broadcast 4×16
    * sub-distance table summed in fixed subspace order; the top
    * `rerank` candidates per query (by ADC, ties to lowest id) are
    * re-ranked by exact cosine against their STORED vectors (a keyed
    * join back into the same probed cells), and the best survives.
    * At 100 TB the ADC scan touches nprobe/K of a 4-bytes-per-vector
    * structure and full vectors move only for rerank × queries rows.
    */
  def queryAdc(s: SparkSession, queries: DataFrame, dir: String,
               nprobe: Int = 1, rerank: Int = 8,
               cellCap: Int = Knobs.annIvfCellCap.fallback): DataFrame = {
    val cents = readCentroids(s, dir)
    val books = s.read.parquet(codebooksDir(dir))
    // staged (r12, VERDICT r11 item 6): qa is consumed FOUR times here
    // (probed collect, the LUT build, the ADC join, the exact re-rank
    // join) — unstaged, the corpus × K assignment computed four times,
    // and the three join-side reads are concurrent AQE stages. The
    // probed collect is the single first consumer and reads every
    // partition, so plain stage() builds the cache without a race.
    val qa = Materialize.stage(assign(queries, cents, nprobe).drop("rn")
      .select(col("vec_id").as("va"), col("cell"),
        col("embedding").as("qe"), col("nrm").as("qn")))
    val probed = qa.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val corpus = SnapshotStore.readBuckets(s, dir, probed).getOrElse(
      sys.error(s"no committed index at $dir"))
    // per-query 64-entry lookup table CARRIED AS AN ARRAY on the query
    // row (512 B), not joined per candidate: real ADC is a map-side
    // table lookup — a (candidate × subspace) join formulation measured
    // 2.2 GB of shuffle at 10× where this one ships only the query rows.
    // array_sort on (m, c, ld2) structs fixes the layout at
    // position (m−1)·16 + c, so scoring is four 0-based array reads.
    val lutA = qa.select(col("va").as("lq"), col("qe"))
      .dropDuplicates("lq")
      .crossJoin(broadcast(books))
      .select(col("lq"), struct(col("m"), col("c"),
        subdist("qe").as("ld2")).as("e3"))
      .groupBy(col("lq"))
      .agg(expr("transform(array_sort(collect_list(e3)), s -> s.ld2)")
        .as("lut"))
    // deliberately NOT staged (r12): capped feeds both the ADC code
    // scan and the exact re-rank, but the two consumers prune to
    // DISJOINT column sets — codes-only (4 B/vector) vs
    // embedding+nrm — and a shared cache would materialize their
    // union, destroying the "ADC never reads the vectors" scan
    // contract VectorIndexSpec pins. The duplicated work is only the
    // per-cell rank window over narrow columns; the scans stay pruned.
    val capped = corpus
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)))
      .filter(col("crn") <= cellCap)
    // ADC over codes only — the embedding column never reaches this scan
    val codes = capped.select(col("vec_id").as("vb"),
      col("cell").as("cell2"), col("code1"), col("code2"),
      col("code3"), col("code4"))
    // LUT stride = codes per subspace (16 at full corpus, fewer when the
    // codebook seeded from a tiny corpus) — a one-int metadata count
    val nc = (books.count() / 4).toInt
    val adc = qa.join(lutA, col("va") === col("lq")).drop("lq", "qe", "qn")
      .join(codes, col("cell") === col("cell2") && col("va") =!= col("vb"))
      // fixed subspace order: lut[c1] + lut[nc+c2] + lut[2nc+c3] + lut[3nc+c4]
      .withColumn("adc_d2", expr(
        s"lut[code1] + lut[$nc + code2] + lut[${2 * nc} + code3] + lut[${3 * nc} + code4]"))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("va"))
          .orderBy(col("adc_d2").asc, col("vb").asc)))
      .filter(col("arn") <= rerank)
      .select(col("va").as("rv"), col("vb"))
    // exact re-rank: full vectors move only for the rerank candidates
    val full = capped.select(col("vec_id").as("fb"),
      col("embedding").as("fe"), col("nrm").as("fn"))
    val w = Window.partitionBy(col("va"))
      .orderBy(col("cosine").desc, col("vb").asc)
    adc
      .join(full, col("vb") === col("fb"))
      .join(qa.select(col("va"), col("qe"), col("qn")),
        col("rv") === col("va"))
      .select(col("va"), col("vb"),
        (expr("vec_dot(qe, fe)") / (col("qn") * col("fn"))).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("va").as("vec_id"), col("vb").as("ann_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  override def queries: Seq[GraftQuery] = Seq(

    // ───── persistent ANN index: build → incremental ingest → probe ─────
    // Base corpus (vec_id % 4 <> 3) builds the index and freezes the
    // quantizer; the held-out quarter ingests as a later version; every
    // vector then probes for its top-1 neighbor. The oracle computes the
    // same structure declaratively: seeds from the BASE subset only
    // (frozen before the delta existed), assignment of the full corpus
    // to those seeds, capped in-cell exact search.
    GraftQuery(
      "sim_ann_index",
      (s, d) => {
        val dir = Sources.scratch(d, "annidx_")
        // versioned store: a re-run in the same JVM would collide below
        // the committed head — start fresh (cheap local scratch)
        new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(dir), true)
        val e = normed(s, d)
        val base  = e.filter(pmod(col("vec_id"), lit(4)) =!= 3)
        val delta = e.filter(pmod(col("vec_id"), lit(4)) === 3)
        // K honors the same knob as sim_ann_ivf so scale runs can
        // exercise the K ∝ n reindex contract (oracle-pinned: Knobs)
        build(s, base, dir, Knobs.annIvfCells.get(s))
        ingest(s, delta, dir)
        query(s, e, dir)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_reduce(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS nrm
          FROM embeddings),
        seeds AS (
          SELECT vec_id AS sid, embedding AS semb, nrm AS snrm
          FROM e WHERE vec_id % 4 <> 3
          ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC
          LIMIT ${Knobs.annIvfCells.default}),
        assign AS (
          SELECT vec_id, sid AS cell FROM (
            SELECT e.vec_id, s.sid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     (list_reduce(list_transform(generate_series(1, 64),
                        i -> e.embedding[i]::DOUBLE * s.semb[i]::DOUBLE),
                        (x, y) -> x + y) / (e.nrm * s.snrm)) DESC,
                     s.sid ASC) AS rn
            FROM e CROSS JOIN seeds s) t
          WHERE rn = 1),
        cells AS (
          SELECT e.vec_id, e.embedding, e.nrm, assign.cell
          FROM e JOIN assign ON e.vec_id = assign.vec_id),
        cells_capped AS (
          SELECT vec_id, embedding, nrm, cell FROM (
            SELECT vec_id, embedding, nrm, cell,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY vec_id ASC) AS crn
            FROM cells) t
          WHERE crn <= ${Knobs.annIvfCellCap.fallback}),
        scored AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE),
                   (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
          FROM cells a JOIN cells_capped b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id)
        SELECT va AS vec_id, vb AS ann_id, cosine FROM (
          SELECT va, vb, cosine,
                 ROW_NUMBER() OVER (PARTITION BY va
                                    ORDER BY cosine DESC, vb ASC) AS rn
          FROM scored) t
        WHERE rn = 1
        ORDER BY vec_id
      """)),

    // ───── radius search through the persistent IVF index ─────
    // The pruned counterpart of sim_range_search: build the index on the
    // full corpus, then answer "everything with cosine ≥ 0.2 to each of
    // 3 query vectors" by reading ONLY the queries' assigned cell dirs
    // (the inputFiles-pinned contract sim_ann_index proves). Recall < 1
    // by construction — matches outside the probed cell are invisible,
    // the same trade top-k ANN makes — and the oracle states exactly the
    // cell-restricted answer, so the hash gate pins build + probe +
    // threshold ≡ the declarative math. Output is threshold-bounded;
    // no argmax window, no sort beyond the keyed determinism order.
    GraftQuery(
      "sim_ann_range_index",
      (s, d) => {
        val dir = Sources.scratch(d, "annrange_")
        new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(dir), true)
        val e = normed(s, d)
        build(s, e, dir, Knobs.annIvfCells.get(s))
        rangeQuery(s, e.filter(col("vec_id") < 3), dir, tau = 0.2)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_reduce(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS nrm
          FROM embeddings),
        seeds AS (
          SELECT vec_id AS sid, embedding AS semb, nrm AS snrm
          FROM e
          ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC
          LIMIT ${Knobs.annIvfCells.default}),
        assign AS (
          SELECT vec_id, sid AS cell FROM (
            SELECT e.vec_id, s.sid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     (list_reduce(list_transform(generate_series(1, 64),
                        i -> e.embedding[i]::DOUBLE * s.semb[i]::DOUBLE),
                        (x, y) -> x + y) / (e.nrm * s.snrm)) DESC,
                     s.sid ASC) AS rn
            FROM e CROSS JOIN seeds s) t
          WHERE rn = 1),
        cells AS (
          SELECT e.vec_id, e.embedding, e.nrm, assign.cell
          FROM e JOIN assign ON e.vec_id = assign.vec_id),
        cells_capped AS (
          SELECT vec_id, embedding, nrm, cell FROM (
            SELECT vec_id, embedding, nrm, cell,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY vec_id ASC) AS crn
            FROM cells) t
          WHERE crn <= ${Knobs.annIvfCellCap.fallback})
        SELECT va AS vec_id, vb AS match_id, cosine FROM (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE),
                   (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
          FROM cells a JOIN cells_capped b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id
          WHERE a.vec_id < 3) t
        WHERE cosine >= 0.2
        ORDER BY vec_id ASC, match_id ASC
      """)),

    // ───── IVF-ADC over the persistent index: codes scan + re-rank ─────
    // The full Jégou et al. 2011 retrieval system over the SAME store
    // the plain probe uses: build (coarse quantizer + PQ codebooks
    // frozen from the base corpus) → incremental ingest → ADC probe.
    // The in-cell scan reads 4-byte codes, not vectors; the top-8 ADC
    // candidates per query re-rank by exact cosine. The oracle states
    // the whole system declaratively, so the hash gate pins
    // build + ingest + code scan + re-rank ≡ the declarative math.
    GraftQuery(
      "sim_ann_ivfpq",
      (s, d) => {
        val dir = Sources.scratch(d, "ivfpq_")
        new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new Path(dir), true)
        val e = normed(s, d)
        val base  = e.filter(pmod(col("vec_id"), lit(4)) =!= 3)
        val delta = e.filter(pmod(col("vec_id"), lit(4)) === 3)
        build(s, base, dir, Knobs.annIvfCells.default)
        ingest(s, delta, dir)
        queryAdc(s, e, dir)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_reduce(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS nrm
          FROM embeddings),
        seeds AS (
          SELECT vec_id AS sid, embedding AS semb, nrm AS snrm
          FROM e WHERE vec_id % 4 <> 3
          ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC
          LIMIT ${Knobs.annIvfCells.default}),
        assign AS (
          SELECT vec_id, sid AS cell FROM (
            SELECT e.vec_id, s.sid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     (list_reduce(list_transform(generate_series(1, 64),
                        i -> e.embedding[i]::DOUBLE * s.semb[i]::DOUBLE),
                        (x, y) -> x + y) / (e.nrm * s.snrm)) DESC,
                     s.sid ASC) AS rn
            FROM e CROSS JOIN seeds s) t
          WHERE rn = 1),
        cells AS (
          SELECT e.vec_id, e.embedding, e.nrm, assign.cell
          FROM e JOIN assign ON e.vec_id = assign.vec_id),
        cells_capped AS (
          SELECT vec_id, embedding, nrm, cell FROM (
            SELECT vec_id, embedding, nrm, cell,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY vec_id ASC) AS crn
            FROM cells) t
          WHERE crn <= ${Knobs.annIvfCellCap.fallback}),
        books AS (
          SELECT c, semb FROM (
            SELECT semb,
                   CAST(ROW_NUMBER() OVER (ORDER BY md5(sid::VARCHAR) ASC,
                     sid ASC) - 1 AS INTEGER) AS c
            FROM (
              SELECT vec_id AS sid, embedding AS semb
              FROM e WHERE vec_id % 4 <> 3
              ORDER BY md5(vec_id::VARCHAR) ASC, vec_id ASC
              LIMIT 16) s0) s1),
        ms AS (SELECT UNNEST(generate_series(1, 4)) AS m),
        enc AS (
          SELECT vec_id, m, c FROM (
            SELECT cc.vec_id, ms.m, b.c,
                   ROW_NUMBER() OVER (PARTITION BY cc.vec_id, ms.m ORDER BY
                     list_reduce(list_transform(generate_series(1, 16),
                       i -> (cc.embedding[(ms.m-1)*16 + i]::DOUBLE
                               - b.semb[(ms.m-1)*16 + i]::DOUBLE)
                          * (cc.embedding[(ms.m-1)*16 + i]::DOUBLE
                               - b.semb[(ms.m-1)*16 + i]::DOUBLE)),
                       (x, y) -> x + y) ASC, b.c ASC) AS rn
            FROM cells_capped cc CROSS JOIN ms CROSS JOIN books b) t
          WHERE rn = 1),
        lut AS (
          SELECT q.vec_id AS lq, ms.m AS lm, b.c AS lc,
                 list_reduce(list_transform(generate_series(1, 16),
                   i -> (q.embedding[(ms.m-1)*16 + i]::DOUBLE
                           - b.semb[(ms.m-1)*16 + i]::DOUBLE)
                      * (q.embedding[(ms.m-1)*16 + i]::DOUBLE
                           - b.semb[(ms.m-1)*16 + i]::DOUBLE)),
                   (x, y) -> x + y) AS ld2
          FROM e q CROSS JOIN ms CROSS JOIN books b),
        adc AS (
          SELECT va, vb FROM (
            SELECT va, vb,
                   ROW_NUMBER() OVER (PARTITION BY va
                     ORDER BY adc_d2 ASC, vb ASC) AS arn
            FROM (
              SELECT a.vec_id AS va, b.vec_id AS vb,
                     MAX(CASE WHEN em.m = 1 THEN l.ld2 END)
                       + MAX(CASE WHEN em.m = 2 THEN l.ld2 END)
                       + MAX(CASE WHEN em.m = 3 THEN l.ld2 END)
                       + MAX(CASE WHEN em.m = 4 THEN l.ld2 END) AS adc_d2
              FROM cells a
              JOIN cells_capped b ON a.cell = b.cell AND a.vec_id <> b.vec_id
              JOIN enc em ON em.vec_id = b.vec_id
              JOIN lut l ON l.lq = a.vec_id AND l.lm = em.m AND l.lc = em.c
              GROUP BY a.vec_id, b.vec_id) g) r
          WHERE arn <= 8)
        SELECT va AS vec_id, vb AS ann_id, cosine FROM (
          SELECT adc.va, adc.vb,
                 list_reduce(list_transform(generate_series(1, 64),
                   i -> qa.embedding[i]::DOUBLE * cb.embedding[i]::DOUBLE),
                   (x, y) -> x + y) / (qa.nrm * cb.nrm) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY adc.va
                   ORDER BY (list_reduce(list_transform(generate_series(1, 64),
                     i -> qa.embedding[i]::DOUBLE * cb.embedding[i]::DOUBLE),
                     (x, y) -> x + y) / (qa.nrm * cb.nrm)) DESC,
                     adc.vb ASC) AS rn
          FROM adc
          JOIN e qa ON qa.vec_id = adc.va
          JOIN e cb ON cb.vec_id = adc.vb) t
        WHERE rn = 1
        ORDER BY vec_id
      """))
  )
}
