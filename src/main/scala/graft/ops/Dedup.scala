package graft.ops

import graft.{GraftQuery, Knobs, Materialize, QueryModule, Sizing, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operator family over the `documents` / `embeddings`
  * tables — the LLM-training-data cleaning surface (SURVEY.md §2.8):
  * exact dedup, exact n-gram Jaccard, MinHash+LSH, SimHash, and an
  * embedding-cosine nearest-neighbor join.
  *
  * Oracle-twinnability: every hash here is md5 (bit-identical in Spark
  * and DuckDB), so even the MinHash/SimHash signatures — normally
  * "rows-only check" territory — have full value-level DuckDB twins.
  * Lexicographic MIN over md5 hex strings is a valid uniform min-hash.
  *
  * Scale notes (100 TB):
  *  - No O(n²) all-pairs anywhere. Candidate generation is always a
  *    shuffle-join on a bucket key: shared shingle (inverted index),
  *    MinHash band signature, or SimHash band substring. Buckets bound
  *    the comparison set; the exact verify step only touches candidates.
  *  - Exact dedup groups on the 128-bit digest, not the document body,
  *    so the shuffle carries 32-byte keys instead of full texts.
  *  - The shingle inverted index is the one surface with a skew hazard
  *    (hot shingles → giant posting lists). AQE skew-join splitting is
  *    on (GraftSession), and `Knobs.shingleDfCutoff` drops
  *    above-cutoff shingles from candidate generation only (the
  *    exact-verify join still scores full shingle sets) — MinHash
  *    banding (dedup_minhash) remains the preferred path at scale
  *    because band buckets are uniform by construction.
  *  - Embedding NN is blocked on `label` (a coarse partitioner /
  *    IVF-style cell): cosine pairs are computed per block, never
  *    globally. See Similarity for the LSH generalization.
  */
object Dedup extends QueryModule {

  /** Distinct word-bigram shingles per document. Guard `size >= 2`:
    * Spark's sequence(0, -1) would descend, not return empty.
    */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    Materialize.stageEager(
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"
        )).as("shingle"))
        .distinct()
        // Pin partition count before materializing: downstream perm/band
        // explodes are CPU-expansions whose parallelism is inherited from
        // this RDD, and AQE's size-based coalescing would undershoot.
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      // Stage once: every consumer joins this frame against itself
      // (2–3 uses per query), and without a barrier each side re-runs
      // the split/explode/distinct pipeline.

  /** Exact word-shingle Jaccard for a candidate-pair frame (doc_a, doc_b):
    * each side's full DISTINCT shingle set rides as ONE array row per
    * doc, and the overlap is size(array_intersect) in a codegen'd
    * projection — |cand|-proportional work, never a per-shingle
    * expansion (the pre-round-11 spelling re-joined candidates through
    * the posting lists and re-aggregated; two joins emitting Σ |doc|
    * rows per candidate plus a pair-keyed aggregate, all replaced by
    * the two array-attach joins). A candidate whose sides share no
    * shingle scores 0 (callers threshold at >= 0.8 either way); a doc
    * with no shingles has no array row, so its pairs drop — identical
    * to the old posting-join semantics.
    *
    * No broadcast hints: the doc-array frame is O(corpus), so a forced
    * broadcast OOMs long before 100 TB. Plain equi-joins — AQE may
    * still auto-broadcast at runtime when a side measures genuinely
    * small (the plan this takes at test SFs), and their output is <=
    * input rows, so AQE's byte-measured coalescing sizes them safely.
    */
  private def exactJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    // Each doc's DISTINCT shingles (shingles() dedups) sort once per DOC
    // and pack into ONE flat binary blob; the per-candidate verify is a
    // two-pointer merge over the blobs (packed_intersect_count). Two
    // lessons measured at sf0.1 on the 1.5 M-candidate verify of
    // dedup_minhash_eval (OPTIMIZATION_r11.md): size(array_intersect)'s
    // interpreted per-row hash set cost 372 CPU-s, and even with a cheap
    // merge kernel an array<string> payload costs ~120 µs/row in join
    // output serialization — one binary column is a single memcpy, ~8×
    // less CPU on the identical join shape.
    // EAGER: both attach joins consume this frame as separate broadcast
    // builds launched concurrently — under a lazy persist the two builds
    // race to compute the same cache partitions and serialize on block
    // locks (measured as 2× run-to-run wall variance on
    // dedup_ngram_jaccard; one broadcast build sat 13 s blocked)
    val docsArr = Materialize.stageEager(
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("shingle"))).as("arr"),
          count(lit(1)).as("nsz"))
        .select(col("doc_id"), expr("pack_sorted_strings(arr)").as("pk"),
          col("nsz")))
    val aSide = docsArr.select(col("doc_id").as("da"), col("pk").as("pk_a"),
      col("nsz").as("na"))
    val bSide = docsArr.select(col("doc_id").as("db"), col("pk").as("pk_b"),
      col("nsz").as("nb"))
    cand
      .join(aSide, col("doc_a") === col("da"))
      .join(bSide, col("doc_b") === col("db"))
      // the blobs hold ascending distinct shingles, so the merge count
      // IS the exact overlap — order-free, value-identical to the
      // array_intersect spelling the oracle gate re-proves every round
      .withColumn("c", expr("packed_intersect_count(pk_a, pk_b)"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** EXACT Jaccard >= 0.8 pairs — a COST-DISPATCHED physical choice
    * between two plans with identical output, because the cheaper plan
    * flips with corpus density (both measured, sf0.1 + the 250× rung):
    *
    * (1) Prefix-filtered AllPairs (Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): fix ONE global total order on shingles (document
    * frequency asc, shingle asc — rarest first). For J(A,B) >= t the
    * overlap obeys c >= ceil(t·max(|A|,|B|)), and the smallest common
    * shingle (in the global order) has at most c−1 common shingles
    * after it, so it sits within the first n − c + 1 <=
    * n − ceil(t·n) + 1 elements of EACH side — joining only those
    * prefixes loses no qualifying pair, and the length filter
    * (J <= min/max, so 5·min >= 4·max) prunes further. Measured at
    * sf0.1: Σ C(df,2) 36.5 M → 6.0 M join mass, 10.3 M → 1.5 M distinct
    * candidates, 0 true pairs missed, wall 12.0 → 8.7 s. Candidates
    * verify against full per-doc shingle arrays via the exactJaccard
    * array-intersect join — which is only cheap while the doc-array
    * frame BROADCASTS: past the broadcast threshold every candidate row
    * drags two ~|doc|-sized arrays through sort-merge exchanges, and on
    * a near-dup-dense corpus that verify mass (Σ_cand (na+nb) element
    * moves — 375 M candidates at the 250× rung ≈ 38 G) dwarfs the
    * naive plan's Σ C(df,2) = 9.1 G and spilled the rung probe out of
    * 70 GB of disk.
    *
    * (2) The sized posting-join aggregate (the §18c seam): stream the
    * Σ C(df,2) pair mass through ONE exchange whose width is pinned to
    * the exact mass, aggregate once, join sizes at the sized width —
    * the plan §19 holds at the 250× rung (zero spill, one documented
    * bounded-sort stage).
    *
    * Dispatch: plan (1) iff the doc-array frame's EXACT byte mass
    * (Σ shingle lengths + per-entry overhead, one aggregate over the
    * staged posting frame) fits the session's own broadcast threshold —
    * the same statistic AQE's join planning would consult. Driver-side,
    * deterministic in the data, no tuned constant.
    */
  private def prefixJaccardPairs(s: SparkSession, sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = sh.agg(count(lit(1)).as("p"),
      sum(length(col("shingle"))).as("b")).first()
    val postings = st.getAs[Long]("p")
    val arrBytes =
      if (postings == 0L) 0L
      else Sizing.satAdd(st.getAs[Long]("b"), Sizing.satMul(postings, 20L))
    val bcast = s.sessionState.conf.autoBroadcastJoinThreshold
    if (bcast > 0 && arrBytes <= bcast) {
      // prefix length n − ceil(4n/5) + 1, all-integer:
      // ceil(4n/5) = (4n+4) div 5
      val ranked = sh
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("shingle"))))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      val pre = Materialize.stage(
        ranked.filter(expr("rk <= n - ((4*n + 4) div 5) + 1"))
          .select(col("doc_id"), col("shingle"), col("n")))
      val pairMass = Option(
        pre.groupBy(col("shingle")).agg(count(lit(1)).as("dfp"))
          .agg(sum(expr("dfp * (dfp - 1) div 2")).as("pm"))
          .first().getAs[java.lang.Long]("pm"))
        .map(_.longValue).getOrElse(0L)
      val nPair = Sizing.partitionsForRows(s, pairMass, 48)
      val pa = pre.select(col("doc_id").as("doc_a"), col("shingle"),
        col("n").as("na0"))
      val pb = pre.select(col("doc_id").as("doc_b"), col("shingle").as("sh2"),
        col("n").as("nb0"))
      val cand = pa.repartition(nPair, col("shingle"))
        .join(pb.repartition(nPair, col("sh2")),
          col("shingle") === col("sh2") && col("doc_a") < col("doc_b") &&
            col("na0") * 5 >= col("nb0") * 4 && col("nb0") * 5 >= col("na0") * 4)
        .select(col("doc_a"), col("doc_b"))
        // (doc_a, doc_b) hash partitioning satisfies the distinct's
        // requirement — one sized exchange, no second one for the agg
        .repartition(nPair, col("doc_a"), col("doc_b"))
        .distinct()
      exactJaccard(cand, sh).filter(col("jaccard") >= 0.8)
    } else {
      // sized direct aggregate: the join emits exactly Σ C(df, 2) pairs;
      // on a df-dense corpus the default partial+final aggregation
      // sort-falls-back on both sides of the exchange (measured 134 +
      // 108 GB of spill at the 40× rung), so the raw pair stream
      // shuffles ONCE at a width sized to the exact mass and aggregates
      // exactly once. Size joins stay hint-free (sz is corpus-sized at
      // 100 TB — a forced broadcast is the audit-forbidden OOM) with
      // the cn frame's re-key exchanges pinned to the sized width.
      val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      val b = sh.select(col("doc_id").as("doc_b"), col("shingle").as("sh2"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val dfm = Materialize.stage(
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
      val pairMass = Option(
        dfm.agg(sum(expr("df * (df - 1) div 2")).as("pm"))
          .first().getAs[java.lang.Long]("pm"))
        .map(_.longValue).getOrElse(0L)
      val nPair = Sizing.partitionsForRows(s, pairMass, 48)
      a.repartition(nPair, col("shingle"))
        .join(b.repartition(nPair, col("sh2")),
          col("shingle") === col("sh2") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .repartition(nPair, col("doc_a"), col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("c"))
        .repartition(nPair, col("doc_a"))
        .join(sz.select(col("doc_id"), col("n").as("na"))
            .repartition(nPair, col("doc_id")),
          col("doc_a") === col("doc_id"))
        .drop("doc_id")
        .repartition(nPair, col("doc_b"))
        .join(sz.select(col("doc_id"), col("n").as("nb"))
            .repartition(nPair, col("doc_id")),
          col("doc_b") === col("doc_id"))
        .drop("doc_id")
        .select(col("doc_a"), col("doc_b"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c")))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.8)
    }
  }

  /** MinHash-LSH verified near-dup pairs (doc_a, doc_b, jaccard) — the
    * engine of dedup_minhash, reused by dedup_clusters.
    *
    * Signatures are computed fully NARROW: per-doc shingle arrays +
    * nested transform/array_min give all 16 min-hashes in one codegen'd
    * projection — no perm explode, no groupBys, no exchanges (the
    * earlier grouped shape spent more time in stage scheduling than
    * hashing).
    *
    * Permutation family: ONE md5 per shingle, then permutation i is the
    * digest rotated left by 2i hex chars. Each rotation is a bijection
    * on 128-bit digests, so `rotate_i ∘ md5` is a valid uniform
    * permutation of the shingle universe and lexicographic MIN under it
    * is a valid min-hash — at 1/16th the hashing cost of the round-2
    * form (16 md5 evaluations per shingle).
    *
    * Independence caveat (the honest version): the 16 minima derive
    * from one digest, so they are not formally independent. In
    * practice the argmin under rotation 2i is decided by the digest
    * nibbles from offset 2i on — DISJOINT leading windows of i.i.d.
    * uniform nibbles per permutation — so cross-permutation
    * correlation is a second-order tie effect (~1/256 per leading
    * pair), not a first-order one, and the banding S-curve is
    * approximately the classical (1-J^r)^b. This is asserted
    * EMPIRICALLY, not just argued: DedupSpec checks banded candidates
    * recover every exact J>=0.8 pair on both the planted fixture and
    * the driver-generated corpus. If a future corpus shows recall
    * loss, the drop-in strengthening is one md5 per band
    * (md5(band || shingle)) with rotations only within a band —
    * independent bands restore the (1-p_band)^b miss bound at 4× the
    * hash cost.
    */
  /** (doc_id, band, band_sig) LSH band signatures for a (doc_id, text)
    * frame — the narrow one-md5-per-shingle + digest-rotation pipeline
    * documented above. Stateless projections only, so the SAME
    * definition runs over a batch frame here and over a stream in
    * `StreamingPipeline.nearDupLinks` (one signature definition, two
    * execution modes — signatures computed online match the batch ones
    * exactly). `par`: optional repartition before the md5 work.
    */
  private[graft] def bandSignatures(docs: DataFrame, par: Option[Int] = None,
                                    carry: Seq[String] = Nil): DataFrame = {
    // `carry` columns ride along unchanged (e.g. the event-time column a
    // bounded stream needs downstream — projections preserve watermark
    // metadata as long as the column itself survives)
    val c = carry.map(col)
    val shingled = docs
      .select(col("doc_id") +: c :+ split(col("text"), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id") +: c :+ array_distinct(expr(
        "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"
      )).as("shingles"): _*)
    // spread the md5 work over all cores (batch path; a stream inherits
    // its source partitioning)
    val spread = par.fold(shingled)(shingled.repartition)
    // minhash_sigs (graft.functions.MinhashSignatures): one native pass
    // computing all 16 rotated-digest minima. Bit-identical to the
    // nested-HOF spelling it replaced, but with a FIXED per-row cost:
    // the interpreted HOF form re-evaluated the md5 map inside every
    // rotation lambda whenever projection collapse inlined it (and the
    // whole 16-min computation once per exploded band) — measured up to
    // a 45× CPU cliff on the 40× scale corpus, run-to-run dependent.
    spread
      .select(col("doc_id") +: c :+ expr("minhash_sigs(shingles)").as("mhs"): _*)
      .select(col("doc_id") +: c :+ col("mhs") :+
        explode(expr("sequence(0, 3)")).as("band"): _*)
      .select(col("doc_id") +: c :+ col("band") :+
        expr("array_join(slice(mhs, band*4 + 1, 4), '')").as("band_sig"): _*)
  }

  private[ops] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val mh = Materialize.stageEager(bandSignatures(
      Tables.documents(s, d), Some(s.sparkContext.defaultParallelism)))
      // both band-join sides read this — materialize once
    val a = mh.select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
    val b = mh.select(col("doc_id").as("doc_b"),
      col("band").as("band2"), col("band_sig").as("band_sig2"))
    val cand = a.join(b,
        col("band") === col("band2") && col("band_sig") === col("band_sig2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    exactJaccard(cand, sh).filter(col("jaccard") >= 0.8)
  }

  /** Shared DuckDB CTE: distinct word-bigram shingles (dialect twin of
    * `shingles` above; DuckDB lists are 1-based, Spark arrays 0-based —
    * both emit the same strings).
    */
  private val shinglesSql = """
    shingles AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, UNNEST(list_transform(
          generate_series(1, len(string_split(text, ' ')) - 1),
          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        )) AS shingle
        FROM documents)
      GROUP BY doc_id, shingle),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id)"""

  /** The (band, band_sig) → canonical corpus doc index — the persistent
    * heart of incremental dedup. O(distinct band signatures) rows, one
    * narrow groupBy off `bandSignatures`; maintained as a
    * `SnapshotStore` table in production (append new batches' bands as
    * they are accepted) so a landing batch probes it WITHOUT touching
    * corpus text. DedupSpec proves a delta probed against the stored
    * index finds exactly the candidates a fresh full-corpus run finds.
    */
  private[graft] def bandIndex(docs: DataFrame): DataFrame =
    bandSignatures(docs)
      .groupBy(col("band"), col("band_sig"))
      .agg(min(col("doc_id")).as("canon_doc"))

  /** Probe a stored band index with a new batch: per new doc, the
    * lowest canonical corpus doc sharing any band — band-level
    * candidates, to be exact-verified by the caller (or trusted at the
    * LSH level for high-precision band widths).
    */
  private[graft] def probeBandIndex(delta: DataFrame,
                                    index: DataFrame): DataFrame =
    bandSignatures(delta)
      .join(index, Seq("band", "band_sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("canon_doc")).as("dup_of"))

  // ───── dedup_span_scrub's decision plane, shared with streaming ─────
  // The same three stateless projections the batch query (below) inlines,
  // factored so `StreamingPipeline.runIncrementalSpanScrub` computes
  // bit-identical windows/coverage/rebuild over micro-batches — one
  // definition, two execution modes (the bandSignatures precedent).

  /** Stride-1 `w`-gram digest rows (doc_id, pos, hsh) of (doc_id, text)
    * docs; docs shorter than `w` have no windows.
    */
  private[graft] def spanWindows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(toks) - $w)")).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos"),
        expr(s"md5(array_join(slice(toks, pos + 1, $w), ' '))").as("hsh"))

  /** Token positions covered by marked windows, one sorted removal list
    * per doc: the union of [pos, pos+w-1] over `marked` (doc_id, pos).
    */
  private[graft] def spanCoverage(marked: DataFrame, w: Int): DataFrame =
    marked
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("tp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tp"))).as("rm"))

  /** Re-join surviving tokens into cleaned text: docs (doc_id, text)
    * left-joined to `removed` (doc_id, rm) — docs with nothing removed
    * (including sub-`w` docs) pass through verbatim.
    */
  private[graft] def spanRebuild(docs: DataFrame,
                                 removed: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("rm")).cast("long"), lit(0L)).as("n_removed"),
        when(col("rm").isNull, expr("array_join(toks, ' ')"))
          .otherwise(expr(
            "array_join(transform(" +
              "array_except(sequence(0, size(toks) - 1), rm), " +
              "i -> toks[i]), ' ')"))
          .as("text_clean"))

  /** DuckDB twin of `bandSignatures` (shingles + per-doc band sigs). */
  private lazy val minhashBandsSql = s"""
    $shinglesSql,
    mh AS (
      SELECT doc_id, i // 4 AS band, string_agg(mn, '' ORDER BY i) AS band_sig
      FROM (
        SELECT s.doc_id, p.i,
               MIN(substr(md5(s.shingle), 2*p.i + 1, 32)
                   || substr(md5(s.shingle), 1, 2*p.i)) AS mn
        FROM shingles s
        CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS i) p
        GROUP BY s.doc_id, p.i)
      GROUP BY doc_id, band)"""

  /** DuckDB twin of minhashPairs, ending in a `pairs` CTE. */
  private[ops] lazy val minhashPairsSql = s"""
    $minhashBandsSql,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh a JOIN mh b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    common AS (
      SELECT doc_a, doc_b, count(*) AS c
      FROM cand
      JOIN shingles s1 ON s1.doc_id = cand.doc_a
      JOIN shingles s2 ON s2.doc_id = cand.doc_b AND s1.shingle = s2.shingle
      GROUP BY doc_a, doc_b),
    pairs AS (
      SELECT doc_a, doc_b, c::DOUBLE / (sa.n + sb.n - c) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8)"""

  override def queries: Seq[GraftQuery] = Seq(

    // ───── exact dedup: group on content digest, keep lowest doc_id ─────
    GraftQuery(
      "dedup_exact",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select(col("doc_id"), col("text_hash"), col("n_copies"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT MIN(doc_id) AS doc_id, MD5(text) AS text_hash, COUNT(*) AS n_copies
        FROM documents
        GROUP BY MD5(text)
        ORDER BY doc_id
      """)),

    // ───── exact n-gram Jaccard near-dup pairs (cost-dispatched) ─────
    // EXACT baseline at threshold 0.8 via prefixJaccardPairs, which
    // picks between AllPairs/PPJoin prefix+length filtering (broadcast
    // regime — 12.0 → 8.7 s at sf0.1) and the sized posting-join
    // aggregate (dense regime — the plan §19 holds at the 250× rung)
    // on exact driver-side stats; see the helper's scaladoc for the
    // lemma, the measured masses, and the dispatch rule. The
    // subquadratic probabilistic scale path remains dedup_minhash
    // below, and `Knobs.shingleDfCutoff` can bound hot shingles
    // outright (candidate generation only — the verify join always
    // scores full shingle sets, so reported jaccards stay exact).
    GraftQuery(
      "dedup_ngram_jaccard",
      (s, d) => {
        val sh = shingles(s, d)
        val a  = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        val b  = sh.select(col("doc_id").as("doc_b"), col("shingle").as("sh2"))
        val cutoff = Knobs.shingleDfCutoff.get(s)
        val pairs =
          if (cutoff == Knobs.Cap.Unset) {
            // exact path: prefix-filtered AllPairs (prefixJaccardPairs).
            // The naive spelling — the posting self-join streaming
            // Σ_shingle C(df, 2) pairs into one sized aggregate — was
            // this arm's shape through round 10; prefix + length
            // filtering produces the IDENTICAL pair set (the oracle
            // below still pins the naive quadratic spelling, so the
            // gate proves the equivalence every round) while cutting
            // the join mass ~6× and the verify to |candidates| rows
            // (sf0.1: 36.5 M → 6.0 M join rows, 10.3 M → 1.5 M
            // candidates). See the helper's scaladoc for the lemma and
            // the sizing seam.
            prefixJaccardPairs(s, sh)
          } else {
            // skew-bounded path: drop shingles with document frequency
            // above the cutoff from CANDIDATE generation (a df-f shingle
            // contributes f² join rows — the hot tail dominates Σ df²),
            // then exact-verify candidates against full shingle sets.
            // Recall loss is confined to pairs overlapping ONLY in
            // ultra-hot shingles, which at J >= 0.8 means boilerplate.
            // `auto` derives the cutoff from the df distribution's own
            // tail (Knobs.CapKnob): 8 × p99(df), floor 8 — p99 sits
            // at the corpus's NORMAL shared-shingle frequency (ScaleGen
            // replication shifts it with the replica count; a fixed
            // cutoff tuned at one sf is wrong at 100×), and 8× of it is
            // deep enough that only boilerplate-grade shingles fall
            // outside. The df frame is staged: the pre-aggregate and
            // the keep-filter read one computation.
            val dfs = Materialize.stage(
              sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
            val k = Knobs.shingleDfCutoff.resolve(cutoff, dfs, "df")
            val keep = dfs
              .filter(col("df") <= k)
              .select(col("shingle").as("keep_sh"))
            val cand = a.join(keep, col("shingle") === col("keep_sh"))
              .select(col("doc_a"), col("shingle"))
              .join(b, col("shingle") === col("sh2") && col("doc_a") < col("doc_b"))
              .select(col("doc_a"), col("doc_b")).distinct()
            exactJaccard(cand, sh)
          }
        pairs.filter(col("jaccard") >= 0.8)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH $shinglesSql,
        common AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
          FROM shingles a JOIN shingles b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY doc_a, doc_b)
        SELECT doc_a, doc_b, c::DOUBLE / (sa.n + sb.n - c) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8
        ORDER BY doc_a, doc_b
      """)),

    // ───── MinHash + banded LSH candidates, exact-Jaccard verified ─────
    // 16 permutations = MIN(md5("<i>|" || shingle)) for i in 0..15; 4 bands
    // of 4 rows. P(miss | J=0.8) = (1-0.8^4)^4 ≈ 12% per the standard LSH
    // S-curve — at this SF the band join recovers all planted pairs (the
    // ScalaTest suite asserts candidates ⊇ exact pairs). Candidates are
    // then exact-verified, so false positives never reach the output.
    GraftQuery(
      "dedup_minhash",
      (s, d) =>
        minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""
        WITH $minhashPairsSql
        SELECT doc_a, doc_b, jaccard FROM pairs
        ORDER BY doc_a, doc_b
      """)),

    // ───── incremental dedup: new batch vs the already-indexed corpus ─────
    // THE continuous-ingest pattern at 100 TB: re-running dedup_minhash
    // over corpus+delta re-shingles and re-hashes the ENTIRE corpus for
    // every arriving batch — O(corpus) work per batch is what makes
    // naive dedup of a growing lake quadratic over its lifetime. The
    // incremental shape is: the corpus's band signatures live in a
    // persistent BAND INDEX (`bandIndex` → a `SnapshotStore` table,
    // appended as batches are accepted — DedupSpec proves index reuse
    // without corpus re-scan); a new batch shingles/hashes only ITSELF
    // (O(delta) narrow work), probes the index by (band, band_sig)
    // equi-join, and exact-verifies only the probed candidates. Here the
    // delta is carved deterministically (doc_id % 4 = 0) from the same
    // table so the whole flow stays value-level oracle-twinnable; the
    // production wiring swaps `Tables.documents` for the index table and
    // the landing batch. CRITICALLY, both probe sides are per-bucket
    // CANONS (min doc_id per (band, band_sig) — exactly what `bandIndex`
    // persists), not raw signatures: a dup group of size g keeps ONE
    // index row per bucket, so candidates are ≤ bands per new doc no
    // matter how popular its content is. Probing raw signatures instead
    // measured 22.5× wall / 65× cpu at 10× data (dup groups grow with
    // the corpus ⇒ Σ bucket² pairs); the canon probe is the linear
    // shape — and chained near-dups the canon misses are
    // `dedup_clusters`' transitivity job, same as batch minhash.
    // New-vs-new duplicates probe the batch's own band canons (strictly
    // lower id — each pair once). Output: one row per verified
    // duplication (new_doc, dup_of, jaccard).
    GraftQuery(
      "dedup_incremental",
      (s, d) => {
        val sh = shingles(s, d)
        val mh = Materialize.stageEager(bandSignatures(
          Tables.documents(s, d), Some(s.sparkContext.defaultParallelism)))
        val delta = mh.filter(pmod(col("doc_id"), lit(4)) === 0)
          .select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
        // probe side: per-bucket canons of the accepted corpus (any id)
        // ∪ per-bucket canons of the batch itself (strictly lower id)
        val corpusIdx = mh.filter(pmod(col("doc_id"), lit(4)) =!= 0)
          .groupBy(col("band").as("band2"), col("band_sig").as("band_sig2"))
          .agg(min(col("doc_id")).as("doc_b"))
        val batchIdx = mh.filter(pmod(col("doc_id"), lit(4)) === 0)
          .groupBy(col("band").as("band2"), col("band_sig").as("band_sig2"))
          .agg(min(col("doc_id")).as("doc_b"))
        val probed = corpusIdx.unionByName(batchIdx)
        val cand = delta.join(probed,
            col("band") === col("band2") && col("band_sig") === col("band_sig2") &&
              (pmod(col("doc_b"), lit(4)) =!= 0 || col("doc_b") < col("doc_a")))
          .select(col("doc_a"), col("doc_b")).distinct()
        exactJaccard(cand, sh).filter(col("jaccard") >= 0.8)
          .select(col("doc_a").as("new_doc"), col("doc_b").as("dup_of"),
            col("jaccard"))
          .orderBy(col("new_doc"), col("dup_of"))
      },
      Some(s"""
        WITH $minhashBandsSql,
        corpus_idx AS (
          SELECT band, band_sig, MIN(doc_id) AS doc_b
          FROM mh WHERE doc_id % 4 <> 0 GROUP BY band, band_sig),
        batch_idx AS (
          SELECT band, band_sig, MIN(doc_id) AS doc_b
          FROM mh WHERE doc_id % 4 = 0 GROUP BY band, band_sig),
        idx AS (
          SELECT * FROM corpus_idx UNION ALL SELECT * FROM batch_idx),
        cand AS (
          SELECT DISTINCT d.doc_id AS doc_a, c.doc_b AS doc_b
          FROM mh d JOIN idx c
            ON d.band = c.band AND d.band_sig = c.band_sig
          WHERE d.doc_id % 4 = 0
            AND (c.doc_b % 4 <> 0 OR c.doc_b < d.doc_id)),
        common AS (
          SELECT doc_a, doc_b, count(*) AS c
          FROM cand
          JOIN shingles s1 ON s1.doc_id = cand.doc_a
          JOIN shingles s2 ON s2.doc_id = cand.doc_b AND s1.shingle = s2.shingle
          GROUP BY doc_a, doc_b)
        SELECT doc_a AS new_doc, doc_b AS dup_of,
               c::DOUBLE / (sa.n + sb.n - c) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8
        ORDER BY new_doc, dup_of
      """)),

    // ───── LSH recall eval: banding candidates vs the exact baseline ─────
    // The measurement that TUNES the minhash family (bands × rows, the
    // (1−J^r)^b S-curve): ground truth = exact all-pairs J ≥ 0.8 (the
    // Σ df² baseline dedup_ngram_jaccard runs), candidates = the band
    // join BEFORE exact verification. dedup_minhash's output precision
    // is 1 by construction (candidates are exact-verified), so the two
    // numbers that matter are RECALL (which true pairs the banding
    // never surfaced — S-curve misses) and CANDIDATE precision (how
    // much exact-verify work the banding wastes) — together they are
    // the band-width tuning instrument, computed entirely in-engine on
    // the corpus it will run on. Counts are exact integers; ratios are
    // ppm floor divisions with DIV-0 as honest NULL.
    //
    // Scale shape: the truth side IS the quadratic baseline — at 100 TB
    // this runs on a deterministic md5 SAMPLE of the corpus (swap
    // `documents` for a doc_id-hash slice; the estimator is unbiased
    // over pairs within the slice), exactly how production dedup recall
    // is audited. The three 1-row count frames meet in broadcast cross
    // joins (watermark-filter pattern).
    GraftQuery(
      "dedup_minhash_eval",
      (s, d) => {
        // Knobs.evalSampleMod slices BOTH pair sides: truth
        // membership and band-candidate membership are per-pair
        // properties (signatures are per-doc), so the sliced counts are
        // EXACTLY the full-run counts restricted to in-slice pairs and
        // the (n/m)² truth arm replaces the n² one. The oracle pins the
        // exhaustive default (oracle-pinned: Knobs; EvalSampling
        // scaladoc).
        val m = Knobs.evalSampleMod.get(s)
        val sh = {
          val sh0 = shingles(s, d)
          if (m <= 1L) sh0
          else sh0.filter(EvalSampling.inSlice(col("doc_id"), m))
        }
        // truth arm = the cost-dispatched exact baseline
        // (prefixJaccardPairs): prefix-filtered AllPairs in the
        // broadcast regime (41.0 → 17.6 s wall at sf0.1 — this arm
        // DEFINED the registry's top wall, 456 s CPU), the sized
        // Σ df² aggregate in the dense regime (the 250× plan, §19).
        // The oracle pins the naive quadratic spelling either way.
        // single consumer below (the flag-counting outer join) — no stage
        val truth = prefixJaccardPairs(s, sh).select(col("doc_a"), col("doc_b"))
        val docsIn = {
          val d0 = Tables.documents(s, d)
          if (m <= 1L) d0
          else d0.filter(EvalSampling.inSlice(col("doc_id"), m))
        }
        // both band-join sides read the signature frame — materialize
        // once (the unstaged spelling hashed every doc twice)
        val mh = Materialize.stageEager(bandSignatures(docsIn,
          Some(s.sparkContext.defaultParallelism)))
        val cand = mh
          .select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
          .join(mh.select(col("doc_id").as("doc_b"),
              col("band").as("band2"), col("band_sig").as("band_sig2")),
            col("band") === col("band2") &&
              col("band_sig") === col("band_sig2") &&
              col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")).distinct()
        // ONE pass over truth ∪ cand: the membership flags of a pair-keyed
        // FULL OUTER join feed a single global aggregate. The previous
        // spelling ran three counting branches (truth count, cand count,
        // truth⋈cand count) that met in broadcast crosses — the two
        // broadcast subtrees raced the main stage for the lazily-persisted
        // truth/cand caches (a single-task broadcast build sat 13 s
        // blocked on the cache lock at sf0.1), and truth/cand were each
        // computed through two consumers. Flag counting reads each side
        // exactly once, so the stage barriers (and the races) vanish.
        truth.withColumn("t", lit(1))
          .join(cand.withColumn("cc", lit(1)), Seq("doc_a", "doc_b"),
            "full_outer")
          .agg(count(col("t")).as("n_truth"), count(col("cc")).as("n_cand"),
            count(when(col("t").isNotNull && col("cc").isNotNull, lit(1)))
              .as("n_found"))
          .select(col("n_truth"), col("n_cand"), col("n_found"),
            expr("if(n_truth = 0, null, n_found * 1000000L div n_truth)")
              .as("recall_ppm"),
            expr("if(n_cand = 0, null, n_found * 1000000L div n_cand)")
              .as("cand_precision_ppm"))
      },
      Some(s"""
        WITH $minhashBandsSql,
        truth AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b) t
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM mh a JOIN mh b
            ON a.band = b.band AND a.band_sig = b.band_sig
           AND a.doc_id < b.doc_id),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found
              FROM truth JOIN cand USING (doc_a, doc_b))
        SELECT n_truth, n_cand, n_found,
               CASE WHEN n_truth = 0 THEN NULL
                    ELSE n_found * 1000000 // n_truth END AS recall_ppm,
               CASE WHEN n_cand = 0 THEN NULL
                    ELSE n_found * 1000000 // n_cand END AS cand_precision_ppm
        FROM m CROSS JOIN c2 CROSS JOIN f
      """)),

    // ───── dedup savings card: what running the dedup would buy ─────
    // The one-row artifact a dedup pass reports before anyone commits
    // to it: near-dup clusters (the same verified pair relation +
    // connected components as dedup_clusters), docs removable under
    // keep-the-canon (cluster size − 1 each; the canon IS the min
    // doc_id, which is exactly the component label large-star/small-star
    // converges to), characters those docs carry, and the corpus-share
    // saved in ppm. The ratio rides DECIMAL(38,0)/HUGEINT —
    // chars_removed·10⁶ passes int64 once the corpus passes ~9 TB of
    // text. Every count is an exact integer; DIV-0 on an empty corpus
    // is an honest NULL.
    //
    // Scale shape: inherits dedup_minhash (banded candidates, §9) and
    // dedup_clusters (O(log n) CC rounds); the additions are one join
    // of the O(clustered docs) label frame against (doc_id, n_chars)
    // and three 1-row aggregates meeting in broadcast crosses
    // (watermark-filter pattern).
    GraftQuery(
      "dedup_savings",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
        val (labels, _) = ConnectedComponents.run(pairs)
        val cl = labels.select(col("node").as("doc_id"),
          col("component").as("cluster_id"))
        val clStats = cl.agg(count(lit(1)).as("n_clustered_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        val removed = cl.filter(col("doc_id") =!= col("cluster_id"))
          .join(docs, Seq("doc_id"))
          .agg(coalesce(sum(col("n_chars")), lit(0L)).cast("long")
            .as("chars_removed"))
        val totals = docs.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).cast("long")
            .as("total_chars"))
        totals.join(broadcast(clStats)).join(broadcast(removed))
          .select(col("n_docs"), col("total_chars"), col("n_clusters"),
            col("n_clustered_docs"),
            (col("n_clustered_docs") - col("n_clusters")).as("n_removable"),
            col("chars_removed"),
            expr("""if(total_chars = 0, null,
                      CAST(CAST(chars_removed AS DECIMAL(38,0)) * 1000000
                        DIV total_chars AS BIGINT))""").as("savings_ppm"))
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsSql,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS doc FROM edges),
        reach(doc, r) AS (
          SELECT doc, doc FROM nodes
          UNION
          SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        cl AS (SELECT doc AS doc_id, MIN(r) AS cluster_id
               FROM reach GROUP BY doc),
        cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered_docs,
                      CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
               FROM cl),
        rm AS (SELECT CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT)
                 AS chars_removed
               FROM cl JOIN documents d USING (doc_id)
               WHERE cl.doc_id <> cl.cluster_id),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars
              FROM documents)
        SELECT n_docs, total_chars, n_clusters, n_clustered_docs,
               n_clustered_docs - n_clusters AS n_removable, chars_removed,
               CASE WHEN total_chars = 0 THEN NULL
                    ELSE CAST(CAST(chars_removed AS HUGEINT) * 1000000
                              // total_chars AS BIGINT) END AS savings_ppm
        FROM t CROSS JOIN cs CROSS JOIN rm
      """)),

    // ───── dedup clustering: connected components over near-dup pairs ─────
    // Pairs are edges; a cluster is the min doc_id reachable. Computed
    // by alternating large-star/small-star (ConnectedComponents): round
    // count is O(log n) in the component size, NOT the component
    // diameter — a pathological dup-chain converges in a handful of
    // rounds where plain min-label propagation would loop once per hop.
    // The oracle is a WITH RECURSIVE transitive closure.
    GraftQuery(
      "dedup_clusters",
      (s, d) => {
        val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
        val (labels, _) = ConnectedComponents.run(pairs)
        labels.select(col("node").as("doc_id"), col("component").as("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $minhashPairsSql,
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS doc FROM edges),
        reach(doc, r) AS (
          SELECT doc, doc FROM nodes
          UNION
          SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        SELECT doc AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY doc
        ORDER BY doc_id
      """)),

    // ───── SimHash near-dup pairs (banded hamming join) ─────
    // 32-bit signature: bit j = sign of the term-count-weighted sum of
    // (±1 per document term, + iff nibble j of md5(term) >= '8'). Two
    // 16-bit bands: pigeonhole guarantees every hamming<=1 pair shares a
    // band, and wide bands keep buckets small when signature bits are
    // correlated (8-bit bands collapsed into giant buckets at sf0.1 —
    // ~12M candidate pairs and 159 s; 16-bit bands give ~330 k).
    GraftQuery(
      "dedup_simhash",
      (s, d) => {
        // Each band row carries the OTHER band's bits, so the banded
        // self-join yields hamming directly (matched band contributes 0)
        // and the signature pipeline never has to be joined back — it
        // executes once per join side instead of 4×.
        val sig = simhashSignatures(s, d)
        val bands = sig.select(col("doc_id"),
            explode(expr("sequence(1, 2)")).as("b"), col("sig"))
          .select(col("doc_id"), col("b"),
            expr("substring(sig, (b-1)*16 + 1, 16)").as("band_sig"),
            expr("substring(sig, (2-b)*16 + 1, 16)").as("other_sig"))
        val a = bands.select(col("doc_id").as("doc_a"), col("b"),
          col("band_sig"), col("other_sig").as("other_a"))
        val bb = bands.select(col("doc_id").as("doc_b"),
          col("b").as("b2"), col("band_sig").as("band_sig2"),
          col("other_sig").as("other_b"))
        // shuffled equi-join on (band, band_sig) — the bands frame is
        // O(corpus), so no broadcast hint (OOM at scale); AQE may still
        // auto-broadcast when measured small
        a.join(bb,
            col("b") === col("b2") && col("band_sig") === col("band_sig2") &&
              col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), expr(
            """aggregate(transform(sequence(1, 16),
               j -> CASE WHEN substring(other_a, j, 1) <> substring(other_b, j, 1)
                         THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x)"""
          ).cast("long").as("hamming"))
          .distinct() // a pair matching both bands appears twice, hamming equal
          .filter(col("hamming") <= 1)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, tok, count(*) AS cnt FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> '' GROUP BY doc_id, tok),
        bits AS (
          SELECT doc_id, j,
                 CASE WHEN SUM(cnt * CASE WHEN substr(md5(tok), j, 1) >= '8'
                                          THEN 1 ELSE -1 END) >= 0
                      THEN '1' ELSE '0' END AS bit
          FROM toks CROSS JOIN (SELECT UNNEST(generate_series(1, 32)) AS j) g
          GROUP BY doc_id, j),
        sig AS (
          SELECT doc_id, string_agg(bit, '' ORDER BY j) AS sig
          FROM bits GROUP BY doc_id),
        bands AS (
          SELECT doc_id, b, substr(sig, (b-1)*16 + 1, 16) AS band_sig
          FROM sig CROSS JOIN (SELECT UNNEST(generate_series(1, 2)) AS b) g),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(list_reduce(list_transform(generate_series(1, 32),
                 j -> CASE WHEN substr(sa.sig, j, 1) <> substr(sb.sig, j, 1)
                           THEN 1 ELSE 0 END), (x, y) -> x + y) AS BIGINT) AS hamming
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE list_reduce(list_transform(generate_series(1, 32),
                 j -> CASE WHEN substr(sa.sig, j, 1) <> substr(sb.sig, j, 1)
                           THEN 1 ELSE 0 END), (x, y) -> x + y) <= 1
        ORDER BY doc_a, doc_b
      """)),

    // ───── edit-distance near-dup pairs, blocked on (source, length) ─────
    // Levenshtein is O(len²) per pair, so candidate pairs must be cheap:
    // block on source plus a 50-char length bucket (a real near-dup pair
    // rarely crosses either). Both engines implement the identical
    // integer edit distance, so the normalized similarity is exact.
    GraftQuery(
      "dedup_levenshtein",
      (s, d) => {
        val par = s.sparkContext.defaultParallelism
        val b = Tables.documents(s, d).select(
          col("doc_id"), col("text"), col("source"),
          expr("length(text) div 50").as("lb"))
        val a2 = b.select(col("doc_id").as("doc_a"), col("text").as("ta"),
          col("source"), col("lb"))
          // explicit partition count: the O(len²)-per-pair expansion after
          // this join must not inherit AQE's size-based (tiny) task count
          .repartition(par, col("source"), col("lb"))
        val b2 = b.select(col("doc_id").as("doc_b"), col("text").as("tb"),
          col("source").as("source2"), col("lb").as("lb2"))
          .repartition(par, col("source2"), col("lb2"))
        // Threshold-bounded edit distance (O(k·len) with early exit,
        // returns -1 above the bound). The bound is derived from the
        // DATA — ceil(0.4 · max(len)) per pair — so it is exactly the
        // sim >= 0.6 cut for ANY document length (a fixed constant bound
        // silently dropped sim>=0.6 pairs on texts past 1000 chars):
        // lev <= 0.4·mx passes through exact, lev > bound returns the
        // -1 sentinel and is a pair the sim filter rejects anyway.
        a2.join(b2,
            col("source") === col("source2") && col("lb") === col("lb2") &&
              col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("levenshtein(ta, tb, cast(ceil(0.4 * greatest(length(ta), length(tb))) as int))")
              .cast("long").as("lev"),
            greatest(length(col("ta")), length(col("tb"))).as("mx"))
          .transform(df => Materialize.stage(df))
          // barrier: without it the pushed-down filters re-substitute the
          // levenshtein expression and it evaluates up to 3×
          .filter(col("lev") >= 0)
          .select(col("doc_a"), col("doc_b"), col("lev"),
            (lit(1.0) - col("lev").cast("double") / col("mx")).as("sim"))
          .filter(col("sim") >= 0.6)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""
        WITH b AS (
          SELECT doc_id, text, source, length(text) // 50 AS lb FROM documents)
        SELECT doc_a, doc_b, lev, sim FROM (
          SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                 CAST(levenshtein(a.text, c.text) AS BIGINT) AS lev,
                 1.0::DOUBLE - levenshtein(a.text, c.text)::DOUBLE
                   / greatest(length(a.text), length(c.text)) AS sim
          FROM b a JOIN b c
            ON a.source = c.source AND a.lb = c.lb AND a.doc_id < c.doc_id) t
        WHERE sim >= 0.6
        ORDER BY doc_a, doc_b
      """)),

    // ───── embedding-cosine nearest neighbor, label-blocked ─────
    // For every vector, its top-1 cosine neighbor within the same label
    // block. Dot products fold left-to-right in DOUBLE on both engines,
    // so the cosines are bit-identical and the argmax agrees.
    GraftQuery(
      "dedup_embedding_nn",
      (s, d) => {
        val e = Tables.embeddings(s, d).select(
          col("vec_id"), col("label"), col("embedding"),
          // codegen'd native expression, bit-identical to the oracle fold
          expr("sqrt(vec_dot(embedding, embedding))").as("nrm"))
        val a = e.select(col("vec_id").as("va"), col("label"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("vb"), col("label").as("label2"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("va"))
          .orderBy(col("cosine").desc, col("vb").asc)
        a.join(b, col("label") === col("label2") && col("va") =!= col("vb"))
          .select(col("va"), col("vb"),
            (expr("vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("va").as("vec_id"), col("vb").as("nn_id"), col("cosine"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(list_reduce(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS nrm
          FROM embeddings),
        pairs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_reduce(list_transform(generate_series(1, len(a.embedding)),
                   i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE),
                   (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
        SELECT va AS vec_id, vb AS nn_id, cosine FROM (
          SELECT va, vb, cosine,
                 ROW_NUMBER() OVER (PARTITION BY va
                                    ORDER BY cosine DESC, vb ASC) AS rn
          FROM pairs) t
        WHERE rn = 1
        ORDER BY vec_id
      """)),

    // ───── duplicated-text fraction via content-defined chunking ─────
    // Cross-document SUBSTRING duplication (boilerplate headers, quoted
    // passages) that whole-document dedup misses. Chunk boundaries are
    // CONTENT-DEFINED — a token is a boundary iff md5(token) starts
    // with '0' or '1' (rate 1/8) — so chunk positions are a function
    // of the text itself, not of document offsets: the same passage
    // embedded at DIFFERENT offsets in two documents produces the same
    // chunks (a fixed-stride grid only detects same-phase duplication).
    // Each boundary anchors an 8-word chunk; a shared L-word passage is
    // detected with probability 1-(7/8)^(L-7) (~66% at L=15, ~95% at
    // L=30) — the standard CDC trade-off, tunable via the boundary
    // rate. Per-chunk document counts then score every document by the
    // fraction of its chunks that also occur elsewhere — the signal
    // pipelines threshold to drop boilerplate-heavy docs. Chunks travel
    // as md5 digests (16 bytes), never text. Two shuffles: distinct on
    // (doc_id, chunk), then chunk-count + equi-join back on the chunk
    // key (co-partitioned, so the exchange is reused); per-doc rollup
    // rides the doc_id key. No broadcast hints — AQE decides at runtime.
    GraftQuery(
      "dedup_substring",
      (s, d) => {
        // staged once: the distinct (doc_id, chunk) set feeds both the
        // per-chunk doc count and the join back — without the barrier
        // the split+explode+distinct pipeline runs twice
        val chunks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 8)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), explode(expr(
            "transform(" +
              "filter(sequence(0, size(toks)-8), " +
                "i -> substring(md5(toks[i]), 1, 1) IN ('0', '1')), " +
              "i -> md5(array_join(slice(toks, i+1, 8), ' ')))")).as("chunk"))
          .distinct())
        val shared = chunks.groupBy(col("chunk"))
          .agg(count(lit(1)).as("n_docs"))
        chunks.join(shared, "chunk")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
            (col("n_dup_chunks").cast("double") / col("n_chunks"))
              .as("dup_chunk_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH chunks AS (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(t[c : c+7], ' ')) AS chunk
          FROM (SELECT doc_id, t,
                       UNNEST(list_filter(generate_series(1, len(t)-7),
                         i -> substring(md5(t[i]), 1, 1) IN ('0', '1'))) AS c
                FROM (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents) s0
                WHERE len(t) >= 8) s1),
        shared AS (SELECT chunk, COUNT(*) AS n_docs FROM chunks GROUP BY chunk)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_chunks,
               CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
                 / COUNT(*) AS dup_chunk_frac
        FROM chunks JOIN shared USING (chunk)
        GROUP BY doc_id
        ORDER BY doc_id
      """)),

    // ───── semantic dedup: keep one vector per cosine cluster ─────
    // SemDeDup-shaped: embeddings are blocked into cells (the `label`
    // column stands in for the IVF/k-means cell id), pairs above the
    // cosine threshold within a cell become edges, connected components
    // group transitive near-duplicates, and exactly one vector per
    // component — the minimum id — is kept. The quadratic term is
    // bounded by the CELL size (the clustering granularity knob), never
    // the corpus; cosines are sequential double folds (codegen'd
    // vec_dot) so the threshold cut is bit-identical to the oracle's
    // list_reduce, and the component ids agree by the same md5-free
    // integer math as dedup_clusters. Singleton vectors (no neighbor
    // above τ) keep themselves via the left-join fallback.
    GraftQuery(
      "dedup_semantic",
      (s, d) => {
        // τ = 0.35 exercises non-trivial clusters on the synthetic
        // corpus (max within-cell cosine ≈ 0.47); production text
        // embeddings would run 0.95+ — `Knobs.semanticTau` overrides
        // (oracle-pinned)
        val tau = Knobs.semanticTau.get(s)
        val e = Tables.embeddings(s, d).select(
          col("vec_id"), col("label"), col("embedding"),
          expr("sqrt(vec_dot(embedding, embedding))").as("nrm"))
        val a = e.select(col("vec_id").as("va"), col("label"),
          col("embedding").as("ea"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("vb"), col("label").as("label2"),
          col("embedding").as("eb"), col("nrm").as("nb"))
        val pairs = a.join(b, col("label") === col("label2") && col("va") < col("vb"))
          .filter(expr("vec_dot(ea, eb)") / (col("na") * col("nb")) >= tau)
          .select(col("va"), col("vb"))
        val (labels, _) = ConnectedComponents.run(pairs)
        Tables.embeddings(s, d).select(col("vec_id"), col("label"))
          .join(labels.select(col("node").as("vec_id"),
            col("component")), Seq("vec_id"), "left")
          .select(col("vec_id"), col("label"),
            coalesce(col("component"), col("vec_id")).as("cluster_id"),
            (coalesce(col("component"), col("vec_id")) === col("vec_id"))
              .as("is_kept"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH RECURSIVE n AS (
          SELECT vec_id, label, embedding,
                 sqrt(list_reduce(list_transform(embedding,
                   x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y)) AS nrm
          FROM embeddings),
        prs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
                  i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE),
                  (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.35),
        edges AS (
          SELECT va AS src, vb AS dst FROM prs
          UNION ALL
          SELECT vb AS src, va AS dst FROM prs),
        nds AS (SELECT DISTINCT src AS doc FROM edges),
        reach(doc, r) AS (
          SELECT doc, doc FROM nds
          UNION
          SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        comp AS (SELECT doc, MIN(r) AS component FROM reach GROUP BY doc)
        SELECT e.vec_id, e.label,
               COALESCE(c.component, e.vec_id) AS cluster_id,
               COALESCE(c.component, e.vec_id) = e.vec_id AS is_kept
        FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.doc
        ORDER BY e.vec_id
      """)),

    // ───── duplicate-line scrub: keep-first line dedup + doc rebuild ─────
    // The CCNet/RefinedWeb cleaning step that whole-document dedup and
    // dedup_substring's SCORING both stop short of: remove every
    // globally-duplicated line from each document and emit the CLEANED
    // TEXT. "Lines" are fixed 10-token spans (the synthetic corpus is
    // newline-free; a real WET ingest splits on '\n' instead — the
    // dataflow is identical either way). Keep-first semantics: a line
    // survives only at its globally-first occurrence, totally ordered by
    // (doc_id, idx) packed into one BIGINT (idx < 1e6 — a 10M-token doc
    // bound, asserted nowhere because the pack would still be ordered,
    // just coarser). A doc whose every line first occurred elsewhere
    // comes back with n_kept = 0 and empty text — the row the quality
    // gate downstream drops.
    // Scale: the decision dataflow shuffles (doc_id, idx, md5) — 16-byte
    // digests plus two ints, never line text. Body bytes move exactly
    // once: the per-doc kept-index SET (ints) equi-joins back to
    // documents on doc_id, and the rebuild is a higher-order-function
    // slice over the doc's own token array in place — line text itself
    // enters no exchange at any point, which is what lets this run at
    // crawl scale where the duplicated-line mass is a large fraction of
    // all bytes.
    GraftQuery(
      "dedup_lines",
      (s, d) => {
        // The ONE body exchange: the narrow (doc_id, text) projection —
        // NOT the token array, whose per-element serialization overhead
        // measured ~1.8× the raw string — hash-partitioned on doc_id,
        // split after the shuffle, and staged so BOTH consumers (the
        // line explode and the final rebuild join) read the same cache:
        // the 100× probe caught the array-shaped exchange being
        // re-read twice around the final join (AQE materialization),
        // doubling the body bytes moved. Staging the post-shuffle
        // frame also leaves it hash(doc_id)-partitioned, which is
        // exactly `kept`'s groupBy partitioning — the rebuild join
        // plans with no further exchange on either side. (At real
        // cluster scale the cache becomes exchange-reuse; the
        // dataflow is identical.)
        val toks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("toks")))
        // staged once: the (doc_id, idx, hash) frame feeds both the
        // first-occurrence aggregate and the keep-decision join
        val lines = Materialize.stage(toks
          .select(col("doc_id"),
            explode(expr("sequence(0, (size(toks)-1) div 10)")).as("idx"),
            col("toks"))
          .select(col("doc_id"), col("idx"),
            expr("md5(array_join(slice(toks, idx*10+1, 10), ' '))").as("hsh")))
        // first occurrence = min over the LEXICOGRAPHIC (doc_id, idx)
        // struct, not an arithmetic doc_id*K+idx encoding: the encoded
        // key aliases once idx outgrows K (a ≥K-line doc bleeds into
        // the next doc_id's key space and the wrong occurrence wins) —
        // struct min is the same single-pass partial-aggregable min
        val first = lines.groupBy(col("hsh"))
          .agg(min(struct(col("doc_id"), col("idx"))).as("fst"))
        val kept = lines.join(first, "hsh")
          .filter(struct(col("doc_id"), col("idx")) === col("fst"))
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("idx"))).as("keep_idx"))
        toks
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            expr("(size(toks)-1) div 10 + 1").cast("long").as("n_lines"),
            coalesce(size(col("keep_idx")).cast("long"), lit(0L)).as("n_kept"),
            coalesce(expr(
              "array_join(transform(keep_idx, " +
                "i -> array_join(slice(toks, i*10+1, 10), ' ')), ' ')"),
              lit("")).as("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        ln AS (
          SELECT doc_id, UNNEST(generate_series(0, (len(t)-1)//10)) AS idx, t
          FROM d),
        lns AS (
          SELECT doc_id, idx,
                 array_to_string(t[idx*10+1 : idx*10+10], ' ') AS line
          FROM ln),
        h AS (SELECT doc_id, idx, line, md5(line) AS hsh FROM lns),
        f AS (
          SELECT doc_id, idx, line,
                 ROW_NUMBER() OVER (PARTITION BY hsh ORDER BY doc_id, idx)
                   AS rn
          FROM h),
        k AS (SELECT doc_id, idx, line FROM f WHERE rn = 1),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(line, ' ' ORDER BY idx) AS text_clean
          FROM k GROUP BY doc_id)
        SELECT d.doc_id, CAST((len(t)-1)//10 + 1 AS BIGINT) AS n_lines,
               COALESCE(n_kept, 0) AS n_kept,
               COALESCE(text_clean, '') AS text_clean
        FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id
      """)),

    // ───── exact-substring span removal: scrub duplicated spans ≥ W ─────
    // The ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training
    // Data Makes Language Models Better") / RefinedWeb: any EXACT token
    // span duplicated elsewhere in the corpus is removed from every
    // occurrence but the globally-first one, and the surviving tokens are
    // re-joined into cleaned text. Unlike dedup_lines (fixed phase-10
    // grid — a span straddling a grid boundary at a different phase in
    // the second doc is invisible) this detects duplication at EVERY
    // offset: windows are all W=10-token grams at stride 1, a window
    // occurrence is `marked` iff its hash's globally-first occurrence —
    // lexicographic min over (doc_id, pos) — is
    // someone else, and a TOKEN is removed iff at least one marked
    // window covers it. Any duplicated span of length L ≥ W is covered
    // in full at each non-first occurrence (the L−W+1 interior windows
    // are all marked, and their union is exactly the span), while
    // tokens outside a duplicated span are never covered — span-exact
    // removal, no suffix array needed. Spans of length < W survive by
    // design (the published threshold is 50 BPE tokens; W is the same
    // knob).
    //
    // Scale: the decision plane shuffles (doc_id, pos, md5) at stride 1
    // — n_token digest rows (~40 B each, ~6× the raw text bytes; that
    // constant is the honest cost of offset-exact detection, and it is
    // LINEAR — the CDC-anchored dedup_substring is the cheap pre-filter
    // that SCORES, this pass REMOVES). Covered positions explode W ints
    // per marked window, bounded by W × duplicated mass, collapse via
    // distinct, and ride doc_id back. Body bytes move exactly once: the
    // staged narrow (doc_id, text) exchange feeds both the window
    // explode and the rebuild join (the dedup_lines dataflow), and the
    // rebuild is an array_except over positions — hash-set linear, not
    // a per-token membership scan.
    GraftQuery(
      "dedup_span_scrub",
      (s, d) => {
        val W = 10
        val toks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("toks")))
        // Sizing seam (SCALE.md §4b/§18): the digest plane is exactly
        // Σ max(n_tokens − W + 1, 0) rows (~80 B each with the 32-char
        // md5), and the ladder showed the hsh-keyed join + coverage
        // explode + distinct partial degrading ~4× per row at the 100×
        // rung in 32 tasks. The count is exact and metadata-cheap (1-row
        // aggregate over the staged body frame), and staging the digest
        // frame ALREADY hash(hsh, n)-partitioned makes the
        // first-occurrence groupBy and the keep-decision join both read
        // it co-partitioned — one sized exchange where the default plan
        // re-exchanged twice.
        val winCount = Option(
          toks.agg(sum(greatest(size(col("toks")) - lit(W - 1), lit(0))
            .cast("long")).as("wc")).first().getAs[java.lang.Long]("wc"))
          .map(_.longValue).getOrElse(0L)
        val nWin = Sizing.partitionsForRows(s, winCount, 80)
        // stride-1 W-gram digests; docs shorter than W have no windows
        // (guarded: Spark's sequence(0, negative) would DESCEND)
        val wins = Materialize.stage(toks
          .filter(size(col("toks")) >= W)
          .select(col("doc_id"),
            explode(expr(s"sequence(0, size(toks) - $W)")).as("pos"),
            col("toks"))
          .select(col("doc_id"), col("pos"),
            expr(s"md5(array_join(slice(toks, pos + 1, $W), ' '))").as("hsh"))
          .repartition(nWin, col("hsh")))
        // globally-first = lexicographic min(struct(doc_id, pos)) — see
        // dedup_lines: the arithmetic doc_id*K+pos encoding aliases on
        // ≥K-token docs, and both arms sharing it would blind the oracle
        val first = wins.groupBy(col("hsh"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("fst"))
        val removed = wins.join(first, "hsh")
          .filter(struct(col("doc_id"), col("pos")) =!= col("fst"))
          .select(col("doc_id"),
            explode(expr(s"sequence(pos, pos + ${W - 1})")).as("tp"))
          .distinct()
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("tp"))).as("rm"))
        toks.join(removed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            coalesce(size(col("rm")).cast("long"), lit(0L)).as("n_removed"),
            when(col("rm").isNull, expr("array_join(toks, ' ')"))
              .otherwise(expr(
                "array_join(transform(" +
                  "array_except(sequence(0, size(toks) - 1), rm), " +
                  "i -> toks[i]), ' ')"))
              .as("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        w AS (
          SELECT doc_id, UNNEST(generate_series(0, len(t)-10)) AS pos, t
          FROM d WHERE len(t) >= 10),
        h AS (
          SELECT doc_id, pos,
                 md5(array_to_string(t[pos+1 : pos+10], ' ')) AS hsh
          FROM w),
        f AS (
          SELECT doc_id, pos,
                 ROW_NUMBER() OVER (PARTITION BY hsh ORDER BY doc_id, pos)
                   AS rn
          FROM h),
        mk AS (SELECT doc_id, pos FROM f WHERE rn <> 1),
        rmp AS (
          SELECT DISTINCT doc_id, UNNEST(generate_series(pos, pos+9)) AS tp
          FROM mk),
        rm AS (SELECT doc_id, list_sort(list(tp)) AS rm FROM rmp GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(rm), 0) AS BIGINT) AS n_removed,
               CASE WHEN rm IS NULL THEN array_to_string(t, ' ')
                    ELSE COALESCE(array_to_string(list_transform(
                      list_filter(generate_series(0, len(t)-1),
                        i -> NOT list_contains(rm, i)),
                      i -> t[i+1]), ' '), '')
               END AS text_clean
        FROM d LEFT JOIN rm USING (doc_id) ORDER BY d.doc_id
      """)),

    // ───── boilerplate scrub: remove EVERY occurrence of shared lines ─────
    // The other half of the line-level cleaning pass (RefinedWeb's
    // "duplicated-line removal", CCNet's boilerplate filter): a line
    // whose hash occurs in ≥2 DISTINCT documents is chrome — nav bars,
    // footers, license blurbs, template headers — and is scrubbed from
    // ALL documents, first occurrence included. That is the exact
    // complement of dedup_lines' keep-first semantics (which preserves
    // one canonical copy): dedup targets redundancy, this targets
    // content that was never document-specific to begin with. A line
    // repeated only WITHIN one doc has distinct-doc count 1 and
    // survives — that redundancy is dedup_lines' job. Threshold 2 is
    // the conservative floor; production crawls raise it per shard.
    // Lines are the same fixed 10-token spans as dedup_lines (the
    // synthetic corpus is newline-free; a WET ingest splits on '\n').
    //
    // Scale: identical dataflow to dedup_lines — the decision plane
    // shuffles (doc_id, idx, md5) digests only; the distinct-doc count
    // collapses within-doc repeats map-side (partial distinct on
    // (hsh, doc_id)); body bytes move exactly once via the staged
    // narrow (doc_id, source, text) exchange that both the line
    // explode and the rebuild join read, pre-partitioned on doc_id so
    // the rebuild plans with no further exchange.
    GraftQuery(
      "curate_boilerplate",
      (s, d) => {
        val toks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks")))
        val lines = Materialize.stage(toks
          .select(col("doc_id"),
            explode(expr("sequence(0, (size(toks)-1) div 10)")).as("idx"),
            col("toks"))
          .select(col("doc_id"), col("idx"),
            expr("md5(array_join(slice(toks, idx*10+1, 10), ' '))").as("hsh")))
        // staged EAGERLY: the planner must see the boilerplate list's
        // TRUE size (the few shared hashes), not an estimate scaled
        // from the lines frame — the 100× probe caught the estimate
        // crossing the broadcast threshold and re-exchanging the whole
        // staged lines frame by hsh for a sort-merge anti-join (sr
        // 4.1× at 2.5× data). With real stats the anti-join broadcasts
        // for as long as the list genuinely fits, and falls back to
        // the shuffle join only when a corpus truly outgrows it.
        val boiler = Materialize.stageEager(lines.groupBy(col("hsh"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("hsh")))
        val kept = lines.join(boiler, Seq("hsh"), "left_anti")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("idx"))).as("keep_idx"))
        toks
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            expr("(size(toks)-1) div 10 + 1").cast("long").as("n_lines"),
            coalesce(size(col("keep_idx")).cast("long"), lit(0L)).as("n_kept"),
            coalesce(expr(
              "array_join(transform(keep_idx, " +
                "i -> array_join(slice(toks, i*10+1, 10), ' ')), ' ')"),
              lit("")).as("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
                   FROM documents),
        ln AS (
          SELECT doc_id, UNNEST(generate_series(0, (len(t)-1)//10)) AS idx, t
          FROM d),
        lns AS (
          SELECT doc_id, idx,
                 array_to_string(t[idx*10+1 : idx*10+10], ' ') AS line
          FROM ln),
        h AS (SELECT doc_id, idx, line, md5(line) AS hsh FROM lns),
        b AS (SELECT hsh FROM h GROUP BY hsh
              HAVING COUNT(DISTINCT doc_id) >= 2),
        k AS (SELECT doc_id, idx, line FROM h
              WHERE hsh NOT IN (SELECT hsh FROM b)),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(line, ' ' ORDER BY idx) AS text_clean
          FROM k GROUP BY doc_id)
        SELECT d.doc_id, d.source,
               CAST((len(t)-1)//10 + 1 AS BIGINT) AS n_lines,
               COALESCE(n_kept, 0) AS n_kept,
               COALESCE(text_clean, '') AS text_clean
        FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id
      """))
  )

  /** 32-bit SimHash signature per document as a '0'/'1' string: the
    * shared primitive for dedup_simhash and text fingerprinting.
    */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    Materialize.stageEager(
      Materialize.stage(
        Tables.documents(s, d)
          // per-token md5s computed once, narrowly; summing ±1 per
          // OCCURRENCE below equals the count-weighted sum per distinct
          // term
          .select(col("doc_id"), expr(
            "transform(filter(split(text, ' '), t -> t <> ''), t -> md5(t))").as("hs"))
          // pin parallelism for the signature fold + downstream banded join
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
        // barrier so the md5 array materializes once, not per bit position
        .select(col("doc_id"), expr("""
          array_join(transform(sequence(1, 32), j ->
            CASE WHEN aggregate(hs, 0, (acc, h) ->
                   acc + (CASE WHEN substring(h, j, 1) >= '8' THEN 1 ELSE -1 END)) >= 0
                 THEN '1' ELSE '0' END), '')""").as("sig")))
      // staged: consumed by both sides of the banded self-join
}
