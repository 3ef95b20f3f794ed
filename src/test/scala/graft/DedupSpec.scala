package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-near-duplicate tests for the dedup family. The ops read
  * `<dir>/documents.parquet`, so fixtures are written as a scratch
  * table dir — same access path as production, tiny data.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = scratchDir("dedup")
    val base = "spark makes big data small again with catalyst and tungsten " +
      "query plans that scale across many executors without manual tuning"
    val docs = Seq(
      // 0 and 1: exact duplicates
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong),
      // 2: near-duplicate of 0 (one word changed)
      (2L, base.replace("manual", "hand"), "en", "src2", base.length.toLong),
      // 3: unrelated
      (3L, "completely different content about weather events in ohio and " +
        "airport delay statistics gathered over several winters", "en", "src3", 120L),
      // 4: near-duplicate of 3 (one word appended)
      (4L, "completely different content about weather events in ohio and " +
        "airport delay statistics gathered over several winters again", "en", "src4", 126L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("dedup_exact collapses exact duplicates to the lowest doc_id") {
    val rows = run("dedup_exact").collect()
    assert(rows.length === 4) // 5 docs, one exact-dup pair
    val dupRow = rows.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupRow.getAs[Long]("doc_id") === 0L)
  }

  test("dedup_exact is idempotent") {
    val once = run("dedup_exact")
    // re-deduping the survivors must be the identity
    val again = once.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).count() === 0)
  }

  test("dedup_ngram_jaccard finds planted near-dups, skips unrelated") {
    val pairs = run("dedup_ngram_jaccard")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair")
    assert(pairs.contains((0L, 2L)), "near dup pair")
    assert(pairs.contains((3L, 4L)), "appended-word pair")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(0L, 3L)), "unrelated")
  }

  test("dedup_incremental flags new docs against corpus and earlier batch peers") {
    // %4 carve on the fixture: delta = {0, 4}, corpus = {1, 2, 3}.
    // New doc 0 duplicates the {1, 2} dup group; the probe is against
    // per-bucket CANONS (what the persistent index stores), so 0 links
    // to the group's canon 1 ONLY — not to member 2, whose group
    // membership was already established at its own ingest (chained
    // links are dedup_clusters' transitivity job). dup_of may exceed
    // new_doc for corpus matches (the corpus is "already accepted", id
    // order is irrelevant); new doc 4 near-dups corpus doc 3; nothing
    // pairs across the unrelated groups.
    val rows = run("dedup_incremental")
      .select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
    assert(rows === Set((0L, 1L), (4L, 3L)))
    assert(!rows.contains((0L, 2L)),
      "canon probe must link to the group canon, not every member")
  }

  test("stored band index: probe without corpus re-scan; min-merge maintenance") {
    import graft.pipeline.SnapshotStore
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = all.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .select("doc_id", "text")
    val delta = all.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select("doc_id", "text")

    // persist the corpus's band index as a snapshot-store table keyed by
    // the band bucket — the probe below touches ONLY this table and the
    // delta's own text (corpus text is not an input to the probe)
    val store = scratchDir("band_idx") + "/idx"
    val withKey = (f: DataFrame) =>
      f.withColumn("band_key", concat_ws(":", col("band"), col("band_sig")))
    SnapshotStore.upsertVersion(spark,
      withKey(ops.Dedup.bandIndex(corpus)), "band_key", None, store, 0L)
    val stored = SnapshotStore.read(spark, store).get

    def probe(idx: DataFrame): Map[Long, Long] =
      ops.Dedup.probeBandIndex(delta, idx.select("band", "band_sig", "canon_doc"))
        .as[(Long, Long)].collect().toMap
    val viaStore = probe(stored)
    // identical to probing a freshly-computed index, and the expected
    // band-level candidates: 0 collides with corpus canon 1, 4 with 3
    assert(viaStore == probe(ops.Dedup.bandIndex(corpus)))
    assert(viaStore == Map(0L -> 1L, 4L -> 3L))

    // accept the batch: merge its bands into the index with MIN-canon
    // semantics (plain last-write-wins would displace a lower corpus
    // canon with a newer doc — the one way a band index must NOT be a
    // vanilla SCD-1 table), then re-probe: doc 0 is now its own canon
    val accepted = withKey(ops.Dedup.bandIndex(delta))
      .join(stored.select(col("band_key"), col("canon_doc").as("old_canon")),
        Seq("band_key"), "left")
      .select(col("band"), col("band_sig"),
        least(col("canon_doc"), coalesce(col("old_canon"), col("canon_doc")))
          .as("canon_doc"), col("band_key"))
    SnapshotStore.upsertVersion(spark, accepted, "band_key", None, store, 1L)
    val after = probe(SnapshotStore.read(spark, store).get)
    assert(after == Map(0L -> 0L, 4L -> 3L))
  }

  test("dedup_minhash LSH output equals exact-Jaccard output on planted dups") {
    val exact = run("dedup_ngram_jaccard")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = run("dedup_minhash")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact, "banded candidates must recover every J>=0.8 pair here")
  }

  test("native minhash_sigs is bit-identical to the nested-HOF spelling") {
    // the expression replaced the interpreted HOF pipeline for a fixed
    // per-row cost (StringExpressions scaladoc); this pins that the 16
    // signature values — including empty-shingle-set nulls — are
    // byte-for-byte what the HOF fold produced, on the real corpus plus
    // degenerate rows
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfTiny).select($"doc_id", $"text")
      .unionByName(Seq(
        (90001L, "one"),            // no bigram: empty shingle set
        (90002L, "a b"),            // single shingle
        (90003L, "x y x y x y")     // repeated shingles collapse
      ).toDF("doc_id", "text"))
    val shingled = docs
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", array_distinct(expr(
        """CASE WHEN size(toks) >= 2
           THEN transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))
           ELSE cast(array() as array<string>) END"""
      )).as("shingles"))
    val both = shingled.select($"doc_id",
      expr("minhash_sigs(shingles)").as("native"),
      expr("""transform(sequence(0, 15), i ->
          array_min(transform(transform(shingles, s -> md5(s)), h ->
            concat(substring(h, 2*i + 1, 32), substring(h, 1, 2*i)))))""").as("hof"))
    assert(both.filter(not($"native" <=> $"hof")).count() === 0L)
  }

  test("rotation-derived permutations: full recall on the driver corpus too") {
    // the 16 permutations share one digest (disjoint-leading-window
    // argument in Dedup.scala); this is the empirical guard that the
    // correlation does not cost recall on realistic data, not just the
    // 5-doc fixture: every exact J>=0.8 pair must survive banding
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sfTiny)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("dedup_minhash")(spark, sfTiny)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact,
      s"missed pairs: ${(exact -- lsh).take(5)}; spurious: ${(lsh -- exact).take(5)}")
  }

  test("dedup_clusters groups transitively connected near-dups") {
    val clusters = run("dedup_clusters")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    // docs 0,1,2 are mutual near-dups → one cluster rooted at 0;
    // docs 3,4 are a separate pair → cluster rooted at 3
    assert(clusters(0L) === 0L && clusters(1L) === 0L && clusters(2L) === 0L)
    assert(clusters(3L) === 3L && clusters(4L) === 3L)
  }

  test("dedup_simhash: identical docs have hamming 0") {
    val rows = run("dedup_simhash")
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(rows.exists { case (a, b, h) => a == 0L && b == 1L && h == 0L })
  }

  test("connected components converge in O(log n) rounds on a 50-node chain") {
    // a chain is the worst case for min-label propagation (one round per
    // hop = 49 rounds); large-star/small-star must finish in ≤ ⌈log₂ n⌉+2
    val n = 50
    val chain = (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) = ops.ConnectedComponents.run(chain)
    val lab = labels.as[(Long, Long)].collect().toMap
    assert(lab.size === n)
    assert(lab.values.forall(_ == 0L), "every chain node reaches root 0")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("connected components fail at the round cap, naming the operator") {
    val chain = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Materialize.scoped {
      ops.ConnectedComponents.run(chain, maxRounds = 1)
    })
    assert(e.getMessage.contains("connected components"), e.getMessage)
  }

  test("connected components release superseded rounds: cache does not grow with rounds") {
    // cached entries left inside the scope after CC returns: the same
    // for a chain that takes more rounds, so every superseded round's
    // cache was freed
    def cachedAfter(n: Long): (Int, Int) = Materialize.scoped {
      val before = spark.sparkContext.getPersistentRDDs.size
      val (_, rounds) = ops.ConnectedComponents.run(
        (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst"))
      (spark.sparkContext.getPersistentRDDs.size - before, rounds)
    }
    val (small, smallRounds) = cachedAfter(6)
    val (large, largeRounds) = cachedAfter(50)
    assert(largeRounds > smallRounds)
    assert(small === large)
  }

  test("connected components keep disjoint components separate") {
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L), (12L, 11L), (20L, 21L))
      .toDF("a", "b")
    val (labels, _) = ops.ConnectedComponents.run(edges)
    val lab = labels.as[(Long, Long)].collect().toMap
    assert(lab(0L) == 0L && lab(1L) == 0L && lab(2L) == 0L)
    assert(lab(10L) == 10L && lab(11L) == 10L && lab(12L) == 10L)
    assert(lab(20L) == 20L && lab(21L) == 20L)
  }

  test("connected components label self-loop-only nodes (scaladoc guarantee)") {
    // node 5 appears ONLY as a self-loop: it must still appear in the
    // labels, as its own singleton component
    val edges = Seq((0L, 1L), (5L, 5L), (1L, 1L)).toDF("a", "b")
    val (labels, _) = ops.ConnectedComponents.run(edges)
    val lab = labels.as[(Long, Long)].collect().toMap
    assert(lab === Map(0L -> 0L, 1L -> 0L, 5L -> 5L))
  }

  test("shingle df-cutoff gates candidate generation only") {
    def pairs() = run("dedup_ngram_jaccard")
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val dflt = pairs()
    try {
      // cutoff above the max document frequency: a pure no-op — same
      // pairs, same EXACT jaccards (verify scores full shingle sets)
      spark.conf.set("spark.graft.shingle.dfCutoff", "10")
      assert(pairs() === dflt)
      // cutoff 1 drops every shared shingle from candidate generation:
      // no candidates can form, demonstrating the gate actually applies
      spark.conf.set("spark.graft.shingle.dfCutoff", "1")
      assert(pairs().isEmpty)
      // `auto` derives 8 × p99(df): the fixture's hottest shingles are
      // the dup trio's (df = 3), so p99 lands on the SHARED-shingle
      // frequency and the derived cutoff (8×3 = 24) sits far above it —
      // the tail-multiple contract: normal shared mass survives, only
      // boilerplate-grade outliers would be cut. Same pairs as the
      // exact default path, and identical to setting the derived value
      // explicitly.
      val derived = Knobs.shingleDfCutoff.fromP99(
        ops.Dedup.shingles(spark, dir).groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")),
        "df")
      assert(derived === 24, s"8 × p99(df=3) = 24 expected, got $derived")
      spark.conf.set("spark.graft.shingle.dfCutoff", "auto")
      assert(pairs() === dflt)
      spark.conf.set("spark.graft.shingle.dfCutoff", derived.toString)
      assert(pairs() === dflt)
    } finally spark.conf.unset("spark.graft.shingle.dfCutoff")
  }

  test("AutoKnob.fromP99: tail multiple, floor clamp, empty fallback") {
    val sizes = (1 to 100).map(_.toLong).toDF("n")
    // p99 of 1..100 ≈ 99 → 2×99 = 198
    assert(Knobs.graphWedgeCap.fromP99(sizes, "n") === 198)
    // floor wins when the tail is small
    assert(Knobs.graphWedgeCap.fromP99(Seq(1L, 1L, 2L).toDF("n"), "n") === 8)
    // empty distribution → fixed fallback
    assert(Knobs.graphWedgeCap.fromP99(sizes.filter(col("n") < 0), "n") === 64)
  }

  test("dedup_substring: content-defined chunks catch offset-SHIFTED duplication") {
    // boundaries are a function of token content (md5 prefix), so the
    // same passage at different offsets yields the same chunks — the
    // blind spot of a fixed-stride grid. Select boundary/plain words
    // with the operator's own rule, computed here independently.
    def isBoundary(w: String): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      hex.charAt(0) == '0' || hex.charAt(0) == '1'
    }
    val words = (0 until 200).map(i => s"w$i")
    val plain = words.filterNot(isBoundary)
    val anchor = words.find(isBoundary).get
    // 16-word passage with exactly ONE boundary, at position 4 (0-based)
    val passage = (plain.take(4) :+ anchor) ++ plain.slice(4, 15)
    assert(passage.length === 16 && passage.count(isBoundary) === 1)
    val d = scratchDir("dedup_sub")
    Seq(
      (0L, passage.mkString(" "), "en", "s", 10L),
      // same passage shifted 3 words right by a plain prefix
      (1L, (plain.slice(20, 23) ++ passage).mkString(" "), "en", "s", 10L),
      // no boundary tokens at all: no chunks, absent from the output
      (2L, plain.slice(30, 46).mkString(" "), "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("dedup_substring")(spark, d)
      .select("doc_id", "n_chunks", "n_dup_chunks", "dup_chunk_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet === Set(0L, 1L))
    // the single anchored chunk is identical in both despite the shift
    assert(out(0L) === ((1L, 1L, 1.0)))
    assert(out(1L) === ((1L, 1L, 1.0)))
  }

  test("dedup_semantic keeps one vector per transitive cosine cluster") {
    val d = scratchDir("dedup_sem")
    val dim = 8
    def vec(parts: (Int, Float)*): Array[Float] = {
      val v = Array.fill(dim)(0.0f); parts.foreach { case (i, x) => v(i) = x }; v
    }
    Seq(
      // label 0: 0 and 1 near-identical; 2 orthogonal to both
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 1.0f, 1 -> 0.02f), 0),
      (2L, vec(2 -> 1.0f), 0),
      // label 1: 3~4 and 4~5 are similar, 3~5 orthogonal — one
      // component only via transitivity
      (3L, vec(3 -> 1.0f), 1),
      (4L, vec(3 -> 1.0f, 4 -> 1.0f), 1),
      (5L, vec(4 -> 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = SparkEntry.queries("dedup_semantic")(spark, d)
      .select("vec_id", "cluster_id", "is_kept")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(
      0L -> ((0L, true)), 1L -> ((0L, false)), 2L -> ((2L, true)),
      3L -> ((3L, true)), 4L -> ((3L, false)), 5L -> ((3L, false))))
  }

  test("dedup_semantic tau knob: 0.99 keeps all but exact-direction dups") {
    val d = scratchDir("dedup_sem_tau")
    val dim = 8
    def vec(parts: (Int, Float)*): Array[Float] = {
      val v = Array.fill(dim)(0.0f); parts.foreach { case (i, x) => v(i) = x }; v
    }
    Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 2.0f), 0),            // same direction, cos = 1
      (2L, vec(0 -> 1.0f, 1 -> 1.0f), 0)  // cos ≈ 0.707 — below 0.99
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    try {
      spark.conf.set("spark.graft.semantic.tau", "0.99")
      val kept = SparkEntry.queries("dedup_semantic")(spark, d)
        .filter("is_kept").select("vec_id").as[Long].collect().toSet
      assert(kept === Set(0L, 2L), "only the colinear pair merges at 0.99")
      spark.conf.set("spark.graft.semantic.tau", "bogus")
      intercept[RuntimeException] {
        SparkEntry.queries("dedup_semantic")(spark, d).collect()
      }
    } finally spark.conf.unset("spark.graft.semantic.tau")
  }

  test("simhash signatures are 32-bit strings, equal for equal texts") {
    val sigs = ops.Dedup.simhashSignatures(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(sigs.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(3L))
  }

  test("dedup_lines keeps first occurrence only and rebuilds cleaned text") {
    val d = scratchDir("dedup_lines")
    // 10-token "lines" by construction: A and B and C are each exactly
    // one line; doc 0 owns A+B, doc 1 repeats A then adds C, doc 2 is
    // nothing but A — the all-duplicate document.
    val lineA = (1 to 10).map(i => s"a$i").mkString(" ")
    val lineB = (1 to 10).map(i => s"b$i").mkString(" ")
    val lineC = (1 to 10).map(i => s"c$i").mkString(" ")
    Seq(
      (0L, s"$lineA $lineB", "en", "s0", 0L),
      (1L, s"$lineA $lineC", "en", "s1", 0L),
      (2L, lineA, "en", "s2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("dedup_lines")(spark, d)
      .select("doc_id", "n_lines", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0) === ((0L, 2L, 2L, s"$lineA $lineB")))
    assert(rows(1) === ((1L, 2L, 1L, lineC)))
    assert(rows(2) === ((2L, 1L, 0L, "")))
  }

  test("dedup_lines: a doc's own internal repeat collapses to one copy") {
    val d = scratchDir("dedup_lines_self")
    val lineA = (1 to 10).map(i => s"x$i").mkString(" ")
    Seq((7L, s"$lineA $lineA", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = SparkEntry.queries("dedup_lines")(spark, d)
      .select("doc_id", "n_lines", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect()
    assert(r.toSeq === Seq((7L, 2L, 1L, lineA)))
  }

  test("dedup_minhash_eval md5-slice counts are exact over in-slice pairs") {
    val d = scratchDir("mh_eval_slice")
    // 40 docs = 20 planted identical pairs (2k, 2k+1); texts across pairs
    // share no shingles, so FULL truth is exactly the 20 planted pairs
    // and recall is 1.0 (identical docs ⇒ identical signatures ⇒ banded
    // candidates). With the 1/2 slice set, the truth/cand/found counts
    // must equal the full run's counts restricted to pairs with BOTH
    // docs in slice — computed here independently from the same md5
    // rule — which is the unbiasedness contract: slice membership is
    // id-hash-determined, never result-dependent.
    val docs = (0 until 20).flatMap { k =>
      val text = (1 to 30).map(i => s"w${k}_$i").mkString(" ")
      Seq((2L * k, text, "en", s"s${2 * k}", 0L),
        (2L * k + 1, text, "en", s"s${2 * k + 1}", 0L))
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    def run() = SparkEntry.queries("dedup_minhash_eval")(spark, d)
      .select("n_truth", "n_cand", "n_found")
      .as[(Long, Long, Long)].collect().head
    val full = run()
    assert(full._1 === 20L, "full truth = the 20 planted pairs")
    assert(full._3 === 20L, "identical docs are always banded candidates")
    val m = 2L
    val inSlice = (0L until 40L).filter { id =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m == 0L
    }.toSet
    val expTruth = (0 until 20).count(k =>
      inSlice(2L * k) && inSlice(2L * k + 1)).toLong
    assert(expTruth >= 1L, "fixture must keep at least one in-slice pair")
    spark.conf.set("spark.graft.eval.sampleMod", m.toString)
    try {
      val sliced = run()
      assert(sliced._1 === expTruth, "sliced truth = full truth ∩ slice²")
      assert(sliced._3 === expTruth, "sliced found matches (recall still 1.0)")
      assert(sliced._2 <= full._2, "candidates can only shrink under the slice")
    } finally spark.conf.unset("spark.graft.eval.sampleMod")
    // m = 1 is the identity, not a third behavior
    spark.conf.set("spark.graft.eval.sampleMod", "1")
    try assert(run() === full)
    finally spark.conf.unset("spark.graft.eval.sampleMod")
  }

  test("dedup_span_scrub removes cross-doc spans at DIFFERENT offsets, keeps first") {
    val d = scratchDir("span_scrub")
    // S is a 14-token span planted at offset 7 in doc 0 and offset 3 in
    // doc 1 — different phases, so dedup_lines' fixed grid cannot see it;
    // stride-1 windows must recover it exactly. N is a 9-token shared
    // run (below W=10): no full window fits inside it, so it survives.
    val span = (1 to 14).map(i => s"s$i").mkString(" ")
    val nine = (1 to 9).map(i => s"n$i").mkString(" ")
    val p = (1 to 7).map(i => s"p$i").mkString(" ")
    val q = (1 to 3).map(i => s"q$i").mkString(" ")
    val r = (1 to 5).map(i => s"r$i").mkString(" ")
    Seq(
      (0L, s"$p $span", "en", "s0", 0L),            // first occurrence: kept whole
      (1L, s"$q $span $r", "en", "s1", 0L),         // span removed, q/r context kept
      (2L, span, "en", "s2", 0L),                   // all-duplicate doc → empty
      (3L, s"$nine alpha beta gamma", "en", "s3", 0L), // 9-token run + context
      (4L, s"delta $nine epsilon zeta", "en", "s4", 0L) // same 9 tokens, other context
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("dedup_span_scrub")(spark, d)
      .select("doc_id", "n_tokens", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0) === ((0L, 21L, 0L, s"$p $span")))
    assert(rows(1) === ((1L, 22L, 14L, s"$q $r")))
    assert(rows(2) === ((2L, 14L, 14L, "")))
    assert(rows(3) === ((3L, 12L, 0L, s"$nine alpha beta gamma")))
    assert(rows(4) === ((4L, 12L, 0L, s"delta $nine epsilon zeta")))
  }

  test("dedup_span_scrub collapses a self-repeat to its first copy") {
    val d = scratchDir("span_scrub_self")
    // S+S inside ONE doc: only the second occurrence's interior windows
    // find an earlier twin, and their union is exactly the second S.
    val span = (1 to 12).map(i => s"x$i").mkString(" ")
    Seq((7L, s"$span $span", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("dedup_span_scrub")(spark, d)
      .select("doc_id", "n_tokens", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.toSeq === Seq((7L, 24L, 12L, span)))
  }

  test("curate_boilerplate scrubs shared lines EVERYWHERE, first copy included") {
    val d = scratchDir("boilerplate")
    // A is in 3 distinct docs → boilerplate, removed from all three
    // (dedup_lines would have kept doc 0's copy); B and C are unique.
    val lineA = (1 to 10).map(i => s"a$i").mkString(" ")
    val lineB = (1 to 10).map(i => s"b$i").mkString(" ")
    val lineC = (1 to 10).map(i => s"c$i").mkString(" ")
    Seq(
      (0L, s"$lineA $lineB", "en", "s0", 0L),
      (1L, s"$lineA $lineC", "en", "s1", 0L),
      (2L, lineA, "en", "s2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("curate_boilerplate")(spark, d)
      .select("doc_id", "n_lines", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0) === ((0L, 2L, 1L, lineB)))
    assert(rows(1) === ((1L, 2L, 1L, lineC)))
    assert(rows(2) === ((2L, 1L, 0L, "")))
  }

  test("curate_boilerplate: a within-doc repeat is NOT boilerplate (both copies kept)") {
    val d = scratchDir("boilerplate_self")
    // distinct-doc count of A is 1, so the repetition survives — that
    // redundancy is dedup_lines' jurisdiction, not the boilerplate scrub's
    val lineA = (1 to 10).map(i => s"x$i").mkString(" ")
    Seq((7L, s"$lineA $lineA", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = SparkEntry.queries("curate_boilerplate")(spark, d)
      .select("doc_id", "n_lines", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect()
    assert(r.toSeq === Seq((7L, 2L, 2L, s"$lineA $lineA")))
  }

  test("exact-Jaccard cost dispatch: both physical plans emit identical pairs") {
    // prefixJaccardPairs picks prefix-filtered AllPairs in the broadcast
    // regime and the sized posting-join aggregate past it; forcing the
    // dense branch by disabling auto-broadcast must not change one pair
    // or one jaccard bit (the dispatch is physical, never semantic).
    def run(): Seq[(Long, Long, Double)] =
      SparkEntry.queries("dedup_ngram_jaccard")(spark, sfTiny)
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val viaPrefix = run()
    val viaDense =
      try { spark.conf.set(key, "-1"); run() }
      finally spark.conf.set(key, saved)
    assert(viaPrefix.nonEmpty, "planted corpus must yield near-dup pairs")
    assert(viaPrefix === viaDense,
      "physical dispatch changed the exact-Jaccard answer")
  }
}
