package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{Args, Status}

/** The driver contract, one pass over the registry: each query is built
  * once at sf0.001, its physical plan is audited, its rows are collected
  * once, and (where its oracle has a Spark SQL spelling) those rows must
  * equal the rows of its oracle run as literal Spark SQL through
  * `SqlBridge`; each of the three checks is its own test. Row-level
  * parity with DuckDB is the driver's gate (tools/check.py); this suite
  * guards the Scala side so a broken plan never reaches it, and pins
  * that a SQL-only client gets the DataFrame API's answers.
  *
  * The DataFrame side runs in the shared test session under the
  * production config (AQE on, file scans of the `Tables` loaders). The
  * SQL side runs in its own session (`newSession`: same SparkContext and
  * `GraftExtensions`, its own SQL conf and temp views) with the
  * `GraftCatalog` views and two settings the bridged SQL needs:
  *   - `escapedStringLiterals`: DuckDB string literals are raw; Spark's
  *     default C-style escape parsing would silently corrupt regex
  *     literals ('[ \t\f]+' loses the backslashes);
  *   - AQE off: AQE re-optimizes the logical plan once per materialized
  *     query stage, and Spark inlines every multi-consumer CTE reference,
  *     so on the unrolled-recurrence oracles (ml_kmeans' 3-round spelling)
  *     those re-walks cost minutes of driver CPU. Values are unchanged.
  *
  * The queries run ahead of their tests on a pool of 8 threads (driver
  * side planning dominates at sf0.001 and parallelizes across queries;
  * `Materialize.scoped` is thread-local, per-query temp views and
  * scratch dirs are name-unique). The pool starts when the suite runs,
  * with only the selected tests' queries, so
  * `testOnly graft.QueryRegistrySpec -- -z sim_ann` runs just those.
  */
class QueryRegistrySpec extends SparkSpec {
  import SqlBridge.{dialectExceptions, sparkSqlOverrides, toSparkSql}

  // Queries with legitimately data-dependent emptiness at tiny SF.
  private val mayBeEmpty = Set(
    "join_anti_not_exists", "set_except", "ref_watermark_filter",
    "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
    // k = 20 sits at sf0.01's degeneracy edge; the 200-part sf0.001
    // graph dissolves entirely (6 peel rounds to the empty fixpoint)
    "graph_k_core",
    // rides dedup_minhash's pair relation, empty whenever that is
    "curate_source_overlap")

  // Queries that intentionally use a broadcast nested-loop / cross join:
  // a broadcast 1-row scalar (watermark, corpus size, query vector), or
  // sim_ann_ivf's K-row seed-centroid frame (every IVF assignment scores
  // each row against all K centroids; K is conf-bounded, not data-sized).
  // The build side is provably tiny in each.
  private val allowNestedLoop = Set(
    "ref_watermark_filter", "text_tfidf", "sim_topk_cosine",
    // K-row broadcast centroid / sub-codebook / lookup-table frames
    "curate_domain_mix", "sim_ann_ivf", "sim_ann_index", "sim_ann_pq",
    "sim_ann_ivfpq", "sim_ann_recall_gate",
    // 1-row broadcast scalar frames (candidate array / total count /
    // stage counts / probe embedding) — the watermark-filter pattern,
    // not a data-path BNLJ
    "agg_heavy_hitters", "win_funnel", "sim_hybrid_rrf",
    // 1-row broadcast node count reaching the rank recurrence as a
    // scalar — the watermark-filter pattern again
    "graph_pagerank",
    // 1-row broadcast corpus size + total-token count / min-max scalars
    // (text_collocations' lift denominator, sim_matryoshka_topk's query
    // vector — both the watermark-filter pattern)
    "text_bm25", "stats_histogram", "text_collocations",
    "sim_matryoshka_topk",
    // 50-row top-token frame + 1-row corpus total, both broadcast
    "stats_chisq_sources",
    // 1-row corpus-total broadcast under the 200-row coverage frame
    "text_vocab_coverage",
    // 1-row broadcast stats frames (corpus totals / budget scalars)
    "text_search_index", "text_search_chunks", "curate_mixture_epochs",
    "curate_global_shuffle",
    // 1-row broadcast scalars: KS totals/max-deviation frames, theta
    // threshold, |languages|-row quota frame — watermark-filter pattern
    "stats_ks_drift", "agg_kmv_setops", "curate_temperature_mix",
    // 1-row broadcast edge-count scalar under the community frame
    "graph_modularity",
    // 1-row broadcast vocabulary scalar (add-1 smoothing denominator)
    "text_perplexity",
    // 1-row broadcast smoothed-totals / corpus-n scalars
    "stats_psi_drift", "stats_mutual_info",
    // 1-row broadcast query vector + the ≤20-row candidate pairwise
    // self-join (non-equi by design: k² on a CONSTANT k, never corpus)
    "sim_mmr_diversify",
    // 1-row broadcast rank-1 frequency scalar under the 4 anchor rows
    "text_zipf_slope",
    // 1-row broadcast merge-winner frames under the re-segmentation
    "text_bpe_merges",
    "text_bpe_encode",
    // 1-row broadcast order-count scalar under the lift computation
    "mine_assoc_rules",
    // 3-row broadcast query-vector frame (the sim_topk_cosine pattern)
    "sim_range_search",
    // K-row broadcast centroid frame (the sim_ann_index pattern)
    "sim_ann_range_index",
    // two 1-row arm frames meeting in a broadcast cross join
    "stats_ab_test",
    // |classes|-row broadcast model-constant frame + two 1-row scalars
    // (the K-row centroid pattern)
    "ml_naive_bayes",
    // four 1-row broadcast max-normalization scalars — the pagerank
    // node-count pattern
    "graph_hits",
    // three 1-row count frames meeting in broadcast cross joins
    "dedup_minhash_eval",
    // 5-row driver-built weight frame × 1-row holdout-metrics scalar
    "ml_logreg",
    // same 5-row weight-frame × 1-row metrics shape
    "ml_perceptron",
    // same shape closed-form: 3-row weight frame × 1-row SSE metrics
    "ml_ridge",
    // 1-row corpus-total broadcast under the 16-row block frame
    "stats_jackknife_ci",
    // 1-row broadcast corpus-total under the metadata-sized class frame
    "curate_k_anonymity",
    // same shape: totals/cluster-stats/removed-chars 1-row frames
    "dedup_savings",
    // T-row driver-built rule frame × 1-row MSE-metrics scalar (the
    // ml_logreg weight-frame shape)
    "ml_gbt_stumps")

  test("query names are unique across modules") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle is non-empty and has no line comment") {
    // Verify's normalization collapses newlines, so a `--` comment would
    // swallow the rest of the statement
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name oracle empty")
      assert(!sql.contains("--"), s"$name oracle has a line comment, which " +
        "breaks Verify's newline collapsing")
    }
  }

  test("bridge overrides and dialect exceptions name oracle-backed queries") {
    val oracleBacked = SparkEntry.all.filter(_.oracle.isDefined)
    assert(oracleBacked.nonEmpty)
    val unknown = (dialectExceptions.keySet ++ sparkSqlOverrides.keySet) --
      oracleBacked.map(_.name).toSet
    assert(unknown.isEmpty, s"names not in oracle-backed registry: $unknown")
    assert(dialectExceptions.size * 10 <= oracleBacked.size,
      s"dialect exceptions (${dialectExceptions.size}) must stay under 10% " +
        s"of oracle-backed queries (${oracleBacked.size})")
  }

  test("text-level bridge rewrites never touch string literals") {
    assert(toSparkSql("SELECT encode(x) AS a, 'please encode//this' AS b FROM t")
      == "SELECT duck_encode(x) AS a, 'please encode//this' AS b FROM t")
    assert(toSparkSql("SELECT 'http://x' AS u, n // 2 AS h FROM t")
      == "SELECT 'http://x' AS u, n  div  2 AS h FROM t")
    assert(toSparkSql("SELECT 'a::VARCHAR unnest' AS s FROM t")
      == "SELECT 'a::VARCHAR unnest' AS s FROM t")
  }

  test("bracket scanner: 1-based index, slice, literal, regex-class safety") {
    import SqlBridge.rewriteBrackets
    assert(rewriteBrackets("SELECT toks[2] FROM t") ==
      "SELECT try_element_at(toks, 2) FROM t")
    assert(rewriteBrackets("f(x)[1:3]") == "slice(f(x), 1, (3) - (1) + 1)")
    assert(rewriteBrackets("a.embedding[i]") == "try_element_at(a.embedding, i)")
    assert(rewriteBrackets("x IN ['a', 'b']") == "x IN array('a', 'b')")
    assert(rewriteBrackets("regexp_like(t, '[a-z]+[0-9]')") ==
      "regexp_like(t, '[a-z]+[0-9]')")
    assert(rewriteBrackets("split(t, ' ')[i:i+2]") ==
      "slice(split(t, ' '), i, (i+2) - (i) + 1)")
  }

  /** What one query did, reduced to what its test asserts. `sqlDiff` is
    * the SQL side's failure or first differing row; None when the rows
    * match or the oracle has no Spark SQL spelling.
    */
  private case class Outcome(
      columns: Int, cartesian: Boolean, nestedLoop: Boolean, rows: Int,
      sqlDiff: Option[String])

  private def cell(v: Any): String = v match {
    case null          => "NULL"
    case d: Double     => if (d == math.rint(d)) f"$d%.1f" else d.toString
    case f: Float      => f.toString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x             => x.toString
  }

  /** Rows as sorted strings over name-sorted columns (the driver's compare). */
  private def canon(df: DataFrame): Seq[String] = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    df.collect().map(r => order.map(i => cell(r.get(i))).mkString("|"))
      .sorted.toSeq
  }

  private def check(q: GraftQuery, sqlSession: SparkSession): Outcome =
    Materialize.scoped {
      val df = q.fn(spark, sfTiny)
      val plan = df.queryExecution.sparkPlan.toString
      // DataFrame side first: sink/source roundtrips stage files the
      // read-back depends on
      val rows = canon(df)
      val sqlDiff = q.oracle.filterNot(_ => dialectExceptions.contains(q.name))
        .flatMap { oracle =>
          val sql = sparkSqlOverrides.getOrElse(q.name, toSparkSql(oracle))
          try {
            val viaSql = canon(sqlSession.sql(sql))
            if (viaSql == rows) None
            else Some(s"MISMATCH sql=${viaSql.size} rows, df=${rows.size} " +
              "rows; first diff: " +
              viaSql.zipAll(rows, "<missing>", "<missing>")
                .find { case (a, b) => a != b }
                .map { case (a, b) => s"sql[$a] df[$b]" }.getOrElse("?"))
          } catch {
            case e: Exception =>
              Some(s"SQL side failed: ${e.getClass.getSimpleName} " +
                e.getMessage.linesIterator.take(2).mkString(" / ").take(300))
          }
        }
      Outcome(df.columns.length, plan.contains("CartesianProduct"),
        plan.contains("BroadcastNestedLoopJoin"), rows.size, sqlDiff)
    }

  @volatile private var outcomes = Map.empty[String, Future[Outcome]]

  override protected def runTests(testName: Option[String], args: Args): Status = {
    val selected = testName.fold(
      args.filter(testNames, tags, suiteId).collect { case (n, false) => n }.toSet
    )(Set(_))
    val queries = SparkEntry.all.filter(q => selected.exists(_.startsWith(s"${q.name}: ")))
    if (queries.isEmpty) return super.runTests(testName, args)
    val sqlSession = spark.newSession()
    sqlSession.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    sqlSession.conf.set("spark.sql.adaptive.enabled", "false")
    GraftCatalog.registerViews(sqlSession, sfTiny)
    val pool = Executors.newFixedThreadPool(8)
    try {
      outcomes = queries.map { q =>
        q.name -> pool.submit(new Callable[Outcome] {
          override def call(): Outcome = check(q, sqlSession)
        })
      }.toMap
      super.runTests(testName, args)
    } finally {
      pool.shutdownNow()
      outcomes = Map.empty
    }
  }

  for (q <- SparkEntry.all) {
    def outcome: Outcome =
      try outcomes(q.name).get()
      catch { case e: ExecutionException => throw e.getCause }
    val nl = if (allowNestedLoop(q.name)) "" else ", no nested-loop join"
    test(s"${q.name}: no cartesian product$nl") {
      assert(!outcome.cartesian, s"${q.name} plans a cartesian product")
      if (!allowNestedLoop(q.name))
        assert(!outcome.nestedLoop, s"${q.name} plans a nested-loop join")
    }
    test(s"${q.name}: plan executes at sf0.001") {
      assert(outcome.columns > 0, s"${q.name}: schema must resolve")
      if (!mayBeEmpty(q.name)) assert(outcome.rows > 0, s"${q.name} returned no rows")
    }
    if (q.oracle.isDefined && !dialectExceptions.contains(q.name))
      test(s"${q.name}: rows match its oracle run as Spark SQL") {
        outcome.sqlDiff.foreach(d => fail(s"${q.name}: $d"))
      }
  }
}
