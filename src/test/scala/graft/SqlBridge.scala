package graft

/** The DuckDB→Spark SQL bridge: turns a registry query's DuckDB oracle
  * into literal Spark SQL over the `GraftCatalog` views, so
  * `QueryRegistrySpec` can pin that a SQL-only client (the reference's
  * MLapp path, SURVEY §2.5) gets the same answers as the DataFrame API
  * across the whole surface, not just the three reference queries.
  *
  * The oracle strings are written for DuckDB; `toSparkSql` bridges the
  * dialect gap mechanically — function renames, `//`→`div`, aggregate
  * `FILTER` shorthand, `string_agg(… ORDER BY)`→`listagg WITHIN GROUP`,
  * and a bracket scanner that converts DuckDB's 1-based `arr[i]` /
  * `arr[lo:hi]` to `try_element_at` / `slice` (Spark's `[]` is 0-based —
  * a silent off-by-one if left untouched). The non-mechanical function
  * gaps (`list_reduce`, `len`, `strftime`, …) are real library functions
  * registered by `graft.functions.DialectShims`, so the bridged SQL runs
  * through the same Catalyst pipeline as any user query.
  *
  * Queries whose oracles lean on DuckDB features with no Spark spelling
  * at all go in `dialectExceptions` with the blocking feature named;
  * `QueryRegistrySpec` asserts those stay a small minority of the
  * oracle-backed registry.
  */
object SqlBridge {

  /** Mechanical DuckDB→Spark function renames (word-anchored). */
  private val renames: Seq[(String, String)] = Seq(
    "string_split_regex" -> "split",
    "string_split"       -> "split",
    "generate_series"    -> "sequence",
    "list_transform"     -> "transform",
    "list_filter"        -> "filter",
    "list_distinct"      -> "array_distinct",
    "list_sort"          -> "sort_array",
    "list_contains"      -> "array_contains",
    "list_max"           -> "array_max",
    "list_min"           -> "array_min",
    "list"               -> "collect_list",
    "array_to_string"    -> "array_join",
    "json_extract_string" -> "get_json_object",
    "unnest"             -> "explode",
    "encode"             -> "duck_encode")

  def toSparkSql(duck: String): String = {
    var s = duck
    // aggregate FILTER shorthand: DuckDB allows FILTER (cond); Spark
    // needs FILTER (WHERE cond). Protect already-explicit WHERE first.
    s = s.replace("FILTER (WHERE", "")
    s = s.replace("FILTER (", "FILTER (WHERE ")
    s = s.replace("", "FILTER (WHERE")
    // in-aggregate ORDER BY → WITHIN GROUP
    s = s.replaceAll(
      "(?i)string_agg\\(([^()]+?),\\s*('[^']*')\\s+ORDER BY\\s+([^()]+?)\\)",
      "listagg($1, $2) WITHIN GROUP (ORDER BY $3)")
    // DuckDB's 2-arg regexp_extract_all captures group 0; Spark defaults
    // to group 1 (and errors when the pattern has no groups)
    s = s.replaceAll("(?i)regexp_extract_all\\(([^()]+)\\)",
      "regexp_extract_all($1, 0)")
    // passes whose patterns legitimately SPAN a string literal (the
    // date_diff unit, the regexp 'g' flag) must see the full text
    s = s.replaceAll("(?i)DATE_DIFF\\('day',", "DATE_DIFF(DAY,")
    // DuckDB regexp_replace needs 'g' for replace-all; Spark always does
    s = s.replaceAll(",\\s*'g'\\)", ")")
    // purely textual rewrites run OUTSIDE string literals only: a '://'
    // inside a URL literal, or a literal containing a function name
    // ('please encode this'), must come through the bridge untouched
    s = mapOutsideLiterals(s) { seg =>
      var t = seg
      for ((from, to) <- renames)
        t = t.replaceAll(s"(?i)\\b$from\\b", to)
      t = t.replace("//", " div ")
      t = t.replaceAll("(?i)::VARCHAR", "::STRING")
      t = t.replaceAll("(?i)\\bAS VARCHAR\\b", "AS STRING")
      // DuckDB's 128-bit integer ↔ Spark's exact 128-bit decimal
      t = t.replaceAll("(?i)\\bAS HUGEINT\\b", "AS DECIMAL(38,0)")
      t = t.replaceAll("(?i)\\bapprox_quantile\\b", "approx_percentile")
      // IGNORE NULLS inside the call parens → Spark's boolean argument
      t.replaceAll("(?i) IGNORE NULLS\\)", ", true)")
    }
    s = rewriteBrackets(s)
    s
  }

  /** Apply `f` to the non-literal segments of `s` only (the same quote
    * toggling as `rewriteBrackets`, so both passes agree on what is a
    * string literal; SQL's '' escape scans as two adjacent literals,
    * which segments identically).
    */
  private def mapOutsideLiterals(s: String)(f: String => String): String = {
    val out = new StringBuilder
    var segStart = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\'') {
        if (inStr) out.append(s.substring(segStart, i + 1)) // literal incl. close quote
        else out.append(f(s.substring(segStart, i))).append('\'')
        segStart = i + 1
        inStr = !inStr
      }
      i += 1
    }
    out.append(
      if (inStr) s.substring(segStart) else f(s.substring(segStart)))
    out.toString
  }

  private val sqlKeywords: Set[String] = Set(
    "IN", "AND", "OR", "NOT", "THEN", "ELSE", "WHEN", "CASE", "END",
    "SELECT", "WHERE", "FROM", "ON", "AS", "BY", "IS", "LIKE", "BETWEEN",
    "EXISTS", "ALL", "ANY", "DISTINCT", "UNION", "INTERSECT", "EXCEPT",
    "HAVING", "VALUES", "RETURN", "USING", "OVER")

  /** Rewrite DuckDB bracket postfixes — 1-based, inclusive-end — into
    * Spark calls: `base[lo:hi]` → `slice(base, lo, hi-lo+1)` and
    * `base[i]` → `try_element_at(base, i)` (NULL out of range, like
    * DuckDB; Spark's own `[]` is 0-based so a plain pass-through would
    * be off by one). Array LITERALS `['a', 'b']` (no base expression
    * before the bracket) become `array('a', 'b')`. String literals are
    * skipped; brackets inside them (regex classes) are never touched.
    */
  private[graft] def rewriteBrackets(sql: String): String = {
    val s = sql
    var i = 0
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (c == '[' && !inStr) {
        // find matching ']' at bracket depth 0, skipping strings
        var j = i + 1; var depth = 1; var q = false
        while (j < s.length && depth > 0) {
          val cj = s.charAt(j)
          if (cj == '\'') q = !q
          else if (!q && cj == '[') depth += 1
          else if (!q && cj == ']') depth -= 1
          j += 1
        }
        require(depth == 0, s"unbalanced brackets in SQL: $sql")
        val content = s.substring(i + 1, j - 1)
        // base expression ends at the last non-space char before '['
        var b = i - 1
        while (b >= 0 && s.charAt(b).isWhitespace) b -= 1
        var hasBase = b >= 0 && (s.charAt(b) == ')' || s.charAt(b) == ']' ||
          s.charAt(b).isLetterOrDigit || s.charAt(b) == '_')
        // a KEYWORD before '[' means the bracket starts an array literal
        // (e.g. `x IN ['a','b']`), not a postfix index
        if (hasBase && (s.charAt(b).isLetter || s.charAt(b) == '_')) {
          var w = b
          while (w >= 0 && (s.charAt(w).isLetterOrDigit || s.charAt(w) == '_'))
            w -= 1
          val word = s.substring(w + 1, b + 1).toUpperCase
          if (sqlKeywords(word)) hasBase = false
        }
        if (!hasBase) {
          // array literal
          val out = s.substring(0, i) + "array(" + content + ")" + s.substring(j)
          return rewriteBrackets(out)
        }
        // walk back over the base expression: trailing )/] groups then
        // a dotted identifier (function name / column ref)
        var k = b
        while (k >= 0 && (s.charAt(k) == ')' || s.charAt(k) == ']')) {
          val close = s.charAt(k); val open = if (close == ')') '(' else '['
          var d = 1; var q2 = false; k -= 1
          while (k >= 0 && d > 0) {
            val ck = s.charAt(k)
            if (ck == '\'') q2 = !q2
            else if (!q2 && ck == close) d += 1
            else if (!q2 && ck == open) d -= 1
            k -= 1
          }
          require(d == 0, s"unbalanced base expression in SQL: $sql")
        }
        while (k >= 0 && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_' ||
          s.charAt(k) == '.')) k -= 1
        val base = s.substring(k + 1, i).trim
        // top-level ':' → slice, else index
        var d2 = 0; var q3 = false; var colon = -1
        for ((cc, ci) <- content.zipWithIndex if colon < 0) {
          if (cc == '\'') q3 = !q3
          else if (!q3 && (cc == '(' || cc == '[')) d2 += 1
          else if (!q3 && (cc == ')' || cc == ']')) d2 -= 1
          else if (!q3 && d2 == 0 && cc == ':') colon = ci
        }
        val call =
          if (colon >= 0) {
            val lo = content.substring(0, colon).trim
            val hi = content.substring(colon + 1).trim
            s"slice($base, $lo, ($hi) - ($lo) + 1)"
          } else s"try_element_at($base, $content)"
        val out = s.substring(0, k + 1) + call + s.substring(j)
        return rewriteBrackets(out)
      }
      i += 1
    }
    s
  }

  /** Hand-spelled Spark SQL for oracles whose DuckDB text resists the
    * mechanical bridge; still full literal-SQL result parity.
    */
  val sparkSqlOverrides: Map[String, String] = Map(
    // the DuckDB oracle spells the per-round re-segmentation as a
    // positional recursive CTE; Spark CANNOT run that chain — it has no
    // MATERIALIZED hint, so round N's recursion re-executes rounds
    // 1..N-1 PER ITERATION (UnionLoopExec, measured: still running at
    // 50+ min where DuckDB takes 2 s). The Spark spelling is the
    // `aggregate` HOF fold — the exact lambda the DataFrame operator
    // uses, non-recursive, one pass per round
    "text_bpe_merges" -> {
      def round(r: Int): String = s"""
        p$r AS (
          SELECT t[i-1] AS a, t[i] AS b, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, explode(sequence(1, size(t) - 1)) AS i, t
                FROM d${r - 1} WHERE size(t) >= 2) pr$r
          GROUP BY 1, 2),
        w$r AS (SELECT a, b, c FROM p$r
                ORDER BY c DESC, a ASC, b ASC LIMIT 1)"""
      def reseg(r: Int): String = s"""
        d$r AS (
          SELECT doc_id, aggregate(t, CAST(array() AS ARRAY<STRING>),
            (acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = w.a
                           AND x = w.b,
              concat(slice(acc, 1, size(acc) - 1),
                     array(concat(w.a, '¦', w.b))),
              concat(acc, array(x)))) AS t
          FROM d${r - 1} CROSS JOIN w$r w)"""
      s"""
      WITH d0 AS (
        SELECT doc_id, filter(split(text, ' '), t -> t <> '') AS t
        FROM documents),
      ${round(1)}, ${reseg(1)},
      ${round(2)}, ${reseg(2)},
      ${round(3)}
      SELECT 1 AS r, a AS left_tok, b AS right_tok, c AS pair_count FROM w1
      UNION ALL
      SELECT 2 AS r, a, b, c FROM w2
      UNION ALL
      SELECT 3 AS r, a, b, c FROM w3
      ORDER BY r
    """
    },
    // same HOF-fold spelling as text_bpe_merges (chained recursive CTEs
    // are exponential in Spark), plus the final per-doc join of raw vs
    // encoded segmentations
    "text_bpe_encode" -> {
      def round(r: Int): String = s"""
        p$r AS (
          SELECT t[i-1] AS a, t[i] AS b, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, explode(sequence(1, size(t) - 1)) AS i, t
                FROM d${r - 1} WHERE size(t) >= 2) pr$r
          GROUP BY 1, 2),
        w$r AS (SELECT a, b, c FROM p$r
                ORDER BY c DESC, a ASC, b ASC LIMIT 1)"""
      def reseg(r: Int): String = s"""
        d$r AS (
          SELECT doc_id, aggregate(t, CAST(array() AS ARRAY<STRING>),
            (acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = w.a
                           AND x = w.b,
              concat(slice(acc, 1, size(acc) - 1),
                     array(concat(w.a, '¦', w.b))),
              concat(acc, array(x)))) AS t
          FROM d${r - 1} CROSS JOIN w$r w)"""
      s"""
      WITH d0 AS (
        SELECT doc_id, filter(split(text, ' '), t -> t <> '') AS t
        FROM documents),
      ${round(1)}, ${reseg(1)},
      ${round(2)}, ${reseg(2)},
      ${round(3)}, ${reseg(3)}
      SELECT d0.doc_id, size(d0.t) AS n_raw, size(d3.t) AS n_bpe,
             CASE WHEN size(d3.t) = 0 THEN NULL
                  ELSE CAST(size(d0.t) - size(d3.t) AS BIGINT) * 1000000L
                       DIV size(d0.t) END AS saved_ppm,
             md5(array_join(d3.t, ' ')) AS tok_md5
      FROM d0 JOIN d3 ON d0.doc_id = d3.doc_id
      ORDER BY d0.doc_id
    """
    },
    // the DuckDB oracle's hex cast again (Spark needs conv()); same
    // one-shot KMV math otherwise
    "agg_sketch_store" -> """
      WITH dk AS (
        SELECT DISTINCT o_orderpriority AS grp, o_custkey FROM orders),
      h AS (
        SELECT DISTINCT grp,
               CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15),
                 16, 10) AS BIGINT) AS h
        FROM dk),
      sk AS (
        SELECT grp, h FROM (
          SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
          FROM h) t WHERE rn <= 64),
      per_grp AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS m,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE (63.0 * 1152921504606846976.0) / CAST(MAX(h) AS DOUBLE)
               END AS est_distinct
        FROM sk GROUP BY grp),
      ex AS (
        SELECT o_orderpriority AS grp,
               COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY o_orderpriority)
      SELECT grp, m, est_distinct, exact_distinct
      FROM per_grp JOIN ex USING (grp)
      ORDER BY grp
    """,
    // the DuckDB oracle's '0x…'::BIGINT hex cast has no Spark spelling
    // (Spark needs conv()); same exact-geometric DP draw otherwise
    "curate_dp_release" -> {
      def geom(salt: String): String = {
        val m1 = s"(CAST(conv(substring(md5(concat(lang, ':', source, " +
          s"':$salt')), 1, 5), 16, 10) AS BIGINT) + 1)"
        s"((20 * ${ops.IntMath.FP}L - (${ops.IntMath.lg2fp(m1)})) " +
          s"div ${ops.IntMath.FP}L)"
      }
      s"""
      WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source)
      SELECT lang, source,
             GREATEST(CAST(0 AS BIGINT),
               n + ${geom("dp1")} - ${geom("dp2")}) AS released
      FROM cells ORDER BY lang, source
    """
    },
    // the DuckDB oracle's '0x…'::BIGINT hex cast has no Spark spelling
    // (Spark needs conv()); same theta-sketch math otherwise
    "agg_kmv_setops" -> """
      WITH base AS (
        SELECT DISTINCT CASE WHEN o_orderstatus = 'F' THEN 'a' ELSE 'b' END AS side,
               o_custkey
        FROM orders WHERE o_orderstatus IN ('F', 'O')),
      h AS (
        SELECT DISTINCT side,
               CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15),
                 16, 10) AS BIGINT) AS h
        FROM base),
      sk AS (
        SELECT side, h FROM (
          SELECT side, h,
                 ROW_NUMBER() OVER (PARTITION BY side ORDER BY h) AS rn
          FROM h) t WHERE rn <= 64),
      th AS (
        SELECT MIN(thr) AS theta FROM (
          SELECT CASE WHEN COUNT(*) < 64 THEN 1152921504606846976
                      ELSE MAX(h) END AS thr
          FROM sk GROUP BY side) x),
      trimmed AS (
        SELECT COALESCE(a.h, b.h) AS h,
               a.h IS NOT NULL AS ina, b.h IS NOT NULL AS inb, theta
        FROM (SELECT h FROM sk WHERE side = 'a') a
        FULL OUTER JOIN (SELECT h FROM sk WHERE side = 'b') b ON a.h = b.h
        CROSS JOIN th
        WHERE COALESCE(a.h, b.h) < theta),
      cnts AS (
        SELECT theta,
               CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS c_intersect,
               CAST(SUM(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT) AS c_diff_ab,
               CAST(SUM(CASE WHEN inb AND NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS c_diff_ba,
               CAST(COUNT(*) AS BIGINT) AS c_union
        FROM trimmed GROUP BY theta),
      ex AS (
        SELECT CAST(SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_intersect,
               CAST(SUM(CASE WHEN ka IS NOT NULL AND kb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_diff_ab,
               CAST(SUM(CASE WHEN ka IS NULL AND kb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_diff_ba,
               CAST(COUNT(*) AS BIGINT) AS e_union
        FROM (SELECT o_custkey AS ka FROM base WHERE side = 'a') a
        FULL OUTER JOIN (SELECT o_custkey AS kb FROM base WHERE side = 'b') b
          ON a.ka = b.kb),
      one AS (SELECT * FROM cnts CROSS JOIN ex)
      SELECT measure, c_trim, est, exact FROM (
        SELECT 'diff_ab' AS measure, c_diff_ab AS c_trim,
               (CAST(c_diff_ab AS DOUBLE) * 1152921504606846976.0) /
                 CAST(theta AS DOUBLE) AS est,
               e_diff_ab AS exact FROM one
        UNION ALL
        SELECT 'diff_ba', c_diff_ba,
               (CAST(c_diff_ba AS DOUBLE) * 1152921504606846976.0) /
                 CAST(theta AS DOUBLE), e_diff_ba FROM one
        UNION ALL
        SELECT 'intersect', c_intersect,
               (CAST(c_intersect AS DOUBLE) * 1152921504606846976.0) /
                 CAST(theta AS DOUBLE), e_intersect FROM one
        UNION ALL
        SELECT 'union', c_union,
               (CAST(c_union AS DOUBLE) * 1152921504606846976.0) /
                 CAST(theta AS DOUBLE), e_union FROM one) u
      ORDER BY measure
    """,
    // the DuckDB oracle's 128-bit exact Σy² rides HUGEINT (no Spark
    // spelling); Spark's exact 128-bit integer is DECIMAL(38,0) — the
    // same math the DataFrame operator uses
    "stats_corr" -> """
      WITH pts AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        FROM lineitem),
      sums AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xc) AS BIGINT) AS sx,
               SUM(CAST(yc AS DECIMAL(38,0))) AS sy,
               SUM(CAST(xc * yc AS DECIMAL(38,0))) AS sxy,
               SUM(CAST(xc * xc AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(yc AS DECIMAL(38,0)) * yc) AS syy_dec
        FROM pts GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
              CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              sqrt(CAST(n AS DOUBLE) * CAST(syy_dec AS DOUBLE) -
                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_price
      FROM sums ORDER BY l_returnflag
    """,
    // same HUGEINT → DECIMAL(38,0) respelling for the power sums
    "stats_moments" -> """
      WITH pts AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        FROM lineitem),
      sums AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xc) AS BIGINT) AS sx,
               CAST(SUM(xc * xc) AS BIGINT) AS s2,
               SUM(CAST(xc * xc * xc AS DECIMAL(38,0))) AS s3,
               SUM(CAST(xc * xc * xc * xc AS DECIMAL(38,0))) AS s4
        FROM pts GROUP BY l_returnflag),
      m AS (
        SELECT *, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean
        FROM sums),
      c AS (
        SELECT l_returnflag, n, mean,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean AS m2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
                 3 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
                 2 * mean * mean * mean AS m3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
                 4 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
                 6 * mean * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
                 3 * mean * mean * mean * mean AS m4
        FROM m)
      SELECT l_returnflag, n, mean,
             m3 / (m2 * sqrt(m2)) AS skewness,
             m4 / (m2 * m2) - 3 AS kurtosis
      FROM c ORDER BY l_returnflag
    """,
    // '0x…'::BIGINT hex cast → conv(); same CMS grid math
    "agg_cms_freq" -> """
      WITH keyed AS (
        SELECT o_orderpriority AS key, d,
               CAST(conv(substring(md5(CAST(d AS STRING) || ':' || o_orderpriority), 1, 8), 16, 10) AS BIGINT) % 1024 AS b
        FROM orders CROSS JOIN (SELECT explode(sequence(0, 3)) AS d)),
      grid AS (
        SELECT d, b, COUNT(*) AS cnt FROM keyed GROUP BY d, b),
      probes AS (
        SELECT DISTINCT key, d, b FROM keyed),
      est AS (
        SELECT key, MIN(cnt) AS cms_est
        FROM probes JOIN grid USING (d, b) GROUP BY key),
      exact AS (
        SELECT o_orderpriority AS key, COUNT(*) AS exact_cnt
        FROM orders GROUP BY 1)
      SELECT key, cms_est, exact_cnt, cms_est - exact_cnt AS overcount
      FROM est JOIN exact USING (key)
      ORDER BY key
    """,
    // the DuckDB oracle leans on QUALIFY (no Spark spelling) and the
    // '0x…'::BIGINT hex cast (Spark needs conv()); same KMV math
    "agg_kmv_distinct" -> """
      WITH dk AS (
        SELECT DISTINCT o_orderstatus AS grp, o_custkey FROM orders),
      h AS (
        SELECT DISTINCT grp,
               CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15),
                 16, 10) AS BIGINT) AS h
        FROM dk),
      sk AS (
        SELECT grp, h, rn FROM (
          SELECT grp, h,
                 ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
          FROM h) t WHERE rn <= 64),
      per_grp AS (
        SELECT grp, COUNT(*) AS m,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE (63.0 * 1152921504606846976.0) / CAST(MAX(h) AS DOUBLE)
               END AS est_distinct
        FROM sk GROUP BY grp),
      msk AS (
        SELECT h, rn FROM (
          SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
          FROM (SELECT DISTINCT h FROM sk) u) t WHERE rn <= 64),
      mrg AS (
        SELECT '__union' AS grp, COUNT(*) AS m,
               CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE (63.0 * 1152921504606846976.0) / CAST(MAX(h) AS DOUBLE)
               END AS est_distinct
        FROM msk),
      ex AS (
        SELECT o_orderstatus AS grp,
               COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT '__union', COUNT(DISTINCT o_custkey) FROM orders),
      allsk AS (
        SELECT grp, m, est_distinct FROM per_grp
        UNION ALL SELECT grp, m, est_distinct FROM mrg)
      SELECT a.grp, a.m, a.est_distinct, ex.exact_distinct
      FROM allsk a JOIN ex USING (grp)
      ORDER BY a.grp
    """)

  /** Oracle-backed queries with no Spark SQL spelling; the blocking
    * dialect feature is named. Must stay a small minority.
    */
  val dialectExceptions: Map[String, String] = Map(
    "dedup_clusters" ->
      ("recursive CTE fixpoint uses UNION (distinct) for cycle " +
        "termination; Spark 4.1 recursive CTEs support only UNION ALL, " +
        "which diverges on cyclic graphs"),
    "dedup_semantic" ->
      ("same recursive-CTE UNION limitation (connected components for " +
        "duplicate-cluster transitivity)"),
    "dedup_savings" ->
      ("same recursive-CTE UNION limitation (the savings card runs " +
        "connected components for its cluster counts)"),
    "graph_reach" ->
      ("the oracle IS a WITH RECURSIVE UNION-distinct walk (the operator " +
        "exists precisely because Spark 4.1 cannot run it as SQL)"))
}
