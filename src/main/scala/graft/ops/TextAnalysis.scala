package graft.ops

import graft.{GraftQuery, Knobs, Materialize, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operator family over `documents` (SURVEY.md §2.8): token
  * statistics, n-gram-heuristic language ID, quality scoring, tf-idf term
  * weighting, and document fingerprinting.
  *
  * Cross-engine determinism rules used throughout:
  *  - ratios are single IEEE divisions of exactly-representable integers
  *    (bit-identical on any engine), and weighted sums are written with
  *    the same left-to-right association on both sides;
  *  - tf-idf uses the inverse-document-frequency *ratio* N/df rather than
  *    ln(N/df): libm log implementations differ by ULPs across engines,
  *    a ratio is correctly-rounded IEEE everywhere (ranking unchanged for
  *    fixed tf since x ↦ ln is monotone);
  *  - fingerprints are md5-based (identical hex in Spark and DuckDB).
  *
  * Scale notes (100 TB): every query is scan → per-row codegen'd
  * projection (token stats, lang-id, quality) or scan → explode →
  * hash-agg on (doc_id, token) — all map-side combinable, shuffling
  * only (id, token, count) triples, never document bodies. The tf-idf
  * document-frequency join broadcasts the df side when the vocabulary
  * is small; at web-scale vocabularies it shuffles on `tok`, which is
  * the standard partition-by-term layout.
  */
object TextAnalysis extends QueryModule {

  private[ops] val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "que"),
    "fr" -> Seq("le", "les", "et", "une", "dans"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  /** Documents with per-language stop-word scores and the argmax
    * `pred_lang` — shared by `text_lang_id` (per-doc output) and
    * `stats_confusion_matrix` (the aggregated eval view), so the
    * heuristic has exactly one definition.
    */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
    val withScores = stop.foldLeft(scored) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang",
        expr(s"size(filter(toks, t -> t IN ${inList(words)}))").cast("long"))
    }
    withScores.withColumn("pred_lang",
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
           col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
              col("s_de") >= col("s_zh"), "de")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh"))
  }

  /** SQL twins of `langScored`'s pieces — one definition each, shared
    * by the text_lang_id and stats_confusion_matrix oracles.
    */
  private lazy val langScoredSql: String = s"""
        scored AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("en"))})) AS BIGINT) AS s_en,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("de"))})) AS BIGINT) AS s_de,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("es"))})) AS BIGINT) AS s_es,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("fr"))})) AS BIGINT) AS s_fr,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("zh"))})) AS BIGINT) AS s_zh
          FROM documents)"""

  private val langCaseSql: String = """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END"""

  private[ops] def inList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** Content-domain keyword profiles for `text_domain_classifier`
    * (disjoint lists; tuned to the synthetic corpus lexicon the same
    * way the `stop` profiles are).
    */
  private[ops] val domains = Map(
    "relational" -> Seq("table", "join", "key", "merge", "sort", "group", "agg"),
    "streaming"  -> Seq("stream", "batch", "window", "filter"),
    "vector"     -> Seq("vector", "hash", "column", "scan"))

  override def queries: Seq[GraftQuery] = Seq(

    // ───── whitespace + regex + BPE-ish token counting ─────
    GraftQuery(
      "text_token_stats",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
            // zero-token guard mirrors the oracle's CASE WHEN: an empty/
            // whitespace-only document must yield NULL on both engines,
            // not an ANSI divide error / IEEE infinity divergence
            when(size(col("toks")) === 0, lit(null).cast("double"))
              .otherwise(
                expr("aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)")
                  .cast("double") / size(col("toks"))).as("avg_token_len"),
            size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
              .as("n_word_runs"),
            expr("(length(text) + 3) div 4").cast("long").as("est_bpe_tokens"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct,
               CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) = 0 THEN NULL
                    ELSE list_reduce(list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                      t -> length(t)), (a, x) -> a + x)::DOUBLE
                      / len(list_filter(string_split(text, ' '), t -> t <> '')) END AS avg_token_len,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_runs,
               CAST((length(text) + 3) // 4 AS BIGINT) AS est_bpe_tokens
        FROM documents ORDER BY doc_id
      """)),

    // ───── stopword-profile language ID ─────
    // Score = stopword hits per language profile; argmax with a fixed
    // priority order (en > de > es > fr > zh) for ties. The synthetic
    // corpus is English-lexicon, so predictions skew 'en' — the operator
    // contract is the scoring semantics, which the oracle twins exactly.
    GraftQuery(
      "text_lang_id",
      (s, d) =>
        langScored(s, d)
          .select(col("doc_id"), col("s_en"), col("s_de"), col("s_es"),
            col("s_fr"), col("s_zh"), col("pred_lang"), col("lang"),
            (col("pred_lang") === col("lang")).as("is_match"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH $langScoredSql
        SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
               $langCaseSql AS pred_lang,
               lang,
               $langCaseSql = lang AS is_match
        FROM scored ORDER BY doc_id
      """)),

    // ───── the eval confusion matrix over the lang-id heuristic ─────
    // The model-evaluation view every classifier ships with: actual ×
    // predicted counts plus each cell's share of its actual-class row
    // (recall lives on the diagonal), shares in integer ppm so the
    // matrix is bit-stable. One narrow scoring projection (the SAME
    // langScored definition as text_lang_id — the heuristic cannot
    // drift between the per-doc and aggregated views), one tiny
    // (actual, predicted) count shuffle, one window over the ≤25-row
    // matrix.
    GraftQuery(
      "stats_confusion_matrix",
      (s, d) => {
        val m = langScored(s, d)
          .groupBy(col("lang").as("actual"),
            col("pred_lang").as("predicted"))
          .agg(count(lit(1)).as("n"))
        m.withColumn("row_ppm",
            expr("n * 1000000L DIV sum(n) OVER (PARTITION BY actual)"))
          .orderBy(col("actual"), col("predicted"))
      },
      Some(s"""
        WITH $langScoredSql,
        m AS (
          SELECT lang AS actual, $langCaseSql AS predicted, COUNT(*) AS n
          FROM scored GROUP BY 1, 2)
        SELECT actual, predicted, n,
               CAST(n * 1000000 // SUM(n) OVER (PARTITION BY actual)
                 AS BIGINT) AS row_ppm
        FROM m ORDER BY actual, predicted
      """)),

    // ───── rule-based content-domain tagging (feeds domain mixing) ─────
    // The content-derived domain signal `curate_domain_mix` would consume
    // in production (where `source` is unreliable or absent): keyword-hit
    // counts per domain profile, argmax with a fixed priority order for
    // ties, 'unknown' when no profile fires. Same scoring semantics and
    // scale shape as text_lang_id — one narrow codegen'd projection,
    // zero shuffles beyond the output sort; profiles are plan literals
    // (at production scale a learned classifier replaces the lists, the
    // dataflow is unchanged).
    GraftQuery(
      "text_domain_classifier",
      (s, d) => {
        val scored = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
        val withScores = domains.foldLeft(scored) { case (df, (dom, words)) =>
          df.withColumn(s"s_$dom",
            expr(s"size(filter(toks, t -> t IN ${inList(words)}))").cast("long"))
        }
        withScores
          .withColumn("pred_domain",
            when(col("s_relational") === 0 && col("s_streaming") === 0 &&
                 col("s_vector") === 0, "unknown")
              .when(col("s_relational") >= col("s_streaming") &&
                    col("s_relational") >= col("s_vector"), "relational")
              .when(col("s_streaming") >= col("s_vector"), "streaming")
              .otherwise("vector"))
          .select(col("doc_id"), col("s_relational"), col("s_streaming"),
            col("s_vector"), col("pred_domain"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH scored AS (
          SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(domains("relational"))})) AS BIGINT) AS s_relational,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(domains("streaming"))})) AS BIGINT) AS s_streaming,
            CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(domains("vector"))})) AS BIGINT) AS s_vector
          FROM documents)
        SELECT doc_id, s_relational, s_streaming, s_vector,
               CASE WHEN s_relational = 0 AND s_streaming = 0 AND s_vector = 0 THEN 'unknown'
                    WHEN s_relational >= s_streaming AND s_relational >= s_vector THEN 'relational'
                    WHEN s_streaming >= s_vector THEN 'streaming'
                    ELSE 'vector' END AS pred_domain
        FROM scored ORDER BY doc_id
      """)),

    // ───── quality scoring: length / lexical-diversity / stopword ratios ─────
    GraftQuery(
      "text_quality",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
          .withColumn("n_tokens", size(col("toks")).cast("long"))
          .withColumn("sw_hits",
            expr(s"size(filter(toks, t -> t IN ${inList(stop("en"))}))").cast("long"))
          .withColumn("alpha_chars",
            length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
          .select(
            col("doc_id"),
            col("n_tokens"),
            // zero guards mirror the oracle CASE WHENs: empty documents
            // yield NULL ratios on both engines (never an ANSI divide
            // error or IEEE infinity divergence)
            when(col("n_tokens") === 0, lit(null).cast("double"))
              .otherwise(col("sw_hits").cast("double") / col("n_tokens"))
              .as("stopword_ratio"),
            when(length(col("text")) === 0, lit(null).cast("double"))
              .otherwise(col("alpha_chars").cast("double") / length(col("text")))
              .as("alpha_ratio"),
            when(col("n_tokens") === 0, lit(null).cast("double"))
              .otherwise(size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
              .as("distinct_ratio"),
            // weighted score: same left-to-right association on both sides
            when(col("n_tokens") === 0 || length(col("text")) === 0,
                lit(null).cast("double"))
              .otherwise(
                (col("sw_hits").cast("double") / col("n_tokens")) * 0.3 +
                  (col("alpha_chars").cast("double") / length(col("text"))) * 0.4 +
                  least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3)
              .as("quality_score"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH q AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split(text, ' '), t -> t IN ${inList(stop("en"))})) AS BIGINT) AS sw_hits,
                 CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
                 CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct,
                 length(text) AS n_chars
          FROM documents)
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens = 0 THEN NULL
                    ELSE sw_hits::DOUBLE / n_tokens END AS stopword_ratio,
               CASE WHEN n_chars = 0 THEN NULL
                    ELSE alpha_chars::DOUBLE / n_chars END AS alpha_ratio,
               CASE WHEN n_tokens = 0 THEN NULL
                    ELSE n_distinct::DOUBLE / n_tokens END AS distinct_ratio,
               CASE WHEN n_tokens = 0 OR n_chars = 0 THEN NULL
                    ELSE (sw_hits::DOUBLE / n_tokens) * 0.3
                      + (alpha_chars::DOUBLE / n_chars) * 0.4
                      + LEAST(n_tokens::DOUBLE / 100.0, 1.0) * 0.3 END AS quality_score
        FROM q ORDER BY doc_id
      """)),

    // ───── tf-idf: top-3 weighted terms per document ─────
    // The document-frequency table is corpus-derived (one row per
    // distinct token) — at web scale the vocabulary is tens of GB,
    // dominated by hapax tokens (typos, IDs, hashes). So the df join is
    // a plain shuffled equi-join on the token (NO broadcast hint; AQE
    // still auto-broadcasts at runtime when df measures small), and
    // `Knobs.tfidfMinDf` bounds the vocabulary by construction:
    // tokens with df < minDf are dropped from the ranking. minDf=2
    // alone removes the hapax tail that dominates a web-scale vocab.
    GraftQuery(
      "text_tfidf",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfreqAll = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val minDf = Knobs.tfidfMinDf.get(s)
        val dfreq =
          if (minDf <= 1) dfreqAll else dfreqAll.filter(col("df") >= minDf)
        // corpus size stays executor-side: 1-row agg broadcast, no collect()
        val nDf = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok").asc)
        toks.join(dfreq, "tok")
          .crossJoin(broadcast(nDf))
          .withColumn("tfidf", col("tf").cast("double") * col("n") / col("df"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            col("tfidf"), col("rnk"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> '' GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, tok, tf, df, tfidf, rnk FROM (
          SELECT doc_id, tok, tf, df,
                 tf::DOUBLE * n.n / df AS tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tf::DOUBLE * n.n / df DESC, tok ASC) AS rnk
          FROM toks JOIN dfreq USING (tok) CROSS JOIN n) t
        WHERE rnk <= 3
        ORDER BY doc_id, rnk
      """)),

    // ───── PII scrub: email/phone detection + deterministic redaction ─────
    // The standard pre-release scrub step for a training corpus. Both
    // patterns are RE2-compatible, so the Java-regex (Spark) and RE2
    // (DuckDB) engines match identically; Spark's regexp_replace is
    // global by default, the oracle passes the 'g' flag.
    GraftQuery(
      "text_pii_scrub",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
        Tables.documents(s, d).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(phone), lit(0)))
            .cast("long").as("n_phones"),
          regexp_replace(
            regexp_replace(col("text"), lit(email), lit("<EMAIL>")),
            lit(phone), lit("<PHONE>")).as("redacted"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
        FROM documents ORDER BY doc_id
      """)),

    // ───── document fingerprinting: content digest + min-shingle + SimHash ─────
    GraftQuery(
      "text_fingerprint",
      (s, d) => {
        val mins = Dedup.shingles(s, d)
          .groupBy(col("doc_id"))
          .agg(min(md5(col("shingle"))).as("min_shingle_hash"))
        Tables.documents(s, d)
          .select(col("doc_id"), md5(col("text")).as("content_md5"))
          .join(mins, "doc_id")
          .join(Dedup.simhashSignatures(s, d).withColumnRenamed("sig", "simhash"),
            "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH shingles AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, UNNEST(list_transform(
              generate_series(1, len(string_split(text, ' ')) - 1),
              i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
            )) AS shingle
            FROM documents)
          GROUP BY doc_id, shingle),
        mins AS (
          SELECT doc_id, MIN(md5(shingle)) AS min_shingle_hash
          FROM shingles GROUP BY doc_id),
        toks AS (
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
        sh AS (
          SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
          FROM bits GROUP BY doc_id)
        SELECT d.doc_id, md5(d.text) AS content_md5, m.min_shingle_hash, sh.simhash
        FROM documents d
        JOIN mins m ON d.doc_id = m.doc_id
        JOIN sh ON d.doc_id = sh.doc_id
        ORDER BY d.doc_id
      """)),

    // ───── canonical text normalization (NFC + case + whitespace) ─────
    // The first stage of any cleaning pipeline: Unicode NFC (composed
    // form — "café" in NFD and NFC must hash identically downstream),
    // lowercase, whitespace collapse, trim. NFC runs as the native
    // codegen'd `nfc_normalize` expression (graft.functions.NfcNormalize
    // — Spark has no normalization builtin and a UDF would break
    // whole-stage codegen on the hottest projection in the pipeline);
    // DuckDB's built-in nfc_normalize is the oracle twin — both
    // implement the Unicode canonical-composition algorithm, so the
    // md5 of the normalized text is compared too, pinning byte equality.
    // The whitespace class is EXPLICIT ([ \t\n\r\x0B\f]) rather than
    // \s: Java and RE2 disagree on \s (\x0B), an explicit class means
    // the same bytes on both engines. Case mapping is each engine's
    // lower(); they agree on ASCII and the vast majority of Unicode but
    // NOT on a handful of full-vs-simple-mapping codepoints (U+0130,
    // contextual final sigma) — corpora in those scripts should
    // lowercase with a dedicated locale-aware pass before this op.
    // Purely narrow (zero exchanges) — scan-speed at any corpus size.
    GraftQuery(
      "text_normalize",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            trim(regexp_replace(expr("nfc_normalize(lower(text))"),
              lit("[ \\t\\n\\r\\x0B\\f]+"), lit(" "))).as("norm_text"))
          .select(col("doc_id"), col("norm_text"),
            length(col("norm_text")).cast("long").as("n_norm_chars"),
            md5(col("norm_text")).as("norm_md5"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, norm_text,
               CAST(length(norm_text) AS BIGINT) AS n_norm_chars,
               md5(norm_text) AS norm_md5
        FROM (
          SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(lower(text)), '[ \t\n\r\x0B\f]+', ' ', 'g')) AS norm_text
          FROM documents)
        ORDER BY doc_id
      """)),

    // ───── repetition metrics (Gopher-style quality rules) ─────
    // Machine-generated and boilerplate text repeats itself; the
    // standard corpus-quality rules threshold on (a) the fraction of
    // word n-grams that are duplicates and (b) the share of the most
    // frequent 2-gram. Duplicate fractions are NARROW per-row array
    // math (size - distinct over the gram list — zero exchanges); the
    // top 2-gram needs occurrence counts, so it goes explode →
    // hash-agg on (doc_id, gram) — map-side combinable, shuffling only
    // (id, gram, count) — then a per-doc window top-1 with a total
    // order (count desc, gram desc) so both engines pick the same gram
    // on ties. Fractions are single IEEE divisions of exact ints.
    GraftQuery(
      "text_repetition",
      (s, d) => {
        // barrier: the gram arrays feed four consumers (counts, distinct
        // counts, the explode) — without it projection collapse
        // re-substitutes the transform() per use and the arrays build 4×
        val toks = graft.Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("bg", when(size(col("toks")) >= 2, expr(
            "transform(sequence(0, size(toks)-2), i -> " +
              "concat(toks[i], ' ', toks[i+1]))"))
            .otherwise(expr("array()")))
          .withColumn("tg", when(size(col("toks")) >= 3, expr(
            "transform(sequence(0, size(toks)-3), i -> " +
              "concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
            .otherwise(expr("array()"))))
        val narrow = toks.select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          size(col("bg")).cast("long").as("n_bigrams"),
          (size(col("bg")) - size(array_distinct(col("bg")))).cast("long")
            .as("n_dup_bigrams"),
          when(size(col("bg")) === 0, lit(null).cast("double"))
            .otherwise((size(col("bg")) - size(array_distinct(col("bg"))))
              .cast("double") / size(col("bg"))).as("dup_bigram_frac"),
          when(size(col("tg")) === 0, lit(null).cast("double"))
            .otherwise((size(col("tg")) - size(array_distinct(col("tg"))))
              .cast("double") / size(col("tg"))).as("dup_trigram_frac"))
        val wTop = Window.partitionBy(col("doc_id"))
          .orderBy(col("cnt").desc, col("gram").desc)
        val top = toks
          .select(col("doc_id"), explode(col("bg")).as("gram"))
          .groupBy(col("doc_id"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("gram").as("top_bigram"),
            col("cnt").as("top_bigram_cnt"))
        narrow.join(top, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"), col("n_bigrams"),
            col("n_dup_bigrams"), col("dup_bigram_frac"),
            col("dup_trigram_frac"), col("top_bigram"),
            col("top_bigram_cnt"),
            when(col("n_bigrams") === 0, lit(null).cast("double"))
              .otherwise(col("top_bigram_cnt").cast("double")
                / col("n_bigrams")).as("top_bigram_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        lists AS (
          SELECT doc_id, t,
            CASE WHEN len(t) >= 2 THEN list_transform(
              generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
              ELSE [] END AS bg,
            CASE WHEN len(t) >= 3 THEN list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS tg
          FROM toks),
        narrow AS (
          SELECT doc_id,
            CAST(len(t) AS BIGINT) AS n_words,
            CAST(len(bg) AS BIGINT) AS n_bigrams,
            CAST(len(bg) - len(list_distinct(bg)) AS BIGINT) AS n_dup_bigrams,
            CASE WHEN len(bg) = 0 THEN NULL ELSE
              (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg) END
              AS dup_bigram_frac,
            CASE WHEN len(tg) = 0 THEN NULL ELSE
              (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg) END
              AS dup_trigram_frac
          FROM lists),
        cnts AS (
          SELECT doc_id, gram, COUNT(*) AS cnt
          FROM (SELECT doc_id, UNNEST(bg) AS gram FROM lists) g
          GROUP BY doc_id, gram),
        top AS (
          SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_cnt FROM (
            SELECT doc_id, gram, cnt, ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
            FROM cnts) r WHERE rn = 1)
        SELECT n.doc_id, n_words, n_bigrams, n_dup_bigrams,
               dup_bigram_frac, dup_trigram_frac, top_bigram,
               top_bigram_cnt,
               CASE WHEN n_bigrams = 0 THEN NULL ELSE
                 top_bigram_cnt::DOUBLE / n_bigrams END AS top_bigram_frac
        FROM narrow n LEFT JOIN top USING (doc_id)
        ORDER BY doc_id
      """)),

    // ───── BM25 ranked retrieval over a fixed keyword query ─────
    // The Okapi BM25 score (Robertson & Zaragoza 2009) with the
    // rational idf N/df (same substitution text_tfidf makes — ln() is
    // libm, whose last bit differs across engines, so it can never
    // hash-match; N/df preserves the ranking's df-monotonicity) and
    // k1=1.2, b=0.75. Cross-engine determinism discipline (the
    // agg_regression pattern): every float value is ONE identical IEEE
    // expression tree over exact integer inputs (tf, df, dl, N, total
    // tokens) — each term's score involves two divisions and a fixed
    // multiply/add chain, and the 3-term fusion is a FIXED-ORDER
    // three-way add over pivoted per-term columns, never a SUM() whose
    // accumulation order the partitioning picks.
    // Scale: tf rows exist only for (doc, query-term) hits — the
    // posting lists of 3 terms, not the corpus vocabulary; dl/total
    // are one narrow token-count aggregation; df and N arrive as
    // broadcast aggs. Top-20 is a TakeOrdered heap, no global sort.
    GraftQuery(
      "text_bm25",
      (s, d) => {
        val terms = Seq("join", "filter", "group")
        val t1 = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        val tf = t1.filter(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val dl = t1.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val tot = t1.agg(count(lit(1)).as("tot"))
        val nDf = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        // score = (N/df) · tf(k1+1) / (tf + k1(1−b + b·dl·N/tot)) with
        // k1 = 6/5, b = 3/4. Clearing denominators gives ONE division
        // over exact integer products:
        //   44·tf·N·tot / (df·(20·tf·tot + 6·tot + 18·dl·N))
        // — a nested float formulation differed from DuckDB by 1 ULP
        // (vectorized evaluation fuses differently); a single IEEE
        // division over exactly-represented integers cannot.
        val score =
          (lit(44L) * col("tf") * col("n") * col("tot")).cast("double") /
            (col("df") * (lit(20L) * col("tf") * col("tot") +
              lit(6L) * col("tot") +
              lit(18L) * col("dl") * col("n"))).cast("double")
        val scored = tf.join(dfq, "tok").join(dl, "doc_id")
          .crossJoin(broadcast(nDf)).crossJoin(broadcast(tot))
          .withColumn("score", score)
        def termCol(t: String) = coalesce(
          max(when(col("tok") === t, col("score"))), lit(0.0))
        scored.groupBy(col("doc_id"))
          .agg(termCol("join").as("s_join"), termCol("filter").as("s_filter"),
            termCol("group").as("s_group"))
          .withColumn("bm25",
            col("s_join") + col("s_filter") + col("s_group"))
          .orderBy(col("bm25").desc, col("doc_id").asc)
          .limit(20)
      },
      Some("""
        WITH t1 AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents) u
          WHERE tok <> ''),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM t1
          WHERE tok IN ('join', 'filter', 'group')
          GROUP BY doc_id, tok),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM t1 GROUP BY doc_id),
        tot AS (SELECT COUNT(*) AS tot FROM t1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        scored AS (
          SELECT f.doc_id, f.tok,
                 (44 * f.tf * n.n * tot.tot)::DOUBLE /
                   (d.df * (20 * f.tf * tot.tot + 6 * tot.tot
                     + 18 * l.dl * n.n))::DOUBLE AS score
          FROM tf f JOIN dfq d USING (tok) JOIN dl l USING (doc_id)
          CROSS JOIN n CROSS JOIN tot),
        piv AS (
          SELECT doc_id,
                 COALESCE(MAX(CASE WHEN tok = 'join' THEN score END), 0.0)
                   AS s_join,
                 COALESCE(MAX(CASE WHEN tok = 'filter' THEN score END), 0.0)
                   AS s_filter,
                 COALESCE(MAX(CASE WHEN tok = 'group' THEN score END), 0.0)
                   AS s_group
          FROM scored GROUP BY doc_id)
        SELECT doc_id, s_join, s_filter, s_group,
               s_join + s_filter + s_group AS bm25
        FROM piv
        ORDER BY bm25 DESC, doc_id ASC LIMIT 20
      """)),

    // ───── HTML boilerplate strip (markup → clean text on-ramp) ─────
    // The first stage of every web-corpus pipeline (C4, RefinedWeb):
    // tag removal, entity unescape, whitespace collapse. The testdata
    // ships no markup, so each doc is first wrapped in a deterministic
    // HTML envelope (title carrying an &amp; entity, attributes,
    // nested tags) — BOTH engines build the same envelope, so the
    // stripper is exercised genuinely and the recovered text is
    // value-pinned. The tag regex '<[^>]*>' parses identically under
    // Java regex and RE2; entities unescape by chained replace.
    //
    // Scale shape: a pure narrow projection — whole-stage-codegen'd
    // string ops on the scan, zero shuffle, zero state; the cheapest
    // possible 100 TB query shape (the final ORDER BY is the oracle
    // convention, not part of the operator).
    GraftQuery(
      "text_html_strip",
      (s, d) => {
        val html = concat(
          lit("<div class=\"doc\" id=\"d"), col("doc_id"),
          lit("\"><h1>"), col("source"), lit(" &amp; "), col("lang"),
          lit("</h1><p>"), col("text"), lit("</p></div>"))
        val stripped = regexp_replace(html, "<[^>]*>", " ")
        val unescaped = Seq(
          ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
          ("&#39;", "'"), ("&amp;", "&")
        ).foldLeft(stripped) { case (c, (e, r)) => regexp_replace(c, e, r) }
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(regexp_extract_all(html, lit("<[^>]*>"), lit(0)))
              .cast("long").as("n_tags"),
            trim(regexp_replace(unescaped, " +", " ")).as("clean"))
          .withColumn("n_chars_clean", length(col("clean")).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH wrapped AS (
          SELECT doc_id,
                 '<div class="doc" id="d' || doc_id || '"><h1>' || source ||
                 ' &amp; ' || lang || '</h1><p>' || text || '</p></div>' AS html
          FROM documents),
        stripped AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
                 regexp_replace(html, '<[^>]*>', ' ', 'g') AS t0
          FROM wrapped),
        unescaped AS (
          SELECT doc_id, n_tags,
                 replace(replace(replace(replace(replace(
                   t0, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', CHR(39)), '&amp;', '&') AS t1
          FROM stripped)
        SELECT doc_id, n_tags,
               trim(regexp_replace(t1, ' +', ' ', 'g')) AS clean,
               CAST(length(trim(regexp_replace(t1, ' +', ' ', 'g'))) AS BIGINT)
                 AS n_chars_clean
        FROM unescaped
        ORDER BY doc_id
      """)),

    // ───── bigram-LM perplexity scoring — libm-free fixed-point log2 ─────
    // THE classic pretraining quality filter (CCNet/Gopher style): score
    // each doc by the negative log-likelihood of its bigrams under an
    // add-1-smoothed LM trained on the corpus itself. Cross-engine float
    // determinism forbids libm (ln/exp results differ in the last ulp),
    // so log2 is computed EXACTLY in integers: ilog2 = length(bin(n))−1
    // (identical `bin` spelling in Spark and DuckDB), chord-interpolated
    // to 2^20 fixed point — lg2fp(n) = ilog2·2^20 + (n·2^20 div 2^ilog2)
    // − 2^20. The chord under-reads by ≤ 0.086 bits/term (a FILTERING
    // scorer, not an entropy report), and every term, sum, and count is
    // a BIGINT, so the artifact hash-matches bit-for-bit; the single
    // double division at the end is shape-pinned. Integer headroom:
    // n·2^20 caps the smoothed counts at ~8.8e12 — past that, ride the
    // DECIMAL(38,0) doctrine.
    //
    // Scale shape: bigram extraction is a narrow per-doc projection;
    // the count shuffles carry (w1, w2, count) — never bodies; the
    // corpus/prefix stats re-join per-doc pairs on their own keys; the
    // vocabulary scalar broadcasts (watermark-filter pattern). Every
    // stage is partial-agg combined and linear in tokens.
    GraftQuery(
      "text_perplexity",
      (s, d) => {
        def lg2(x: String): String = IntMath.lg2fp(x)
        val docs = Tables.documents(s, d)
        val pairs = docs
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          // Spark's sequence(1, 0) DESCENDS ([1, 0]) — a 1-token doc
          // must be excluded before the sequence, not after
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), expr(
            "explode(transform(sequence(1, size(ws) - 1), " +
              "i -> struct(ws[i-1] AS w1, ws[i] AS w2)))").as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        val perDoc = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c_db"))
        val corpus = perDoc.groupBy(col("w1"), col("w2"))
          .agg(sum(col("c_db")).as("cb"))
        val prefix = corpus.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
        val vocab = docs
          .select(explode(split(col("text"), " ")).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        perDoc.join(corpus, Seq("w1", "w2"))
          .join(prefix, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"), col("c_db"),
            (expr(lg2("cp + v")) - expr(lg2("cb + 1"))).as("bits_fp"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c_db")).as("n_bigrams"),
            sum(col("c_db") * col("bits_fp")).as("nll2_fp"))
          .select(col("doc_id"), col("n_bigrams"), col("nll2_fp"),
            (col("nll2_fp").cast("double") /
              (lit(1048576.0) * col("n_bigrams").cast("double")))
              .as("bits_per_bigram"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH idx AS (
          SELECT doc_id, text,
                 UNNEST(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
          FROM documents),
        pairs AS (
          SELECT doc_id,
                 string_split(text, ' ')[i] AS w1,
                 string_split(text, ' ')[i + 1] AS w2
          FROM idx),
        per_doc AS (
          SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS c_db
          FROM pairs GROUP BY doc_id, w1, w2),
        corpus AS (
          SELECT w1, w2, CAST(SUM(c_db) AS BIGINT) AS cb
          FROM per_doc GROUP BY w1, w2),
        prefix AS (
          SELECT w1, CAST(SUM(cb) AS BIGINT) AS cp
          FROM corpus GROUP BY w1),
        vocab AS (
          SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t),
        terms AS (
          SELECT p.doc_id, p.c_db,
                 ((length(bin(cp + v)) - 1) * 1048576
                   + ((cp + v) * 1048576) // CAST(pow(2, length(bin(cp + v)) - 1) AS BIGINT)
                   - 1048576)
               - ((length(bin(cb + 1)) - 1) * 1048576
                   + ((cb + 1) * 1048576) // CAST(pow(2, length(bin(cb + 1)) - 1) AS BIGINT)
                   - 1048576) AS bits_fp
          FROM per_doc p
          JOIN corpus USING (w1, w2)
          JOIN prefix USING (w1)
          CROSS JOIN vocab),
        agg AS (
          SELECT doc_id, CAST(SUM(c_db) AS BIGINT) AS n_bigrams,
                 CAST(SUM(c_db * bits_fp) AS BIGINT) AS nll2_fp
          FROM terms GROUP BY doc_id)
        SELECT doc_id, n_bigrams, nll2_fp,
               CAST(nll2_fp AS DOUBLE) /
                 (1048576.0 * CAST(n_bigrams AS DOUBLE)) AS bits_per_bigram
        FROM agg
        ORDER BY doc_id
      """)),

    // ───── per-doc word entropy — gibberish/boilerplate signal ─────
    // Shannon entropy of each doc's word distribution in chord-log2
    // fixed point (IntMath): H·n·2^20 = n·lg2fp(n) − Σ c·lg2fp(c) is an
    // exact BIGINT, so the artifact hash-matches; one pinned division
    // emits bits/token. Low entropy = repetitive boilerplate, entropy
    // near lg2(n) = every word distinct (word-salad/gibberish end) —
    // the two tails a quality gate trims. Complements text_repetition
    // (which counts duplicate bigrams) with a distribution-shape
    // measure.
    //
    // Scale shape: one (doc_id, word) count shuffle, one doc_id agg —
    // both partial-agg combined, carrying words and counts only.
    GraftQuery(
      "text_entropy",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"))
        counts.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            sum(expr("c * (" + IntMath.lg2fp("c") + ")")).as("clg"))
          .select(col("doc_id"), col("n_tokens"),
            (expr("n_tokens * (" + IntMath.lg2fp("n_tokens") + ")")
              - col("clg")).as("h2_num"))
          .select(col("doc_id"), col("n_tokens"), col("h2_num"),
            (col("h2_num").cast("double") /
              (lit(1048576.0) * col("n_tokens").cast("double")))
              .as("bits_per_token"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH counts AS (
          SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                FROM documents) t
          GROUP BY doc_id, w),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(SUM(c * (${IntMath.lg2fpDuck("c")})) AS BIGINT) AS clg
          FROM counts GROUP BY doc_id),
        ent AS (
          SELECT doc_id, n_tokens,
                 n_tokens * (${IntMath.lg2fpDuck("n_tokens")}) - clg AS h2_num
          FROM agg)
        SELECT doc_id, n_tokens, h2_num,
               CAST(h2_num AS DOUBLE) /
                 (1048576.0 * CAST(n_tokens AS DOUBLE)) AS bits_per_token
        FROM ent
        ORDER BY doc_id
      """)),

    // ───── BPE merge learning: the tokenizer-training loop ─────
    // The iterative vocabulary learner every modern tokenizer ships
    // (Sennrich et al. 2016): K rounds of [count adjacent pairs →
    // take the most frequent → merge its non-overlapping occurrences
    // left-to-right → repeat], emitting the learned merge table. The
    // symbol unit here is the WORD stream (AutoPhrase-style phrase
    // mining — the corpus ships no sub-word text); a production BPE
    // run feeds characters-within-words, and the DATAFLOW is
    // identical: this loop IS the trainer.
    //
    // Determinism: the winner ties-break (count DESC, pair ASC); the
    // left-to-right non-overlap rule is a FOLD — "a a a" merges to
    // [a¦a, a], never [a, a¦a] — and the '¦' joiner keeps merged
    // symbols out of the raw vocabulary, so the fold's just-merged
    // element can never re-trigger on its own left half. Both engines
    // state the identical fold: Spark as an `aggregate` HOF, DuckDB
    // as a positional recursive CTE.
    //
    // Scale: per round, ONE (pair → count) shuffle with map-side
    // combine (pairs, never documents, cross the wire), a 1-row
    // TakeOrdered winner broadcast back, and a NARROW per-doc
    // re-segmentation — K rounds = K tiny barriers, the minimum the
    // algorithm's sequential dependency permits. The HOF fold copies
    // the accumulator per element (O(len²) per doc, fine at doc
    // lengths); the 100 TB form swaps in a linear-time codegen
    // Expression with the same semantics. Token frames stay
    // hash(doc_id)-partitioned across rounds, so no round re-shuffles
    // the corpus.
    GraftQuery(
      "text_bpe_merges",
      (s, d) => {
        def pairTop(toksDf: DataFrame): DataFrame =
          toksDf.select(explode(expr(
              """CASE WHEN size(toks) >= 2
                 THEN transform(sequence(1, size(toks) - 1),
                        i -> struct(toks[i-1] AS a, toks[i] AS b))
                 ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
                 END""")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("a").asc, col("b").asc)
            .limit(1)
        var toks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
        var out = Seq.empty[DataFrame]
        for (r <- 1 to 3) {
          // staged eagerly: the 1-row winner must broadcast into the
          // re-segmentation with its true size, and its plan must not
          // re-run the pair count per consumer
          val win = Materialize.stageEager(pairTop(toks))
          out = out :+ win.select(lit(r).as("r"), col("a").as("left_tok"),
            col("b").as("right_tok"), col("c").as("pair_count"))
          if (r < 3) {
            toks = Materialize.stage(toks.crossJoin(broadcast(win))
              .select(col("doc_id"), expr(
                """aggregate(toks, CAST(array() AS ARRAY<STRING>),
                   (acc, t) -> IF(size(acc) > 0
                                  AND element_at(acc, -1) = a AND t = b,
                     concat(slice(acc, 1, size(acc) - 1),
                            array(concat(a, '¦', b))),
                     concat(acc, array(t))))""").as("toks")))
          }
        }
        out.reduce(_ unionByName _).orderBy(col("r"))
      },
      // the d$r CTEs are MATERIALIZED: without the hint DuckDB inlines
      // each round's result into the NEXT round's recursive CTE, which
      // re-runs the whole prior recursion once per iteration — nested
      // rounds deep that is exponential re-evaluation (measured: >7 min
      // vs 2 s at sf0.01). Materializing pins each round to run once.
      Some {
        def round(r: Int): String = s"""
          pr$r AS (
            SELECT doc_id, UNNEST(generate_series(1, len(t) - 1)) AS i, t
            FROM d${r - 1}),
          p$r AS (
            SELECT t[i] AS a, t[i+1] AS b, CAST(COUNT(*) AS BIGINT) AS c
            FROM pr$r GROUP BY 1, 2),
          w$r AS (SELECT a, b, c FROM p$r
                  ORDER BY c DESC, a ASC, b ASC LIMIT 1)"""
        def reseg(r: Int): String = s"""
          s$r(doc_id, pos, acc) AS (
            SELECT doc_id, 0, CAST([] AS VARCHAR[]) FROM d${r - 1}
            UNION ALL
            SELECT s.doc_id, s.pos + 1,
                   CASE WHEN len(s.acc) > 0 AND s.acc[-1] = w.a
                             AND d.t[s.pos+1] = w.b
                        THEN s.acc[1:len(s.acc)-1] || [w.a || '¦' || w.b]
                        ELSE s.acc || [d.t[s.pos+1]] END
            FROM s$r s JOIN d${r - 1} d USING (doc_id) CROSS JOIN w$r w
            WHERE s.pos < len(d.t)),
          d$r AS MATERIALIZED (
            SELECT s.doc_id, s.acc AS t
            FROM s$r s JOIN d${r - 1} d USING (doc_id)
            WHERE s.pos = len(d.t))"""
        s"""
        WITH RECURSIVE d0 AS MATERIALIZED (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
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
      }),

    // ───── BPE encode: apply the learned merges to the corpus ─────
    // The inference half of text_bpe_merges: run the same 3-round
    // learner, apply EVERY round's winner (including the last), and
    // pin the tokenized corpus itself — per-doc token counts before
    // and after, the ppm compression the vocabulary buys, and an md5
    // fingerprint of the final segmentation. This is the query a
    // training pipeline actually ships: the merge table is a means,
    // the tokenized corpus is the product.
    //
    // Same determinism contract as the trainer (count DESC, pair ASC
    // winner; left-to-right non-overlap fold); md5 over the
    // space-joined token stream is the shared cross-engine hash, so
    // the full segmentation is value-pinned without shipping bodies
    // through the comparator. Same scale shape too: 3 × (pair-count
    // shuffle + 1-row broadcast + narrow re-fold); the final per-doc
    // stats are a narrow projection of the already-partitioned frame.
    GraftQuery(
      "text_bpe_encode",
      (s, d) => {
        def pairTop(toksDf: DataFrame): DataFrame =
          toksDf.select(explode(expr(
              """CASE WHEN size(toks) >= 2
                 THEN transform(sequence(1, size(toks) - 1),
                        i -> struct(toks[i-1] AS a, toks[i] AS b))
                 ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
                 END""")).as("p"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("a").asc, col("b").asc)
            .limit(1)
        var toks = Materialize.stage(Tables.documents(s, d)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
        val raw = toks.select(col("doc_id"), size(col("toks")).as("n_raw"))
        for (_ <- 1 to 3) {
          val win = Materialize.stageEager(pairTop(toks))
          toks = Materialize.stage(toks.crossJoin(broadcast(win))
            .select(col("doc_id"), expr(
              """aggregate(toks, CAST(array() AS ARRAY<STRING>),
                 (acc, t) -> IF(size(acc) > 0
                                AND element_at(acc, -1) = a AND t = b,
                   concat(slice(acc, 1, size(acc) - 1),
                          array(concat(a, '¦', b))),
                   concat(acc, array(t))))""").as("toks")))
        }
        toks.join(raw, "doc_id")
          .select(col("doc_id"), col("n_raw"),
            size(col("toks")).as("n_bpe"),
            expr("""IF(size(toks) = 0, NULL,
                    (CAST(n_raw - size(toks) AS BIGINT) * 1000000L)
                      DIV n_raw)""").as("saved_ppm"),
            md5(concat_ws(" ", col("toks"))).as("tok_md5"))
          .orderBy(col("doc_id"))
      },
      // the d$r CTEs are MATERIALIZED: without the hint DuckDB inlines
      // each round's result into the NEXT round's recursive CTE, which
      // re-runs the whole prior recursion once per iteration — nested
      // rounds deep that is exponential re-evaluation (measured: >7 min
      // vs 2 s at sf0.01). Materializing pins each round to run once.
      Some {
        def round(r: Int): String = s"""
          pr$r AS (
            SELECT doc_id, UNNEST(generate_series(1, len(t) - 1)) AS i, t
            FROM d${r - 1}),
          p$r AS (
            SELECT t[i] AS a, t[i+1] AS b, CAST(COUNT(*) AS BIGINT) AS c
            FROM pr$r GROUP BY 1, 2),
          w$r AS (SELECT a, b, c FROM p$r
                  ORDER BY c DESC, a ASC, b ASC LIMIT 1)"""
        def reseg(r: Int): String = s"""
          s$r(doc_id, pos, acc) AS (
            SELECT doc_id, 0, CAST([] AS VARCHAR[]) FROM d${r - 1}
            UNION ALL
            SELECT s.doc_id, s.pos + 1,
                   CASE WHEN len(s.acc) > 0 AND s.acc[-1] = w.a
                             AND d.t[s.pos+1] = w.b
                        THEN s.acc[1:len(s.acc)-1] || [w.a || '¦' || w.b]
                        ELSE s.acc || [d.t[s.pos+1]] END
            FROM s$r s JOIN d${r - 1} d USING (doc_id) CROSS JOIN w$r w
            WHERE s.pos < len(d.t)),
          d$r AS MATERIALIZED (
            SELECT s.doc_id, s.acc AS t
            FROM s$r s JOIN d${r - 1} d USING (doc_id)
            WHERE s.pos = len(d.t))"""
        s"""
        WITH RECURSIVE d0 AS MATERIALIZED (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM documents),
        ${round(1)}, ${reseg(1)},
        ${round(2)}, ${reseg(2)},
        ${round(3)}, ${reseg(3)}
        SELECT d0.doc_id, CAST(len(d0.t) AS INT) AS n_raw,
               CAST(len(d3.t) AS INT) AS n_bpe,
               CASE WHEN len(d3.t) = 0 THEN NULL
                    ELSE CAST(len(d0.t) - len(d3.t) AS BIGINT) * 1000000
                         // len(d0.t) END AS saved_ppm,
               md5(array_to_string(d3.t, ' ')) AS tok_md5
        FROM d0 JOIN d3 ON d0.doc_id = d3.doc_id
        ORDER BY d0.doc_id
      """
      }),

    // ───── RAKE keyword extraction: corpus-level key phrases ─────
    // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
    // phrases are the maximal stopword-free token runs OF LENGTH ≤ 4
    // (the standard RAKE candidate cap — without it a stopword-free
    // document is one giant "phrase"); each word scores
    // degree/frequency where freq counts the word's occurrences inside
    // candidates and degree sums the LENGTHS of the phrases it occurs in
    // (co-occurrence including self); a phrase scores the sum of its
    // member-word scores. All counts are integers and the only division
    // is ONE ppm floor-division per word, so the scores — and the top-20
    // phrase list under the (score DESC, phrase ASC) total order — are
    // bit-identical across engines. (degree ≤ total_tokens × max_run;
    // the ×10⁶ fixed point overflows int64 only past ~9×10¹² member
    // tokens — beyond that, swap the scale factor to DECIMAL(38,0).)
    //
    // Scale: token rows carry (doc_id, pos, tok) — bodies never shuffle.
    // The run-id window rides ONE doc_id exchange; the per-(doc,run)
    // phrase assembly and length window REUSE that partitioning (doc_id
    // ⊆ the grouping key, so no second exchange); word stats and the
    // score join shuffle (word, count) pairs; the final top-20 is a
    // TakeOrdered heap over the deduped phrase table, never a global
    // sort. Stopwords are a 2-entry literal set — at 100 TB the real
    // list (a few hundred entries) still folds into the predicate.
    GraftQuery(
      "text_keywords",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(expr("filter(split(text, ' '), t -> t <> '')")))
          .toDF("doc_id", "pos", "tok")
        val flagged = toks
          .withColumn("is_stop",
            col("tok").isin("a", "the"))
          .withColumn("run",
            sum(when(col("is_stop"), 1L).otherwise(0L)).over(
              Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)))
        val members = flagged.filter(!col("is_stop"))
          .select(col("doc_id"), col("run"), col("pos"), col("tok"))
        val cand = Materialize.stage(members
          .withColumn("plen",
            count(lit(1)).over(Window.partitionBy(col("doc_id"), col("run"))))
          .filter(col("plen") <= 4))
        val wscore = cand.groupBy(col("tok"))
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degw"))
          .select(col("tok"), expr("degw * 1000000L div freq").as("wscore"))
        val pscore = cand.join(wscore, Seq("tok"))
          .groupBy(col("doc_id"), col("run"))
          .agg(sum(col("wscore")).as("score"))
        val phrases = cand.groupBy(col("doc_id"), col("run"))
          .agg(expr("""array_join(
                 transform(array_sort(collect_list(struct(pos, tok))),
                           x -> x.tok), ' ')""").as("phrase"))
        phrases.join(pscore, Seq("doc_id", "run"))
          .groupBy(col("phrase"))
          .agg(count(lit(1)).as("n_occ"), max(col("score")).as("score"))
          .orderBy(col("score").desc, col("phrase").asc)
          .limit(20)
      },
      Some("""
        WITH t0 AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
          FROM documents),
        toks AS (
          SELECT doc_id, UNNEST(generate_series(1, len(ts))) AS pos, ts
          FROM t0),
        ft AS (
          SELECT doc_id, pos, ts[pos] AS tok,
                 CASE WHEN ts[pos] IN ('a', 'the') THEN 1 ELSE 0 END AS is_stop
          FROM toks),
        rt AS (
          SELECT doc_id, pos, tok, is_stop,
                 SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS run
          FROM ft),
        mem AS (SELECT doc_id, run, pos, tok FROM rt WHERE is_stop = 0),
        pl AS (
          SELECT doc_id, run, pos, tok,
                 COUNT(*) OVER (PARTITION BY doc_id, run) AS plen
          FROM mem),
        cand AS (SELECT doc_id, run, pos, tok, plen FROM pl WHERE plen <= 4),
        wsc AS (
          SELECT tok,
                 (CAST(SUM(plen) AS BIGINT) * 1000000)
                   // CAST(COUNT(*) AS BIGINT) AS wscore
          FROM cand GROUP BY tok),
        ps AS (
          SELECT m.doc_id, m.run, CAST(SUM(w.wscore) AS BIGINT) AS score
          FROM cand m JOIN wsc w ON w.tok = m.tok
          GROUP BY m.doc_id, m.run),
        ph AS (
          SELECT doc_id, run, string_agg(tok, ' ' ORDER BY pos) AS phrase
          FROM cand GROUP BY doc_id, run)
        SELECT ph.phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
               CAST(MAX(ps.score) AS BIGINT) AS score
        FROM ph JOIN ps ON ps.doc_id = ph.doc_id AND ps.run = ph.run
        GROUP BY ph.phrase
        ORDER BY score DESC, phrase ASC LIMIT 20
      """))
  )
}
