package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{Corpus, TextFunctions => TF}

import QueryKit._

/** Text pipeline: tokenization, quality gates, language id, n-gram
  * language models, TF-IDF retrieval, tokenizer training,
  * URL/robots/sitemap hygiene, mixing and sampling.
  */
object TextQueries {

  val all: Seq[Query] = Seq(

    // Token counting: whitespace tokens + BPE-ish subword proxy.
    Query("x_token_count", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id"),
    oracle =
      """SELECT doc_id,
        | CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring: length/punctuation/stopword signals.
    Query("x_quality", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"),
        TF.punctRatio(col("text")).as("punct_ratio"),
        TF.stopwordRatio(col("text")).as("stopword_ratio"),
        TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, text,
        |  $wsTokensSql AS tok
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(tok) AS BIGINT) AS n_tokens,
        | CASE WHEN LENGTH(text) = 0 THEN 0.0
        |   ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |        / CAST(LENGTH(text) AS DOUBLE) END AS punct_ratio,
        | CASE WHEN len(tok) = 0 THEN 0.0
        |   ELSE CAST(len(list_filter(tok, x -> lower(x) IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE)
        |        / CAST(len(tok) AS DOUBLE) END AS stopword_ratio,
        | LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |  (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |    ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |         / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        |FROM toks ORDER BY doc_id""".stripMargin),

    // Language ID: stopword-profile argmax heuristic.
    // Scored language ID over planted multilingual suffixes: German /
    // French / Spanish stopword runs flip the verdict on their docs, a
    // planted 1-1 en/de tie reads margin 0 with en winning by profile
    // order. All-integer outputs; map-only.
    Query("x_langid_scored", (s, dir) => {
      val txt = when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" der die das und ist nicht")))
        .when(col("doc_id") % 5 === 2,
          concat(col("text"), lit(" le la et les des est")))
        .when(col("doc_id") % 5 === 3,
          concat(col("text"), lit(" el los las y que")))
        .when(col("doc_id") % 5 === 4, lit("the und"))
        .otherwise(col("text"))
      TF.langIdScored(
          t(s, dir, "documents").select(col("doc_id"), txt.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // Scored langid: the same stopword hit counts as BIGINT list
    // filters, DESC list sort for top/second, the profile-order CASE.
    oracle =
      raw"""WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 1
        |    THEN text || ' der die das und ist nicht'
        |   WHEN doc_id % 5 = 2 THEN text || ' le la et les des est'
        |   WHEN doc_id % 5 = 3 THEN text || ' el los las y que'
        |   WHEN doc_id % 5 = 4 THEN 'the und'
        |   ELSE text END AS text
        | FROM documents),
        |tk AS (SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM d),
        |h AS (SELECT doc_id,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('the','a','of','and','to','is','in'))) AS BIGINT) AS h_en,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('der','die','das','und','ist','nicht','ein'))) AS BIGINT) AS h_de,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('le','la','et','les','des','un','est'))) AS BIGINT) AS h_fr,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('el','los','las','de','y','que','un'))) AS BIGINT) AS h_es,
        |  CAST(len(list_filter(tok, t -> lower(t) IN ('的','是','了','不','在','我','有'))) AS BIGINT) AS h_zh
        | FROM tk),
        |s AS (SELECT *,
        |  list_sort([h_en, h_de, h_fr, h_es, h_zh], 'DESC') AS srt
        | FROM h)
        |SELECT doc_id,
        | CASE WHEN srt[1] = 0 THEN 'und'
        |      WHEN h_en = srt[1] THEN 'en'
        |      WHEN h_de = srt[1] THEN 'de'
        |      WHEN h_fr = srt[1] THEN 'fr'
        |      WHEN h_es = srt[1] THEN 'es'
        |      ELSE 'zh' END AS lang,
        | CASE WHEN srt[1] > 0 THEN srt[1] ELSE 0 END AS n_hits,
        | CASE WHEN srt[1] > 0 THEN srt[1] - srt[2] ELSE 0 END AS margin
        |FROM s ORDER BY doc_id""".stripMargin),

    Query("x_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TF.langId(col("text")).as("predicted"))
        .orderBy("doc_id"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, lang,
        |  $wsTokensSql AS tok
        | FROM documents),
        |scores AS (
        | SELECT doc_id, lang,
        |  len(list_filter(tok, x -> lower(x) IN ('the','a','of','and','to','is','in'))) AS s_en,
        |  len(list_filter(tok, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
        |  len(list_filter(tok, x -> lower(x) IN ('le','la','et','les','des','un','est'))) AS s_fr,
        |  len(list_filter(tok, x -> lower(x) IN ('el','los','las','de','y','que','un'))) AS s_es,
        |  len(list_filter(tok, x -> lower(x) IN ('的','是','了','不','在','我','有'))) AS s_zh
        | FROM toks)
        |SELECT doc_id, lang,
        | CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0 THEN 'und'
        |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
        |      WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
        |      WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |      WHEN s_es >= s_zh THEN 'es'
        |      ELSE 'zh' END AS predicted
        |FROM scores ORDER BY doc_id""".stripMargin),

    // End-to-end curation pipeline: language filter → quality floor →
    // exact-dedup (keep min id per text) → token accounting. The
    // composition a training-data pipeline runs before tokenization;
    // one declarative plan, fully oracle-checked.
    Query("x_pipeline_curate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TF.langId(col("text")).as("pred_lang"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      scored
        .where(col("pred_lang") === "en" && col("quality") > 0.2)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          max(col("n_tokens")).as("n_tokens"),
          max(col("quality")).as("quality"))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    },
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, text,
        |  len(list_filter(tok, x -> lower(x) IN ('the','a','of','and','to','is','in'))) AS s_en,
        |  len(list_filter(tok, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein'))) AS s_de,
        |  len(list_filter(tok, x -> lower(x) IN ('le','la','et','les','des','un','est'))) AS s_fr,
        |  len(list_filter(tok, x -> lower(x) IN ('el','los','las','de','y','que','un'))) AS s_es,
        |  len(list_filter(tok, x -> lower(x) IN ('的','是','了','不','在','我','有'))) AS s_zh,
        |  CAST(len(tok) AS BIGINT) AS n_tokens,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |f AS (
        | SELECT * FROM scored
        | WHERE NOT (s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0)
        |   AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh
        |   AND quality > 0.2)
        |SELECT MIN(doc_id) AS doc_id, MAX(n_tokens) AS n_tokens,
        | MAX(quality) AS quality
        |FROM f GROUP BY text ORDER BY doc_id""".stripMargin),

    // Corpus vocabulary: token frequency table (the first step of any
    // tokenizer/quality pipeline). Deterministic top-100.
    Query("x_vocab", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100),
    oracle =
      raw"""WITH tk AS (
        | SELECT unnest($wsTokensSql) AS token
        | FROM documents)
        |SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 100""".stripMargin),

    // Zipf rank-frequency fit over the top-500 vocabulary: OLS of
    // ln cnt on ln rank (slope ~ -1 on natural text; template/spam
    // bends it) — the one-number corpus-health dual of x_vocab. Both
    // ln inputs are integral doubles, OLS sums ride DECIMAL(30,15),
    // the closing scalar arithmetic is pinned-order doubles.
    Query("x_zipf", (s, dir) =>
      Corpus.zipfFit(t(s, dir, "documents"), "text", maxRank = 500),
    // Zipf OLS mirrored term-for-term: ln only ever sees an integral
    // double (rank, count), products are correctly-rounded double
    // multiplies, sums accumulate in DECIMAL(30,15), and the
    // slope/intercept/r2 expressions spell the identical pinned
    // association order as the Spark tree.
    oracle =
      raw"""WITH tk AS (
        | SELECT unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents),
        |tc AS (SELECT t, COUNT(*) AS c FROM tk GROUP BY 1),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
        |  FROM tc ORDER BY c DESC, t LIMIT 500),
        |s AS (SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE) AS sx,
        | CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(30,15))) AS DOUBLE) AS sy,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS sxy,
        | CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
        | CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |   AS DECIMAL(30,15))) AS DOUBLE) AS syy
        | FROM top)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        | ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS zipf_slope,
        | ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |   / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |   / CAST(n AS DOUBLE), 9) AS zipf_intercept,
        | ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
        |     * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |   / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |     * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS r2
        |FROM s""".stripMargin),

    // Heaps'-law vocabulary growth: cumulative distinct types vs
    // cumulative tokens at 1000-doc checkpoints (types charged to
    // their min-doc_id bucket = exact prefix semantics). Dataset-sizing
    // instrument: a flattening curve is the saturation/duplication
    // signal. Exact integers end-to-end; the only ordered window runs
    // over the config-sized bucket table. Width 50 reads 10 checkpoints
    // from the 500-doc fixture (100 at sf0.1) — a real curve, not one
    // degenerate point.
    Query("x_heaps", (s, dir) =>
      Corpus.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
          bucketWidth = 50L)
        .orderBy("bucket"),
    // Heaps growth mirrored with floor-div buckets and window sums
    // (HUGEINT -> BIGINT casts per the DuckDB SUM convention); types
    // charged to MIN(bucket) exactly as the Spark min-agg.
    oracle =
      raw"""WITH d AS (SELECT doc_id // 50 AS b,
        |  CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |spine AS (SELECT b, COUNT(*) AS n_docs,
        |  CAST(SUM(len(tok)) AS BIGINT) AS nt FROM d GROUP BY 1),
        |ft AS (SELECT t, MIN(b) AS fb
        | FROM (SELECT b, unnest(tok) AS t FROM d) GROUP BY 1),
        |nw AS (SELECT fb AS b, COUNT(*) AS nn FROM ft GROUP BY 1)
        |SELECT s.b AS bucket, CAST(s.n_docs AS BIGINT) AS n_docs,
        | CAST(COALESCE(nw.nn, 0) AS BIGINT) AS new_types,
        | CAST(SUM(s.nt) OVER (ORDER BY s.b ROWS UNBOUNDED PRECEDING)
        |   AS BIGINT) AS cum_tokens,
        | CAST(SUM(COALESCE(nw.nn, 0)) OVER (ORDER BY s.b
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |FROM spine s LEFT JOIN nw ON nw.b = s.b
        |ORDER BY bucket""".stripMargin),

    // Heavy hitters, exactly, via the two-pass Misra–Gries pattern: a
    // bounded-state mergeable sketch nominates candidates (certain
    // superset), an exact recount of only those candidates decides — the
    // corpus-sized token shuffle of x_vocab never happens, yet the output
    // is exact (oracle = plain HAVING over the full count).
    Query("x_heavy_hitters", (s, dir) =>
      Corpus.heavyHitters(t(s, dir, "documents"), "text", 200)
        .orderBy(col("cnt").desc, col("token")),
    // The MG sketch never shows in the output: the threshold sits strictly
    // above the sketch's guarantee line, so exact-HAVING is the oracle.
    oracle =
      raw"""WITH tk AS (
        | SELECT unnest($wsTokensSql) AS token
        | FROM documents)
        |SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
        |HAVING CAST(COUNT(*) AS DOUBLE) > (SELECT COUNT(*) FROM tk) / 200.0
        |ORDER BY cnt DESC, token""".stripMargin),

    // Per-language heavy hitters: one bounded-state MG aggregate per
    // group, exact recount against each group's own threshold.
    Query("x_heavy_by_lang", (s, dir) =>
      Corpus.heavyHittersByGroup(t(s, dir, "documents"), "lang", "text", 150)
        .orderBy(col("lang"), col("cnt").desc, col("token")),
    oracle =
      raw"""WITH tk AS (
        | SELECT lang, unnest($wsTokensSql) AS token
        | FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS total FROM tk GROUP BY lang)
        |SELECT tk.lang AS lang, token, COUNT(*) AS cnt
        |FROM tk JOIN tot ON tk.lang = tot.lang
        |GROUP BY tk.lang, token, tot.total
        |HAVING CAST(COUNT(*) AS DOUBLE) > CAST(tot.total AS DOUBLE) / 150.0
        |ORDER BY tk.lang, cnt DESC, token""".stripMargin),

    // Repetition signals (Gopher-style quality gates): token/bigram
    // concentration per document. Bigram counting shuffles 8-byte gram
    // hashes, never gram strings.
    Query("x_repetition", (s, dir) =>
      Corpus.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    // Bigram counts group on the gram STRING here vs its xxhash64 on the
    // Spark side — multiplicities agree absent a 64-bit collision inside a
    // single document.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tc AS (
        | SELECT doc_id, token, COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS token FROM toks)
        | GROUP BY doc_id, token),
        |tagg AS (
        | SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct, MAX(cnt) AS top_token_cnt
        | FROM tc GROUP BY doc_id),
        |bg AS (
        | SELECT doc_id, gram, COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |         i -> tok[i] || ' ' || tok[i + 1])) AS gram
        |       FROM toks)
        | GROUP BY doc_id, gram),
        |bagg AS (SELECT doc_id, MAX(cnt) AS top_bigram_cnt FROM bg GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tokens, t.n_distinct,
        | CAST(t.top_token_cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_token_frac,
        | CASE WHEN t.n_tokens < 2 THEN 0.0
        |      ELSE CAST(b.top_bigram_cnt AS DOUBLE) / CAST(t.n_tokens - 1 AS DOUBLE)
        | END AS top_bigram_frac
        |FROM tagg t LEFT JOIN bagg b USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // BM25 relevance against a fixed query-term bag (rational idf —
    // bit-deterministic, no transcendental log). Term filter runs
    // map-side before any shuffle; df/corpus stats broadcast.
    Query("x_bm25", (s, dir) =>
      Corpus.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "scan", "window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(100),
    // (1.2 + 1.0) is written as the same double ADD Scala folds for
    // k1 + 1.0 — not the decimal literal 2.2, which is a different double.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |docs AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl, tok FROM toks),
        |stats AS (
        | SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM docs),
        |tf AS (
        | SELECT doc_id, dl, term, COUNT(*) AS tf
        | FROM (SELECT doc_id, dl, unnest(tok) AS term FROM docs)
        | WHERE term IN ('hash', 'join', 'scan', 'window')
        | GROUP BY doc_id, dl, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        | SELECT tf.doc_id,
        |  (((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5) /
        |    (CAST(d.df AS DOUBLE) + 0.5) *
        |    ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 *
        |        ((1.0 - 0.75) + ((0.75 * CAST(tf.dl AS DOUBLE)) /
        |          (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) AS s
        | FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s)
        |SELECT doc_id,
        | ROUND(CAST(SUM(CAST(s AS DECIMAL(30,15))) AS DOUBLE), 9) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin),

    // Sparse lexical retrieval: TF-IDF cosine top-k through an inverted
    // index on bigram-shingle hashes (unigrams are non-selective on this
    // fixture's 31-word vocabulary); df-pruning bounds every posting
    // list, and the query-side postings broadcast into the index join.
    Query("x_tfidf_topk", (s, dir) =>
      Corpus.tfidfTopK(t(s, dir, "documents"), "doc_id", "text",
        col("doc_id") % 101 === 0, k = 10, ngram = 2, maxDfRatio = 0.5)
        .orderBy("query_id", "rank"),
    // Groups by the bigram STRING where the engine groups by the 8-byte
    // gram hash — identical tf/df absent a 64-bit collision (the
    // x_perplexity convention). Every ln input is an integral double
    // (a count); products cast to DECIMAL before summation; the final
    // divide and ROUND(…, 9) mirror the engine expression exactly.
    oracle =
      s"""WITH $tfidfBaseCte,
        |${tfidfRkCte(2, "g2")}
        |SELECT query_id, doc_id, cos, rank FROM g2rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Unicode-script census — the pre-tokenizer multilingual router
    // (stopword langid assumes you already know which scripts to try);
    // planted non-Latin suffixes on every 11th doc exercise the
    // Cyrillic/CJK/Arabic ranges on this ASCII fixture. Map-only.
    Query("x_script_profile", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" тест 漢字 ٣٤")))
            .otherwise(col("text")).as("text"))
      TF.scriptProfile(docs, "doc_id", "text").orderBy("doc_id")
    },
    // script CASE chain mirrors the engine clause-for-clause; counts
    // CAST to BIGINT (DuckDB SUM(int) is HUGEINT — the budget_select
    // lesson).
    oracle =
      """WITH docs AS (
        | SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |   THEN text || ' тест 漢字 ٣٤' ELSE text END AS text
        | FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |cp AS (SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) AS c
        |       FROM pos),
        |cnt AS (SELECT doc_id,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN (c BETWEEN 65 AND 90) OR (c BETWEEN 97 AND 122)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_latin,
        |  CAST(SUM(CASE WHEN c BETWEEN 48 AND 57 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
        |  CAST(SUM(CASE WHEN c BETWEEN 1024 AND 1279 THEN 1 ELSE 0 END) AS BIGINT) AS n_cyrillic,
        |  CAST(SUM(CASE WHEN c BETWEEN 19968 AND 40959 THEN 1 ELSE 0 END) AS BIGINT) AS n_cjk,
        |  CAST(SUM(CASE WHEN c BETWEEN 1536 AND 1791 THEN 1 ELSE 0 END) AS BIGINT) AS n_arabic,
        |  CAST(SUM(CASE WHEN c IN (9, 10, 13, 32) THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
        |  CAST(SUM(CASE WHEN NOT ((c BETWEEN 65 AND 90) OR (c BETWEEN 97 AND 122)
        |    OR (c BETWEEN 48 AND 57) OR (c BETWEEN 1024 AND 1279)
        |    OR (c BETWEEN 19968 AND 40959) OR (c BETWEEN 1536 AND 1791)
        |    OR c IN (9, 10, 13, 32)) THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        | FROM cp GROUP BY 1)
        |SELECT d.doc_id,
        | COALESCE(n, 0) AS n_chars,
        | COALESCE(n_latin, 0) AS n_latin, COALESCE(n_digit, 0) AS n_digit,
        | COALESCE(n_cyrillic, 0) AS n_cyrillic, COALESCE(n_cjk, 0) AS n_cjk,
        | COALESCE(n_arabic, 0) AS n_arabic, COALESCE(n_space, 0) AS n_space,
        | COALESCE(n_other, 0) AS n_other,
        | CASE
        |  WHEN COALESCE(n_latin, 0) >= COALESCE(n_digit, 0) AND COALESCE(n_latin, 0) >= COALESCE(n_cyrillic, 0)
        |   AND COALESCE(n_latin, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_latin, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_latin, 0) >= COALESCE(n_other, 0) AND COALESCE(n_latin, 0) > 0 THEN 'latin'
        |  WHEN COALESCE(n_digit, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_digit, 0) >= COALESCE(n_cyrillic, 0)
        |   AND COALESCE(n_digit, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_digit, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_digit, 0) >= COALESCE(n_other, 0) AND COALESCE(n_digit, 0) > 0 THEN 'digit'
        |  WHEN COALESCE(n_cyrillic, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_cyrillic, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_cyrillic, 0) >= COALESCE(n_cjk, 0) AND COALESCE(n_cyrillic, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_cyrillic, 0) >= COALESCE(n_other, 0) AND COALESCE(n_cyrillic, 0) > 0 THEN 'cyrillic'
        |  WHEN COALESCE(n_cjk, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_cjk, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_cjk, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_cjk, 0) >= COALESCE(n_arabic, 0)
        |   AND COALESCE(n_cjk, 0) >= COALESCE(n_other, 0) AND COALESCE(n_cjk, 0) > 0 THEN 'cjk'
        |  WHEN COALESCE(n_arabic, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_arabic, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_arabic, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_arabic, 0) >= COALESCE(n_cjk, 0)
        |   AND COALESCE(n_arabic, 0) >= COALESCE(n_other, 0) AND COALESCE(n_arabic, 0) > 0 THEN 'arabic'
        |  WHEN COALESCE(n_other, 0) >= COALESCE(n_latin, 0) AND COALESCE(n_other, 0) >= COALESCE(n_digit, 0)
        |   AND COALESCE(n_other, 0) >= COALESCE(n_cyrillic, 0) AND COALESCE(n_other, 0) >= COALESCE(n_cjk, 0)
        |   AND COALESCE(n_other, 0) >= COALESCE(n_arabic, 0) AND COALESCE(n_other, 0) > 0 THEN 'other'
        |  ELSE 'und' END AS main_script
        |FROM docs d LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Mixed-script confusable census: every 9th doc gains a planted
    // suffix with a Cyrillic-a "paypal", a Greek-Eta "Hello", a pure-
    // Cyrillic word (NOT mixed) and Han+Latin "Tokyo" (legit bilingual,
    // NOT mixed) — codepoints spelled via \u escapes here and chr() in
    // the oracle so no invisible character can drift. Map-only.
    Query("x_mixed_script", (s, dir) => {
      val mixSuffix = " p\u0430ypal \u0397ello " +
        "\u0442\u0435\u0441\u0442 \u6771\u4eacTokyo"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(mixSuffix)))
          .otherwise(col("text")).as("text"))
      TF.mixedScriptCensus(docs, "doc_id", "text").orderBy("doc_id")
    },
    // Same explicit code-point ranges as plans.ScriptProfile; ascii() in
    // DuckDB returns the code point of the char, so the planted
    // Cyrillic/CJK/Arabic suffix classifies identically. The dominant-
    // Mixed-script census: same planted suffix via chr() codepoints,
    // the same three explicit-range containment tests (\x{...} — the
    // regex spelling Java and RE2 share), list min as the witness.
    oracle =
      raw"""WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' p' || chr(1072) ||
        |    'ypal ' || chr(919) || 'ello ' || chr(1090) || chr(1077) ||
        |    chr(1089) || chr(1090) || ' ' || chr(26481) || chr(20140) ||
        |    'Tokyo'
        |  ELSE text END AS text FROM documents),
        |tk AS (SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM d),
        |fl AS (SELECT doc_id, tok, list_filter(tok, t ->
        |   (regexp_matches(t, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')
        |     AND regexp_matches(t, '[\x{0370}-\x{03FF}]'))
        |   OR (regexp_matches(t, '[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')
        |     AND regexp_matches(t, '[\x{0400}-\x{04FF}]'))
        |   OR (regexp_matches(t, '[\x{0370}-\x{03FF}]')
        |     AND regexp_matches(t, '[\x{0400}-\x{04FF}]'))) AS fx
        | FROM tk)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        | CAST(len(fx) AS BIGINT) AS n_mixed,
        | CASE WHEN len(fx) > 0 THEN list_aggregate(fx, 'min') END
        |   AS mixed_example
        |FROM fl ORDER BY doc_id""".stripMargin),

    // Snapshot delta audit: the %3==0 slice vs a derived "today" with
    // removals (%30), edits (%21, ' v2' appended) and arrivals (%33,
    // shifted ids) — only the delta comes back, fingerprint-compared.
    Query("x_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val newSnap = oldSnap.where(col("doc_id") % 30 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 21 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(oldSnap.where(col("doc_id") % 33 === 0)
          .select((col("doc_id") + 60000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },
    // Text EQUALITY stands in for the engine's 128-bit fingerprint
    // compare (identical verdicts modulo a 2^-128 md5 collision);
    // IS DISTINCT FROM mirrors the engine's null-safe compare — a
    // null↔non-null transition is a change on BOTH sides by contract.
    oracle =
      """WITH o AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |nw AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 21 = 0 THEN text || ' v2' ELSE text END AS text
        | FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 <> 0
        | UNION ALL
        | SELECT doc_id + 60000000, text FROM documents
        | WHERE doc_id % 3 = 0 AND doc_id % 33 = 0)
        |SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN nw.doc_id IS NULL THEN 'removed'
        |      ELSE 'changed' END AS status
        |FROM o FULL JOIN nw ON o.doc_id = nw.doc_id
        |WHERE o.doc_id IS NULL OR nw.doc_id IS NULL
        |   OR o.text IS DISTINCT FROM nw.text
        |ORDER BY doc_id""".stripMargin),

    // Persisted-index probe: the inverted index freezes the snapshot's
    // idf/norms; later arrivals score against it without re-reading the
    // indexed bodies — build-once/probe-incrementally, the incremental-
    // dedup convention applied to retrieval.
    Query("x_tfidf_probe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (postings, dict) = Corpus.tfidfIndex(
        docs.where(col("doc_id") % 3 === 0), "doc_id", "text")
      val queries = docs.where(
        col("doc_id") % 3 =!= 0 && col("doc_id") % 97 === 1)
      Corpus.tfidfProbeIndex(queries, "doc_id", "text", postings, dict, k = 10)
        .orderBy("query_id", "rank")
    },
    // Index-side stats (df, N, norms) come from the %3==0 snapshot ONLY;
    // query grams without an index idf drop (they can't match postings).
    // The doc side is pre-normalized (wn = w/nrm) exactly as the engine
    // stores it, so the probe's cosine is dot/qnrm alone.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |   i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1))) AS gram
        | FROM toks),
        |itf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |inn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
        |dict AS (
        | SELECT gram, LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE)) AS idf
        | FROM (SELECT gram, COUNT(*) AS df FROM itf GROUP BY 1) CROSS JOIN inn
        | WHERE CAST(df AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)),
        |iw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM itf JOIN dict USING (gram)),
        |inorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM iw GROUP BY 1),
        |post AS (SELECT doc_id, gram, w / nrm AS wn
        |         FROM iw JOIN inorm USING (doc_id)),
        |qtf AS (SELECT doc_id AS query_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 97 = 1 GROUP BY 1, 2),
        |qwt AS (SELECT query_id, gram, CAST(tf AS DOUBLE) * idf AS qw
        |        FROM qtf JOIN dict USING (gram)),
        |qn AS (SELECT query_id,
        |  SQRT(CAST(SUM(CAST(qw * qw AS DECIMAL(30,15))) AS DOUBLE)) AS qnrm
        | FROM qwt GROUP BY 1),
        |dots AS (SELECT query_id, p.doc_id,
        |  CAST(SUM(CAST(qw * wn AS DECIMAL(30,15))) AS DOUBLE) AS dot
        | FROM post p JOIN qwt q USING (gram) GROUP BY 1, 2),
        |rk AS (
        | SELECT query_id, doc_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
        | FROM (SELECT d.query_id, d.doc_id, ROUND(dot / qn.qnrm, 9) AS cos
        |       FROM dots d JOIN qn ON qn.query_id = d.query_id))
        |SELECT query_id, doc_id, cos, rank FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Incremental retrieval-index maintenance (the ivfIndexAppend ritual
    // on the sparse side): the dict's idf freezes at build time over the
    // OLD snapshot, the arrival batch files into it with one map pass +
    // broadcast dict join (tfidfIndexAppend — the stored postings never
    // read), the new postings APPEND onto the stored parquet, and the
    // probe retrieves old and appended docs against one consistent
    // statistic. The oracle replays the frozen-idf weighting of the
    // arrival batch exactly — appended docs weight by the SNAPSHOT's
    // idf, not a recount.
    Query("x_tfidf_append", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.where(col("doc_id") % 3 === 0)
      val fresh = docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 2)
      val (params, post, dict) = Corpus.tfidfIndexBuild(old, "doc_id", "text")
      val tmp = scratchDir("graft-tfidfapp")
      params.write.parquet(s"$tmp/params")
      dict.write.parquet(s"$tmp/dict")
      post.write.parquet(s"$tmp/postings")
      Corpus.tfidfIndexAppend(s.read.parquet(s"$tmp/params"),
          s.read.parquet(s"$tmp/dict"), fresh, "doc_id", "text")
        .write.mode("append").parquet(s"$tmp/postings")
      val queries = docs.where(
        col("doc_id") % 3 =!= 0 && col("doc_id") % 7 =!= 2 &&
          col("doc_id") % 97 === 1)
      Corpus.tfidfProbeIndex(queries, "doc_id", "text",
          s.read.parquet(s"$tmp/params"), s.read.parquet(s"$tmp/postings"),
          s.read.parquet(s"$tmp/dict"), k = 10)
        .orderBy("query_id", "rank")
    },
    // The frozen-idf append replayed: dict (n, df, idf) comes from the
    // indexed slice ONLY; the arrival batch's postings weight by that
    // snapshot idf (grams outside the dict drop), normalize by their own
    // norm, and union onto the stored postings — exactly what the engine
    // persisted via parquet append.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok)),
        |   i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1))) AS gram
        | FROM toks),
        |itf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |inn AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 3 = 0),
        |dict AS (
        | SELECT gram, LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE)) AS idf
        | FROM (SELECT gram, COUNT(*) AS df FROM itf GROUP BY 1) CROSS JOIN inn
        | WHERE CAST(df AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)),
        |iw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM itf JOIN dict USING (gram)),
        |inorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM iw GROUP BY 1),
        |atf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2 GROUP BY 1, 2),
        |aw AS (SELECT doc_id, gram, CAST(tf AS DOUBLE) * idf AS w
        |       FROM atf JOIN dict USING (gram)),
        |anorm AS (SELECT doc_id,
        |  SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
        | FROM aw GROUP BY 1),
        |post AS (
        | SELECT doc_id, gram, w / nrm AS wn FROM iw JOIN inorm USING (doc_id)
        | UNION ALL
        | SELECT doc_id, gram, w / nrm AS wn FROM aw JOIN anorm USING (doc_id)),
        |qtf AS (SELECT doc_id AS query_id, gram, COUNT(*) AS tf FROM g
        |        WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 2 AND doc_id % 97 = 1
        |        GROUP BY 1, 2),
        |qwt AS (SELECT query_id, gram, CAST(tf AS DOUBLE) * idf AS qw
        |        FROM qtf JOIN dict USING (gram)),
        |qn AS (SELECT query_id,
        |  SQRT(CAST(SUM(CAST(qw * qw AS DECIMAL(30,15))) AS DOUBLE)) AS qnrm
        | FROM qwt GROUP BY 1),
        |dots AS (SELECT query_id, p.doc_id,
        |  CAST(SUM(CAST(qw * wn AS DECIMAL(30,15))) AS DOUBLE) AS dot
        | FROM post p JOIN qwt q USING (gram) GROUP BY 1, 2),
        |rk AS (
        | SELECT query_id, doc_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
        | FROM (SELECT d.query_id, d.doc_id, ROUND(dot / qn.qnrm, 9) AS cos
        |       FROM dots d JOIN qn ON qn.query_id = d.query_id))
        |SELECT query_id, doc_id, cos, rank FROM rk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Hybrid-retrieval fusion: RRF over two shingle widths of the sparse
    // ranker — rank-based, so incomparable score scales fuse without
    // calibration, and the fusion stage itself moves only top-k-sized
    // lists (the cost lives in the upstream rankers).
    Query("x_rrf_fuse", (s, dir) => {
      val docs = t(s, dir, "documents")
      val isQ = col("doc_id") % 101 === 0
      Corpus.rrfFuse(Seq(
        Corpus.tfidfTopK(docs, "doc_id", "text", isQ, k = 10, ngram = 2),
        Corpus.tfidfTopK(docs, "doc_id", "text", isQ, k = 10, ngram = 3)),
        k = 10)
        .orderBy("query_id", "rank")
    },
    // Fusion itself is pure rank arithmetic: each contribution is one
    // double divide of integral doubles; contributions accumulate in
    // DECIMAL (the engine's discipline) so union order cannot flip bits.
    oracle =
      s"""WITH $tfidfBaseCte,
        |${tfidfRkCte(2, "g2")},
        |${tfidfRkCte(3, "g3")},
        |u AS (
        | SELECT query_id, doc_id,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS contrib
        | FROM g2rk WHERE rank <= 10
        | UNION ALL
        | SELECT query_id, doc_id,
        |  CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)) AS contrib
        | FROM g3rk WHERE rank <= 10),
        |f AS (SELECT query_id, doc_id,
        |  CAST(SUM(CAST(contrib AS DECIMAL(30,15))) AS DOUBLE) AS rrf
        | FROM u GROUP BY 1, 2),
        |frk AS (SELECT query_id, doc_id, rrf,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank FROM f)
        |SELECT query_id, doc_id, rrf, rank FROM frk WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // Unigram LM perplexity signal: the corpus trains its own token
    // distribution and every doc scores its per-token −ln p under it —
    // one query, two hash-keyed shuffles, corpus total broadcast.
    Query("x_perplexity", (s, dir) =>
      Corpus.unigramNll(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
    // Groups by the token STRING where the engine groups by xxhash64 —
    // identical counts absent a 64-bit collision. ln only ever sees
    // integer-valued doubles (counts), mirroring the engine.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |inst AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
        |c AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS N FROM c),
        |per AS (
        | SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) *
        |    (ln(CAST(n.N AS DOUBLE)) - ln(CAST(c.cnt AS DOUBLE)))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM tf JOIN c USING (t) CROSS JOIN n GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
        | ROUND(per.s / CAST(per.n_tokens AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // CCNet head/middle/tail: per-LANGUAGE perplexity terciles (bucket
    // 0 = most fluent third under the corpus's own unigram LM). The
    // x_perplexity scoring plus one group-keyed window pass over the
    // #docs-sized score table; zero-token docs keep null score+bucket.
    Query("x_ppl_buckets", (s, dir) =>
      Corpus.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
          "lang", nBuckets = 3)
        .orderBy(col("doc_id")),
    // The x_perplexity scoring CTEs verbatim, then the grouped
    // x_qbucket_by_lang convention over the rounded avg_nll doubles
    // (bit-identical across engines, so rank order matches): tercile
    // cuts at 1-based ranks (i·n)//3 + 1 per language, bucket = #cuts
    // ≤ score; zero-token docs (null score) shift no ranks.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |inst AS (SELECT doc_id, unnest(tok) AS t FROM toks),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
        |c AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS N FROM c),
        |per AS (
        | SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) *
        |    (ln(CAST(n.N AS DOUBLE)) - ln(CAST(c.cnt AS DOUBLE)))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM tf JOIN c USING (t) CROSS JOIN n GROUP BY 1),
        |scored AS (
        | SELECT d.doc_id, d.lang, COALESCE(per.n_tokens, 0) AS n_tokens,
        |  ROUND(per.s / CAST(per.n_tokens AS DOUBLE), 9) AS avg_nll
        | FROM documents d LEFT JOIN per USING (doc_id)),
        |r AS (SELECT lang AS g, avg_nll AS v,
        |  row_number() OVER (PARTITION BY lang ORDER BY avg_nll) AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM scored WHERE avg_nll IS NOT NULL AND NOT isnan(avg_nll)),
        |cuts AS (SELECT g, v FROM r
        | WHERE rn IN ((1 * n) // 3 + 1, (2 * n) // 3 + 1))
        |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.avg_nll,
        | CASE WHEN sc.avg_nll IS NOT NULL AND NOT isnan(sc.avg_nll)
        |       AND EXISTS (SELECT 1 FROM cuts c2
        |                   WHERE c2.g IS NOT DISTINCT FROM sc.lang)
        |      THEN (SELECT COUNT(*) FROM cuts c2
        |            WHERE c2.g IS NOT DISTINCT FROM sc.lang
        |              AND c2.v <= sc.avg_nll)
        | END AS ppl_bucket
        |FROM scored sc ORDER BY doc_id""".stripMargin),

    // Stupid-Backoff bigram LM (Brants et al. 2007): LM trained on the
    // deterministic 80% doc_id-modulo slice, every doc scored — the
    // next-order CCNet quality signal above x_perplexity. Count-ratio
    // scores mean training is two hash-keyed aggregations; scoring is
    // three 8-byte-hash joins; the held-out 20% genuinely exercises the
    // backoff and OOV branches.
    Query("x_bigram_nll", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.bigramNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // Stupid-Backoff chain over STRING-grouped counts (engine groups by
    // xxhash64 — identical modulo a 64-bit collision). Zipped parallel
    // unnests extract bigrams positionally; 0.916290731874155 is the
    // −ln 0.4 discount as an exact literal (same double both engines);
    // every other ln input is an integral count.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS N FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM toks) GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN c2.c2 IS NOT NULL AND p.c1 IS NOT NULL
        |     THEN ln(CAST(p.c1 AS DOUBLE)) - ln(CAST(c2.c2 AS DOUBLE))
        |   WHEN q.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(n.N AS DOUBLE)) - ln(CAST(q.c1 AS DOUBLE))
        |   ELSE CAST(0.916290731874155 AS DOUBLE) + ln(CAST(n.N AS DOUBLE))
        |   END) AS nll
        | FROM tf LEFT JOIN c2 ON tf.w1 = c2.w1 AND tf.w2 = c2.w2
        |   LEFT JOIN c1 p ON tf.w1 = p.t
        |   LEFT JOIN c1 q ON tf.w2 = q.t
        |   CROSS JOIN n),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
        | ROUND(per.s / CAST(per.n_bigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Trigram Stupid-Backoff (the context rung above x_bigram_nll):
    // seen-trigram ratio, else 0.4 x bigram ratio, else 0.4^2 x unigram,
    // else 0.4^2/N — count ratios only, the two -ln(0.4) terms the same
    // baked literal on both engines.
    Query("x_trigram_nll", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.trigramNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // The same backoff CASE over string-keyed count tables (the engine
    // groups on xxhash64 keys — collision-free at fixture scale, the
    // x_bigram_nll convention); zipped unnests build the trigram
    // positions, both -ln(0.4) terms are the identical literal added
    // left-to-right as in the engine.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS N FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr) GROUP BY 1, 2, 3),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN t3.c3 IS NOT NULL AND b12.c2 IS NOT NULL
        |     THEN ln(CAST(b12.c2 AS DOUBLE)) - ln(CAST(t3.c3 AS DOUBLE))
        |   WHEN b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(u2.c1 AS DOUBLE)) - ln(CAST(b23.c2 AS DOUBLE))
        |   WHEN u3.c1 IS NOT NULL
        |     THEN CAST(0.916290731874155 AS DOUBLE)
        |       + CAST(0.916290731874155 AS DOUBLE)
        |       + ln(CAST(n.N AS DOUBLE)) - ln(CAST(u3.c1 AS DOUBLE))
        |   ELSE CAST(0.916290731874155 AS DOUBLE)
        |     + CAST(0.916290731874155 AS DOUBLE)
        |     + ln(CAST(n.N AS DOUBLE))
        |   END) AS nll
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN c2 b12 ON tf.w1 = b12.w1 AND tf.w2 = b12.w2
        |   LEFT JOIN c2 b23 ON tf.w2 = b23.w1 AND tf.w3 = b23.w2
        |   LEFT JOIN c1 u2 ON tf.w2 = u2.t
        |   LEFT JOIN c1 u3 ON tf.w3 = u3.t
        |   CROSS JOIN n),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Jelinek-Mercer interpolated bigram LM on the same 80/20 split:
    // p = 3/4 c12/c1 + 1/4 (c2+1)/(N+V) as the exact integer ratio A/B
    // (lambda a pinned rational, Laplace unigram floor), nll =
    // ln B - ln A on integral doubles — the lambda-mixture rung of the
    // smoothing ladder next to backoff (x_bigram_nll) and KN/MKN.
    Query("x_jm_nll", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.jmNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // Jelinek-Mercer mirrored: the A/B integers assembled in BIGINT
    // arithmetic (3*c12*(N+V) + 1*c1*(c2+1) over 4*c1*(N+V)), every ln
    // input integral, per-doc sums in DECIMAL(30,15).
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |c1 AS (SELECT t, COUNT(*) AS c1
        |  FROM (SELECT unnest(tok) AS t FROM tr) GROUP BY 1),
        |nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS N,
        |  COUNT(*) AS V FROM c1),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM (
        |  SELECT unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM tr) GROUP BY 1, 2),
        |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-1]) AS w1,
        |         unnest(tok[2:len(tok)]) AS w2 FROM toks) GROUP BY 1, 2, 3),
        |sc AS (
        | SELECT tf.doc_id, tf.tf, CAST(tf.tf AS DOUBLE) * (
        |   CASE WHEN p.c1 IS NOT NULL
        |     THEN ln(CAST(4 * p.c1 * (nv.N + nv.V) AS DOUBLE))
        |        - ln(CAST(3 * COALESCE(c2.c2, 0) * (nv.N + nv.V)
        |            + 1 * p.c1 * (COALESCE(q.c1, 0) + 1) AS DOUBLE))
        |     ELSE ln(CAST(nv.N + nv.V AS DOUBLE))
        |        - ln(CAST(COALESCE(q.c1, 0) + 1 AS DOUBLE))
        |   END) AS nll
        | FROM tf LEFT JOIN c2 ON tf.w1 = c2.w1 AND tf.w2 = c2.w2
        |   LEFT JOIN c1 p ON tf.w1 = p.t
        |   LEFT JOIN c1 q ON tf.w2 = q.t
        |   CROSS JOIN nv),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
        | ROUND(per.s / CAST(per.n_bigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Interpolated trigram Kneser-Ney (Chen & Goodman 1999) on the same
    // 80/20 split as x_trigram_nll: D = 3/4 exactly, continuation
    // counts for the lower orders, uniform 1/V floor at the unigram
    // level. Each level's probability is the exact rational A/B, so
    // nll = ln B - ln A keeps every ln input an integral-valued double
    // -- the DuckDB oracle unrolls the same three-level CASE with the
    // identical expression tree.
    Query("x_kn_nll", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.knNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // Interpolated Kneser-Ney, the same exact-rational ladder unrolled:
    // counts over string trigrams (the engine's xxhash64 keys are
    // collision-free at fixture scale), every A/B computed in DOUBLE
    // with the engine's exact association order, ln only of those
    // integral-valued products.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |tri AS (SELECT w1, w2, w3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr)),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT w1, w2, w3 FROM tri),
        |f2 AS (SELECT w1, w2, COUNT(*) AS f2 FROM ty GROUP BY 1, 2),
        |kn2 AS (SELECT w2, w3, COUNT(*) AS kn2 FROM ty GROUP BY 1, 2),
        |bt AS (SELECT DISTINCT w2, w3 FROM ty),
        |mid AS (SELECT w2, COUNT(*) AS mid FROM ty GROUP BY 1),
        |f1 AS (SELECT w2, COUNT(*) AS f1 FROM bt GROUP BY 1),
        |kn1 AS (SELECT w3, COUNT(*) AS kn1 FROM bt GROUP BY 1),
        |sc1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncc,
        |  CAST(COUNT(DISTINCT w3) AS BIGINT) AS v1 FROM bt),
        |sc2 AS (SELECT CAST(COUNT(DISTINCT t) + 1 AS BIGINT) AS v
        |  FROM (SELECT unnest(tok) AS t FROM tr)),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |j AS (
        | SELECT tf.doc_id, tf.tf, t3.c3, ctx.c2, f2.f2, kn2.kn2,
        |   mid.mid, f1.f1, kn1.kn1, sc1.ncc, sc1.v1, sc2.v
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN ctx ON tf.w1 = ctx.w1 AND tf.w2 = ctx.w2
        |   LEFT JOIN f2 ON tf.w1 = f2.w1 AND tf.w2 = f2.w2
        |   LEFT JOIN kn2 ON tf.w2 = kn2.w2 AND tf.w3 = kn2.w3
        |   LEFT JOIN mid ON tf.w2 = mid.w2
        |   LEFT JOIN f1 ON tf.w2 = f1.w2
        |   LEFT JOIN kn1 ON tf.w3 = kn1.w3
        |   CROSS JOIN sc1 CROSS JOIN sc2),
        |e1 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn1 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * CAST(v AS DOUBLE)
        |    + CAST(3.0 AS DOUBLE) * CAST(v1 AS DOUBLE) AS a1,
        |  CAST(4.0 AS DOUBLE) * CAST(v AS DOUBLE)
        |    * CAST(ncc AS DOUBLE) AS b1 FROM j),
        |e2 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn2 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * b1
        |    + CAST(3.0 AS DOUBLE) * CAST(f1 AS DOUBLE) * a1 AS a2,
        |  CAST(4.0 AS DOUBLE) * CAST(mid AS DOUBLE) * b1 AS b2 FROM e1),
        |e3 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(c3 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(4.0 AS DOUBLE) - CAST(3.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) * b2
        |    + CAST(3.0 AS DOUBLE) * CAST(f2 AS DOUBLE) * a2 AS a3,
        |  CAST(4.0 AS DOUBLE) * CAST(c2 AS DOUBLE) * b2 AS b3 FROM e2),
        |sc AS (SELECT doc_id, tf, CAST(tf AS DOUBLE) * (
        |   CASE WHEN c2 IS NOT NULL THEN ln(b3) - ln(a3)
        |        WHEN mid IS NOT NULL THEN ln(b2) - ln(a2)
        |        ELSE ln(b1) - ln(a1) END) AS nll FROM e3),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Modified Kneser-Ney (Chen & Goodman 1999 section 3 — KenLM's
    // default smoothing) on the same split: three discounts per level
    // estimated from that level's count-of-counts, KenLM's
    // --discount_fallback (0.5/1.0/1.5) where a level is degenerate.
    // On this corpus the trigram level estimates (healthy n1..n4), the
    // continuation-count levels fall back — both branches of the
    // in-plan CASE are live. The oracle re-derives the integer d/Q
    // discount algebra and unrolls the identical three-level ladder.
    Query("x_mkn_nll", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.mknNll(docs, docs.where(col("doc_id") % 10 < 8),
          "doc_id", "text", discountFallback = true)
        .orderBy(col("doc_id"))
    },
    // Modified KN: the x_kn_nll ladder with per-level (Q, d1, d2, d3)
    // integer discounts re-derived from count-of-counts in HUGEINT —
    // mirroring the engine's DECIMAL(38,0) cubics, which Long/BIGINT
    // would wrap past ~10^6 types per count class — (the
    // estimate-or-fallback CASE transliterated), per-context gamma class
    // counts (N1/N2/N3+), and the same three-level CASE over integral-
    // valued doubles in the engine's exact association order.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |tr AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
        |tri AS (SELECT w1, w2, w3 FROM (
        |  SELECT unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM tr)),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri GROUP BY 1, 2),
        |g3 AS (SELECT w1, w2,
        |  CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g31,
        |  CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g32,
        |  CAST(SUM(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS g33
        | FROM c3 GROUP BY 1, 2),
        |ty AS (SELECT w1, w2, w3 FROM c3),
        |kn2 AS (SELECT w2, w3, COUNT(*) AS kn2 FROM ty GROUP BY 1, 2),
        |mid AS (SELECT w2, COUNT(*) AS mid FROM ty GROUP BY 1),
        |g2 AS (SELECT w2,
        |  CAST(SUM(CASE WHEN kn2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g21,
        |  CAST(SUM(CASE WHEN kn2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS g22,
        |  CAST(SUM(CASE WHEN kn2 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS g23
        | FROM kn2 GROUP BY 1),
        |bt AS (SELECT DISTINCT w2, w3 FROM ty),
        |kn1 AS (SELECT w3, COUNT(*) AS kn1 FROM bt GROUP BY 1),
        |sc1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncc FROM bt),
        |vc AS (SELECT
        |  CAST(SUM(CASE WHEN kn1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1c,
        |  CAST(SUM(CASE WHEN kn1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2c,
        |  CAST(SUM(CASE WHEN kn1 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS v3c
        | FROM kn1),
        |sc2 AS (SELECT CAST(COUNT(DISTINCT t) + 1 AS BIGINT) AS v
        |  FROM (SELECT unnest(tok) AS t FROM tr)),
        |cc3 AS (SELECT
        |  CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM c3),
        |es3 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc3)),
        |dl3 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q3,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d31,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d32,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d33 FROM es3),
        |cc2 AS (SELECT
        |  CAST(SUM(CASE WHEN kn2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN kn2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN kn2 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN kn2 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM kn2),
        |es2 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc2)),
        |dl2 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q2,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d21,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d22,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d23 FROM es2),
        |cc1 AS (SELECT
        |  CAST(SUM(CASE WHEN kn1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN kn1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN kn1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN kn1 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM kn1),
        |es1 AS (SELECT (h1 + 2*h2)*h2*h3 AS q, h1*h2*h3 AS d1,
        |  (2*h2*(h1 + 2*h2) - 3*h1*h3)*h3 AS d2,
        |  (3*h3*(h1 + 2*h2) - 4*h1*h4)*h2 AS d3, n1, n2, n3, n4
        | FROM (SELECT CAST(n1 AS HUGEINT) AS h1, CAST(n2 AS HUGEINT) AS h2,
        |   CAST(n3 AS HUGEINT) AS h3, CAST(n4 AS HUGEINT) AS h4,
        |   n1, n2, n3, n4 FROM cc1)),
        |dl1 AS (SELECT
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN q ELSE 2 END AS q1,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d1 ELSE 1 END AS d11,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d2 ELSE 2 END AS d12,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 AND d1 > 0
        |    AND d2 > 0 AND d3 > 0 AND d1 <= q AND d2 <= 2*q AND d3 <= 3*q
        |   THEN d3 ELSE 3 END AS d13 FROM es1),
        |tf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(tok[1:len(tok)-2]) AS w1,
        |         unnest(tok[2:len(tok)-1]) AS w2,
        |         unnest(tok[3:len(tok)]) AS w3 FROM toks) GROUP BY 1, 2, 3, 4),
        |j AS (
        | SELECT tf.doc_id, tf.tf, t3.c3, ctx.c2, g3.g31, g3.g32, g3.g33,
        |   kn2.kn2, mid.mid, g2.g21, g2.g22, g2.g23, kn1.kn1,
        |   sc1.ncc, vc.v1c, vc.v2c, vc.v3c, sc2.v,
        |   dl3.q3, dl3.d31, dl3.d32, dl3.d33,
        |   dl2.q2, dl2.d21, dl2.d22, dl2.d23,
        |   dl1.q1, dl1.d11, dl1.d12, dl1.d13
        | FROM tf
        |   LEFT JOIN c3 t3 ON tf.w1 = t3.w1 AND tf.w2 = t3.w2
        |     AND tf.w3 = t3.w3
        |   LEFT JOIN ctx ON tf.w1 = ctx.w1 AND tf.w2 = ctx.w2
        |   LEFT JOIN g3 ON tf.w1 = g3.w1 AND tf.w2 = g3.w2
        |   LEFT JOIN kn2 ON tf.w2 = kn2.w2 AND tf.w3 = kn2.w3
        |   LEFT JOIN mid ON tf.w2 = mid.w2
        |   LEFT JOIN g2 ON tf.w2 = g2.w2
        |   LEFT JOIN kn1 ON tf.w3 = kn1.w3
        |   CROSS JOIN sc1 CROSS JOIN vc CROSS JOIN sc2
        |   CROSS JOIN dl3 CROSS JOIN dl2 CROSS JOIN dl1),
        |e1 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn1 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q1 AS DOUBLE)
        |      - (CASE WHEN kn1 = 1 THEN CAST(d11 AS DOUBLE)
        |              WHEN kn1 = 2 THEN CAST(d12 AS DOUBLE)
        |              ELSE CAST(d13 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * CAST(v AS DOUBLE)
        |    + (CAST(d11 AS DOUBLE) * CAST(v1c AS DOUBLE)
        |       + CAST(d12 AS DOUBLE) * CAST(v2c AS DOUBLE)
        |       + CAST(d13 AS DOUBLE) * CAST(v3c AS DOUBLE)) AS a1,
        |  CAST(ncc AS DOUBLE) * CAST(q1 AS DOUBLE)
        |    * CAST(v AS DOUBLE) AS b1 FROM j),
        |e2 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(kn2 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q2 AS DOUBLE)
        |      - (CASE WHEN kn2 = 1 THEN CAST(d21 AS DOUBLE)
        |              WHEN kn2 = 2 THEN CAST(d22 AS DOUBLE)
        |              ELSE CAST(d23 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * b1
        |    + (CAST(d21 AS DOUBLE) * CAST(g21 AS DOUBLE)
        |       + CAST(d22 AS DOUBLE) * CAST(g22 AS DOUBLE)
        |       + CAST(d23 AS DOUBLE) * CAST(g23 AS DOUBLE)) * a1 AS a2,
        |  CAST(mid AS DOUBLE) * CAST(q2 AS DOUBLE) * b1 AS b2 FROM e1),
        |e3 AS (SELECT *,
        |  GREATEST(COALESCE(CAST(c3 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |      * CAST(q3 AS DOUBLE)
        |      - (CASE WHEN c3 = 1 THEN CAST(d31 AS DOUBLE)
        |              WHEN c3 = 2 THEN CAST(d32 AS DOUBLE)
        |              ELSE CAST(d33 AS DOUBLE) END),
        |    CAST(0.0 AS DOUBLE)) * b2
        |    + (CAST(d31 AS DOUBLE) * CAST(g31 AS DOUBLE)
        |       + CAST(d32 AS DOUBLE) * CAST(g32 AS DOUBLE)
        |       + CAST(d33 AS DOUBLE) * CAST(g33 AS DOUBLE)) * a2 AS a3,
        |  CAST(c2 AS DOUBLE) * CAST(q3 AS DOUBLE) * b2 AS b3 FROM e2),
        |sc AS (SELECT doc_id, tf, CAST(tf AS DOUBLE) * (
        |   CASE WHEN c2 IS NOT NULL THEN ln(b3) - ln(a3)
        |        WHEN mid IS NOT NULL THEN ln(b2) - ln(a2)
        |        ELSE ln(b1) - ln(a1) END) AS nll FROM e3),
        |per AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
        |  CAST(SUM(CAST(nll AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_trigrams, 0) AS n_trigrams,
        | ROUND(per.s / CAST(per.n_trigrams AS DOUBLE), 9) AS avg_nll
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): every doc in the raw
    // pool scores ln(p_target/p_raw) under hashed unigram+bigram bucket
    // models of a 2-source "quality" target vs the whole pool — the
    // select-web-data-that-looks-like-the-target gate as one plan.
    // Bucket counts are tiny broadcasts; the only data-sized exchange is
    // the per-doc (id, bucket, f) collapse.
    Query("x_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.dsirLogWeights(docs,
          docs.where(col("source").isin("src1", "src2")), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // DSIR chain: identical md5-prefix feature buckets (2 hex chars =
    // 256-bucket space), add-1 smoothing over the full space so every ln
    // input is an integral-valued double; the normalizer term n·(ln(Nr+B)
    // − ln(Nt+B)) factors out of the bucket sum exactly as the engine
    // computes it.
    oracle =
      """WITH toks AS (
        | SELECT doc_id, source, CASE WHEN LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END AS tok
        | FROM documents),
        |feats AS (
        | SELECT doc_id, source, substring(md5(g), 1, 2) AS b FROM (
        |  SELECT doc_id, source, unnest(list_concat(tok,
        |    list_transform(range(1, len(tok)),
        |      i -> tok[i] || ' ' || tok[i+1]))) AS g
        |  FROM toks)),
        |ct AS (SELECT b, COUNT(*) AS ct FROM feats
        |  WHERE source IN ('src1', 'src2') GROUP BY 1),
        |cr AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY 1),
        |nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM ct),
        |nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM cr),
        |lam AS (SELECT COALESCE(ct.b, cr.b) AS b,
        |  ln(CAST(COALESCE(ct.ct, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) -
        |  ln(CAST(COALESCE(cr.cr, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) AS lam
        | FROM ct FULL OUTER JOIN cr ON ct.b = cr.b),
        |f AS (SELECT doc_id, b, COUNT(*) AS f FROM feats GROUP BY 1, 2),
        |per AS (SELECT f.doc_id, CAST(SUM(f.f) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(f.f AS DOUBLE) * lam.lam
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM f JOIN lam USING (b) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n, 0) AS n_feats,
        | ROUND(COALESCE(per.s, CAST(0.0 AS DOUBLE)) +
        |   CAST(COALESCE(per.n, 0) AS DOUBLE) *
        |   (ln(CAST(nr.nr AS DOUBLE) + CAST(256.0 AS DOUBLE)) -
        |    ln(CAST(nt.nt AS DOUBLE) + CAST(256.0 AS DOUBLE))), 9) AS log_w
        |FROM documents d LEFT JOIN per USING (doc_id)
        |CROSS JOIN nt CROSS JOIN nr
        |ORDER BY d.doc_id""".stripMargin),

    // Multilingual temperature sampling (α = 0.5): per-language resample
    // plan q ∝ p^α — one count aggregation, everything downstream on the
    // #strata-row broadcast-sized table.
    Query("x_temperature", (s, dir) =>
      Corpus.temperatureMixture(t(s, dir, "documents"), "lang", alpha = 0.5)
        .orderBy(col("lang")),
    // Same α-power chain; POWER's ulp is absorbed by round-9, the
    // normalizer sums in DECIMAL.
    oracle =
      """WITH c AS (SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY 1),
        |n AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS N FROM c),
        |wp AS (SELECT lang, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(n.N AS DOUBLE) AS p,
        |  POWER(CAST(n_rows AS DOUBLE) / CAST(n.N AS DOUBLE),
        |    CAST(0.5 AS DOUBLE)) AS s
        | FROM c CROSS JOIN n),
        |z AS (SELECT CAST(SUM(CAST(s AS DECIMAL(30,15))) AS DOUBLE) AS Z
        | FROM wp)
        |SELECT lang, n_rows, ROUND(p, 9) AS p, ROUND(s / z.Z, 9) AS q,
        | ROUND(s / z.Z / p, 9) AS weight
        |FROM wp CROSS JOIN z ORDER BY lang""".stripMargin),

    // Memorization-risk scoring: fraction of each doc's distinct 5-grams
    // that appear in ≥2 documents — the per-span signal behind
    // boilerplate pruning, computed over 8-byte gram hashes (bodies
    // never shuffle).
    Query("x_dup_coverage", (s, dir) =>
      Corpus.duplicateCoverage(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minDf = 2L)
        .orderBy(col("doc_id")),
    // Distinct space-joined 5-gram strings where the engine counts
    // distinct xxhash64 gram hashes — identical modulo collision.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        | SELECT doc_id, unnest(list_transform(range(1, len(tok) - 3),
        |   i -> array_to_string(tok[i:i+4], ' '))) AS gram
        | FROM toks WHERE len(tok) >= 5)),
        |dup AS (SELECT gram FROM (
        | SELECT gram, COUNT(*) AS df FROM g GROUP BY 1) WHERE df >= 2),
        |nd AS (SELECT doc_id, COUNT(*) AS nd
        | FROM g JOIN dup USING (gram) GROUP BY 1),
        |ng AS (SELECT doc_id, COUNT(*) AS ng FROM g GROUP BY 1)
        |SELECT d.doc_id, COALESCE(ng.ng, 0) AS n_grams,
        | CASE WHEN ng.ng IS NOT NULL THEN COALESCE(nd.nd, 0) ELSE 0 END AS n_dup,
        | ROUND(CAST(COALESCE(nd.nd, 0) AS DOUBLE) / CAST(ng.ng AS DOUBLE), 9)
        |   AS dup_frac
        |FROM documents d LEFT JOIN ng USING (doc_id) LEFT JOIN nd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Deterministic map-only stratified sampling: md5-bucket filter with
    // per-language rates (en 8/16, others 1/16). No RNG state, no
    // shuffle — reproducible on 1 executor or 1000.
    Query("x_sample", (s, dir) =>
      Corpus.hashStratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 8), defaultPer16 = 1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    oracle =
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 1) <
        |  (CASE WHEN lang = 'en' THEN '8' ELSE '1' END)
        |ORDER BY doc_id""".stripMargin),

    // Deterministic train/val/test split assignment (80/10/10): 16-bit
    // md5-bucket cutoffs, map-only, no RNG — the same rows land in the
    // same split on any cluster size, re-run, or engine, which is what
    // keeps eval sets stable across pipeline reruns. Oracle mirrors the
    // literal hex cutoffs (0.8 → 'cccd', 0.9 → 'e666').
    Query("x_split", (s, dir) =>
      Corpus.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id"),
    // Split key hashes through the length-prefixed encoding
    // (v<len>:<key>); 16-bit cutoffs cccd (0.8) and e666 (0.9).
    oracle =
      """SELECT doc_id, lang,
        | CASE WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |      THEN 'train'
        |      WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |      THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Rendezvous sharding under today's 32 nodes AND tomorrow's 33:
    // the moved set is exactly the keys the new shard wins (every
    // moved row's shard_next = 32 — visible in the result), ~1/33 of
    // the corpus instead of modulo-remapping's near-total rewrite.
    // Map-only; the oracle re-derives both argmaxes from one shared
    // md5 weight table.
    Query("x_shard", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      Corpus.rendezvousShard(
          Corpus.rendezvousShard(d, "doc_id", 32, "shard"),
          "doc_id", 33, "shard_next")
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("shard_next").cast("long").as("shard_next"),
          (col("shard") =!= col("shard_next")).as("moved"))
        .orderBy("doc_id")
    },
    // One md5 weight table (the same length-prefixed encoding + '#'
    // separator), argmax over i < 32 for today's map and over all 33
    // for tomorrow's — hex strings compare lexicographically ≡
    // numerically on both engines.
    oracle =
      """WITH k AS (SELECT doc_id,
        |  'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |    || ':' || CAST(doc_id AS VARCHAR) AS ek
        | FROM documents),
        |w AS (SELECT doc_id, r.i AS i,
        |   md5(ek || '#' || CAST(r.i AS VARCHAR)) AS h
        | FROM k, range(0, 33) r(i)),
        |s1 AS (SELECT doc_id, CAST(arg_max(i, h) AS BIGINT) AS shard
        | FROM w WHERE i < 32 GROUP BY doc_id),
        |s2 AS (SELECT doc_id, CAST(arg_max(i, h) AS BIGINT) AS shard_next
        | FROM w GROUP BY doc_id)
        |SELECT s1.doc_id, s1.shard, s2.shard_next,
        |  s1.shard <> s2.shard_next AS moved
        |FROM s1 JOIN s2 USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Cross-document boilerplate removal (C4/MassiveText line dedup):
    // any 10-word span occurring in ≥2 distinct documents is deleted
    // from every document containing it. Unit doc-frequency aggregates
    // on 8-byte span hashes (strings never shuffle in the count);
    // bodies shuffle once to rebuild.
    Query("x_line_dedup", (s, dir) =>
      Corpus.removeFrequentUnits(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TF.wordSpans(col("text"), 10), minDf = 2L)
        .orderBy("doc_id"),
    // Units are the same 10-word spans (partial tail included) the Spark
    // side derives via wordSpans(text, 10); df counts DISTINCT docs.
    oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w
        | FROM documents),
        |idx AS (
        | SELECT doc_id, w, unnest(generate_series(1, len(w))) ord FROM toks),
        |units AS (
        | SELECT doc_id, CAST(floor((ord-1)/10) AS BIGINT) g,
        |  string_agg(w[ord], ' ' ORDER BY ord) u
        | FROM idx GROUP BY doc_id, g),
        |freq AS (
        | SELECT u FROM units GROUP BY u HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (
        | SELECT doc_id, g, u FROM units WHERE u NOT IN (SELECT u FROM freq)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(u, ' ' ORDER BY g) clean_text, count(*) nk
        | FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) nt FROM units GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
        | CAST(t.nt - coalesce(r.nk, 0) AS BIGINT) AS n_units_removed
        |FROM tot t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // Substring-granular exact dedup (Lee et al. ExactSubstr): content-
    // defined anchors (md5-prefix cutoff — the portable selection both
    // engines compute identically) mark every k-gram occurring ≥2 times
    // corpus-wide; anchors ≤100 apart merge into spans, spans cut from
    // clean_text. Occurrence counts aggregate 8-byte hashes with an
    // exact-string confirm; bodies never shuffle.
    Query("x_substring_dedup", (s, dir) =>
      Corpus.dedupSubstringsPortable(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 20, cutoffHex = "10", maxGap = 100)
        .select(col("doc_id"), col("n_spans"), col("n_dup_anchors"),
          col("dup_chars"), col("clean_len"), col("clean_text"))
        .orderBy("doc_id"),
    // Anchor selection = md5-prefix cutoff, identical in both engines;
    // spans from the same LAG/run-id merge; clean_text stitched from the
    // inter-span pieces.
    oracle =
      """WITH pos AS (
        | SELECT doc_id, text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM documents),
        |a AS (
        | SELECT doc_id, s, substr(text, s + 1, 20) AS w FROM pos
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |freq AS (SELECT w FROM a GROUP BY w HAVING COUNT(*) >= 2),
        |dup AS (SELECT a.doc_id, a.s FROM a JOIN freq USING (w)),
        |runs AS (
        | SELECT doc_id, s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 100 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s) AS run
        | FROM (SELECT doc_id, s,
        |        s - LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS gap
        |       FROM dup) g),
        |spans AS (
        | SELECT doc_id, run, MIN(s) AS s0, MAX(s) + 20 AS e0, COUNT(*) AS na
        | FROM runs GROUP BY doc_id, run),
        |pieces AS (
        | SELECT doc_id, s0, e0,
        |  substr(text, COALESCE(LAG(e0) OVER w2, 0) + 1,
        |         s0 - COALESCE(LAG(e0) OVER w2, 0)) AS piece
        | FROM spans JOIN documents USING (doc_id)
        | WINDOW w2 AS (PARTITION BY doc_id ORDER BY s0)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(piece, '' ORDER BY s0) AS head,
        |        MAX(e0) AS laste
        | FROM pieces GROUP BY doc_id),
        |stats AS (
        | SELECT doc_id, COUNT(*) AS n_spans, SUM(na) AS n_dup_anchors,
        |        SUM(e0 - s0) AS dup_chars
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(st.n_dup_anchors, 0) AS BIGINT) AS n_dup_anchors,
        | CAST(COALESCE(st.dup_chars, 0) AS BIGINT) AS dup_chars,
        | CAST(length(d.text) - COALESCE(st.dup_chars, 0) AS BIGINT) AS clean_len,
        | COALESCE(r.head, '') || substr(d.text, COALESCE(r.laste, 0) + 1)
        |   AS clean_text
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Span-level benchmark decontamination: regions of training docs
    // (doc_id % 10 != 0) that appear verbatim in the benchmark slice
    // (doc_id % 10 == 0) are marked and cut — surgical removal of the
    // leak, not whole-document discard. Content-defined anchors both
    // sides; benchmark anchor vocabulary broadcasts into the mark join.
    Query("x_decontam_spans", (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.contaminationSpansPortable(
          d.where(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")),
          "doc_id", "text",
          d.where(col("doc_id") % 10 === 0), "text",
          k = 20, cutoffHex = "10", maxGap = 100)
        .select(col("doc_id"), col("n_spans"), col("n_contam_anchors"),
          col("contam_chars"), col("clean_len"), col("clean_text"))
        .orderBy("doc_id")
    },
    // Same anchor/span/cut skeleton as x_substring_dedup, with the
    // benchmark slice's distinct anchor grams as the mark set.
    oracle =
      """WITH train AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |bench AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
        |tp AS (
        | SELECT doc_id, text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM train),
        |ta AS (
        | SELECT doc_id, s, substr(text, s + 1, 20) AS w FROM tp
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |bp AS (
        | SELECT text,
        |  CAST(UNNEST(range(0, GREATEST(length(text) - 19, 0))) AS INT) AS s
        | FROM bench),
        |bv AS (
        | SELECT DISTINCT substr(text, s + 1, 20) AS w FROM bp
        | WHERE substr(md5(substr(text, s + 1, 20)), 1, 2) < '10'),
        |dup AS (SELECT ta.doc_id, ta.s FROM ta JOIN bv USING (w)),
        |runs AS (
        | SELECT doc_id, s,
        |  SUM(CASE WHEN gap IS NULL OR gap > 100 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s) AS run
        | FROM (SELECT doc_id, s,
        |        s - LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS gap
        |       FROM dup) g),
        |spans AS (
        | SELECT doc_id, run, MIN(s) AS s0, MAX(s) + 20 AS e0, COUNT(*) AS na
        | FROM runs GROUP BY doc_id, run),
        |pieces AS (
        | SELECT doc_id, s0, e0,
        |  substr(text, COALESCE(LAG(e0) OVER w2, 0) + 1,
        |         s0 - COALESCE(LAG(e0) OVER w2, 0)) AS piece
        | FROM spans JOIN train USING (doc_id)
        | WINDOW w2 AS (PARTITION BY doc_id ORDER BY s0)),
        |rebuilt AS (
        | SELECT doc_id, string_agg(piece, '' ORDER BY s0) AS head,
        |        MAX(e0) AS laste
        | FROM pieces GROUP BY doc_id),
        |stats AS (
        | SELECT doc_id, COUNT(*) AS n_spans, SUM(na) AS n_contam_anchors,
        |        SUM(e0 - s0) AS contam_chars
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(st.n_contam_anchors, 0) AS BIGINT) AS n_contam_anchors,
        | CAST(COALESCE(st.contam_chars, 0) AS BIGINT) AS contam_chars,
        | CAST(length(d.text) - COALESCE(st.contam_chars, 0) AS BIGINT) AS clean_len,
        | COALESCE(r.head, '') || substr(d.text, COALESCE(r.laste, 0) + 1)
        |   AS clean_text
        |FROM train d
        |LEFT JOIN stats st USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Greedy data selection under a global token budget: best-quality
    // documents first until 600 tokens are spent. The running sum is the
    // two-level bucketed cumsum (no single-reducer global window).
    Query("x_budget_select", (s, dir) =>
      Corpus.budgetSelect(
          t(s, dir, "documents").select(col("doc_id"),
            TF.qualityScore(col("text")).as("quality"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", col("quality"), col("n_tokens"), budget = 600L)
        .orderBy("doc_id"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality,
        |  CAST(len(tok) AS BIGINT) AS n_tokens
        | FROM toks),
        |cum AS (
        | SELECT doc_id, quality, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        | FROM scored)
        |SELECT doc_id, quality, n_tokens, cum_cost,
        | cum_cost <= 600 AS selected
        |FROM cum ORDER BY doc_id""".stripMargin),

    // Per-language percentile calibration: raw quality scores rank
    // within their language ((score, id) total order), pct = SQL
    // PERCENT_RANK. The rank is the two-level monotone-bucket
    // decomposition — the data-sized window keys on (lang, bucket),
    // never on the bare language.
    Query("x_score_calibrate", (s, dir) =>
      Corpus.calibrateScores(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            TF.qualityScore(col("text")).as("quality")),
          "doc_id", "lang", col("quality"))
        .orderBy("doc_id"),
    // Inclusive running token sum over (quality DESC, doc_id) — DuckDB
    // runs the plain global window; the Spark side's bucket-decomposed
    // sum must be bit-identical to it.
    // DuckDB runs the plain per-language window; the engine's bucket-
    // decomposed rank must equal it exactly. pct is one IEEE division of
    // two exact integers.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, lang, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, lang,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |r AS (
        | SELECT doc_id, lang, quality,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY quality, doc_id) AS BIGINT) AS rank_in_group,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        | FROM scored)
        |SELECT doc_id, lang, quality, rank_in_group,
        | CASE WHEN n > 1
        |   THEN CAST(rank_in_group - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |   ELSE 0.0 END AS pct
        |FROM r ORDER BY doc_id""".stripMargin),

    // Per-group budget selection (per-source/language caps — how mixture
    // targets become selections): same two-level monotone-bucket cumsum,
    // every partitioning carries the group key, groups select
    // independently in one pass. en gets 2000 tokens, zh 800, others 500.
    Query("x_budget_by_lang", (s, dir) =>
      Corpus.budgetSelectPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            TF.qualityScore(col("text")).as("quality"),
            TF.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "lang", col("quality"), col("n_tokens"),
          budgets = Map("en" -> 2000L, "zh" -> 800L), defaultBudget = 500L)
        .orderBy("doc_id"),
    // Oracle runs the plain per-group global window; the engine's
    // group+bucket decomposition must hash-match it bit-for-bit.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, lang, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |scored AS (
        | SELECT doc_id, lang,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality,
        |  CAST(len(tok) AS BIGINT) AS n_tokens
        | FROM toks),
        |cum AS (
        | SELECT doc_id, lang, quality, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cost
        | FROM scored)
        |SELECT doc_id, lang, quality, n_tokens, cum_cost,
        | cum_cost <= CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 800
        |   ELSE 500 END AS selected
        |FROM cum ORDER BY doc_id""".stripMargin),

    // In-engine linear quality-probe training: 3 full-batch GD rounds on
    // square loss over md5-hashed bag-of-words features (dim=64), label =
    // is-English. Per-round numerics follow the pagerank discipline
    // (double products, decimal-exact sums), so DuckDB unrolling the same
    // rounds reproduces the weights bit-for-bit.
    Query("x_train_probe", (s, dir) =>
      Corpus.trainLinearProbe(t(s, dir, "documents"), "doc_id", "text",
          when(col("lang") === "en", 1.0).otherwise(0.0),
          dim = 64, rounds = 3, lr = 1e-4)
        .orderBy("bucket"),
    // Unrolled 3-round full-batch GD: w0 = 0 (round 1 residual = −y);
    // per-round pred/grad sums are double products summed in
    // DECIMAL(30,15); updates are scalar double w − (1e-4 · g).
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |feat AS (
        | SELECT doc_id,
        |  CAST(CAST(CONCAT('0x', substring(md5(t.tok), 1, 4)) AS INTEGER) % 64 AS INTEGER) AS bucket,
        |  COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS tok FROM toks) t
        | GROUP BY 1, 2),
        |lab AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
        | FROM documents),
        |b AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket),
        |g1 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * (0.0 - l.y) AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN lab l USING (doc_id) GROUP BY 1),
        |w1 AS (
        | SELECT b.bucket,
        |  CASE WHEN g1.g IS NULL THEN 0.0 ELSE 0.0 - (1e-4 * g1.g) END AS w
        | FROM b LEFT JOIN g1 USING (bucket)),
        |p2 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w1.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w1 USING (bucket) GROUP BY 1),
        |r2 AS (
        | SELECT l.doc_id, COALESCE(p2.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p2 USING (doc_id)),
        |g2 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r2.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r2 USING (doc_id) GROUP BY 1),
        |w2 AS (
        | SELECT w1.bucket,
        |  CASE WHEN g2.g IS NULL THEN w1.w ELSE w1.w - (1e-4 * g2.g) END AS w
        | FROM w1 LEFT JOIN g2 USING (bucket)),
        |p3 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w2.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w2 USING (bucket) GROUP BY 1),
        |r3 AS (
        | SELECT l.doc_id, COALESCE(p3.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p3 USING (doc_id)),
        |g3 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r3.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r3 USING (doc_id) GROUP BY 1),
        |w3 AS (
        | SELECT w2.bucket,
        |  CASE WHEN g3.g IS NULL THEN w2.w ELSE w2.w - (1e-4 * g3.g) END AS w
        | FROM w2 LEFT JOIN g3 USING (bucket))
        |SELECT bucket, ROUND(w, 9) AS weight FROM w3 ORDER BY bucket""".stripMargin),

    // Probe inference over the trained weights: w·x per document
    // (map-side broadcast join + one per-doc aggregation) — the gate that
    // turns the trained probe into a corpus filter.
    Query("x_probe_score", (s, dir) => {
      val d = t(s, dir, "documents")
      val wts = Corpus.trainLinearProbe(d, "doc_id", "text",
        when(col("lang") === "en", 1.0).otherwise(0.0),
        dim = 64, rounds = 3, lr = 1e-4)
      Corpus.scoreLinearProbe(d, "doc_id", "text", wts, dim = 64)
        .orderBy("doc_id")
    },
    oracle =
      (raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |feat AS (
        | SELECT doc_id,
        |  CAST(CAST(CONCAT('0x', substring(md5(t.tok), 1, 4)) AS INTEGER) % 64 AS INTEGER) AS bucket,
        |  COUNT(*) AS cnt
        | FROM (SELECT doc_id, unnest(tok) AS tok FROM toks) t
        | GROUP BY 1, 2),
        |lab AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
        | FROM documents),
        |b AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket),
        |g1 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * (0.0 - l.y) AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN lab l USING (doc_id) GROUP BY 1),
        |w1 AS (
        | SELECT b.bucket,
        |  CASE WHEN g1.g IS NULL THEN 0.0 ELSE 0.0 - (1e-4 * g1.g) END AS w
        | FROM b LEFT JOIN g1 USING (bucket)),
        |p2 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w1.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w1 USING (bucket) GROUP BY 1),
        |r2 AS (
        | SELECT l.doc_id, COALESCE(p2.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p2 USING (doc_id)),
        |g2 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r2.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r2 USING (doc_id) GROUP BY 1),
        |w2 AS (
        | SELECT w1.bucket,
        |  CASE WHEN g2.g IS NULL THEN w1.w ELSE w1.w - (1e-4 * g2.g) END AS w
        | FROM w1 LEFT JOIN g2 USING (bucket)),
        |p3 AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(w2.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS pred
        | FROM feat f JOIN w2 USING (bucket) GROUP BY 1),
        |r3 AS (
        | SELECT l.doc_id, COALESCE(p3.pred, 0.0) - l.y AS resid
        | FROM lab l LEFT JOIN p3 USING (doc_id)),
        |g3 AS (
        | SELECT f.bucket,
        |  CAST(SUM(CAST(CAST(f.cnt AS DOUBLE) * r3.resid AS DECIMAL(30,15))) AS DOUBLE) AS g
        | FROM feat f JOIN r3 USING (doc_id) GROUP BY 1),
        |w3 AS (
        | SELECT w2.bucket,
        |  CASE WHEN g3.g IS NULL THEN w2.w ELSE w2.w - (1e-4 * g3.g) END AS w
        | FROM w2 LEFT JOIN g3 USING (bucket)),
        |wf AS (SELECT bucket, ROUND(w, 9) AS w FROM w3),
        |sc AS (
        | SELECT f.doc_id,
        |  CAST(SUM(CAST(wf.w * CAST(f.cnt AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM feat f JOIN wf USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, ROUND(COALESCE(sc.s, 0.0), 9) AS probe_score
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""").stripMargin),

    // fastText-style hashed-n-gram classifier inference with planted
    // dyadic weights (w_b = (((b*37) % 13) - 6)/8, bias -0.25): unigram
    // + bigram features, md5-16-bit buckets mod 64, decimal-exact mean
    // pooling — map-only, zero shuffles beyond the presentation sort.
    // prob (the true sigmoid) stays out of the oracle: JVM and C libm
    // exp() diverge by 1 ulp on ~0.4% of inputs (see the scaladoc).
    Query("x_fasttext", (s, dir) =>
      Corpus.fastTextScore(t(s, dir, "documents"), "doc_id", "text",
          weights = (0 until 64).map(b => (((b * 37) % 13) - 6) / 8.0),
          bias = -0.25)
        .drop("prob")
        .orderBy("doc_id"),
    // Same unrolled training chain, then w·x scoring with the ROUNDED
    // published weights (what a consumer of the weight table would use).
    // fastText inference: the same feature list (unigrams + positional
    // bigrams), the '0x'-cast md5 bucket, DECIMAL(30,15) weight sums,
    // and the sign-thresholded label — score exact, prob not oracled.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |wt AS (SELECT list_transform(range(0, 64),
        |  b -> (CAST((b*37) % 13 AS DOUBLE) - CAST(6.0 AS DOUBLE))
        |    / CAST(8.0 AS DOUBLE)) AS w),
        |f AS (SELECT doc_id, list_concat(tok,
        |   list_transform(range(1, len(tok)),
        |     i -> tok[i] || ' ' || tok[i+1])) AS feats
        | FROM toks),
        |s AS (SELECT doc_id, len(feats) AS n,
        |  COALESCE(list_sum(list_transform(feats,
        |    g -> CAST(w[CAST(CAST(CONCAT('0x', substring(md5(g), 1, 4))
        |      AS INTEGER) % 64 AS INTEGER) + 1] AS DECIMAL(30,15)))),
        |   CAST(0 AS DECIMAL(30,15))) AS sm
        | FROM f CROSS JOIN wt),
        |sc AS (SELECT doc_id, n,
        |  CASE WHEN n > 0
        |   THEN CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
        |     + CAST(-0.25 AS DOUBLE)
        |   ELSE CAST(-0.25 AS DOUBLE) END AS score
        | FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_feats,
        | ROUND(score, 9) AS score,
        | CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Context-window chunking: 64-token chunks with stride 48 (16-token
    // overlap), exploded to rows. The lambda runs per CHUNK; slice +
    // array_join do the token work natively.
    Query("x_chunk", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        inline(TF.chunkTokens(col("text"), chunkLen = 64, stride = 48)))
        .orderBy("doc_id", "chunk_idx"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, tok,
        |  CASE WHEN len(tok) = 0 THEN 0
        |       ELSE GREATEST(CAST(CEIL(CAST(len(tok) - 64 AS DOUBLE) / 48)
        |              AS BIGINT), 0) + 1 END AS n_chunks
        | FROM toks)
        |SELECT doc_id, CAST(u AS INTEGER) AS chunk_idx,
        | CAST(u * 48 AS BIGINT) AS token_start,
        | array_to_string(tok[(u * 48 + 1):(u * 48 + 64)], ' ') AS chunk_text
        |FROM (SELECT doc_id, tok, unnest(range(0, n_chunks)) AS u FROM c)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // Sequence-packing offsets: exclusive cumsum of token counts in
    // doc_id order via the two-level bucket scan (no single-reducer
    // global window), plus the 2048-token chunk each doc starts in.
    Query("x_pack", (s, dir) =>
      Corpus.packOffsets(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 2048L, bucketWidth = 64L)
        .orderBy("doc_id"),
    // The oracle's single global window IS the naive plan the operator
    // avoids — same arithmetic, different execution shape.
    oracle =
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS nt
        | FROM documents),
        |o AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        | FROM d)
        |SELECT doc_id, n_tokens, start_offset,
        | CAST((start_offset - start_offset % 2048) / 2048 AS BIGINT) AS chunk_id
        |FROM o ORDER BY doc_id""".stripMargin),

    // Full sequence-packing spans: every doc explodes into the spans it
    // contributes to each 128-token training sequence it crosses —
    // packOffsets' two-level cumsum plus a bounded map-only explode.
    Query("x_pack_spans", (s, dir) =>
      Corpus.packSpans(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 128L, bucketWidth = 64L)
        .orderBy("doc_id", "seq_id"),
    // Oracle runs the plain global cumsum + per-doc span arithmetic; the
    // engine's bucket-decomposed offsets and bounded explode must match
    // it bit-for-bit.
    oracle =
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS nt
        | FROM documents),
        |o AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset
        | FROM d),
        |spans AS (
        | SELECT doc_id, n_tokens, start_offset,
        |  CAST(unnest(range(start_offset // 128,
        |    (start_offset + n_tokens - 1) // 128 + 1)) AS BIGINT) AS seq_id
        | FROM o WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, seq_id,
        | CAST(GREATEST(start_offset, seq_id * 128) - seq_id * 128 AS BIGINT) AS seq_start,
        | CAST(GREATEST(start_offset, seq_id * 128) - start_offset AS BIGINT) AS doc_start,
        | CAST(LEAST(start_offset + n_tokens, (seq_id + 1) * 128)
        |   - GREATEST(start_offset, seq_id * 128) AS BIGINT) AS span_len
        |FROM spans ORDER BY doc_id, seq_id""".stripMargin),

    // C4 rule-based cleaning gate over line structure derived in-query
    // (the fixture is single-line): tokens chunk into 10-token lines,
    // every third line left WITHOUT terminal punctuation — the gate must
    // keep exactly the punctuated ≥3-token lines and flag docs on the
    // published heuristics (≥3 surviving lines, no braces, no lorem
    // ipsum). Map-only: the whole derivation + gate runs inside the scan
    // projection, zero exchanges before the presentation sort.
    Query("x_c4_gate", (s, dir) => {
      val derived = t(s, dir, "documents")
        .select(col("doc_id"), plantedLines.as("ltext"))
      Corpus.c4Gate(derived, "doc_id", "ltext").orderBy("doc_id")
    },
    // Derives the same 10-token lines (every third unpunctuated) and
    // applies the same substring/size gate rules — list lambdas with
    // 1-based indices, so (i-1) mirrors Spark's 0-based transform.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END) AS lines
        | FROM toks),
        |gated AS (
        | SELECT doc_id, lines,
        |  list_filter(lines, l ->
        |    right(TRIM(l), 1) IN ('.', '!', '?', '"') AND
        |    len(regexp_split_to_array(TRIM(l), '\s+')) >= 3) AS kept_lines,
        |  array_to_string(lines, chr(10)) AS ltext
        | FROM lined)
        |SELECT doc_id,
        | array_to_string(list_transform(kept_lines, l -> TRIM(l)), chr(10)) AS clean_text,
        | CAST(len(kept_lines) AS BIGINT) AS n_lines_kept,
        | (len(kept_lines) >= 3 AND NOT contains(ltext, '{')
        |   AND NOT contains(lower(ltext), 'lorem ipsum')) AS kept
        |FROM gated ORDER BY doc_id""".stripMargin),

    // Stage-by-stage curation funnel over the planted line structure:
    // input → C4 survivors → Gopher survivors, each stage reporting
    // docs + token volume — the retention table a 100 TB curation run
    // publishes ("which gate costs how much corpus"). Three 1-row
    // map-only aggregates unioned.
    Query("x_curation_funnel", (s, dir) => {
      val derived = t(s, dir, "documents")
        .select(col("doc_id"), plantedLines.as("ltext"))
      Corpus.curationFunnel(derived, "doc_id", "ltext",
        minWords = 30, minStop = 1).orderBy("stage")
    },
    // The funnel composes the two gate oracles end-to-end: planted
    // lines → C4 survivors (clean_text) → Gopher(30,1) survivors, each
    // stage one (docs, tokens) row; token sums CAST to BIGINT.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END) AS lines
        | FROM toks),
        |gated AS (
        | SELECT doc_id, lines,
        |  list_filter(lines, l ->
        |    right(TRIM(l), 1) IN ('.', '!', '?', '"') AND
        |    len(regexp_split_to_array(TRIM(l), '\s+')) >= 3) AS kept_lines,
        |  array_to_string(lines, chr(10)) AS ltext
        | FROM lined),
        |c4 AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(kept_lines, l -> TRIM(l)), chr(10)) AS ct,
        |  (len(kept_lines) >= 3 AND NOT contains(ltext, '{')
        |    AND NOT contains(lower(ltext), 'lorem ipsum')) AS kept
        | FROM gated),
        |s1d AS (SELECT doc_id, ct,
        |  CASE WHEN LENGTH(TRIM(ct)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(ct), '\s+') END AS tok
        | FROM c4 WHERE kept),
        |gm AS (
        | SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(ct) - LENGTH(replace(ct, '#', '')) AS n_hash,
        |  (LENGTH(ct) - LENGTH(replace(ct, '...', ''))) / 3 AS n_ell,
        |  (CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END) AS n_stop
        | FROM s1d),
        |g2 AS (SELECT doc_id, tok, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS mwl,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS sym,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS af,
        |  n_stop
        | FROM gm),
        |s2d AS (SELECT doc_id, tok FROM g2
        | WHERE n_words >= 30 AND n_words <= 100000 AND mwl >= 3.0
        |   AND mwl <= 10.0 AND sym < 0.1 AND af > 0.8 AND n_stop >= 1),
        |r0 AS (SELECT CAST(0 AS BIGINT) AS stage, 'input' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM toks),
        |r1 AS (SELECT CAST(1 AS BIGINT) AS stage, 'c4_gate' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM s1d),
        |r2 AS (SELECT CAST(2 AS BIGINT) AS stage, 'gopher_gate' AS gate,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(len(tok)), 0) AS BIGINT) AS n_tokens FROM s2d)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL
        |SELECT * FROM r2 ORDER BY stage""".stripMargin),

    // Gopher document-quality gate (Rae et al. 2021 App. A): word-count
    // band, mean word length, symbol ratio, alphabetic-word fraction,
    // stop-word presence — document statistics complementing x_c4_gate's
    // line rules. Map-only; every metric from substring/size primitives
    // ("has a letter" = lower(w) != upper(w), locale-free).
    Query("x_gopher_gate", (s, dir) =>
      Corpus.gopherGate(t(s, dir, "documents"), "doc_id", "text",
          minWords = 30L,
          // the synthetic vocabulary carries only "the" of the 8 canonical
          // stop words — minStop=1 keeps the flag informative here (the
          // operator default stays at the published 2)
          minStop = 1)
        .orderBy("doc_id"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |m AS (
        | SELECT doc_id,
        |  CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS n_hash,
        |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3 AS n_ell,
        |  (CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |   CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END) AS n_stop
        | FROM toks),
        |g AS (
        | SELECT doc_id, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS mean_word_len,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS symbol_ratio,
        |  CASE WHEN n_words = 0 THEN 0.0
        |    ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END AS alpha_frac,
        |  CAST(n_stop AS BIGINT) AS n_stop
        | FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
        | (n_words >= 30 AND n_words <= 100000 AND
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
        |  symbol_ratio < 0.1 AND alpha_frac > 0.8 AND n_stop >= 1) AS kept
        |FROM g ORDER BY doc_id""".stripMargin),

    // Per-language curation funnel report: doc/token volume, decimal-
    // exact mean quality, gopher-kept counts — one map-only gate pass +
    // one group aggregation, the observability a curation run publishes.
    Query("x_curation_report", (s, dir) =>
      Corpus.curationReport(t(s, dir, "documents"), "doc_id", "lang",
          "text", minWords = 30L, minStop = 1)
        .orderBy("lang"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, lang, text,
        |  $wsTokensSql AS tok
        | FROM documents),
        |m AS (
        | SELECT doc_id, lang,
        |  CAST(len(tok) AS BIGINT) AS n_words,
        |  COALESCE(list_aggregate(list_transform(tok, w -> LENGTH(w)), 'sum'), 0) AS char_sum,
        |  len(list_filter(tok, w -> lower(w) <> upper(w))) AS n_alpha,
        |  LENGTH(text) - LENGTH(replace(text, '#', '')) AS n_hash,
        |  (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3 AS n_ell,
        |  CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'be') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'to') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'of') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'and') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'that') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'have') THEN 1 ELSE 0 END +
        |  CASE WHEN list_contains(tok, 'with') THEN 1 ELSE 0 END AS n_stop,
        |  LEAST(1.0, CAST(len(tok) AS DOUBLE) / 100.0) *
        |   (1.0 - CASE WHEN LENGTH(text) = 0 THEN 0.0
        |     ELSE CAST(LENGTH(regexp_replace(text, '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE)
        |          / CAST(LENGTH(text) AS DOUBLE) END) AS quality
        | FROM toks),
        |g AS (
        | SELECT doc_id, lang, n_words, quality,
        |  (n_words >= 30 AND n_words <= 100000 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) >= 3.0 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) <= 10.0 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) < 0.1 AND
        |   (CASE WHEN n_words = 0 THEN 0.0
        |     ELSE ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 9) END) > 0.8 AND
        |   n_stop >= 1) AS kept
        | FROM m)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_words) AS BIGINT) AS n_tokens,
        | ROUND(CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 9) AS mean_quality,
        | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin),

    // BPE trainer statistics round: adjacent character-pair counts
    // weighted by word frequency, computed vocab-first (the corpus
    // shuffles once into its vocabulary; the pair explode is
    // vocabulary-sized). Top 30 pairs = the trainer's next 30 merge
    // candidates.
    Query("x_bpe_pairs", (s, dir) =>
      Corpus.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("cnt").desc, col("pair"))
        .limit(30),
    oracle =
      raw"""WITH toks AS (
        | SELECT $wsTokensSql AS tok
        | FROM documents),
        |vocab AS (
        | SELECT w, COUNT(*) AS f
        | FROM (SELECT unnest(tok) AS w FROM toks) GROUP BY w),
        |pairs AS (
        | SELECT substr(w, CAST(unnest(range(1, LENGTH(w))) AS INTEGER), 2) AS pair, f
        | FROM vocab WHERE LENGTH(w) >= 2)
        |SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),

    // Character-distribution entropy (compression-proxy gibberish
    // detector): ln n − Σ k·ln k / n over per-doc code-point counts;
    // every ln input is an integral double and the sum is decimal-
    // accumulated, so the signal hash-matches cross-engine.
    Query("x_char_entropy", (s, dir) =>
      Corpus.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    // Same ln-on-integer-counts + decimal-sum discipline as the engine.
    oracle =
      """WITH ch AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, LENGTH(text) + 1),
        |    j -> substr(text, CAST(j AS INT), 1))) AS c
        | FROM documents),
        |cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))
        |    AS DECIMAL(30,15))) AS DOUBLE) AS s
        | FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_chars,
        | ROUND(ln(CAST(a.n AS DOUBLE)) - a.s / CAST(a.n AS DOUBLE), 9)
        |   AS char_entropy
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Order-1 entropy rate: corpus char-bigram conditional entropy
    // H(Y|X) beside the order-0 marginal — the gap is how much one
    // char of context compresses the next (templated text collapses
    // it). Alphabet^2-sized aggregation, integral-ln ladder.
    Query("x_entropy_rate", (s, dir) =>
      Corpus.charBigramEntropy(t(s, dir, "documents"), "text"),
    // Entropy rate mirrored: substr char pairs, pair/context rollups,
    // integral-ln DECIMAL(30,15) ladders, pinned closes.
    oracle =
      """WITH p AS (
        | SELECT unnest(list_transform(range(1, LENGTH(text)),
        |   j -> substr(text, CAST(j AS INT), 2))) AS p
        | FROM documents WHERE text IS NOT NULL AND LENGTH(text) >= 2),
        |c2 AS (SELECT p, COUNT(*) AS c2 FROM p GROUP BY 1),
        |cx AS (SELECT substr(p, 1, 1) AS x, CAST(SUM(c2) AS BIGINT) AS cx
        | FROM c2 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n,
        |  COUNT(*) AS n_distinct_bigrams FROM c2),
        |hc AS (SELECT CAST(SUM(CAST(CAST(c2.c2 AS DOUBLE) *
        |   (ln(CAST(cx.cx AS DOUBLE)) - ln(CAST(c2.c2 AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS hc
        | FROM c2 JOIN cx ON cx.x = substr(c2.p, 1, 1)),
        |hm AS (SELECT COUNT(*) AS n_contexts,
        |  CAST(SUM(CAST(CAST(cx.cx AS DOUBLE) *
        |   (ln(CAST(tot.n AS DOUBLE)) - ln(CAST(cx.cx AS DOUBLE)))
        |  AS DECIMAL(30,15))) AS DOUBLE) AS hm
        | FROM cx, tot)
        |SELECT tot.n AS n_bigrams, hm.n_contexts, tot.n_distinct_bigrams,
        | ROUND(hc.hc / CAST(tot.n AS DOUBLE), 9) AS h_cond,
        | ROUND(hm.hm / CAST(tot.n AS DOUBLE), 9) AS h_marginal
        |FROM tot, hc, hm""".stripMargin),

    // Burrows' Delta provenance distance between the 20 sources over
    // the top-30 words: z-standardized relative frequencies, mean
    // |z| gap per pair — near-zero pairs are mirrored feeds, lone
    // outliers are provenance anomalies. 190 pairs, all K x S sized
    // after one (source, word) aggregation.
    Query("x_burrows_delta", (s, dir) =>
      Corpus.burrowsDelta(t(s, dir, "documents"), "text", "source",
        kWords = 30),
    // Burrows mirrored ladder-for-ladder: dense source x word grid,
    // decimal mean/variance sums, IEEE sqrt, sigma=0 guard, pair join.
    oracle =
      raw"""WITH sw AS (SELECT src, t, COUNT(*) AS c FROM (
        |  SELECT source AS src, unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1, 2),
        |topw AS (SELECT t FROM (SELECT t, CAST(SUM(c) AS BIGINT) AS cf
        |  FROM sw GROUP BY 1 ORDER BY cf DESC, t LIMIT 30)),
        |st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM sw GROUP BY 1),
        |k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM st),
        |grid AS (SELECT st.src, topw.t,
        |  CAST(COALESCE(sw.c, 0) AS DOUBLE) / CAST(st.n AS DOUBLE) AS f
        | FROM st CROSS JOIN topw
        | LEFT JOIN sw ON sw.src = st.src AND sw.t = topw.t),
        |stats AS (SELECT t,
        |  CAST(SUM(CAST(f AS DECIMAL(30,15))) AS DOUBLE) / k.k AS mu,
        |  CAST(SUM(CAST(f * f AS DECIMAL(30,15))) AS DOUBLE) AS f2,
        |  k.k AS k
        | FROM grid, k GROUP BY t, k.k),
        |sig AS (SELECT t, mu,
        |  sqrt(greatest(f2 / k - mu * mu, 0.0)) AS sigma FROM stats),
        |z AS (SELECT g.src, g.t,
        |  CASE WHEN s.sigma > 0 THEN (g.f - s.mu) / s.sigma
        |  ELSE 0.0 END AS z
        | FROM grid g JOIN sig s USING (t))
        |SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_words,
        | ROUND(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(30,15))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 9) AS delta
        |FROM z a JOIN z b ON a.t = b.t AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Simpson repeat-rate of the vocabulary: P(two tokens are the
    // same type) as an exact integer rational — the corpus-level
    // lexical-concentration dial (rising = boilerplate convergence).
    Query("x_simpson", (s, dir) =>
      Corpus.simpsonRepeatRate(t(s, dir, "documents"), "text"),
    // Simpson repeat-rate mirrored: exact integer rational + 1 divide.
    oracle =
      raw"""WITH c AS (SELECT t, COUNT(*) AS c FROM (
        |  SELECT unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(c * (c - 1)) AS BIGINT) AS rr_num FROM c)
        |SELECT n_tokens, n_types, rr_num,
        | n_tokens * (n_tokens - 1) AS rr_den,
        | ROUND(CAST(rr_num AS DOUBLE)
        |   / nullif(CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 0.0), 9)
        |   AS repeat_rate
        |FROM a""".stripMargin),

    // Jensen-Shannon divergence between the en and zh token mixes:
    // the bounded symmetric corpus-distance scalar, mixture algebra
    // multiplied through so ln only sees exact integer products.
    Query("x_js_div", (s, dir) =>
      Corpus.jsDivergence(t(s, dir, "documents"), "text", "lang",
        "en", "zh"),
    // JS mirrored: one two-slice count table, the same integral
    // products inside ln, DECIMAL(30,15) sums, baked 1/ln2 literal.
    oracle =
      raw"""WITH tk AS (SELECT lang AS s,
        |  unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT t,
        |  CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN s = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS b
        | FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb, COUNT(*) AS vocab_union FROM c),
        |s AS (SELECT ta, tb, vocab_union,
        |  CAST(SUM(CAST(CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |    (ln(CAST(2 * a * tb AS DOUBLE))
        |     - ln(CAST(a * tb + b * ta AS DOUBLE))) ELSE 0.0 END
        |   AS DECIMAL(30,15))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |    (ln(CAST(2 * b * ta AS DOUBLE))
        |     - ln(CAST(a * tb + b * ta AS DOUBLE))) ELSE 0.0 END
        |   AS DECIMAL(30,15))) AS DOUBLE) AS s2
        | FROM c, tot GROUP BY 1, 2, 3)
        |SELECT ta AS n_tokens_a, tb AS n_tokens_b, vocab_union,
        | ROUND((s1 / CAST(ta AS DOUBLE) + s2 / CAST(tb AS DOUBLE))
        |   / 2.0, 9) AS js,
        | ROUND(((s1 / CAST(ta AS DOUBLE) + s2 / CAST(tb AS DOUBLE))
        |   / 2.0) * 1.4426950408889634, 9) AS js_bits
        |FROM s""".stripMargin),

    // Dunning G2 keyness: WHICH tokens drive the en-vs-zh mix apart
    // (the drill-down under x_js_div), four pinned ln-exact cell
    // terms, enrichment by exact cross-product, top-30.
    Query("x_keyness", (s, dir) =>
      Corpus.keyness(t(s, dir, "documents"), "text", "lang",
        "en", "zh", k = 30, minCount = 5L),
    // Keyness mirrored: same count table, the identical four-cell
    // pinned G2 tree, exact cross-product enrichment.
    oracle =
      raw"""WITH tk AS (SELECT lang AS s,
        |  unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT t,
        |  CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN s = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS b
        | FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta,
        |  CAST(SUM(b) AS BIGINT) AS tb FROM c)
        |SELECT t AS token, a AS cnt_a, b AS cnt_b,
        | ROUND(2.0 * (
        |  ((CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |     (ln(CAST(a * (ta + tb) AS DOUBLE))
        |      - ln(CAST((a + b) * ta AS DOUBLE))) ELSE 0.0 END
        |   + CASE WHEN ta - a > 0 THEN CAST(ta - a AS DOUBLE) *
        |     (ln(CAST((ta - a) * (ta + tb) AS DOUBLE))
        |      - ln(CAST(((ta - a) + (tb - b)) * ta AS DOUBLE)))
        |     ELSE 0.0 END)
        |  + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |     (ln(CAST(b * (ta + tb) AS DOUBLE))
        |      - ln(CAST((a + b) * tb AS DOUBLE))) ELSE 0.0 END
        |   + CASE WHEN tb - b > 0 THEN CAST(tb - b AS DOUBLE) *
        |     (ln(CAST((tb - b) * (ta + tb) AS DOUBLE))
        |      - ln(CAST(((ta - a) + (tb - b)) * tb AS DOUBLE)))
        |     ELSE 0.0 END))), 9) AS g2,
        | CASE WHEN a * tb > b * ta THEN 'en' ELSE 'zh' END AS enriched_in
        |FROM c, tot WHERE a + b >= 5
        |ORDER BY g2 DESC, token LIMIT 30""".stripMargin),

    // Trigram novelty vs everything earlier in doc_id order: distinct
    // grams charged to their min-id doc (vocabGrowth's prefix
    // semantics per doc) — the re-crawl triage / curriculum signal.
    Query("x_novelty", (s, dir) =>
      Corpus.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id"),
    // Novelty mirrored: the same 3-gram construction, DISTINCT per
    // doc, min-id first-occurrence, floor-ppm close.
    oracle =
      raw"""WITH tk AS (SELECT doc_id,
        |  CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |    THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END AS t
        | FROM documents),
        |g AS (SELECT DISTINCT doc_id, g FROM (
        | SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
        |   ELSE list_transform(range(1, len(t) - 1), i ->
        |     t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |     t[CAST(i AS INT) + 2]) END) AS g
        | FROM tk)),
        |f AS (SELECT g, MIN(doc_id) AS fid FROM g GROUP BY 1),
        |per AS (SELECT gg.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.fid = gg.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel
        | FROM g gg JOIN f USING (g) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
        | COALESCE(per.n_novel, 0) AS n_novel,
        | CASE WHEN COALESCE(per.n_grams, 0) > 0
        |   THEN (COALESCE(per.n_novel, 0) * 1000000) // per.n_grams
        | END AS novel_ppm
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Train-to-encode round trip: the 6 learned merges applied to every
    // document (map-only after training; tokens joined for the compare).
    Query("x_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Corpus.bpeTrain(docs.select(col("text")), "text", nMerges = 6)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.bpeEncode(docs.select(col("doc_id"), col("text")),
          "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("bpe_tokens"), " ").as("tokens_joined"))
        .orderBy("doc_id")
    },
    // The x_bpe_train chain through v6 (the vocabulary tokenized by all
    // six learned merges), then every document re-assembles its words'
    // token lists in order — the train-to-encode round trip.
    oracle =
      raw"""WITH $bpeSixMergeCte,
        |docw AS (
        | SELECT doc_id, CAST(u.i AS INT) AS wi, u.w AS w FROM (
        |   SELECT doc_id, $wsTokensSql AS tok
        |   FROM documents) d,
        |   UNNEST(list_transform(range(1, len(tok) + 1),
        |     j -> {'i': j, 'w': tok[CAST(j AS INT)]})) AS z(u)),
        |enc AS (
        | SELECT dw.doc_id, dw.wi, v.t FROM docw dw JOIN v6 v ON dw.w = v.w),
        |agg AS (
        | SELECT doc_id, CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
        |        string_agg(array_to_string(t, ' '), ' ' ORDER BY wi) AS tokens_joined
        | FROM enc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        | COALESCE(a.tokens_joined, '') AS tokens_joined
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Byte-level (total) BPE seeding + round trip: every 7th doc gets a
    // planted accented/CJK/emoji suffix, every word decomposes to
    // 2-hex-char byte tokens (no [UNK] possible), and `lossless`
    // witnesses that concat-hex → bytes → UTF-8 reassembles the
    // whitespace-normalized text exactly. Merge application over byte
    // tokens shares x_bpe_encode's already-oracled kernel; this query
    // oracles the byte alphabet itself, so merges stay empty here.
    Query("x_bpe_bytes", (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" héllo 漢字🦉")))
            .otherwise(col("text")).as("text"))
        .withColumn("__norm", array_join(TF.tokens(col("text")), " "))
      Corpus.bpeByteEncode(planted, "doc_id", "text", merges = Nil,
          carryCols = Seq("__norm"))
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("bpe_tokens"), " ").as("tokens_joined"),
          col("decoded"),
          (col("decoded") === col("__norm")).as("lossless"))
        .orderBy("doc_id")
    },
    // In-engine BPE training, 6 rounds unrolled: each round counts
    // Same planted suffix, same byte rendering: hex(encode(w)) is the
    // UTF-8 byte sequence in BOTH engines, split into 2-char tokens;
    // decode(unhex(..)) reverses it, so `lossless` is witnessed, not
    // assumed.
    oracle =
      raw"""WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' héllo 漢字🦉'
        |       ELSE text END AS text
        | FROM documents),
        |t AS (SELECT doc_id,
        |  $wsTokensSql AS ws
        | FROM d),
        |e AS (SELECT doc_id, ws,
        |  list_transform(ws, w -> list_transform(
        |    range(1, len(hex(encode(w))) // 2 + 1),
        |    i -> substr(lower(hex(encode(w))), CAST(i AS INT) * 2 - 1, 2)))
        |    AS wt
        | FROM t)
        |SELECT doc_id,
        | CAST(len(flatten(wt)) AS BIGINT) AS n_tokens,
        | array_to_string(flatten(wt), ' ') AS tokens_joined,
        | array_to_string(list_transform(wt,
        |   ts -> decode(unhex(array_to_string(ts, '')))), ' ') AS decoded,
        | array_to_string(list_transform(wt,
        |   ts -> decode(unhex(array_to_string(ts, '')))), ' ')
        |   = array_to_string(ws, ' ') AS lossless
        |FROM e ORDER BY doc_id""".stripMargin),

    // Full in-engine BPE training: 6 merge rules learned iteratively
    // from the corpus (pair argmax per round, deterministic (cnt DESC,
    // l, r) tiebreak; greedy left-to-right re-tokenize via the native
    // BpeMergePair pass). Every round touches only vocabulary-sized
    // data; one row per round reaches the driver.
    Query("x_bpe_train", (s, dir) =>
      Corpus.bpeTrain(t(s, dir, "documents").select(col("text")),
          "text", nMerges = 6)
        .orderBy("merge_rank"),
    // vocab-weighted adjacent pairs, takes the argmax ((cnt DESC, l, r)
    // tiebreak), and re-tokenizes with the same greedy left-to-right
    // merge closed form (runs of overlapping matches merge at odd
    // positions; consumed tokens drop). MATERIALIZED CTEs keep the
    // 6-round chain linear - inlined, the re-referenced rounds
    // re-evaluate exponentially.
    oracle =
      raw"""WITH $bpeSixMergeCte
        |SELECT * FROM (
        |SELECT CAST(1 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m1
        |UNION ALL SELECT CAST(2 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m2
        |UNION ALL SELECT CAST(3 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m3
        |UNION ALL SELECT CAST(4 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m4
        |UNION ALL SELECT CAST(5 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m5
        |UNION ALL SELECT CAST(6 AS INT) AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM m6)
        |ORDER BY merge_rank""".stripMargin),

    // Unigram-LM (SentencePiece-style) tokenizer training — the other
    // mainstream subword family next to BPE: substring seed vocabulary,
    // 2 Viterbi-EM rounds (exact-decimal DP under round-9 log probs,
    // deterministic (score, piece-count, length) tiebreaks), char-floor
    // coverage, prune to 40 + chars. The oracle unrolls BOTH EM rounds —
    // the 12-position DP and its backtrack included — in DuckDB and
    // hash-matches counts AND log probs bit-for-bit.
    Query("x_unigram_train", (s, dir) =>
      Corpus.unigramTrain(t(s, dir, "documents"), "text",
          vocabSize = 40, rounds = 2)
        .orderBy("piece"),
    // Unigram-LM training replayed end-to-end: substring seed, TWO
    // Viterbi-EM rounds fully unrolled (12-position exact-decimal DP +
    // backtrack per round, kernel-identical tiebreaks), char floor,
    // prune, renormalized round-9 log probs — counts AND logp
    // hash-match bit-for-bit.
    oracle =
      s"""WITH $unigramKeptCte
         |SELECT piece, cnt,
         | ROUND(ln(CAST(cnt AS DOUBLE)) -
         |   ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM ukept)), 9) AS logp
         |FROM ukept ORDER BY piece""".stripMargin),

    // Viterbi encode under the trained unigram vocabulary: map-only over
    // docs (vocab rides as plan state), per-word max-log-prob
    // segmentations concatenated in document order. Same unrolled-DP
    // oracle chain, extended with the per-doc backtrack ordering.
    Query("x_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      val vocab = Corpus.unigramTrain(docs, "text", vocabSize = 40, rounds = 2)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toSeq
      Corpus.unigramEncode(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), array_join(col("pieces"), " ").as("encoded"),
          col("n_pieces"))
        .orderBy("doc_id")
    },
    // Encode = one more unrolled Viterbi pass (round 3) under the FINAL
    // pruned vocabulary's log probs; per-doc piece order reconstructs
    // from (word index ASC, backtrack step DESC — step s is the s-th
    // piece from the word's end).
    oracle =
      s"""WITH $unigramKeptCte,
         |${unigramRoundCtes(3, "ukept")},
         |uwords AS (
         | SELECT doc_id, wi, list_extract(arr, CAST(wi AS INTEGER)) AS word
         | FROM (
         |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS wi, arr FROM (
         |   SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         |   FROM documents
         |   WHERE text IS NOT NULL AND length(trim(text)) > 0)))
         |SELECT u.doc_id,
         | string_agg(e.piece, ' ' ORDER BY u.wi ASC, e.s DESC) AS encoded,
         | CAST(COUNT(*) AS BIGINT) AS n_pieces
         |FROM uwords u JOIN upc3 e ON e.w = u.word
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Greedy WordPiece encode (the BERT tokenizer) against a vocabulary
    // derived deterministically from the unigram trainer (pieces + their
    // ##-continuation forms): longest-match-first per position, map-only.
    // The oracle replays the vocabulary chain AND the forward walk.
    Query("x_wordpiece", (s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      val pieces = Corpus.unigramTrain(docs, "text", vocabSize = 40, rounds = 2)
        .collect().map(_.getString(0)).toSeq
      Corpus.wordpieceEncode(docs, "doc_id", "text",
          pieces ++ pieces.map("##" + _))
        .select(col("doc_id"), array_join(col("pieces"), " ").as("encoded"),
          col("n_pieces"))
        .orderBy("doc_id")
    },
    // The WordPiece walk replayed on the same trained-vocabulary chain:
    // every step's longest match, the completion test, the [UNK]
    // collapse rule, and forward piece order per doc.
    oracle =
      s"""WITH $unigramKeptCte,
         |$wordpieceCtes,
         |uwords AS (
         | SELECT doc_id, wi, list_extract(arr, CAST(wi AS INTEGER)) AS word
         | FROM (
         |  SELECT doc_id, unnest(range(1, len(arr) + 1)) AS wi, arr FROM (
         |   SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         |   FROM documents
         |   WHERE text IS NOT NULL AND length(trim(text)) > 0)))
         |SELECT u.doc_id,
         | string_agg(p.piece, ' ' ORDER BY u.wi ASC, p.s ASC) AS encoded,
         | CAST(COUNT(*) AS BIGINT) AS n_pieces
         |FROM uwords u JOIN wpieces p ON p.word = u.word
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Weighted sampling WITHOUT replacement + unbiased subset-sum
    // estimators — priority sampling (Duffield–Lund–Thorup, JACM '07)
    // with weights = n_chars: top-k by the fixed-point integer priority
    // ⌊w·10^12/u⌋ (u = 48-bit md5 draw, ties → doc_id), τ = (k+1)-th
    // priority, estimator max(w, τ) in the same 10^-12 units. Selection
    // runs as per-partition heaps merged on the driver; no corpus-wide
    // sort and no float anywhere in the decision path.
    Query("x_weighted_sample", (s, dir) =>
      Corpus.prioritySample(t(s, dir, "documents"), "doc_id",
          col("n_chars"), k = 50, seed = "ps")
        .orderBy("doc_id"),
    // Priority sampling mirrored exactly: the 20-bit uniform draw is the
    // first 5 md5 hex chars folded to an integer (strpos-over-the-hex-
    // alphabet — DuckDB's conv), the priority is the same 2^-20 BIGINT
    // floor-division (numerator factor 2^40 = draw range × estimator
    // scale), τ the 51st priority, estimators greatest(w·2^20, τ).
    oracle =
      """WITH p AS (
        | SELECT doc_id, n_chars AS w,
        |  (n_chars * 1099511627776) // (1 + list_reduce(
        |    list_transform(range(1, 6), i -> CAST(strpos('0123456789abcdef',
        |      substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS priority
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
        |      AS rn FROM p),
        |t AS (SELECT max(CASE WHEN rn = 51 THEN priority END) AS tau FROM r)
        |SELECT doc_id, w, priority,
        | greatest(w * 1048576, COALESCE(tau, 0)) AS est_fp
        |FROM r, t WHERE rn <= 50 ORDER BY doc_id""".stripMargin),

    // Stratified priority sampling: an independent weighted top-20 per
    // language, each with its own τ and unbiased estimators — ONE
    // group-keyed exchange, WindowGroupLimit heap-truncated before the
    // shuffle. Same fixed-point discipline as x_weighted_sample.
    Query("x_weighted_sample_lang", (s, dir) =>
      Corpus.prioritySampleByGroup(t(s, dir, "documents"), "doc_id",
          col("n_chars"), "lang", k = 20, seed = "ps")
        .orderBy("lang", "doc_id"),
    // Per-language priority sampling: identical draw/scale math, rank
    // and τ partitioned by lang (τ = each group's 21st priority).
    oracle =
      """WITH p AS (
        | SELECT lang, doc_id, n_chars AS w,
        |  (n_chars * 1099511627776) // (1 + list_reduce(
        |    list_transform(range(1, 6), i -> CAST(strpos('0123456789abcdef',
        |      substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
        |        CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS priority
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id) AS rn FROM p),
        |t AS (SELECT lang, max(CASE WHEN rn = 21 THEN priority END) AS tau
        |      FROM r GROUP BY lang)
        |SELECT r.lang, doc_id, w, priority,
        | greatest(w * 1048576, COALESCE(tau, 0)) AS est_fp
        |FROM r JOIN t ON r.lang = t.lang
        |WHERE rn <= 20 ORDER BY r.lang, doc_id""".stripMargin),

    // Lexical diversity census: type-token + distinct-bigram ratios as
    // floor-ppm ints, computed entirely inside one scan projection —
    // zero shuffles, nothing leaves its map task.
    Query("x_diversity", (s, dir) =>
      Corpus.diversitySignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    // Same token split, 1-based list bigrams, len()/list_distinct.
    oracle =
      raw"""WITH d AS (SELECT doc_id,
        |  $wsTokensSql AS t
        | FROM documents),
        |g AS (SELECT doc_id, t,
        |  CASE WHEN len(t) >= 2
        |       THEN list_transform(range(1, CAST(len(t) AS INTEGER)),
        |         i -> t[i] || ' ' || t[i + 1])
        |       ELSE []::VARCHAR[] END AS bg
        | FROM d)
        |SELECT doc_id,
        | len(t) AS n_tokens,
        | len(list_distinct(t)) AS n_distinct_tokens,
        | len(bg) AS n_bigrams,
        | len(list_distinct(bg)) AS n_distinct_bigrams,
        | CASE WHEN len(t) > 0
        |      THEN (len(list_distinct(t)) * 1000000) // len(t) END AS ttr_ppm,
        | CASE WHEN len(bg) > 0
        |      THEN (len(list_distinct(bg)) * 1000000) // len(bg)
        | END AS distinct_bigram_ppm
        |FROM g ORDER BY doc_id""".stripMargin),

    // Purged temporal split: train before 2024-01-20, per-user 12 h
    // embargo anchored at each user's last training row, exact µs.
    Query("x_temporal_split", (s, dir) =>
      Corpus.temporalSplit(
          t(s, dir, "events").select(
            col("event_id"), col("user_id"), col("ts")),
          "user_id", "ts",
          cutoffUs = 1705708800000000L, embargoUs = 43200000000L)
        .orderBy("event_id"),
    // Same per-key last-train anchor and strict embargo bound.
    oracle =
      """WITH lt AS (
        | SELECT user_id AS k, MAX(epoch_us(ts)) AS last_train FROM events
        | WHERE ts IS NOT NULL AND epoch_us(ts) < 1705708800000000
        | GROUP BY user_id)
        |SELECT e.event_id, e.user_id, e.ts,
        | CASE WHEN e.ts IS NULL THEN NULL
        |      WHEN epoch_us(e.ts) < 1705708800000000 THEN 'train'
        |      WHEN lt.last_train IS NOT NULL
        |       AND epoch_us(e.ts) < lt.last_train + 43200000000
        |      THEN 'embargoed'
        |      ELSE 'eval' END AS split
        |FROM events e LEFT JOIN lt ON e.user_id = lt.k
        |ORDER BY event_id""".stripMargin),

    // Token-level corpus drift: the 100 tokens whose rates differ most
    // between two slices, ranked by the exact cross-product statistic
    // |c_a·N_b − c_b·N_a| (integer — no float ratio in a ranking key).
    Query("x_token_shift", (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.tokenShiftTopK(
          d.where(pmod(col("doc_id"), lit(3)) === 0),
          d.where(pmod(col("doc_id"), lit(3)) =!= 0),
          "text", k = 100)
        .withColumn("shift", big(col("shift"), "shift"))
    },
    // Same slices; HUGEINT cross-products internally, shift narrowed
    // to BIGINT at the edge (mirrors the engine's big() guard).
    oracle =
      raw"""WITH ta AS (
        | SELECT unnest($wsTokensSql) AS token
        | FROM documents WHERE doc_id % 3 = 0),
        |tb AS (
        | SELECT unnest($wsTokensSql) AS token
        | FROM documents WHERE doc_id % 3 <> 0),
        |ca AS (SELECT token, COUNT(*) AS c_a FROM ta GROUP BY token),
        |cb AS (SELECT token, COUNT(*) AS c_b FROM tb GROUP BY token),
        |na AS (SELECT CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS n_a FROM ca),
        |nb AS (SELECT CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS n_b FROM cb),
        |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
        |  COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        | FROM ca FULL OUTER JOIN cb ON ca.token = cb.token)
        |SELECT j.token, j.c_a, j.c_b, n_a, n_b,
        | CAST(abs(CAST(j.c_a AS HUGEINT) * n_b
        |   - CAST(j.c_b AS HUGEINT) * n_a) AS BIGINT) AS shift
        |FROM j, na, nb
        |ORDER BY shift DESC, token LIMIT 100""".stripMargin),

    // Retrieval evaluation: per-language top-10 ranking (longest docs
    // first — a deterministic stand-in ranker) scored against the
    // src0-membership relevance set: hits@k, first relevant rank,
    // precision/recall as exact floor-ppm.
    Query("x_retrieval_eval", (s, dir) => {
      val d = t(s, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val ranked = d.select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
      val qrels = d.where(col("source") === "src0")
        .select(col("lang"), col("doc_id"))
      Corpus.retrievalEval(ranked, qrels, "lang", "doc_id", "rank", k = 10)
        .orderBy("lang")
    },
    // Same ranking and relevance universe; metrics as floor-ppm ints.
    oracle =
      """WITH ranked AS (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC, doc_id) AS rank
        | FROM documents),
        |topk AS (SELECT lang, doc_id, rank FROM ranked WHERE rank <= 10),
        |rel AS (SELECT DISTINCT lang, doc_id FROM documents
        | WHERE source = 'src0' AND lang IS NOT NULL AND doc_id IS NOT NULL),
        |nrel AS (SELECT lang, COUNT(*) AS n_rel FROM rel GROUP BY lang),
        |h AS (SELECT t.lang, COUNT(*) AS h, MIN(t.rank) AS first_rel_rank
        | FROM topk t JOIN rel r ON t.lang = r.lang AND t.doc_id = r.doc_id
        | GROUP BY t.lang)
        |SELECT n.lang, n.n_rel, COALESCE(h.h, 0) AS hits_at_k,
        | h.first_rel_rank,
        | (COALESCE(h.h, 0) * 1000000) // 10 AS precision_ppm,
        | (COALESCE(h.h, 0) * 1000000) // n.n_rel AS recall_ppm
        |FROM nrel n LEFT JOIN h ON n.lang = h.lang
        |ORDER BY n.lang""".stripMargin),

    // CDC merge: apply a deterministic change batch (two update waves,
    // deletes, inserts — all derived from the corpus itself, so the
    // last-writer-wins, delete-beats-stale-update and insert paths are
    // all exercised) onto the documents snapshot. One batch-sized
    // window + one id-keyed full-outer join — the maintenance
    // counterpart of x_snapshot_diff.
    Query("x_merge_apply", (s, dir) => {
      val d = t(s, dir, "documents")
      val nul = lit(null).cast("string")
      val upd1 = d.where(pmod(col("doc_id"), lit(7)) === 0).select(
        col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        concat(lit("u1:"), substring(col("text"), 1, 40)).as("text"),
        lit("xx").as("lang"), col("source"),
        (col("n_chars") + 3).as("n_chars"))
      val upd2 = d.where(pmod(col("doc_id"), lit(14)) === 0).select(
        col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(lit("u2:"), substring(col("text"), 1, 20)).as("text"),
        lit("yy").as("lang"), col("source"),
        (col("n_chars") + 5).as("n_chars"))
      val dels = d.where(pmod(col("doc_id"), lit(11)) === 3).select(
        col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        nul.as("text"), nul.as("lang"), nul.as("source"),
        lit(null).cast("long").as("n_chars"))
      val ins = d.where(pmod(col("doc_id"), lit(13)) === 1).select(
        (col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
        lit("upsert").as("op"),
        concat(lit("ins:"), substring(col("text"), 1, 10)).as("text"),
        lit("zz").as("lang"), lit("synthetic").as("source"),
        lit(14L).as("n_chars"))
      Corpus.applyChanges(d,
          upd1.unionByName(upd2).unionByName(dels).unionByName(ins),
          "doc_id", "seq", "op")
        .orderBy("doc_id")
    },
    // The same deterministic change batch, last-writer-wins window and
    // merge semantics: winning delete drops the id, winning upsert
    // replaces/inserts the payload, untouched base rows pass through.
    oracle =
      """WITH changes AS (
        | SELECT doc_id, 1 AS seq, 'upsert' AS op,
        |   'u1:' || substr(text, 1, 40) AS text, 'xx' AS lang, source,
        |   n_chars + 3 AS n_chars
        | FROM documents WHERE doc_id % 7 = 0
        | UNION ALL
        | SELECT doc_id, 2, 'upsert', 'u2:' || substr(text, 1, 20), 'yy',
        |   source, n_chars + 5
        | FROM documents WHERE doc_id % 14 = 0
        | UNION ALL
        | SELECT doc_id, 3, 'delete', NULL, NULL, NULL, NULL
        | FROM documents WHERE doc_id % 11 = 3
        | UNION ALL
        | SELECT doc_id + 1000000, 1, 'upsert',
        |   'ins:' || substr(text, 1, 10), 'zz', 'synthetic', 14
        | FROM documents WHERE doc_id % 13 = 1),
        |latest AS (SELECT * FROM (
        |  SELECT c.*, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY seq DESC, op) AS rn FROM changes c) WHERE rn = 1)
        |SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
        | CASE WHEN l.op IS NOT NULL THEN l.text ELSE b.text END AS text,
        | CASE WHEN l.op IS NOT NULL THEN l.lang ELSE b.lang END AS lang,
        | CASE WHEN l.op IS NOT NULL THEN l.source ELSE b.source END AS source,
        | CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE b.n_chars END AS n_chars
        |FROM documents b FULL OUTER JOIN latest l ON b.doc_id = l.doc_id
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY doc_id""".stripMargin),

    // Blocklist census: one Aho–Corasick pass per doc (native
    // MultiMatchCounts, codegen'd) + a phrase-keyed rollup whose
    // exchange carries ≤ #partitions × #phrases rows. replace()-count
    // semantics, so the oracle needs nothing but string builtins.
    Query("x_blocklist", (s, dir) =>
      Corpus.blocklistCensus(t(s, dir, "documents"), "text",
          Seq("table scan", "hash join", "scan merge", "merge part", "slow"))
        .orderBy("phrase"),
    // Aho–Corasick counts ≡ replace()-count per phrase (leftmost greedy
    // non-overlapping, each phrase independent) — the semantics were
    // CHOSEN so the oracle needs only string builtins.
    oracle =
      """WITH p(phrase) AS (VALUES ('table scan'), ('hash join'),
        |  ('scan merge'), ('merge part'), ('slow')),
        |h AS (SELECT d.doc_id, p.phrase,
        |   (length(d.text) - length(replace(d.text, p.phrase, '')))
        |     // length(p.phrase) AS cnt
        | FROM documents d CROSS JOIN p WHERE d.text IS NOT NULL)
        |SELECT phrase, count(*) AS n_docs, CAST(sum(cnt) AS BIGINT) AS n_hits
        |FROM h WHERE cnt > 0 GROUP BY phrase ORDER BY phrase""".stripMargin),

    // Blocklist gate: keep docs with ≤ 2 total hits, roll up survivors
    // per language — the C4-badwords-style destructive filter, sized
    // first by x_blocklist's census. Map-only filter + tiny agg.
    Query("x_blocklist_gate", (s, dir) =>
      Corpus.blocklistFilter(t(s, dir, "documents"), "text",
          Seq("table scan", "hash join", "scan merge", "merge part", "slow"),
          maxHits = 2L)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang"),
    // Same phrase counts, summed per doc, gate at ≤ 2 total hits,
    // survivors rolled up per language. Null text has no hits (COALESCE
    // mirrors the engine's coalesce(text, '')).
    oracle =
      """WITH p(phrase) AS (VALUES ('table scan'), ('hash join'),
        |  ('scan merge'), ('merge part'), ('slow')),
        |h AS (SELECT d.doc_id, d.lang,
        |   CAST(COALESCE(SUM((length(d.text) - length(replace(d.text,
        |     p.phrase, ''))) // length(p.phrase)), 0) AS BIGINT) AS hits
        | FROM documents d CROSS JOIN p GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs FROM h WHERE hits <= 2
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Deterministic epoch shuffle: md5(shuf:epoch:id) permutation via
    // the two-level bucket decomposition (one bucket-keyed exchange, no
    // global sort, offsets from a 64-row cumsum). Emitted positions are
    // the permutation inverse-mapped onto doc order; epoch 2 ≠ epoch 1
    // by construction. Spot-check shape: every position in [0, n) once.
    Query("x_epoch_shuffle", (s, dir) =>
      Corpus.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 1,
          nBuckets = 64)
        .select(col("doc_id"), col("epoch_pos"))
        .orderBy("doc_id"),
    // Epoch-1 shuffle: position = rank in the (h mod 64, h, id) order,
    // h = first-12-hex md5 fold of 'shuf:1:'||doc_id — the bucketed
    // two-level engine plan concatenates to exactly this global order.
    oracle =
      """WITH k AS (SELECT doc_id,
        |  list_reduce(list_transform(range(1, 13), i ->
        |    CAST(strpos('0123456789abcdef', substr(
        |      md5('shuf:1:' || CAST(doc_id AS VARCHAR)),
        |      CAST(i AS INTEGER), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        | FROM documents)
        |SELECT doc_id,
        | row_number() OVER (ORDER BY h % 64, h, doc_id) - 1 AS epoch_pos
        |FROM k ORDER BY doc_id""".stripMargin),

    // Unicode NFC normalization (native codegen'd expression): the
    // fixture text is ASCII, so the query MANUFACTURES the decomposed
    // form (every 'e' → 'e' + combining acute U+0301), normalizes it,
    // and pins (a) the combining pairs composed away (length math) and
    // (b) bytewise equality with the precomposed é replacement — the
    // exact property that makes hash-dedup safe on mixed-encoder crawls.
    // NFC is frozen by Unicode's stability policy, so the JDK and
    // DuckDB's utf8proc agree on every assigned character.
    Query("x_nfc", (s, dir) => {
      val dec = replace(col("text"), lit("e"), lit("e\u0301"))
      val nfc = graft.functions.TextFunctions.unicodeNormalize(dec, "NFC")
      t(s, dir, "documents")
        .select(col("doc_id"),
          // long, not Spark length()'s INT: DuckDB length() is BIGINT
          length(dec).cast("long").as("n_dec"),
          length(nfc).cast("long").as("n_nfc"),
          (nfc === replace(col("text"), lit("e"), lit("\u00e9")))
            .as("composed_ok"))
        .orderBy("doc_id")
    },
    // The same manufactured decomposition through utf8proc's NFC:
    // chr(769) = U+0301 combining acute, chr(233) = precomposed é.
    oracle =
      """SELECT doc_id,
        | length(replace(text, 'e', 'e' || chr(769))) AS n_dec,
        | length(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS n_nfc,
        | nfc_normalize(replace(text, 'e', 'e' || chr(769)))
        |   = replace(text, 'e', chr(233)) AS composed_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML → text extraction (curation rung 0): fixture text planted
    // inside a deterministic page — script/style/comment machinery,
    // a link-saturated nav and footer (die by link density), a
    // too-short block, and an entity-bearing prose div. Map-only; the
    // extraction rules mirror in DuckDB replace/regexp primitives.
    Query("x_html_extract", (s, dir) => {
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x = \"</p>\";</script>" +
          "</head><body><div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/a\">A</a> <a href=\"/b\">B</a></div>" +
          "<!-- boilerplate --><p>"),
        col("text"),
        lit("</p><p>Too short.</p><div>Read the fine &amp; friendly " +
          "manual &lt;here&gt; with <a href=\"/more\">one link</a> and " +
          "plenty of surrounding prose to stay under the density rule." +
          "</div><footer><a href=\"/x\">x</a><a href=\"/y\">y</a>" +
          "</footer></body></html>"))
      Corpus.htmlExtract(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .orderBy("doc_id")
    },
    // Same planted page, same three-stage extraction: the regexes use
    // only the shared Java/RE2 subset, the density rule is an integer
    // cross-multiplication, entities unescape in the same fixed order
    // (&amp; last) — so clean_text matches byte-for-byte.
    oracle =
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>t</title><style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x = "</p>";</script>' ||
        |  '</head><body><div class="nav"><a href="/">Home</a> ' ||
        |  '<a href="/a">A</a> <a href="/b">B</a></div>' ||
        |  '<!-- boilerplate --><p>' || text ||
        |  '</p><p>Too short.</p><div>Read the fine &amp; friendly ' ||
        |  'manual &lt;here&gt; with <a href="/more">one link</a> and ' ||
        |  'plenty of surrounding prose to stay under the density rule.' ||
        |  '</div><footer><a href="/x">x</a><a href="/y">y</a>' ||
        |  '</footer></body></html>' AS html
        | FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t,
        |  '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |b AS (SELECT doc_id, string_split(regexp_replace(t,
        |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|footer|nav|blockquote|pre)[^>]*>',
        |  chr(10), 'g'), chr(10)) AS blocks FROM s3),
        |c AS (SELECT doc_id, list_transform(blocks, x -> {
        |  'txt': trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'),
        |    '[ \t\r\n]+', ' ', 'g')),
        |  'lc': len(x) - len(replace(x, '<a ', ''))}) AS cb FROM b),
        |k AS (SELECT doc_id,
        |  list_filter(cb, s -> len(s['txt']) >= 30
        |    AND s['lc'] * 10 <= len(s['txt']) * 3) AS kb,
        |  len(list_filter(cb, s -> len(s['txt']) > 0)) AS n_blocks
        | FROM c)
        |SELECT doc_id,
        | replace(replace(replace(replace(replace(replace(
        |   array_to_string(list_transform(kb, s -> s['txt']), chr(10)),
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |   '&nbsp;', ' '), '&amp;', '&') AS clean_text,
        | CAST(n_blocks AS BIGINT) AS n_blocks,
        | CAST(len(kb) AS BIGINT) AS n_blocks_kept,
        | len(kb) >= 1 AS kept
        |FROM k ORDER BY doc_id""".stripMargin),

    // Vocabulary coverage audit: the corpus's own top-100 word vocab
    // (the x_vocab table) scored back over every document — per-doc
    // OOV counts and floor-ppm rate, the measurement in front of any
    // tokenizer/UNK decision. Explode + broadcast vocab join + one
    // doc-keyed agg.
    Query("x_vocab_coverage", (s, dir) => {
      val d = t(s, dir, "documents")
      val vocab = d.select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100)
      Corpus.vocabCoverage(d, "doc_id", "text", vocab)
        .orderBy("doc_id")
    },
    // Same top-100 vocab, same exact-match coverage; the ppm is the
    // exact floor rational, BIGINT everywhere per the §2.7 convention.
    oracle =
      raw"""WITH tk AS (SELECT doc_id,
        |  $wsTokensSql AS t
        | FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT unnest(t) AS token FROM tk) z
        | GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 100),
        |e AS (SELECT doc_id, unnest(t) AS tok FROM tk),
        |j AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(LENGTH(e.tok)) AS BIGINT) AS n_token_chars
        | FROM e LEFT JOIN v ON e.tok = v.token GROUP BY e.doc_id)
        |SELECT tk.doc_id,
        | COALESCE(j.n_tokens, 0) AS n_tokens,
        | COALESCE(j.n_oov, 0) AS n_oov,
        | CASE WHEN COALESCE(j.n_tokens, 0) > 0
        |      THEN (COALESCE(j.n_oov, 0) * 1000000) // j.n_tokens
        | END AS oov_ppm,
        | COALESCE(j.n_token_chars, 0) AS n_token_chars
        |FROM tk LEFT JOIN j ON tk.doc_id = j.doc_id
        |ORDER BY tk.doc_id""".stripMargin),

    // Crawl-URL canonicalization: five planted URL shapes per doc
    // exercise every rule — case folding, default-port strip, fragment
    // drop, tracking-param removal, param sorting, bare-root path,
    // non-default port retained, co.uk registered-domain heuristic.
    // Map-only; every stage mirrors in DuckDB regex/list primitives.
    Query("x_url_canon", (s, dir) =>
      // urlCanonicalize pins internally (round-12 lesson made
      // structural in round 13): the orderBy reads plain attributes
      Corpus.urlCanonicalize(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url")
        .orderBy("doc_id"),
    oracle =
      (urlCanonOracleChain("doc_id,") +
        """SELECT doc_id,
          | CASE WHEN hs THEN scheme || '://' || host || path ||
          |   CASE WHEN len(kp) > 0 THEN '?' || array_to_string(kp, '&')
          |        ELSE '' END
          | END AS url_canon,
          | CASE WHEN hs THEN host END AS host,
          | CASE WHEN hs THEN
          |   CASE WHEN len(lbl) <= 2 THEN bare
          |        WHEN length(lbl[-1]) = 2 AND lbl[-2] IN
          |          ('co','com','net','org','gov','ac','edu')
          |          THEN lbl[-3] || '.' || lbl[-2] || '.' || lbl[-1]
          |        ELSE lbl[-2] || '.' || lbl[-1] END
          | END AS registered_domain,
          | CASE WHEN hs THEN CAST(len(ap) - len(kp) AS BIGINT)
          | END AS n_params_stripped
          |FROM p8 ORDER BY doc_id""".stripMargin)),

    // Crawl-frontier URL features over the five planted URL shapes:
    // default-port strip vs kept 8080, depth/params/ext extraction,
    // the no-path host, schemeless never occurs here (all five carry
    // schemes — the null branch is spec territory). Map-only.
    Query("x_url_features", (s, dir) =>
      Corpus.urlFeatures(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url")
        .orderBy("doc_id"),
    // Same planted URLs, same staged canonicalization (regex subset
    // shared by Java and RE2, list sort/filter for params) — canonical
    // strings match byte-for-byte.
    // Same planted URLs and authority extraction (the canon chain's
    // p1–p5), same regex translation of the wildcard rules (escape the
    // RE2/Java-shared metacharacters, * → .*, trailing $ → \z), same
    // longest/allow/pattern window order — precedence decided
    // identically on both engines.
    // URL features: the canon chain to p5, then the feature algebra
    // (path/query split at the first ?, port-stripped host labels,
    // non-empty-segment counts, the 1-5-alnum extension).
    oracle =
      (urlCanonOracleChain("doc_id,") +
        """,f0 AS (SELECT doc_id, u, hs, host,
          |  CASE WHEN strpos(pathq, '?') > 0
          |    THEN substring(pathq, 1, strpos(pathq, '?') - 1)
          |    ELSE pathq END AS pth,
          |  CASE WHEN strpos(pathq, '?') > 0
          |    THEN substring(pathq, strpos(pathq, '?') + 1)
          |    ELSE '' END AS qry,
          |  regexp_replace(host, ':[0-9]+$', '') AS hnp
          | FROM p5)
          |SELECT doc_id, u AS url,
          | CASE WHEN hs THEN host END AS host,
          | CASE WHEN hs THEN CAST(len(list_filter(str_split(pth, '/'),
          |   s -> s <> '')) AS BIGINT) END AS path_depth,
          | CASE WHEN hs THEN CAST(length(pth) AS BIGINT) END
          |   AS path_chars,
          | CASE WHEN hs THEN CAST(len(list_filter(str_split(qry, '&'),
          |   s -> s <> '')) AS BIGINT) END AS n_params,
          | CASE WHEN hs THEN CAST(len(str_split(hnp, '.')) AS BIGINT)
          |   END AS host_labels,
          | CASE WHEN hs THEN regexp_matches(hnp, '[0-9]') END
          |   AS host_digits,
          | CASE WHEN hs THEN regexp_matches(hnp, '(^|\.)xn--') END
          |   AS is_idn,
          | CASE WHEN hs THEN
          |   lower(regexp_extract(pth, '\.([A-Za-z0-9]{1,5})$', 1)) END
          |   AS ext
          |FROM f0 ORDER BY doc_id""".stripMargin)),

    // RFC 9309 robots gate over the planted crawl URLs: per-host rule
    // table (broadcast), wildcard patterns compiled to anchored
    // regexes over the shared Java/RE2 subset, longest-pattern wins
    // with allow on ties. The five URL shapes cover longest-allow
    // beats shorter-disallow, wildcard-through-query, a $-anchor that
    // must NOT fire plus a mid-wildcard that does, a no-rules host,
    // and allow-"/$" losing to disallow-"/" off the root. The three
    // added sub.domain rules exercise percent normalization against
    // the /x%20y/ path: %78 decodes to the unreserved x and matches
    // with the NORMALIZED octet length ranking it above the literal
    // spelling, %20 (reserved: space) stays encoded and matches
    // literally, %2F stays distinct from / and never matches
    // (hex-case normalization is spec-pinned — no planted path
    // carries a lettered reserved triplet to witness it here).
    Query("x_robots_gate", (s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("www.example.com", "disallow", "/Path/*"),
        ("www.example.com", "allow", "/Path/Page"),
        ("news.example.co.uk", "disallow", "/a/*?id=*"),
        ("cdn.static.example.org:8080", "disallow", "*.js$"),
        ("cdn.static.example.org:8080", "disallow", "*fbclid*"),
        ("sub.domain.example.com", "allow", "/$"),
        ("sub.domain.example.com", "disallow", "/"),
        ("sub.domain.example.com", "allow", "/x%20y/*"),
        ("sub.domain.example.com", "disallow", "/%78%20y/e*"),
        ("sub.domain.example.com", "disallow", "/x%2Fy/*"))
        .toDF("host", "directive", "pattern")
      Corpus.robotsGate(
          t(s, dir, "documents").select(col("doc_id"),
            plantedUrl.as("url")),
          "doc_id", "url", rules)
        .orderBy("doc_id")
    },
    oracle =
      (urlCanonOracleChain("doc_id,") +
        raw""",tg0 AS (SELECT doc_id, u AS url,
          |  CASE WHEN hs THEN host END AS host,
          |  CASE WHEN hs THEN
          |    CASE WHEN pathq = '' THEN '/'
          |         WHEN starts_with(pathq, '?') THEN '/' || pathq
          |         ELSE pathq END
          |  END AS tgt0
          | FROM p5),
          |tgt AS (SELECT doc_id, url, host,
          |  CASE WHEN tgt0 IS NOT NULL THEN ${pctNormSql("tgt0")} END
          |    AS target
          | FROM tg0),
          |rr(rhost, directive, pattern) AS (VALUES
          |  ('www.example.com', 'disallow', '/Path/*'),
          |  ('www.example.com', 'allow', '/Path/Page'),
          |  ('news.example.co.uk', 'disallow', '/a/*?id=*'),
          |  ('cdn.static.example.org:8080', 'disallow', '*.js$$'),
          |  ('cdn.static.example.org:8080', 'disallow', '*fbclid*'),
          |  ('sub.domain.example.com', 'allow', '/$$'),
          |  ('sub.domain.example.com', 'disallow', '/'),
          |  ('sub.domain.example.com', 'allow', '/x%20y/*'),
          |  ('sub.domain.example.com', 'disallow', '/%78%20y/e*'),
          |  ('sub.domain.example.com', 'disallow', '/x%2Fy/*')),
          |rn0 AS (SELECT rhost, directive, pattern,
          |  ${pctNormSql("pattern")} AS pn
          | FROM rr WHERE pattern <> ''),
          |rx AS (SELECT lower(rhost) AS rhost, directive, pattern,
          |  '^' || replace(
          |     regexp_replace(
          |       CASE WHEN pn LIKE '%$$' THEN
          |         substring(pn, 1, length(pn) - 1)
          |       ELSE pn END,
          |       '([\.\^\$$\+\?\(\)\[\]\{\}\|\\])', '\\\1', 'g'),
          |     '*', '.*')
          |  || CASE WHEN pn LIKE '%$$' THEN '\z' ELSE '' END AS rxp,
          |  strlen(pn) AS plen
          | FROM rn0),
          |j AS (SELECT t.doc_id, t.url, t.host, t.target,
          |   r.directive, r.pattern, r.plen,
          |   COALESCE(regexp_matches(t.target, r.rxp), FALSE) AS m
          |  FROM tgt t LEFT JOIN rx r ON t.host = r.rhost),
          |pk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |   ORDER BY m DESC, plen DESC, (directive = 'allow') DESC,
          |            pattern ASC) AS rn FROM j)
          |SELECT doc_id, url, host, target AS pathq,
          |  (NOT m) OR directive = 'allow' AS allowed,
          |  CASE WHEN m THEN pattern END AS matched_pattern,
          |  CASE WHEN m THEN directive END AS matched_directive
          |FROM pk WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Sitemap document parsing — the robotsSitemaps → frontier chain's
    // second half: three planted body shapes per doc cover a
    // pretty-printed urlset (multi-line <loc> with surrounding
    // whitespace, &amp; in the URL, enum-case changefreq, numeric
    // priority, a minimal second entry), a sitemapindex (child
    // sitemap URLs + partial lastmod), and a compact urlset with two
    // entities in loc and a malformed priority (→ null). chr(10)
    // builds the newlines on BOTH engines (DuckDB string literals
    // don't process backslash escapes; Spark's do — chr(10) is the
    // one spelling with a single meaning). Map-only parse, mirrored
    // regex-for-regex in the oracle.
    Query("x_sitemap", (s, dir) =>
      Corpus.sitemapParse(
          t(s, dir, "documents").select(col("doc_id"),
            plantedSitemap.as("xml")),
          "doc_id", "xml")
        .orderBy("doc_id", "entry_idx"),
    // Same planted bodies (chr(10) newlines — identical spelling on
    // both engines), same root detection, same block extraction and
    // per-field regexes over the shared Java/RE2 subset, same
    // fixed-order entity chain with &amp; LAST, same lenient priority
    // cast. range(1,3) explodes block indexes (≤ 2 entries per planted
    // body); blocks[i] + i-1 mirror posexplode.
    oracle =
      """WITH d AS (SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN
        |   '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
        |   '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |   || chr(10) || '  <url>' || chr(10) ||
        |   '    <loc> https://www.example.com/p?id=' || doc_id ||
        |   '&amp;ref=home </loc>' || chr(10) ||
        |   '    <lastmod>2026-0' || (1 + doc_id % 9) || '-15</lastmod>' ||
        |   chr(10) ||
        |   '    <changefreq>Daily</changefreq>' || chr(10) ||
        |   '    <priority>0.' || (doc_id % 10) || '</priority>' || chr(10) ||
        |   '  </url>' || chr(10) ||
        |   '  <url><loc>https://www.example.com/' || doc_id ||
        |   '</loc></url>' || chr(10) || '</urlset>'
        |  WHEN 1 THEN
        |   '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |   || '<sitemap><loc>https://maps.example.org/s' || (doc_id % 50) ||
        |   '.xml.gz</loc><lastmod>2026-07-0' || (1 + doc_id % 9) ||
        |   '</lastmod></sitemap>' ||
        |   '<sitemap><loc>https://maps.example.org/news.xml</loc></sitemap>'
        |   || '</sitemapindex>'
        |  ELSE '<urlset><url><loc>http://h' || (doc_id % 7) ||
        |   '.example.net/a&amp;b&apos;c</loc>' ||
        |   '<changefreq>WEEKLY</changefreq>' ||
        |   '<priority>high</priority></url></urlset>'
        | END AS xml FROM documents),
        |r AS (SELECT doc_id, xml,
        |  lower(regexp_extract(xml,
        |    '(?is)<\s*(urlset|sitemapindex)[\s>]', 1)) AS root FROM d),
        |b AS (SELECT doc_id, root,
        |  CASE WHEN root = 'urlset' THEN
        |    regexp_extract_all(xml, '(?is)<url\s*>.*?</url\s*>')
        |  WHEN root = 'sitemapindex' THEN
        |    regexp_extract_all(xml, '(?is)<sitemap\s*>.*?</sitemap\s*>')
        |  ELSE [] END AS blocks FROM r),
        |e AS (SELECT doc_id, root, i - 1 AS entry_idx, blocks[i] AS blk
        |  FROM b, (SELECT unnest(range(1, 3)) AS i) ii
        |  WHERE i <= len(blocks)),
        |f AS (SELECT doc_id, entry_idx,
        |  CASE WHEN root = 'urlset' THEN 'url' ELSE 'sitemap' END AS kind,
        |  NULLIF(regexp_extract(blk,
        |    '(?is)<loc\s*>\s*(.*?)\s*</loc\s*>', 1), '') AS loc0,
        |  NULLIF(regexp_extract(blk,
        |    '(?is)<lastmod\s*>\s*(.*?)\s*</lastmod\s*>', 1), '') AS lastmod,
        |  lower(NULLIF(regexp_extract(blk,
        |    '(?is)<changefreq\s*>\s*(.*?)\s*</changefreq\s*>', 1), ''))
        |    AS changefreq,
        |  TRY_CAST(regexp_extract(blk,
        |    '(?is)<priority\s*>\s*(.*?)\s*</priority\s*>', 1) AS DOUBLE)
        |    AS priority
        | FROM e)
        |SELECT doc_id, CAST(entry_idx AS BIGINT) AS entry_idx, kind,
        |  replace(replace(replace(replace(replace(loc0,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&apos;', ''''), '&amp;', '&') AS loc,
        |  lastmod, changefreq, priority
        |FROM f WHERE loc0 IS NOT NULL
        |ORDER BY doc_id, entry_idx""".stripMargin),

    // Oracle witness for the WARC source (Sources.warc): a bounded
    // document slice (doc_id % 97 — ≤ N/97+1 rows, the documented
    // fixture bound) serializes to a deterministic two-shard archive
    // ON THE EXECUTORS (foreachPartition — the fixture writer runs
    // where the docs are; a production archiver would target the
    // cluster DFS through the same per-partition shape), then reads
    // BACK through the real Content-Length-framed parser. The oracle
    // never sees WARC bytes: it replays the framing formulas straight
    // off documents — shard = doc_id % 2, per-shard record index,
    // octet (not char) Content-Length, byte-exact payload roundtrip —
    // so a framing bug on either the write or the read side breaks
    // the hash.
    Query("x_warc", (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft-warcfix")
      val slice = t(s, dir, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(pmod(col("doc_id"), lit(2)).cast("int").as("shard"),
          col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      // shard rows sort contiguously inside each task, so the writer
      // emits one whole file per shard run regardless of how the
      // hash placement packs the two shards into tasks
      slice.repartition(2, col("shard"))
        .sortWithinPartitions("shard", "doc_id")
        .as[(Int, Long, String)]
        .foreachPartition { (it: Iterator[(Int, Long, String)]) =>
          val crlf = "\r\n"
          var out: java.io.OutputStream = null
          var cur = -1
          for ((shard, docId, text) <- it) {
            if (shard != cur) {
              if (out != null) out.close()
              out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(
                  s"$tmp/part-$shard.warc"))
              cur = shard
            }
            val payload = text.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
            out.write((s"WARC/1.0${crlf}WARC-Type: response$crlf" +
              s"WARC-Target-URI: https://ex.com/$docId$crlf" +
              s"WARC-Date: 2026-08-16T00:00:00Z$crlf" +
              s"Content-Type: text/plain$crlf" +
              s"Content-Length: ${payload.length}$crlf$crlf")
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            out.write(payload)
            out.write((crlf + crlf).getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1))
          }
          if (out != null) out.close()
        }
      graft.sources.Sources.warc(s, tmp).df
        .select(
          regexp_extract(col("target_uri"), "/(\\d+)\\z", 1)
            .cast("long").as("doc_id"),
          regexp_extract(col("path"), "part-(\\d+)\\.warc\\z", 1)
            .cast("int").as("shard"),
          col("record_idx"), col("warc_type"), col("target_uri"),
          col("warc_date"), col("content_type"), col("content_length"),
          decode(col("payload"), "UTF-8").as("payload_text"))
        .orderBy("doc_id")
    },
    // The oracle replays the FRAMING FORMULAS, not the bytes: shard by
    // doc_id parity, record index by per-shard doc_id order,
    // Content-Length as the OCTET length of the UTF-8 payload
    // (octet_length(encode(..)) — char count would diverge on any
    // multibyte text), payload roundtripped verbatim. Constant headers
    // mirror the writer's constants.
    oracle =
      """SELECT doc_id,
        |  CAST(doc_id % 2 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY doc_id % 2 ORDER BY doc_id)
        |    - 1 AS record_idx,
        |  'response' AS warc_type,
        |  'https://ex.com/' || doc_id AS target_uri,
        |  '2026-08-16T00:00:00Z' AS warc_date,
        |  'text/plain' AS content_type,
        |  octet_length(encode(COALESCE(text, ''))) AS content_length,
        |  COALESCE(text, '') AS payload_text
        |FROM documents WHERE doc_id % 97 = 0
        |ORDER BY doc_id""".stripMargin),

    // Crawl → links → canonical domains → edge census: hrefs extracted
    // from planted pages (both quote styles + a relative link that
    // canonicalizes to nothing), destinations canonicalized, sources =
    // each doc's own planted URL domain — the domain link graph
    // pageRank/HITS run on, built entirely from this library's rungs.
    Query("x_link_graph", (s, dir) => {
      // planted page now includes the RELATIVE / protocol-relative /
      // `..` links a real crawl is mostly made of — resolved against
      // each doc's own canonical URL before canonicalization, they
      // become self-domain (intra-site) edges instead of being dropped
      val page = concat(lit("<p>"), col("text"), lit("</p>" +
          "<a href=\"https://www.example.com/a?utm_source=z&x=1\">one</a>" +
          "<a href='http://news.example.co.uk:80/b'>two</a>" +
          "<a href=\"/relative/path\">rel</a>" +
          "<a href=\"../up/one\">up</a>" +
          "<a href=\"//proto.example.io/p\">pr</a>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<a href=\"https://other.site.io/c\">x</a>"))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents")
      // both canonicalize projections pin internally, so the
      // null-filters and the final aggregate read plain attributes
      val src = Corpus.urlCanonicalize(
          docs.select(col("doc_id"), col("lang"), plantedUrl.as("url")),
          "doc_id", "url",
          outputs = Seq("url_canon", "registered_domain"))
        .select(col("doc_id"), col("url_canon"),
          col("registered_domain").as("src_domain"))
        // a null src (unparseable base URL) has no place in the edge
        // list, and NULL ordering differs between engines (Spark
        // NULLS FIRST vs DuckDB NULLS LAST)
        .where(col("src_domain").isNotNull)
      val links = Corpus.htmlLinks(
        docs.select(col("doc_id"), page.as("html")), "doc_id", "html")
      // one doc_id equi-join hands every link its base URL; resolution
      // + canonicalization stay map-only after it
      val dst = Corpus.urlCanonicalize(
          Corpus.resolveLinks(links.join(src, "doc_id"),
              "href", "url_canon")
            .select(col("doc_id"), col("src_domain"), col("href_resolved")),
          "doc_id", "href_resolved", carryCols = Seq("src_domain"),
          outputs = Seq("registered_domain"))
        .select(col("src_domain"), col("registered_domain").as("dst_domain"))
        .where(col("dst_domain").isNotNull)
      dst.groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_domain", "dst_domain")
    },
    // Same planted pages and hrefs; the domain of an absolute URL
    // reduces to hostport → strip-any-port → strip-www → label rule
    // (equivalent to the engine's strip-default-then-strip-all since
    // the domain key never keeps a port); relative hrefs canonicalize
    // to nothing on both sides.
    // Domain-level mirror of resolution: an absolute href carries its
    // own host, a protocol-relative one its own host + base validity,
    // an opaque scheme dies in canonicalization, and EVERY relative /
    // rooted href lands on the base authority — so its registered
    // domain IS the src domain. The full path algebra is pinned
    // separately by x_resolve_links' recursive-CTE oracle.
    oracle =
      """WITH d AS (SELECT doc_id,
        |  '<p>' || text || '</p>' ||
        |  '<a href="https://www.example.com/a?utm_source=z&x=1">one</a>' ||
        |  '<a href=''http://news.example.co.uk:80/b''>two</a>' ||
        |  '<a href="/relative/path">rel</a>' ||
        |  '<a href="../up/one">up</a>' ||
        |  '<a href="//proto.example.io/p">pr</a>' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN '<a href="https://other.site.io/c">x</a>'
        |       ELSE '' END AS html,
        |  CASE CAST(doc_id % 5 AS INT)
        |   WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |   WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |     '?id=' || doc_id || '&utm_campaign=z'
        |   WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |     (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |   WHEN 3 THEN 'http://example.net'
        |   ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        |  END AS src_url
        | FROM documents),
        |l AS (SELECT doc_id, src_url, unnest(regexp_extract_all(html,
        |  '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1)) AS href
        | FROM d),
        |sp AS (SELECT doc_id, href,
        |  lower(regexp_extract(
        |     regexp_replace(regexp_replace(TRIM(src_url), '#.*$', ''),
        |       '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |     '^([^/?]+)', 1)) AS shp
        | FROM l),
        |hp AS (SELECT doc_id, shp,
        |  CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://')
        |   THEN lower(regexp_extract(
        |     regexp_replace(href, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |     '^([^/?]+)', 1))
        |  WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
        |   THEN NULL
        |  WHEN starts_with(href, '//')
        |   THEN lower(regexp_extract(href, '^//([^/?]+)', 1))
        |  WHEN shp IS NOT NULL AND shp <> '' THEN shp
        |  END AS dhp
        | FROM sp),
        |bd AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(dhp, ':[0-9]+$', ''),
        |    '^www\.', '') AS dbare,
        |  regexp_replace(regexp_replace(shp, ':[0-9]+$', ''),
        |    '^www\.', '') AS sbare
        | FROM hp WHERE dhp IS NOT NULL AND dhp <> ''),
        |dd AS (SELECT doc_id, dbare, sbare,
        |  string_split(dbare, '.') AS dl, string_split(sbare, '.') AS sl
        | FROM bd),
        |edges AS (SELECT
        |  CASE WHEN len(sl) <= 2 THEN sbare
        |       WHEN length(sl[-1]) = 2 AND sl[-2] IN
        |         ('co','com','net','org','gov','ac','edu')
        |         THEN sl[-3] || '.' || sl[-2] || '.' || sl[-1]
        |       ELSE sl[-2] || '.' || sl[-1] END AS src_domain,
        |  CASE WHEN len(dl) <= 2 THEN dbare
        |       WHEN length(dl[-1]) = 2 AND dl[-2] IN
        |         ('co','com','net','org','gov','ac','edu')
        |         THEN dl[-3] || '.' || dl[-2] || '.' || dl[-1]
        |       ELSE dl[-2] || '.' || dl[-1] END AS dst_domain
        | FROM dd)
        |SELECT src_domain, dst_domain, COUNT(*) AS n_links
        |FROM edges WHERE src_domain IS NOT NULL AND src_domain <> ''
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // RFC 3986 §5 reference resolution pinned end-to-end: ten href
    // shapes (relative, ./, ../ chains, rooted, protocol-relative,
    // absolute-with-dots, query-only, fragment-only, opaque scheme)
    // against each doc's planted base URL; the DuckDB oracle runs the
    // SAME six-rule dot-segment fixpoint via a recursive CTE — one
    // algorithm, two engines, bit-for-bit.
    Query("x_resolve_links", (s, dir) => {
      val hrefs = Seq("g", "./g?y#s", "../../x", "/rooted/../x",
        "//proto.example.io/a/./b",
        "https://abs.example.com/a/b/../c?z",
        "?q=2", "#frag", "g/../h/./", "mailto:x@example.com",
        // the fuzz-found pop-rule regressions, pinned CROSS-ENGINE: a
        // `..` never consumes an uncleared dot segment, `..` never
        // pops `..`, and empty segments pop like any stack entry
        "cc/./././..", "cc/a/../../..", "x//../y")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), plantedUrl.as("base"))
      val links = docs.select(col("doc_id"), col("base"),
        posexplode(array(hrefs.map(lit): _*)).as(Seq("link_idx", "href")))
      Corpus.resolveLinks(links, "href", "base")
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
          col("href"), col("href_resolved"))
        .orderBy("doc_id", "link_idx")
    },
    // The SAME six-rule dot-segment fixpoint as the engine, iterated
    // by a recursive CTE; branch selection and base/href parsing
    // mirror Corpus.resolveLinks op-for-op.
    oracle =
      ("""WITH RECURSIVE d AS (SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |   WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |   WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |     '?id=' || doc_id || '&utm_campaign=z'
        |   WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |     (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |   WHEN 3 THEN 'http://example.net'
        |   ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        |  END AS base
        | FROM documents),
        |l AS (SELECT doc_id, base, CAST(x.link_idx AS BIGINT) AS link_idx,
        |   x.href
        | FROM d CROSS JOIN (VALUES
        |   (0, 'g'), (1, './g?y#s'), (2, '../../x'), (3, '/rooted/../x'),
        |   (4, '//proto.example.io/a/./b'),
        |   (5, 'https://abs.example.com/a/b/../c?z'),
        |   (6, '?q=2'), (7, '#frag'), (8, 'g/../h/./'),
        |   (9, 'mailto:x@example.com'),
        |   (10, 'cc/./././..'), (11, 'cc/a/../../..'),
        |   (12, 'x//../y')) AS x(link_idx, href)),
        |s1 AS (SELECT doc_id, link_idx, href,
        |  regexp_replace(href, '#.*$', '') AS h,
        |  regexp_replace(TRIM(base), '#.*$', '') AS b FROM l),
        |s2 AS (SELECT *,
        |  regexp_matches(b, '^[A-Za-z][A-Za-z0-9+.-]*://') AS bok,
        |  regexp_extract(b, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
        |  regexp_replace(b, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS brest,
        |  regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*://') AS habs,
        |  regexp_matches(h, '^[A-Za-z][A-Za-z0-9+.-]*:') AS hopq
        | FROM s1),
        |s3 AS (SELECT *,
        |  regexp_extract(brest, '^([^/?]+)', 1) AS bhost,
        |  regexp_replace(brest, '^[^/?]*', '') AS bpathq,
        |  regexp_extract(h, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS ascheme,
        |  regexp_replace(h, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS arest,
        |  regexp_extract(h, '^//([^/?]+)', 1) AS phost,
        |  regexp_replace(h, '^//[^/?]*', '') AS ppathq
        | FROM s2),
        |s4 AS (SELECT *,
        |  regexp_extract(bpathq, '^([^?]*)', 1) AS bpath,
        |  regexp_extract(bpathq, '(\?.*)$', 1) AS bquery,
        |  bscheme || '://' || bhost AS bpre,
        |  regexp_extract(h, '^([^?]*)', 1) AS hpath,
        |  regexp_extract(h, '(\?.*)$', 1) AS hquery,
        |  regexp_extract(arest, '^([^/?]+)', 1) AS ahost,
        |  regexp_replace(arest, '^[^/?]*', '') AS apathq,
        |  regexp_extract(ppathq, '^([^?]*)', 1) AS ppath,
        |  regexp_extract(ppathq, '(\?.*)$', 1) AS pquery
        | FROM s3),
        |s5 AS (SELECT *,
        |  regexp_extract(apathq, '^([^?]*)', 1) AS apath,
        |  regexp_extract(apathq, '(\?.*)$', 1) AS aquery,
        |  CASE WHEN regexp_extract(bpath, '^(.*/)', 1) = '' THEN '/'
        |       ELSE regexp_extract(bpath, '^(.*/)', 1) END AS bdir
        | FROM s4),
        |tri AS (SELECT doc_id, link_idx, href,
        |  CASE WHEN h IS NOT NULL AND hopq AND NOT habs THEN h
        |   END AS verbatim,
        |  CASE WHEN h IS NULL THEN NULL
        |       WHEN habs THEN ascheme || '://' || ahost
        |       WHEN hopq THEN NULL
        |       WHEN NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN bscheme || '://' || phost
        |       ELSE bpre END AS pre,
        |  CASE WHEN habs THEN apath
        |       WHEN hopq OR NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN ppath
        |       WHEN starts_with(h, '/') THEN hpath
        |       WHEN h = '' THEN bpath
        |       WHEN starts_with(h, '?') THEN bpath
        |       ELSE bdir || hpath END AS p0,
        |  CASE WHEN habs THEN aquery
        |       WHEN hopq OR NOT bok THEN NULL
        |       WHEN starts_with(h, '//') THEN pquery
        |       WHEN starts_with(h, '/') THEN hquery
        |       WHEN h = '' THEN bquery
        |       WHEN starts_with(h, '?') THEN h
        |       ELSE hquery END AS suf
        | FROM s5),
        |rec AS (
        | SELECT doc_id, link_idx, p0 AS p, """.stripMargin +
        dotStepSql("p0") + """ AS np
        | FROM tri WHERE pre IS NOT NULL
        | UNION ALL
        | SELECT doc_id, link_idx, np, """.stripMargin +
        dotStepSql("np") + """
        | FROM rec WHERE np <> p),
        |fix AS (SELECT doc_id, link_idx, p FROM rec WHERE np = p)
        |SELECT t.doc_id, t.link_idx, t.href,
        |  CASE WHEN t.verbatim IS NOT NULL THEN t.verbatim
        |       WHEN t.pre IS NOT NULL THEN t.pre || f.p || t.suf
        |  END AS href_resolved
        |FROM tri t LEFT JOIN fix f
        |  ON f.doc_id = t.doc_id AND f.link_idx = t.link_idx
        |ORDER BY t.doc_id, t.link_idx""".stripMargin)),

    // Per-domain curation rollup over the canonical key: dup pressure
    // (n_docs − n_urls), volume, stripped-tracker census — one
    // domain-keyed aggregation after the map-only canonicalizer.
    Query("x_domain_stats", (s, dir) =>
      Corpus.domainStats(
          Corpus.urlCanonicalize(
            t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
              plantedUrl.as("url")),
            "doc_id", "url", carryCols = Seq("n_chars"),
            outputs = Seq("url_canon", "registered_domain",
              "n_params_stripped")),
          "n_chars")
        .orderBy("registered_domain"),
    // The rollup over the same chain; SUMs cast to BIGINT (DuckDB
    // SUM(BIGINT) is HUGEINT — the §2.7 convention).
    oracle =
      (urlCanonOracleChain("doc_id, n_chars,") +
        """,fin AS (SELECT n_chars,
          | CASE WHEN hs THEN scheme || '://' || host || path ||
          |   CASE WHEN len(kp) > 0 THEN '?' || array_to_string(kp, '&')
          |        ELSE '' END
          | END AS url_canon,
          | CASE WHEN hs THEN
          |   CASE WHEN len(lbl) <= 2 THEN bare
          |        WHEN length(lbl[-1]) = 2 AND lbl[-2] IN
          |          ('co','com','net','org','gov','ac','edu')
          |          THEN lbl[-3] || '.' || lbl[-2] || '.' || lbl[-1]
          |        ELSE lbl[-2] || '.' || lbl[-1] END
          | END AS registered_domain,
          | CASE WHEN hs THEN CAST(len(ap) - len(kp) AS BIGINT)
          | END AS n_params_stripped
          | FROM p8)
          |SELECT registered_domain,
          | CAST(COUNT(*) AS BIGINT) AS n_docs,
          | CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_urls,
          | CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          | CAST(SUM(n_params_stripped) AS BIGINT) AS n_params_stripped
          |FROM fin WHERE registered_domain IS NOT NULL
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PSL-backed registered domains: longest-match against a real
    // Public-Suffix-List grammar (plain/wildcard/exception rules,
    // default rule fallback) over a planted host mix — the distinct-
    // host mapping join the heuristic's github.io-class failures
    // upgrade through.
    Query("x_psl_domains", (s, dir) => {
      import s.implicits._
      val psl = Seq("com", "net", "org", "uk", "co.uk", "io",
        "github.io", "au", "com.au", "*.play", "!www.play").toDF("suffix")
      val hosts = t(s, dir, "documents").select(col("doc_id"),
        expr("""CASE CAST(doc_id % 7 AS INT)
          | WHEN 0 THEN 'www.example.com'
          | WHEN 1 THEN 'news.example.co.uk'
          | WHEN 2 THEN 'a.b.github.io'
          | WHEN 3 THEN 'Foo.Bar.PLAY'
          | WHEN 4 THEN 'x.www.play'
          | WHEN 5 THEN 'shop.com.au'
          | ELSE 'cdn.static.example.org:8080'
          |END""".stripMargin).as("host"))
      hosts.select(col("doc_id"), lower(col("host")).as("host"))
        .join(Corpus.pslRegisteredDomains(hosts, "host", psl),
          Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("public_suffix"),
          col("registered_domain_psl"))
        .orderBy("doc_id")
    },
    // The PSL algorithm mirrored: candidate label-suffixes unnested,
    // plain/exception rules joined on the candidate, wildcard rules on
    // its after-first-label tail; exception wins, else longest, else
    // the default rule (bare TLD).
    oracle =
      """WITH d AS (SELECT doc_id,
        |  CASE CAST(doc_id % 7 AS INT)
        |   WHEN 0 THEN 'www.example.com'
        |   WHEN 1 THEN 'news.example.co.uk'
        |   WHEN 2 THEN 'a.b.github.io'
        |   WHEN 3 THEN 'Foo.Bar.PLAY'
        |   WHEN 4 THEN 'x.www.play'
        |   WHEN 5 THEN 'shop.com.au'
        |   ELSE 'cdn.static.example.org:8080'
        |  END AS host
        | FROM documents),
        |hh AS (SELECT doc_id, lower(host) AS host,
        |  string_split(regexp_replace(regexp_replace(lower(host),
        |    ':[0-9]+$', ''), '\.$', ''), '.') AS labels
        | FROM d),
        |hn AS (SELECT doc_id, host, labels, len(labels) AS n FROM hh),
        |c AS (SELECT doc_id, labels, n,
        |   unnest(range(1, n + 1)) AS i FROM hn),
        |cc AS (SELECT doc_id, n, n - i + 1 AS clen,
        |   array_to_string(labels[CAST(i AS INT):], '.') AS cand FROM c),
        |rules AS (SELECT * FROM (VALUES
        |  ('plain','com'),('plain','net'),('plain','org'),('plain','uk'),
        |  ('plain','co.uk'),('plain','io'),('plain','github.io'),
        |  ('plain','au'),('plain','com.au'),
        |  ('wild','play'),('exc','www.play')) r(kind, base)),
        |m AS (
        | SELECT cc.doc_id,
        |   CASE WHEN r.kind = 'exc' THEN cc.clen - 1 ELSE cc.clen END
        |     AS ps_len,
        |   r.kind = 'exc' AS is_exc
        | FROM cc JOIN rules r
        |   ON r.kind IN ('plain','exc') AND r.base = cc.cand
        | UNION ALL
        | SELECT cc.doc_id, cc.clen, FALSE
        | FROM cc JOIN rules r
        |   ON r.kind = 'wild' AND cc.cand LIKE '%.%'
        |  AND r.base = regexp_replace(cc.cand, '^[^.]+\.', '')),
        |agg AS (SELECT doc_id,
        |  MAX(CASE WHEN is_exc THEN ps_len END) AS exc_len,
        |  MAX(CASE WHEN NOT is_exc THEN ps_len END) AS norm_len
        | FROM m GROUP BY doc_id)
        |SELECT hn.doc_id, hn.host,
        | array_to_string(labels[CAST(n - COALESCE(exc_len, norm_len, 1)
        |   + 1 AS INT):], '.') AS public_suffix,
        | CASE WHEN n > COALESCE(exc_len, norm_len, 1)
        |  THEN array_to_string(labels[CAST(n - COALESCE(exc_len,
        |    norm_len, 1) AS INT):], '.') END AS registered_domain_psl
        |FROM hn LEFT JOIN agg ON agg.doc_id = hn.doc_id
        |ORDER BY hn.doc_id""".stripMargin),

    // Top-30 collocations by PMI (token-stream marginals, min pair
    // count 5): bigram-keyed agg + two broadcast vocab joins + top-k
    // heaps. Output is exact integer counts; the rank key is the exact
    // rational c_ab·N/(c_a·c_b) (same order as PMI — ln is monotone)
    // via correctly-rounded double ops only, so no libm ln can flake.
    Query("x_pmi", (s, dir) =>
      Corpus.pmiTopK(t(s, dir, "documents"), "text", k = 30, minCount = 5L),
    // PMI mirrored as exact integers: the output is only counts, and
    // the ranking rational c_ab·N/(c_a·c_b) uses double multiply/divide
    // (correctly rounded by IEEE-754 — identical bits on any engine,
    // which ln from a platform libm is NOT guaranteed to be).
    oracle =
      """WITH tk AS (SELECT regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
        |big AS (SELECT unnest(list_transform(range(1, len(t)), i ->
        |   {'w1': t[CAST(i AS INTEGER)], 'w2': t[CAST(i AS INTEGER) + 1]}))
        |   AS bg
        | FROM tk),
        |bp AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bc AS (SELECT w1, w2, count(*) AS c_ab FROM bp GROUP BY 1, 2
        | HAVING count(*) >= 5),
        |ucc AS (SELECT w, count(*) AS c FROM
        | (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
        |nb AS (SELECT count(*) AS nbig FROM bp)
        |SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b, nbig
        |FROM bc JOIN ucc ca ON ca.w = bc.w1 JOIN ucc cb ON cb.w = bc.w2, nb
        |ORDER BY (CAST(c_ab AS DOUBLE) * CAST(nbig AS DOUBLE))
        |   / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) DESC, w1, w2
        |LIMIT 30""".stripMargin),

    // Top-30 collocations by Pearson chi-square — the hypothesis-test
    // counterpart of x_pmi (PMI over-rewards rare pairs; chi2 weighs
    // evidence). All O's are exact longs cast to double; the chi2
    // expression is pinned-order correctly-rounded double arithmetic.
    Query("x_chi2_colloc", (s, dir) =>
      Corpus.chi2Collocations(t(s, dir, "documents"), "text", k = 30,
        minCount = 5L),
    // Chi-square mirrored with marginals from the bigram table itself;
    // O's are exact BIGINT arithmetic cast to double, the chi2
    // expression spells the identical pinned association order.
    oracle =
      raw"""WITH tk AS (SELECT regexp_split_to_array(TRIM(text), '\s+') AS t
        |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
        |big AS (SELECT unnest(list_transform(range(1, len(t)), i ->
        |   {'w1': t[CAST(i AS INTEGER)], 'w2': t[CAST(i AS INTEGER) + 1]}))
        |   AS bg
        | FROM tk),
        |bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c_ab
        | FROM big GROUP BY 1, 2),
        |r AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS r1 FROM bc GROUP BY 1),
        |c AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c1 FROM bc GROUP BY 1),
        |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS nbig FROM bc),
        |j AS (SELECT bc.w1, bc.w2, bc.c_ab, r.r1, c.c1, n.nbig,
        |  CAST(bc.c_ab AS DOUBLE)
        |      * CAST(n.nbig - r.r1 - c.c1 + bc.c_ab AS DOUBLE)
        |    - CAST(r.r1 - bc.c_ab AS DOUBLE)
        |      * CAST(c.c1 - bc.c_ab AS DOUBLE) AS d
        | FROM bc JOIN r ON r.w1 = bc.w1 JOIN c ON c.w2 = bc.w2, n
        | WHERE bc.c_ab >= 5)
        |SELECT w1, w2, c_ab, r1, c1, nbig,
        | ROUND((CAST(nbig AS DOUBLE) * (d * d))
        |   / ((CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))
        |     * (CAST(nbig - r1 AS DOUBLE) * CAST(nbig - c1 AS DOUBLE))), 9)
        |   AS chi2
        |FROM j ORDER BY chi2 DESC, w1, w2 LIMIT 30""".stripMargin),

    // Phonetic spelling-variant census: soundex-bucketed vocabulary
    // (official American Soundex incl. H/W transparency, built as a
    // translate+regex chain over the shared Java/RE2 subset), buckets
    // with >= 2 distinct spellings, top-40 by occurrences — the
    // record-linkage blocking-key audit. The fixture's 31-word vocab
    // has zero phonetic collisions, so three name-variant docs are
    // PLANTED (mirrored in the oracle) to witness the bucketing: the
    // variants must land together, the rest must stay out.
    Query("x_soundex", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (90000001L, "Robert Rupert robert Ashcraft Ashcroft"),
        (90000002L, "Smith Smyth Smithe Honeyman Honeymann"),
        (90000003L, "Tymczak Tomczak Pfister Phister"))
        .toDF("doc_id", "text")
      Corpus.phoneticVariants(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted),
        "text", k = 40)
    },
    // Soundex mirrored step-for-step: same translate table (9 = h/w
    // marker), the same single greedy d[d9]*d merge pass per digit,
    // run collapse, head-code drop, then 9/0 removal — all in the
    // shared regex subset (no backrefs), every regexp_replace with
    // 'g'.
    oracle = {
      val merged = (1 to 6).foldLeft("d0")((a, d) =>
        s"regexp_replace($a, '$d[${d}9]*$d', '$d$d', 'g')")
      val collapsed = (1 to 6).foldLeft(merged)((a, d) =>
        s"regexp_replace($a, '$d{2,}', '$d', 'g')")
      val digits = s"regexp_replace(regexp_replace(regexp_replace(" +
        s"$collapsed, '^.', '', 'g'), '9', '', 'g'), '0', '', 'g')"
      raw"""WITH docs AS (
        | SELECT text FROM documents
        | UNION ALL SELECT 'Robert Rupert robert Ashcraft Ashcroft'
        | UNION ALL SELECT 'Smith Smyth Smithe Honeyman Honeymann'
        | UNION ALL SELECT 'Tymczak Tomczak Pfister Phister'),
        |tc AS (SELECT t, COUNT(*) AS c FROM (
        | SELECT unnest(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        | FROM docs) GROUP BY 1),
        |s AS (SELECT t, c,
        |  upper(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS up FROM tc),
        |d AS (SELECT t, c, up, translate(up,
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |  '01230129022455012623019202') AS d0 FROM s),
        |x AS (SELECT t, c, up, $digits AS dg FROM d),
        |sx AS (SELECT t, c, CASE WHEN length(up) = 0 THEN NULL
        |  ELSE substr(up, 1, 1) || substr(rpad(dg, 3, '0'), 1, 3)
        |  END AS sdx FROM x)
        |SELECT sdx, COUNT(*) AS n_spellings,
        | CAST(SUM(c) AS BIGINT) AS n_tokens,
        | MIN(t) AS spelling_min, MAX(t) AS spelling_max
        |FROM sx WHERE sdx IS NOT NULL GROUP BY 1
        |HAVING COUNT(*) >= 2
        |ORDER BY n_tokens DESC, sdx LIMIT 40""".stripMargin
    }),

    // Code-vs-prose routing census: indentation/brace/keyword/camel
    // features + verdict, map-only. Two code docs are PLANTED
    // (mirrored with chr(10) in the oracle) so both verdict branches
    // are witnessed — the fixture itself is all prose.
    Query("x_code_prose", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (90000001L, "def main():\n    return compute(x);\n    let y = 1"),
        (90000002L, "public static void run() { camelCase = fooBar(1); }"))
        .toDF("doc_id", "text")
      Corpus.codeProseCensus(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    // Code census mirrored: same five RE2-subset patterns, chr(10)
    // newlines in the planted docs (DuckDB literals keep backslashes).
    oracle =
      raw"""WITH docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT 90000001, 'def main():' || chr(10)
        |   || '    return compute(x);' || chr(10) || '    let y = 1'
        | UNION ALL SELECT 90000002,
        |   'public static void run() { camelCase = fooBar(1); }'),
        |f AS (SELECT doc_id, COALESCE(text, '') AS t FROM docs)
        |SELECT doc_id,
        | CASE WHEN LENGTH(t) = 0 THEN 0
        |   ELSE CAST(len(string_split(t, chr(10))) AS BIGINT) END AS n_lines,
        | CAST(len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |   AS BIGINT) AS n_indent,
        | CAST(len(regexp_extract_all(t, '[{}();=\[\]]'))
        |   AS BIGINT) AS n_braces,
        | CAST(len(regexp_extract_all(t,
        |   '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |   AS BIGINT) AS n_kw,
        | CAST(len(regexp_extract_all(t, '[a-z][A-Z]')) AS BIGINT) AS n_camel,
        | CAST(3 * len(regexp_extract_all(t,
        |    '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |  + 2 * len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |  + len(regexp_extract_all(t, '[{}();=\[\]]'))
        |  + len(regexp_extract_all(t, '[a-z][A-Z]')) AS BIGINT) AS code_score,
        | (3 * len(regexp_extract_all(t,
        |    '\b(def|class|function|import|return|public|static|void|const|let)\b'))
        |  + 2 * len(regexp_extract_all(t, '(?m)^[ \t]{2,}\S'))
        |  + len(regexp_extract_all(t, '[{}();=\[\]]'))
        |  + len(regexp_extract_all(t, '[a-z][A-Z]')) >= 8) AS is_codey
        |FROM f ORDER BY doc_id""".stripMargin),

    // Corpus-level RAKE keywords: stopword/punct-broken candidate
    // phrases, deg/freq word scores (one double divide each), phrase
    // score = DECIMAL(30,15) sum of word scores, top-30.
    Query("x_rake", (s, dir) =>
      Corpus.rakeKeywords(t(s, dir, "documents"), "text",
        stopwords = Seq("the", "a", "of", "and", "to", "in", "is",
          "for", "on", "with"),
        k = 30),
    // RAKE mirrored list-for-list: chr(1) break markers, string_split
    // phrase re-split, identical stoplist, deg/freq divides and the
    // DECIMAL(30,15) phrase sum.
    oracle =
      raw"""WITH tk AS (SELECT CASE
        |   WHEN text IS NULL OR LENGTH(TRIM(lower(text))) = 0
        |   THEN []::VARCHAR[]
        |   ELSE regexp_split_to_array(TRIM(lower(text)), '\s+') END AS tok
        | FROM documents),
        |mk AS (SELECT list_transform(tok, t -> CASE
        |   WHEN t IN ('the','a','of','and','to','in','is','for','on','with')
        |     OR NOT regexp_matches(t, '[a-z0-9]') THEN chr(1) ELSE t END)
        |   AS m FROM tk),
        |ph AS (SELECT trim(p) AS phrase FROM (
        |  SELECT unnest(string_split(array_to_string(m, ' '), chr(1))) AS p
        |  FROM mk)
        | WHERE LENGTH(trim(p)) > 0),
        |pt AS (SELECT phrase, COUNT(*) AS n_occur,
        |  string_split(phrase, ' ') AS ws
        | FROM ph GROUP BY 1 HAVING len(string_split(phrase, ' ')) <= 8),
        |pw AS (SELECT phrase, n_occur, CAST(len(ws) AS BIGINT) AS l,
        |  unnest(ws) AS w FROM pt),
        |ws AS (SELECT w, CAST(SUM(n_occur) AS BIGINT) AS freq,
        |  CAST(SUM(n_occur * l) AS BIGINT) AS deg FROM pw GROUP BY 1)
        |SELECT pw.phrase, pw.n_occur, pw.l AS n_words,
        | ROUND(CAST(SUM(CAST(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE)
        |   AS DECIMAL(30,15))) AS DOUBLE), 9) AS score
        |FROM pw JOIN ws ON ws.w = pw.w
        |GROUP BY pw.phrase, pw.n_occur, pw.l
        |ORDER BY score DESC, phrase LIMIT 30""".stripMargin),

    // Church-Gale term burstiness: cf/df + variance-to-mean of per-doc
    // counts (zeros in) per token with df >= 5, top-30 by burst — the
    // topicality/keyword signal TF-IDF approximates. Exact integers +
    // two pinned-order double ratios.
    Query("x_burstiness", (s, dir) =>
      Corpus.burstiness(t(s, dir, "documents"), "doc_id", "text", k = 30,
        minDf = 5L),
    // Burstiness mirrored: exact integer term stats, two pinned-order
    // double ratios (HUGEINT sums cast back to BIGINT per convention).
    oracle =
      raw"""WITH dt AS (SELECT doc_id, t, COUNT(*) AS c FROM (
        |  SELECT doc_id, unnest(CASE WHEN text IS NULL
        |    OR LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(text), '\s+') END) AS t
        |  FROM documents) GROUP BY 1, 2),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |term AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cf, COUNT(*) AS df,
        |  CAST(SUM(c * c) AS BIGINT) AS sum_c2 FROM dt GROUP BY 1
        |  HAVING COUNT(*) >= 5)
        |SELECT t AS token, cf, df, sum_c2, n_docs,
        | ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 9) AS burst,
        | ROUND(((CAST(sum_c2 AS DOUBLE)
        |     - (CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE))
        |       / CAST(n_docs AS DOUBLE))
        |    / (CAST(n_docs AS DOUBLE) - 1.0))
        |   / (CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)), 9) AS vmr
        |FROM term, nd ORDER BY burst DESC, token LIMIT 30""".stripMargin),

    // Within-document repetition removal (MassiveText intra-doc dedup):
    // every repeat of a unit after its first occurrence in the SAME doc
    // is deleted, order preserved. Exercised at word granularity — the
    // fixture's docs repeat tokens heavily — entirely map-only.
    Query("x_dedup_within", (s, dir) =>
      Corpus.dedupWithinDoc(t(s, dir, "documents"), "doc_id",
          graft.functions.TextFunctions.tokens(col("text")))
        .orderBy("doc_id"),
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM documents),
        |kept AS (
        | SELECT doc_id, tok,
        |  list_filter(tok, (u, i) -> list_position(tok, u) = i) AS k
        | FROM toks)
        |SELECT doc_id, array_to_string(k, ' ') AS clean_text,
        | CAST(len(tok) - len(k) AS BIGINT) AS n_units_removed
        |FROM kept ORDER BY doc_id""".stripMargin),

    // Exact-k deterministic stratified sample: 5 docs per language,
    // chosen by md5 rank — reproducible on any cluster size.
    Query("x_sample_k", (s, dir) =>
      Corpus.exactKPerStratum(t(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    oracle =
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 5 ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination: distinct-trigram overlap between the
    // training split and a held-out benchmark split, joined on 8-byte
    // gram hashes (inverted index — never gram strings, never all-pairs).
    Query("x_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.decontaminate(
        docs.where(pmod(col("doc_id"), lit(40)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(40)) === 0),
        "doc_id", "text", n = 3, minShared = 2)
        .orderBy("train_id", "bench_id")
    },
    // Joins on gram STRINGS here vs xxhash64 on the Spark side —
    // identical pairs absent a 64-bit collision.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id, $wsTokensSql AS tok
        | FROM documents),
        |grams AS (
        | SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])) AS gram
        |  FROM toks))
        |SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS shared
        |FROM grams t JOIN grams b ON t.gram = b.gram
        |WHERE t.doc_id % 40 <> 0 AND b.doc_id % 40 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY train_id, bench_id""".stripMargin),

    // Text normalization + PII scrub over doc text with deterministic
    // synthetic contact info appended (the corpus itself is clean), so
    // the masking is actually exercised. Map-only, codegen'd regexes.
    Query("x_scrub", (s, dir) => {
      val dirty = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-5309 ref 9400110200881234567890"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.normalize(col("text")).as("norm"),
        TF.scrubPii(dirty).as("scrubbed"))
        .orderBy("doc_id")
    },
    oracle =
      """WITH dirty AS (
        | SELECT doc_id, text,
        |  text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com or 555-867-5309 ref 9400110200881234567890' AS d
        | FROM documents)
        |SELECT doc_id,
        | TRIM(regexp_replace(regexp_replace(LOWER(text), '[\x00-\x1f]', ' ', 'g'),
        |   '\s+', ' ', 'g')) AS norm,
        | regexp_replace(regexp_replace(regexp_replace(d,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{9,}', '<ID>', 'g'),
        |   '\+?[0-9][0-9() .-]{5,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM dirty ORDER BY doc_id""".stripMargin),

    // Typed PII census over doc text with deterministic synthetic PII
    // appended: an email, a dotted quad whose octet validity flips with
    // doc_id (doc_id % 300 crosses 255), a phone, and a card that is
    // Luhn-valid on even ids only — every precision gate (octet range,
    // size window, mod-10) exercises BOTH branches across the fixture.
    // Map-only; the oracle replays the shared-subset regexes and the
    // Luhn fold with DuckDB list lambdas.
    // Crawl-delay politeness extraction over 12 planted robots bodies
    // (one per host), agent graftbot: exact-agent group beats *, a
    // host whose exact group lacks the directive stays absent (the *
    // delay must NOT leak in), max-merge over repeated lines,
    // malformed and negative values drop, UA runs share the delay.
    Query("x_crawl_delay", (s, dir) => {
      val bodies = t(s, dir, "documents").where(col("doc_id") < 12)
        .select(concat(lit("h"), col("doc_id").cast("string"),
            lit(".example.com")).as("host"),
          plantedRobotsBody.as("robots"))
      Corpus.robotsCrawlDelay(bodies, "host", "robots", "graftbot")
        .orderBy("host")
    },
    // PII census: the same planted text, the same shared-subset shape
    // regexes, and the precision gates as list lambdas — octet filter
    // (no octet > 255), card size window on the separator-stripped
    // digits, and the Luhn fold (reversed digits, odd positions as-is,
    // even doubled minus 9 over 4) as list_sum over list_transform.
    // Crawl-delay: the group grammar replayed in SQL — positional line
    // zip (parallel unnest), lag/sum run detection in two window
    // stages, exact-else-star group choice, TRY_CAST gate, MAX merge.
    oracle =
      """WITH d AS (SELECT 'h' || CAST(doc_id AS VARCHAR) ||
        |   '.example.com' AS host,
        |  CASE CAST(doc_id % 4 AS INT)
        |   WHEN 0 THEN 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 10' || chr(10) || 'User-agent: graftbot' ||
        |    chr(10) || 'Disallow: /tmp' || chr(10) || 'Crawl-delay: 2.5'
        |   WHEN 1 THEN 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 1' || chr(10) || 'Crawl-delay: fast' ||
        |    chr(10) || 'Crawl-delay: 4'
        |   WHEN 2 THEN 'User-agent: graftbot' || chr(10) ||
        |    'Disallow: /a' || chr(10) || 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 7'
        |   ELSE 'User-agent: other' || chr(10) ||
        |    'User-agent: graftbot' || chr(10) || 'Crawl-delay: -3' ||
        |    chr(10) || 'Crawl-delay: 0.5'
        |  END AS body
        | FROM documents WHERE doc_id < 12),
        |ln AS (SELECT host, unnest(range(1, len(p) + 1)) AS i,
        |   unnest(p) AS l0
        | FROM (SELECT host, str_split(body, chr(10)) AS p FROM d)),
        |lt AS (SELECT host, i,
        |   trim(regexp_replace(l0, '#.*', '')) AS l FROM ln),
        |sig AS (SELECT host, i, l,
        |   starts_with(lower(l), 'user-agent:') AS ua,
        |   starts_with(lower(l), 'crawl-delay:') AS cd
        | FROM lt
        | WHERE starts_with(lower(l), 'user-agent:')
        |    OR starts_with(lower(l), 'allow:')
        |    OR starts_with(lower(l), 'disallow:')
        |    OR starts_with(lower(l), 'crawl-delay:')),
        |g0 AS (SELECT *, (ua AND NOT COALESCE(
        |   lag(ua) OVER (PARTITION BY host ORDER BY i), FALSE)) AS gs
        | FROM sig),
        |g AS (SELECT *, SUM(CASE WHEN gs THEN 1 ELSE 0 END)
        |   OVER (PARTITION BY host ORDER BY i) AS grp FROM g0),
        |uav AS (SELECT host, grp,
        |   lower(trim(substring(l, strpos(l, ':') + 1))) AS agent
        | FROM g WHERE ua),
        |ex AS (SELECT DISTINCT host, grp FROM uav
        | WHERE agent = 'graftbot'),
        |st AS (SELECT DISTINCT host, grp FROM uav WHERE agent = '*'),
        |ch AS (SELECT host, grp FROM ex UNION
        |       SELECT host, grp FROM st
        |        WHERE host NOT IN (SELECT host FROM ex)),
        |dl AS (SELECT host, grp,
        |   TRY_CAST(trim(substring(l, strpos(l, ':') + 1)) AS DOUBLE)
        |     AS dsec
        | FROM g WHERE cd),
        |ok AS (SELECT dl.host, dsec FROM dl
        | JOIN ch ON dl.host = ch.host AND dl.grp = ch.grp
        | WHERE dsec IS NOT NULL AND dsec >= 0)
        |SELECT host, MAX(dsec) AS crawl_delay_sec
        |FROM ok GROUP BY 1 ORDER BY host""".stripMargin),

    // Mojibake census + repair over planted double-encoding damage:
    // two artifact suffixes (derived from clean text via the real
    // UTF-8→cp1252 mis-decode, never hand-typed) land on 2/3 of docs;
    // the deterministic replace chain repairs them and the length
    // arithmetic counts 3-char vs 2-char fixes. Map-only.
    Query("x_mojibake", (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 1, concat(col("text"), lit(mojiS1)))
          .when(col("doc_id") % 3 === 2, concat(col("text"), lit(mojiS2)))
          .otherwise(col("text")).as("text"))
      Corpus.mojibakeRepair(planted, "doc_id", "text")
        .orderBy("doc_id")
    },
    // Mojibake: the identical planted suffixes and the replace chain
    // GENERATED from Corpus.mojibakePairs (3-char stage, then 2-char),
    // counts from the same length deltas.
    oracle = {
      val (three, two) = Corpus.mojibakePairs.partition(_._1.length == 3)
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 1 THEN text || '$mojiS1'
         |       WHEN doc_id % 3 = 2 THEN text || '$mojiS2'
         |       ELSE text END AS t FROM documents),
         |a AS (SELECT doc_id, t, ${mojiSqlChain("t", three)} AS t3 FROM p),
         |b AS (SELECT doc_id, t, t3, ${mojiSqlChain("t3", two)} AS t2
         |  FROM a)
         |SELECT doc_id, t2 AS repaired,
         | CAST((length(t) - length(t3)) // 2 AS BIGINT) AS n_fix3,
         | CAST(length(t3) - length(t2) AS BIGINT) AS n_fix2,
         | (length(t) - length(t3)) // 2 + (length(t3) - length(t2)) > 0
         |   AS mojibake
         |FROM b ORDER BY doc_id""".stripMargin
    }),

    Query("x_pii_census", (s, dir) => {
      val planted = concat(coalesce(col("text"), lit("")),
        lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@mail.example.com ip=10."),
        (col("doc_id") % 300).cast("string"),
        lit(".0.1 tel=+1 (555) 01"), (col("doc_id") % 10).cast("string"),
        lit("-2345 card="),
        when(col("doc_id") % 2 === 0, lit("4111 1111 1111 1111"))
          .otherwise(lit("4111 1111 1111 1112")))
      Corpus.piiCensus(
          t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    oracle =
      """WITH src AS (
        | SELECT doc_id, COALESCE(text, '') || ' Contact: user' ||
        |  CAST(doc_id AS VARCHAR) || '@mail.example.com ip=10.' ||
        |  CAST(doc_id % 300 AS VARCHAR) || '.0.1 tel=+1 (555) 01' ||
        |  CAST(doc_id % 10 AS VARCHAR) || '-2345 card=' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '4111 1111 1111 1111'
        |       ELSE '4111 1111 1111 1112' END AS t
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS emails,
        |  regexp_extract_all(t,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b') AS ips,
        |  regexp_extract_all(t, '\+?[0-9][0-9() .-]{5,}[0-9]') AS phones,
        |  list_filter(list_transform(
        |    regexp_extract_all(t, '\b[0-9][0-9 -]{11,21}[0-9]\b'),
        |    x -> regexp_replace(x, '[^0-9]', '', 'g')),
        |   d -> len(d) >= 13 AND len(d) <= 19) AS sized
        | FROM src),
        |v AS (
        | SELECT doc_id, emails, ips, phones, sized,
        |  list_filter(sized, d -> list_sum(list_transform(
        |    range(1, len(d) + 1),
        |    i -> CASE WHEN i % 2 = 1
        |      THEN CAST(substring(reverse(d), CAST(i AS INTEGER), 1)
        |        AS INTEGER)
        |      ELSE CAST(substring(reverse(d), CAST(i AS INTEGER), 1)
        |          AS INTEGER) * 2
        |        - CASE WHEN CAST(substring(reverse(d), CAST(i AS INTEGER),
        |            1) AS INTEGER) > 4 THEN 9 ELSE 0 END
        |      END)) % 10 = 0) AS luhn_ok
        | FROM c)
        |SELECT doc_id,
        | CAST(len(emails) AS BIGINT) AS n_email,
        | CAST(len(list_filter(ips, x -> len(list_filter(
        |   string_split(x, '.'),
        |   o -> CAST(o AS INTEGER) > 255)) = 0)) AS BIGINT) AS n_ipv4,
        | CAST(len(phones) AS BIGINT) AS n_phone,
        | CAST(len(luhn_ok) AS BIGINT) AS n_card,
        | CAST(len(sized) - len(luhn_ok) AS BIGINT) AS n_card_like
        |FROM v ORDER BY doc_id""".stripMargin),

    // Readability census over the planted line structure (10-token
    // sentences, every 3rd unpunctuated — so the sentence count is a
    // real signal, not the clamp): Flesch ease + FK grade from
    // deterministic vowel-group syllables. Map-only.
    Query("x_readability", (s, dir) =>
      Corpus.readabilityCensus(
          t(s, dir, "documents").select(col("doc_id"),
            plantedLines.as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
    // Readability: the same planted lines, sentence runs counted over
    // the joined text, the per-token vowel-group fold as list lambdas
    // (COALESCE(list_sum, 0) — DuckDB's empty-list sum is NULL), the
    // two score polynomials in identical association order.
    oracle =
      raw"""WITH toks AS (
        | SELECT doc_id,
        |  $wsTokensSql AS tok
        | FROM documents),
        |lined AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(range((len(tok) + 9) // 10), i ->
        |    array_to_string(tok[i * 10 + 1 : i * 10 + 10], ' ') ||
        |    CASE WHEN i % 3 = 2 THEN '' ELSE '.' END),
        |   chr(10)) AS t
        | FROM toks),
        |c AS (
        | SELECT doc_id,
        |  CASE WHEN LENGTH(TRIM(t)) = 0 THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(TRIM(t), '\s+') END AS wtok,
        |  CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT) AS sraw
        | FROM lined),
        |m AS (
        | SELECT doc_id, CAST(len(wtok) AS BIGINT) AS w,
        |  GREATEST(sraw, 1) AS s,
        |  CAST(COALESCE(list_sum(list_transform(wtok, x ->
        |    GREATEST(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))),
        |    0) AS BIGINT) AS y
        | FROM c)
        |SELECT doc_id, w AS n_words,
        | CASE WHEN w = 0 THEN 0 ELSE s END AS n_sentences,
        | y AS n_syllables,
        | CASE WHEN w > 0 THEN ROUND(CAST(206.835 AS DOUBLE)
        |   - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |   - CAST(84.6 AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)),
        |   9) END AS reading_ease,
        | CASE WHEN w > 0 THEN ROUND(
        |   CAST(0.39 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |   + CAST(11.8 AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
        |   - CAST(15.59 AS DOUBLE), 9) END AS fk_grade
        |FROM m ORDER BY doc_id""".stripMargin),

    // Crawl revisit scheduling over a planted frontier: changefreq
    // cycles through all seven sitemaps.org values plus an unknown and
    // a null (→ daily default), last_crawl is null on every 5th URL
    // (tier-0 never-fetched) — so tiering, the never rule, the daily
    // default, the due window and the per-host top-3 cutoff all
    // exercise both branches. One filter + one WindowGroupLimit rank.
    Query("x_revisit", (s, dir) => {
      val cf = element_at(array(lit("always"), lit("hourly"), lit("daily"),
        lit("weekly"), lit("monthly"), lit("yearly"), lit("never"),
        lit("Sometimes")), (col("doc_id") % 8).cast("int") + 1)
      val frontier = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 37).cast("string")).as("host"),
        concat(lit("https://h"), (col("doc_id") % 37).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .otherwise(cf).as("changefreq"),
        when(col("doc_id") % 5 === 0, lit(null).cast("long"))
          .otherwise(lit(1700000000L) + (col("doc_id") * 7919) % 30000000L)
          .as("last_crawl"))
      Corpus.revisitSchedule(frontier, "host", "url", "changefreq",
          "last_crawl", nowSec = 1730000000L, perHostK = 3)
        .orderBy("host", "wave")
    },
    // Revisit scheduling: the changefreq→interval CASE, the due
    // predicate (never-fetched OR non-never past its interval), and the
    // (tier, overdue desc, url) politeness rank replayed as one window.
    oracle =
      """WITH f AS (
        | SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
        |  'https://h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE list_extract(
        |    ['always','hourly','daily','weekly','monthly','yearly',
        |     'never','Sometimes'], CAST(doc_id % 8 AS INTEGER) + 1)
        |   END AS changefreq,
        |  CASE WHEN doc_id % 5 = 0 THEN NULL
        |   ELSE 1700000000 + (doc_id * 7919) % 30000000 END AS last_crawl
        | FROM documents),
        |i AS (SELECT *, CASE lower(COALESCE(changefreq, ''))
        |   WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600
        |   WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
        |   WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
        |   WHEN 'never' THEN NULL ELSE 86400 END AS itv FROM f),
        |d AS (SELECT host, url, last_crawl,
        |   CASE WHEN last_crawl IS NOT NULL
        |    THEN 1730000000 - (last_crawl + itv) END AS overdue_sec
        |  FROM i
        |  WHERE last_crawl IS NULL OR (lower(COALESCE(changefreq, ''))
        |    <> 'never' AND last_crawl + itv <= 1730000000)),
        |r AS (SELECT host, url, overdue_sec,
        |   row_number() OVER (PARTITION BY host ORDER BY
        |     CASE WHEN last_crawl IS NULL THEN 0 ELSE 1 END ASC,
        |     COALESCE(overdue_sec, 9223372036854775807) DESC,
        |     url ASC) AS wave
        |  FROM d)
        |SELECT host, url, CAST(wave AS BIGINT) AS wave,
        | CAST(overdue_sec AS BIGINT) AS overdue_sec
        |FROM r WHERE wave <= 3 ORDER BY host, wave""".stripMargin),

    // Anchor-text aggregation over planted HTML: every doc links two
    // targets (entity + nested-tag anchors, single- and double-quoted
    // hrefs, an empty image-only anchor every 6th doc), then the
    // per-target top-2 terms roll up — what the web "calls" each URL.
    // Extraction is map-only; the rollup is one count aggregation and
    // a WindowGroupLimit rank.
    Query("x_anchor_text", (s, dir) => {
      val html = concat(
        lit("<p>intro</p><a href=\"https://t"),
        (col("doc_id") % 23).cast("string"),
        lit(".example.com/\">Read &amp; learn <b>more</b></a> <a class='x' href='/local/p"),
        (col("doc_id") % 7).cast("string"), lit("'>page "),
        (col("doc_id") % 7).cast("string"), lit(" notes</a>"),
        when(col("doc_id") % 6 === 0,
          concat(lit("<a href=\"https://t"),
            (col("doc_id") % 23).cast("string"),
            lit(".example.com/\"><img src=\"i.png\"/></a>")))
          .otherwise(lit("")))
      val links = Corpus.htmlAnchorTexts(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
      Corpus.anchorTermsTopK(links, "href", "anchor", k = 2)
        .orderBy("target", "rank")
    },
    // Anchor texts: href/inner pairs via list_zip of the two capture
    // groups (same RE2/Java-shared pattern), the tag-strip + fixed-order
    // entity chain + whitespace collapse replayed verbatim, then the
    // count + rank window.
    oracle =
      """WITH src AS (
        | SELECT doc_id, '<p>intro</p><a href="https://t' ||
        |  CAST(doc_id % 23 AS VARCHAR) ||
        |  '.example.com/">Read &amp; learn <b>more</b></a> <a class=''x'' href=''/local/p'
        |  || CAST(doc_id % 7 AS VARCHAR) || '''>page ' ||
        |  CAST(doc_id % 7 AS VARCHAR) || ' notes</a>' ||
        |  CASE WHEN doc_id % 6 = 0 THEN '<a href="https://t' ||
        |    CAST(doc_id % 23 AS VARCHAR) ||
        |    '.example.com/"><img src="i.png"/></a>' ELSE '' END AS h
        | FROM documents),
        |l AS (SELECT unnest(list_zip(
        |   regexp_extract_all(h,
        |    '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*>(.*?)</a\s*>',
        |    1),
        |   regexp_extract_all(h,
        |    '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*>(.*?)</a\s*>',
        |    2))) AS z
        |  FROM src),
        |a AS (SELECT z[1] AS target,
        |   TRIM(regexp_replace(
        |     replace(replace(replace(replace(replace(replace(
        |       regexp_replace(z[2], '(?s)<[^>]*>', ' ', 'g'),
        |       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |       '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |     '\s+', ' ', 'g')) AS anchor
        |  FROM l),
        |t AS (SELECT target, unnest(
        |   CASE WHEN LENGTH(TRIM(lower(anchor))) = 0 THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(TRIM(lower(anchor)), '\s+')
        |   END) AS term FROM a),
        |c AS (SELECT target, term, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT target, term, n, row_number() OVER (
        |   PARTITION BY target ORDER BY n DESC, term ASC) AS rank FROM c)
        |SELECT target, term, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 2 ORDER BY target, rank""".stripMargin),

    // Fingerprint dedup: the engine groups by the 8-byte xxhash64 of the
    // body (the 100 TB shuffle key), but the *output* keeps only the
    // surviving ids — which, collision-free, is exactly text-key dedup,
    // so DuckDB can oracle it without reproducing the hash.
    Query("x_fingerprint", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(TF.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id"),
    oracle =
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // Mixture / source reweighting: en upsampled 2.2× (2 copies + 20%
    // hash-decided third), zh downsampled to 0.3×, other langs 1× —
    // deterministic repeats, map-only, DuckDB-reproducible.
    Query("x_mixture", (s, dir) =>
      Corpus.mixtureWeightedSample(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.2, "zh" -> 0.3))
        .select(col("doc_id"), col("lang"), col("copy_id"))
        .orderBy("doc_id", "copy_id"),
    // copies = ⌊w⌋ + (first 8 md5 hex chars < frac(w) as hex cutoff):
    // 0.2 → 0x33333333, 0.3 → 0x4ccccccc, frac 0 → '00000000' (never).
    // Hash input mirrors the operator's length-prefixed encoding
    // v<len>:<stratum>|v<len>:<key> (unambiguous under ':' in values).
    oracle =
      """WITH w AS (
        | SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN 2 WHEN lang = 'zh' THEN 0 ELSE 1 END
        |  + CASE WHEN substring(md5(
        |        'v' || CAST(length(lang) AS VARCHAR) || ':' || lang
        |        || '|' ||
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         < CASE WHEN lang = 'en' THEN '33333333'
        |                WHEN lang = 'zh' THEN '4ccccccc'
        |                ELSE '00000000' END
        |    THEN 1 ELSE 0 END AS n
        | FROM documents)
        |SELECT doc_id, lang, unnest(range(0, n)) AS copy_id
        |FROM w ORDER BY doc_id, copy_id""".stripMargin),

    // Weight-proportional interleave order (the stage after mixture
    // weighting): reading by interleave_pos yields each lang at its
    // weighted rate, evenly spread — stride positions (r−0.5)/w with
    // md5-ranked in-source order, arithmetic reproduced in DuckDB.
    Query("x_interleave", (s, dir) =>
      Corpus.interleaveByWeight(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.0, "zh" -> 0.5))
        .select(col("doc_id"), col("lang"), col("interleave_pos"))
        .orderBy("interleave_pos", "doc_id"),
    oracle =
      """WITH r AS (
        | SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  CASE WHEN lang = 'en' THEN CAST(2.0 AS DOUBLE)
        |       WHEN lang = 'zh' THEN CAST(0.5 AS DOUBLE)
        |       ELSE CAST(1.0 AS DOUBLE) END AS w
        | FROM documents)
        |SELECT doc_id, lang, (CAST(rk AS DOUBLE) - 0.5) / w AS interleave_pos
        |FROM r ORDER BY interleave_pos, doc_id""".stripMargin),
  )
}
