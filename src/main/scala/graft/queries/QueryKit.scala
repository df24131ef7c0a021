package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Corpus, Dedup, Similarity, TextFunctions => TF}

/** Helpers shared by the query families: the table reader, exact
  * aggregation and narrowing, the planted fixtures, the scratch-dir
  * shutdown hook, and the DuckDB CTE builders the oracles splice.
  */
private[queries] object QueryKit {

  /** The engine's whitespace tokenizer (`TextFunctions.tokens`: trim,
    * split on runs of whitespace, blank text yields no tokens) as a
    * DuckDB expression over `text` — spliced by every oracle that
    * tokenizes the way the engine does.
    */
  val wsTokensSql: String =
    """CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[] ELSE regexp_split_to_array(TRIM(text), '\s+') END"""

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.readTable(spark, dir, name)

  /** Scratch dir for the index/stat append rituals (x_tfidf_append,
    * x_ivf_probe, x_ivf_append, x_moments_append): the persisted
    * artifact must outlive the query's LAZY plan (the returned
    * DataFrame reads it at action time), so deletion can't be eager —
    * one JVM shutdown hook recursively removes every scratch root, so
    * repeated bench passes don't accrete parquet artifacts in /tmp.
    */
  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: java.io.IOException => () } // exit-path: best effort
      }))
  }
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchRoots.add(p)
    p.toString
  }

  /** Exact sum of a double column: decimal accumulation, double result. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** UTF-8 bytes mis-decoded as windows-1252 — plants deterministic
    * mojibake for x_mojibake (clean originals in source, artifacts
    * derived, never hand-typed). Uses the WHATWG table, NOT the JDK
    * charset (whose decoder U+FFFDs the five undefined bytes). */
  def moji(s: String): String =
    Corpus.decodeAsCp1252(s.getBytes("UTF-8"))
  val mojiS1 = moji(" Café — naïve ½")
  val mojiS2 = moji(" “quoted” cost €99 ™")

  /** The [[Corpus.mojibakePairs]] replace chain as DuckDB SQL — the
    * oracle is generated from the SAME table the engine folds, so the
    * two sides cannot drift. Artifacts/targets never contain ASCII
    * quotes (all chars ≥ U+0080), so no literal escaping is needed. */
  def mojiSqlChain(e: String, pairs: Seq[(String, String)]): String =
    pairs.foldLeft(e) { case (x, (a, r)) => s"replace($x, '$a', '$r')" }

  /** DuckDB mirror of Corpus.pctNormalize (RFC 3986 §6.2.2): split on
    * '%', per tail part uppercase-or-decode the hex triplet, rejoin.
    * `e` must be a bare column name (it is spliced several times). */
  def pctNormSql(e: String): String = {
    val h1 = s"(strpos('0123456789abcdef', lower(substring(p, 1, 1))) - 1)"
    val h2 = s"(strpos('0123456789abcdef', lower(substring(p, 2, 1))) - 1)"
    val v = s"($h1 * 16 + $h2)"
    s"""str_split($e, '%')[1] || COALESCE(array_to_string(
       |  list_transform(str_split($e, '%')[2:], p ->
       |   CASE WHEN length(p) >= 2 AND $h1 >= 0 AND $h2 >= 0
       |    THEN CASE WHEN ($v BETWEEN 48 AND 57) OR ($v BETWEEN 65 AND 90)
       |           OR ($v BETWEEN 97 AND 122) OR $v IN (45, 46, 95, 126)
       |      THEN chr(CAST($v AS INTEGER)) || substring(p, 3)
       |      ELSE '%' || upper(substring(p, 1, 2)) || substring(p, 3) END
       |    ELSE '%' || p END), ''), '')""".stripMargin
  }

  /** Driver-gate convention (round-10 verdict): NO int128-class type —
    * Spark DECIMAL(38,*) or DuckDB HUGEINT — may appear in an oracled
    * output; the gate's hasher can't canonicalize int128 values and
    * reads value-equal results as mismatched. Library functions keep
    * their overflow-safe DECIMAL(38,0) API; the oracled query narrows
    * at the edge with this guard: a non-null value outside int64 range
    * raises in-plan (visible) instead of the non-ANSI cast's silent
    * null. Every oracle mirrors with CAST(... AS BIGINT).
    */
  def big(c: Column, name: String): Column =
    when(c.isNotNull && c.cast("long").isNull,
      raise_error(concat(lit(s"int64 overflow narrowing '$name': "),
        c.cast("string"))).cast("long"))
      .otherwise(c.cast("long")).as(name)

  /** Deterministic per-doc URL for the x_url_canon / x_domain_stats
    * fixtures: five shapes exercising every canonicalization rule
    * (mirrored verbatim in both oracles).
    */
  def plantedUrl: Column = expr(
    """CASE CAST(doc_id % 5 AS INT)
      | WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
      | WHEN 1 THEN concat('https://news.example.co.uk/a/', doc_id,
      |   '?id=', doc_id, '&utm_campaign=z')
      | WHEN 2 THEN concat('https://cdn.static.example.org:8080/lib.js?v=',
      |   doc_id % 7, '&utm_medium=y&fbclid=f')
      | WHEN 3 THEN 'http://example.net'
      | ELSE concat('https://Sub.Domain.Example.com/x%20y/', lang,
      |   '?gclid=abc')
      |END""".stripMargin)

  /** Four planted robots-body shapes for x_crawl_delay (chr(10)
    * newlines — the one spelling both engines agree on): exact-beats-
    * star, star-only with max-merge + malformed, exact group WITHOUT
    * the directive (star must not leak in), negative dropped + UA-run
    * sharing.
    */
  def plantedRobotsBody: Column = expr(
    """CASE CAST(doc_id % 4 AS INT)
      | WHEN 0 THEN concat('User-agent: *', chr(10),
      |   'Crawl-delay: 10', chr(10),
      |   'User-agent: graftbot', chr(10),
      |   'Disallow: /tmp', chr(10),
      |   'Crawl-delay: 2.5')
      | WHEN 1 THEN concat('User-agent: *', chr(10),
      |   'Crawl-delay: 1', chr(10),
      |   'Crawl-delay: fast', chr(10),
      |   'Crawl-delay: 4')
      | WHEN 2 THEN concat('User-agent: graftbot', chr(10),
      |   'Disallow: /a', chr(10),
      |   'User-agent: *', chr(10),
      |   'Crawl-delay: 7')
      | ELSE concat('User-agent: other', chr(10),
      |   'User-agent: graftbot', chr(10),
      |   'Crawl-delay: -3', chr(10),
      |   'Crawl-delay: 0.5')
      |END""".stripMargin)

  /** Deterministic per-doc sitemap body for x_sitemap: three shapes
    * (pretty-printed urlset, sitemapindex, compact urlset with entity
    * soup and a malformed priority), mirrored verbatim in the oracle.
    * chr(10), never '\n' — DuckDB string literals don't process
    * backslash escapes while Spark's do, so a literal newline spelled
    * '\n' would build DIFFERENT documents on the two engines.
    */
  def plantedSitemap: Column = expr(
    """CASE CAST(doc_id % 3 AS INT)
      | WHEN 0 THEN concat(
      |  '<?xml version="1.0" encoding="UTF-8"?>', chr(10),
      |  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
      |  chr(10), '  <url>', chr(10),
      |  '    <loc> https://www.example.com/p?id=', doc_id,
      |  '&amp;ref=home </loc>', chr(10),
      |  '    <lastmod>2026-0', 1 + doc_id % 9, '-15</lastmod>', chr(10),
      |  '    <changefreq>Daily</changefreq>', chr(10),
      |  '    <priority>0.', doc_id % 10, '</priority>', chr(10),
      |  '  </url>', chr(10),
      |  '  <url><loc>https://www.example.com/', doc_id, '</loc></url>',
      |  chr(10), '</urlset>')
      | WHEN 1 THEN concat(
      |  '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
      |  '<sitemap><loc>https://maps.example.org/s', doc_id % 50,
      |  '.xml.gz</loc><lastmod>2026-07-0', 1 + doc_id % 9,
      |  '</lastmod></sitemap>',
      |  '<sitemap><loc>https://maps.example.org/news.xml</loc></sitemap>',
      |  '</sitemapindex>')
      | ELSE concat('<urlset><url><loc>http://h', doc_id % 7,
      |  '.example.net/a&amp;b&apos;c</loc>',
      |  '<changefreq>WEEKLY</changefreq>',
      |  '<priority>high</priority></url></urlset>')
      |END""".stripMargin)

  /** Deterministic line structure planted over the single-line fixture
    * text (10-token lines, every 3rd line unpunctuated) — the
    * x_c4_gate / x_curation_funnel input, mirrored in both oracles.
    */
  def plantedLines: Column = {
    val toks = when(length(trim(col("text"))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col("text")), "\\s+"))
    val nChunks = ((size(toks) + 9) / 10).cast("int")
    val lines = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i =>
        concat(array_join(slice(toks, i * 10 + 1, lit(10)), " "),
          when(i % 3 === 2, "").otherwise("."))))
    array_join(lines, "\n")
  }

  /** The DuckDB mirror of [[plantedUrl]] + the staged canonicalization
    * chain (CTEs d, p1..p8), shared by the x_url_canon and
    * x_domain_stats oracles; `selectCols` carries extra columns through
    * the `SELECT *` stages. Plain concatenation, not interpolation —
    * the regexes contain `$` anchors.
    */
  def urlCanonOracleChain(selectCols: String): String =
    "WITH d AS (SELECT " + selectCols + "\n" +
      """ CASE CAST(doc_id % 5 AS INT)
        |  WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/Page?utm_source=x&b=2&a=1#frag'
        |  WHEN 1 THEN 'https://news.example.co.uk/a/' || doc_id ||
        |    '?id=' || doc_id || '&utm_campaign=z'
        |  WHEN 2 THEN 'https://cdn.static.example.org:8080/lib.js?v=' ||
        |    (doc_id % 7) || '&utm_medium=y&fbclid=f'
        |  WHEN 3 THEN 'http://example.net'
        |  ELSE 'https://Sub.Domain.Example.com/x%20y/' || lang || '?gclid=abc'
        | END AS url
        | FROM documents),
        |p1 AS (SELECT *, TRIM(url) AS u FROM d),
        |p2 AS (SELECT *,
        |  regexp_matches(u, '^[A-Za-z][A-Za-z0-9+.-]*://') AS hs,
        |  regexp_replace(u, '#.*$', '') AS nf FROM p1),
        |p3 AS (SELECT *,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p2),
        |p4 AS (SELECT *,
        |  lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM p3),
        |p5 AS (SELECT *,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host FROM p4),
        |p6 AS (SELECT *,
        |  CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
        |       ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
        |  list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |    x -> x <> '') AS ap FROM p5),
        |p7 AS (SELECT *,
        |  list_sort(list_filter(ap, x -> NOT (
        |    starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_')
        |    OR regexp_extract(x, '^([^=]*)', 1) IN ('gclid','fbclid','msclkid'))))
        |    AS kp FROM p6),
        |p8 AS (SELECT *,
        |  regexp_replace(regexp_replace(host, ':[0-9]+$', ''),
        |    '^www\.', '') AS bare,
        |  string_split(regexp_replace(regexp_replace(host, ':[0-9]+$', ''),
        |    '^www\.', ''), '.') AS lbl FROM p7)
        |""".stripMargin

  /** One DuckDB fixpoint step of RFC 3986 dot-segment removal — the
    * SAME six ordered rules as Corpus.dotStep (replace-all where the
    * engine replaces all, anchored where anchored), spliced around the
    * argument expression. The x_resolve_links oracle iterates it to
    * fixpoint in a recursive CTE. Plain concatenation — the patterns
    * contain `$` anchors.
    */
  def dotStepSql(x: String): String = {
    // "anything but . or ..", empty included — RE2 has no lookahead,
    // so the exclusion is spelled as an alternation (mirrors
    // Corpus.PoppableSeg exactly)
    val seg = "(?:|[^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(" + x +
      ", '/\\./', '/', 'g'), '/\\.$', '/'), '^/\\.\\./', '/'), " +
      "'^/\\.\\.$', '/'), '/" + seg + "/\\.\\./', '/', 'g'), " +
      "'/" + seg + "/\\.\\.$', '/')"
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles — every query key has one. x_simhash and x_lsh_ann
  // (formerly rows-only: simhash's Hamming similarity is genuinely
  // different from n-gram Jaccard, and the corpus' nearest cosine
  // neighbors sit at 0.27-0.33, so natural-structure recall can't be
  // pinned) are oracled on PLANTED structure instead: the query derives
  // deterministic near-dup copies in-plan and the oracle pins the
  // found_by_* flag TRUE on each planted pair (VERDICT r6 #5).
  // ---------------------------------------------------------------------

  /** Quadratic mutual-kNN graph oracle chain (k = 5, exact decimal
    * cosines, the x_knn_graph contract) ending with `mutual`
    * (id_a < id_b, cos). Shared by the graph-analytics oracles. */
  val mutualKnnCte: String =
    """z AS (
      | SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
      |  CAST(unnest(q.embedding) AS DOUBLE) AS y
      | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id),
      |d AS (
      | SELECT qid, nid,
      |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
      |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
      |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
      | FROM z GROUP BY 1, 2),
      |r AS (
      | SELECT qid, nid,
      |  ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) AS cos,
      |  ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
      |      nid) AS rank
      | FROM d),
      |topk AS (SELECT qid, nid, cos FROM r WHERE rank <= 5),
      |mutual AS (
      | SELECT a.qid AS id_a, a.nid AS id_b, a.cos
      | FROM topk a JOIN topk b ON a.qid = b.nid AND a.nid = b.qid
      | WHERE a.qid < a.nid)""".stripMargin

  /** Shared base CTEs for the TF-IDF retrieval oracles: whitespace
    * tokens (the engine's `TextFunctions.tokens` contract) + corpus doc
    * count. */
  val tfidfBaseCte: String =
    raw"""toks AS (
      | SELECT doc_id, $wsTokensSql AS tok
      | FROM documents),
      |nd AS (SELECT COUNT(*) AS n FROM documents)""".stripMargin

  /** TF-IDF top-k retrieval oracle chain for one shingle width `n`,
    * CTE-prefixed with `p` so several widths can coexist in one query
    * (the RRF fusion oracle). Groups by the gram STRING where the engine
    * groups by the 8-byte hash — identical tf/df absent a collision; the
    * arithmetic mirrors `Corpus.tfidfTopK` op-for-op. Ends with `<p>rk`:
    * (query_id, doc_id, cos, rank). */
  def tfidfRkCte(n: Int, p: String, maxDfRatio: Double = 0.5,
                         qmod: Int = 101): String = {
    val gramExpr = (0 until n).map(j => s"list_extract(tok, i + $j)")
      .mkString(" || ' ' || ")
    val hi = if (n == 2) "len(tok)" else s"len(tok) - ${n - 2}"
    s"""${p}grams AS (
       | SELECT doc_id, unnest(list_transform(range(1, $hi),
       |   i -> $gramExpr)) AS gram
       | FROM toks),
       |${p}tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM ${p}grams GROUP BY 1, 2),
       |${p}keptf AS (
       | SELECT gram, df, n
       | FROM (SELECT gram, COUNT(*) AS df FROM ${p}tf GROUP BY 1) CROSS JOIN nd
       | WHERE CAST(df AS DOUBLE) <= $maxDfRatio * CAST(n AS DOUBLE)),
       |${p}posting AS (
       | SELECT doc_id, gram,
       |  CAST(tf AS DOUBLE) * (LN(CAST(n AS DOUBLE)) - LN(CAST(df AS DOUBLE))) AS w
       | FROM ${p}tf JOIN ${p}keptf USING (gram)),
       |${p}norms AS (
       | SELECT doc_id, SQRT(CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
       | FROM ${p}posting GROUP BY 1),
       |${p}dots AS (
       | SELECT q.doc_id AS query_id, p.doc_id AS doc_id,
       |  CAST(SUM(CAST(q.w * p.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM ${p}posting p JOIN ${p}posting q USING (gram)
       | WHERE q.doc_id % $qmod = 0 AND p.doc_id <> q.doc_id
       | GROUP BY 1, 2),
       |${p}rk AS (
       | SELECT query_id, doc_id, cos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
       | FROM (SELECT query_id, d.doc_id, ROUND(dot / (qn.nrm * dn.nrm), 9) AS cos
       |       FROM ${p}dots d
       |       JOIN ${p}norms qn ON qn.doc_id = d.query_id
       |       JOIN ${p}norms dn ON dn.doc_id = d.doc_id))""".stripMargin
  }

  /** Exact 5-gram Jaccard pairs as a DuckDB CTE chain ending in
    * `jpairs(id_a, id_b, jaccard)` — the shared ground truth for
    * x_ngram_jaccard, x_minhash_neardup's recall flag, and x_dedup_drop's
    * transitive-closure oracle. Mirrors [[Dedup.ngramJaccardPairs]]
    * (whitespace tokens; docs shorter than one gram collapse to a single
    * whole-text gram).
    */
  def ngramPairsCte(minJaccard: Double,
                            from: String = "documents"): String =
    raw"""toks AS (
       | SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS tok
       | FROM $from),
       |g0 AS (
       | SELECT doc_id, unnest(CASE WHEN len(tok) < 5 THEN [array_to_string(tok, ' ')]
       |   ELSE list_transform(range(1, len(tok) - 3),
       |     i -> list_extract(tok, i) || ' ' || list_extract(tok, i + 1) || ' ' || list_extract(tok, i + 2) || ' ' || list_extract(tok, i + 3) || ' ' || list_extract(tok, i + 4)) END) AS gram
       | FROM toks),
       |grams AS (SELECT DISTINCT doc_id, gram FROM g0),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
       |inter AS (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       | FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
       | GROUP BY 1, 2),
       |jpairs AS (
       | SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
       | FROM inter
       | JOIN sizes sa ON sa.doc_id = id_a
       | JOIN sizes sb ON sb.doc_id = id_b
       | WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= $minJaccard)""".stripMargin

  val unigramMaxWordLen = 12
  val unigramMaxPieceLen = 4

  /** Word vocabulary, substring seed counts, and the single-character
    * coverage set — the base of the unigram-LM tokenizer oracle. Same
    * tokenization (trim + \s+ split) and the same 1..maxWordLen filter
    * as [[graft.functions.Corpus.unigramTrain]].
    */
  val unigramBaseCte: String =
    s"""uw AS MATERIALIZED (
       | SELECT word AS w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
       | WHERE length(word) BETWEEN 1 AND $unigramMaxWordLen
       | GROUP BY 1),
       |useed AS MATERIALIZED (
       | SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
       |  SELECT w.wc,
       |   substr(w.w, CAST(ii.i AS INTEGER), CAST(ll.l AS INTEGER)) AS piece
       |  FROM uw w
       |   CROSS JOIN (SELECT unnest(range(1, ${unigramMaxWordLen + 1})) AS i) ii
       |   CROSS JOIN (SELECT unnest(range(1, ${unigramMaxPieceLen + 1})) AS l) ll
       |  WHERE ii.i + ll.l - 1 <= length(w.w))
       | GROUP BY 1),
       |uchars AS MATERIALIZED (SELECT piece FROM useed WHERE length(piece) = 1)""".stripMargin

  /** One unrolled Viterbi-EM round of the unigram tokenizer, reading
    * piece counts from CTE `cin` and ending in `ucin{r}` (the round's
    * re-counted vocabulary with the single-character floor): log probs
    * `round₉(ln c − ln Σc)` as DECIMAL(30,15); a 12-position DP whose
    * cell p takes the best of the ≤4 piece lengths ending there
    * (score DESC, piece-count ASC, length ASC — the kernel's exact
    * tiebreak; unknown single chars score exactly −10⁹); a 12-step
    * backtrack re-materializing each word's winning pieces (step s = the
    * s-th piece FROM THE END, kept for the encode oracle's ordering).
    * Every table is word-vocabulary-sized.
    */
  def unigramRoundCtes(r: Int, cin: String): String = {
    val dp = (p: Int) => s"udp${r}_$p"
    val bt = (s: Int) => s"ubt${r}_$s"
    val dpCtes = (1 to unigramMaxWordLen).map { p =>
      val branches = (1 to math.min(unigramMaxPieceLen, p)).map { j =>
        s"""  SELECT d.w, d.wc,
           |   d.sc + COALESCE(v.lp, CAST(-1000000000 AS DECIMAL(30,15))) AS sc,
           |   d.np + 1 AS np, $j AS j
           |  FROM ${dp(p - j)} d LEFT JOIN ulp$r v
           |   ON v.piece = substr(d.w, ${p - j + 1}, $j)
           |  WHERE length(d.w) >= $p AND (v.piece IS NOT NULL OR $j = 1)"""
          .stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""${dp(p)} AS MATERIALIZED (
         | SELECT w, wc, sc, np, j FROM (
         |  SELECT w, wc, sc, np, j,
         |   ROW_NUMBER() OVER (PARTITION BY w
         |     ORDER BY sc DESC, np ASC, j ASC) AS rk
         |  FROM (
         |$branches))
         | WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val dpa = (1 to unigramMaxWordLen).map(p =>
      s"SELECT w, $p AS p, j FROM ${dp(p)}").mkString("\n UNION ALL\n ")
    val btCtes = (1 to unigramMaxWordLen).map { s =>
      s"""${bt(s)} AS MATERIALIZED (
         | SELECT b.w, b.wc, b.p - d.j AS p,
         |  substr(b.w, CAST(b.p - d.j + 1 AS INTEGER), CAST(d.j AS INTEGER)) AS piece,
         |  $s AS s
         | FROM ${bt(s - 1)} b JOIN udpa$r d ON d.w = b.w AND d.p = b.p
         | WHERE b.p > 0)""".stripMargin
    }.mkString(",\n")
    val pieces = (1 to unigramMaxWordLen).map(s =>
      s"SELECT w, wc, piece, s FROM ${bt(s)}").mkString("\n UNION ALL\n ")
    s"""ulp$r AS MATERIALIZED (
       | SELECT piece,
       |  CAST(ROUND(ln(CAST(cnt AS DOUBLE)) -
       |    ln((SELECT CAST(SUM(cnt) AS DOUBLE) FROM $cin)), 9)
       |   AS DECIMAL(30,15)) AS lp
       | FROM $cin),
       |udp${r}_0 AS MATERIALIZED (
       | SELECT w, wc, CAST(0 AS DECIMAL(30,15)) AS sc, 0 AS np, 0 AS j FROM uw),
       |$dpCtes,
       |udpa$r AS MATERIALIZED (
       | $dpa),
       |ubt${r}_0 AS MATERIALIZED (
       | SELECT w, wc, length(w) AS p, CAST(NULL AS VARCHAR) AS piece, 0 AS s
       | FROM uw),
       |$btCtes,
       |upc$r AS MATERIALIZED (
       | SELECT w, wc, piece, s FROM (
       |  $pieces)
       | WHERE piece IS NOT NULL),
       |ucnt$r AS MATERIALIZED (
       | SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM upc$r GROUP BY 1),
       |ucin$r AS MATERIALIZED (
       | SELECT piece, cnt FROM ucnt$r
       | UNION ALL
       | SELECT c.piece, CAST(1 AS BIGINT) AS cnt FROM uchars c
       | WHERE c.piece NOT IN (SELECT piece FROM ucnt$r))""".stripMargin
  }

  /** The full trained-and-pruned unigram vocabulary chain: seed → two
    * EM rounds → top-40 by (cnt DESC, piece) ∪ all single characters.
    */
  val unigramKeptCte: String =
    s"""$unigramBaseCte,
       |${unigramRoundCtes(1, "useed")},
       |${unigramRoundCtes(2, "ucin1")},
       |ukept AS MATERIALIZED (
       | SELECT piece, cnt FROM (
       |  SELECT piece, cnt,
       |   ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |  FROM ucin2) WHERE rk <= 40
       | UNION
       | SELECT c2.piece, c2.cnt FROM ucin2 c2
       | JOIN uchars ch ON ch.piece = c2.piece)""".stripMargin

  /** The WordPiece forward walk unrolled over the word vocabulary:
    * `wvocab` doubles every trained piece as an initial and a
    * `##`-continuation entry; each step takes the longest match at the
    * current position (no ties — a (body, continuation) pair occurs
    * once); a word completes iff its furthest position reaches its
    * length, else it collapses to '[UNK]' (the BERT rule). Steps carry
    * their index so per-doc assembly orders pieces forward.
    */
  val wordpieceCtes: String = {
    val steps = (1 to unigramMaxWordLen).map { s =>
      s"""wps$s AS MATERIALIZED (
         | SELECT word, pos, body, cont, len FROM (
         |  SELECT b.word, b.pos, v.body, v.cont, v.len,
         |   ROW_NUMBER() OVER (PARTITION BY b.word ORDER BY v.len DESC) AS rk
         |  FROM wp${s - 1} b JOIN wvocab v
         |   ON v.cont = (b.pos > 0)
         |   AND v.body = substr(b.word, CAST(b.pos + 1 AS INTEGER),
         |     CAST(v.len AS INTEGER))
         |  WHERE b.pos < length(b.word)) WHERE rk = 1),
         |wp$s AS MATERIALIZED (
         | SELECT word, pos + len AS pos FROM wps$s)""".stripMargin
    }.mkString(",\n")
    val allSteps = (1 to unigramMaxWordLen).map(s =>
      s"SELECT word, $s AS s, body, cont FROM wps$s").mkString("\n  UNION ALL\n  ")
    val allPos = (0 to unigramMaxWordLen).map(s =>
      s"SELECT word, pos FROM wp$s").mkString("\n  UNION ALL\n  ")
    s"""wvocab AS MATERIALIZED (
       | SELECT piece AS body, FALSE AS cont, length(piece) AS len FROM ukept
       | UNION ALL
       | SELECT piece AS body, TRUE AS cont, length(piece) AS len FROM ukept),
       |wp0 AS (SELECT w AS word, 0 AS pos FROM uw),
       |$steps,
       |wreach AS MATERIALIZED (
       | SELECT word, MAX(pos) AS reached FROM (
       |  $allPos) GROUP BY 1),
       |wok AS MATERIALIZED (
       | SELECT r.word FROM wreach r JOIN uw ON uw.w = r.word
       | WHERE r.reached = length(r.word)),
       |wpieces AS MATERIALIZED (
       | SELECT word, s,
       |  CASE WHEN cont THEN '##' || body ELSE body END AS piece
       | FROM (
       |  $allSteps)
       | WHERE word IN (SELECT word FROM wok)
       | UNION ALL
       | SELECT w AS word, 1 AS s, '[UNK]' AS piece FROM uw
       | WHERE w NOT IN (SELECT word FROM wok))""".stripMargin
  }

  /** One greedy BPE merge round over the word vocabulary `v<r-1>`
    * (word, frequency, token list): `t<r>` explodes the tokens with
    * their successors, `m<r>` takes the frequency-weighted argmax pair
    * ((cnt DESC, l, r) tiebreak), `g<r>` marks the merge sites with the
    * greedy left-to-right closed form (runs of overlapping matches merge
    * at odd positions), and `v<r>` re-assembles each word with consumed
    * tokens dropped. MATERIALIZED keeps a chain of rounds linear —
    * inlined, the re-referenced rounds re-evaluate exponentially.
    */
  def bpeMergeRoundCte(r: Int): String =
    s"""t$r AS MATERIALIZED (
       | SELECT w, f, CAST(u.i AS INT) AS i, u.tk AS tok,
       |  LEAD(u.tk) OVER (PARTITION BY w ORDER BY u.i) AS nxt
       | FROM v${r - 1}, UNNEST(list_transform(range(1, len(t) + 1),
       |   j -> {'i': j, 'tk': t[CAST(j AS INT)]})) AS z(u)),
       |m$r AS MATERIALIZED (
       | SELECT tok AS l, nxt AS r, SUM(f) AS cnt FROM t$r WHERE nxt IS NOT NULL
       | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
       |g$r AS (
       | SELECT w, f, i, tok, nxt, mt,
       |  CASE WHEN mt THEN ROW_NUMBER() OVER (PARTITION BY w, grp, mt ORDER BY i) % 2 = 1
       |       ELSE FALSE END AS app
       | FROM (
       |  SELECT w, f, i, tok, nxt,
       |   (nxt IS NOT NULL AND tok = (SELECT l FROM m$r) AND nxt = (SELECT r FROM m$r)) AS mt,
       |   i - ROW_NUMBER() OVER (PARTITION BY w,
       |     (nxt IS NOT NULL AND tok = (SELECT l FROM m$r) AND nxt = (SELECT r FROM m$r))
       |     ORDER BY i) AS grp
       |  FROM t$r) y),
       |v$r AS MATERIALIZED (
       | SELECT w, f, list(CASE WHEN app THEN tok || nxt ELSE tok END ORDER BY i) AS t
       | FROM (SELECT *, COALESCE(LAG(app) OVER (PARTITION BY w ORDER BY i), FALSE) AS consumed
       |       FROM g$r) z2
       | WHERE NOT consumed GROUP BY w, f)""".stripMargin

  /** Whitespace tokens, the character-split word vocabulary `v0`, and
    * six merge rounds ending in `v6` (merges `m1`..`m6`): the training
    * chain x_bpe_train reports and x_bpe_encode re-applies.
    */
  val bpeSixMergeCte: String =
    s"""toks AS (
       | SELECT $wsTokensSql AS tok
       | FROM documents),
       |v0 AS (
       | SELECT w, CAST(COUNT(*) AS BIGINT) AS f,
       |  list_transform(range(1, LENGTH(w) + 1), j -> substr(w, CAST(j AS INT), 1)) AS t
       | FROM (SELECT unnest(tok) AS w FROM toks) z GROUP BY w),
       |""".stripMargin + (1 to 6).map(bpeMergeRoundCte).mkString(",\n")

  /** One unrolled Lloyd round for the k-means oracle: assignment by
    * exact-decimal dot against the previous round's centroids `prev`,
    * decimal-exact normalized-mean recenter (empty clusters keep their
    * centroid via the grid LEFT JOIN), exact-norm re-unitization, round 9
    * — each step the mirror of [[graft.functions.Similarity.kmeansTrain]].
    *
    * @param members CTE naming the TRAINING membership (vec_id set) the
    *   round aggregates over — "vv" for train-on-everything; a filtered
    *   subset for the incremental-index oracle (train on the old
    *   snapshot, assign everything).
    */
  def kmeansRoundCte(r: Int, prev: String,
                             members: String = "vv"): String =
    s"""d$r AS (
       | SELECT e.vec_id, c.c,
       |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM e JOIN $members USING (vec_id) JOIN $prev c ON c.pos = e.pos
       | GROUP BY 1, 2),
       |a$r AS (
       | SELECT vec_id, c FROM (
       |  SELECT vec_id, c,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rk
       |  FROM d$r) WHERE rk = 1),
       |m$r AS (
       | SELECT a.c, e.pos,
       |  ROUND(CAST(SUM(CAST(e.x / SQRT(n.n2) AS DECIMAL(30,15))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 9) AS m
       | FROM e JOIN n USING (vec_id) JOIN a$r a USING (vec_id)
       | GROUP BY 1, 2),
       |g$r AS (
       | SELECT p.c, p.pos, COALESCE(m$r.m, p.w) AS m
       | FROM $prev p LEFT JOIN m$r ON m$r.c = p.c AND m$r.pos = p.pos),
       |u$r AS (
       | SELECT c, CAST(SUM(CAST(m * m AS DECIMAL(30,15))) AS DOUBLE) AS n2c
       | FROM g$r GROUP BY 1),
       |c$r AS (
       | SELECT g.c, g.pos, ROUND(g.m / SQRT(u.n2c), 9) AS w
       | FROM g$r g JOIN u$r u USING (c))""".stripMargin

  /** The full k-means chain (k=8, rounds=2, id-ordered seeds) ending in
    * `kassign(vec_id, cluster, cos_to_centroid)` — shared by x_kmeans and
    * x_cluster_sample. Every arithmetic step decimal-exact or a single
    * IEEE double op, so cluster ids and cosines hash-match bit-for-bit.
    */
  val kmeansCte: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings
       |      WHERE embedding IS NOT NULL),
       |e0 AS (
       | SELECT vec_id,
       |  unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
       | FROM v),
       |e AS (SELECT vec_id, CAST(u.pos AS INT) AS pos, u.x AS x FROM e0),
       |n AS (
       | SELECT vec_id,
       |  CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS n2
       | FROM e GROUP BY 1),
       |vv AS (SELECT vec_id FROM n WHERE n2 > 0),
       |sid AS (
       | SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS c
       | FROM vv ORDER BY vec_id LIMIT 8),
       |c0 AS (
       | SELECT s.c, e.pos, ROUND(e.x / SQRT(n.n2), 9) AS w
       | FROM sid s JOIN e ON e.vec_id = s.vec_id JOIN n ON n.vec_id = s.vec_id),
       |${kmeansRoundCte(1, "c0")},
       |${kmeansRoundCte(2, "c1")},
       |dfin AS (
       | SELECT e.vec_id, c.c,
       |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM e JOIN vv USING (vec_id) JOIN c2 c ON c.pos = e.pos
       | GROUP BY 1, 2),
       |afin AS (
       | SELECT vec_id, c, dot FROM (
       |  SELECT vec_id, c, dot,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rk
       |  FROM dfin) WHERE rk = 1),
       |cn AS (
       | SELECT c, CAST(SUM(CAST(w * w AS DECIMAL(30,15))) AS DOUBLE) AS n2c
       | FROM c2 GROUP BY 1),
       |kassign AS (
       | SELECT afin.vec_id, afin.c AS cluster,
       |  ROUND(afin.dot / SQRT(n.n2 * cn.n2c), 9) AS cos_to_centroid
       | FROM afin JOIN n ON n.vec_id = afin.vec_id JOIN cn ON cn.c = afin.c)""".stripMargin

  /** The incremental-index chain: k-means TRAINS on the old snapshot
    * only (`vtrain` = vec_id % 3 ≠ 1) but the final assignment covers
    * EVERY vector — exactly the state of a stored index built on the old
    * slice and then appended to with the arrivals under the frozen
    * centroids. Ends in kassign(vec_id, cluster) over the full corpus
    * plus the c2/cn/n CTEs the probe tail scores with.
    */
  val ivfAppendCte: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings
       |      WHERE embedding IS NOT NULL),
       |e0 AS (
       | SELECT vec_id,
       |  unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
       | FROM v),
       |e AS (SELECT vec_id, CAST(u.pos AS INT) AS pos, u.x AS x FROM e0),
       |n AS (
       | SELECT vec_id,
       |  CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS n2
       | FROM e GROUP BY 1),
       |vv AS (SELECT vec_id FROM n WHERE n2 > 0),
       |vtrain AS (SELECT vec_id FROM vv WHERE vec_id % 3 <> 1),
       |sid AS (
       | SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) - 1 AS c
       | FROM vtrain ORDER BY vec_id LIMIT 8),
       |c0 AS (
       | SELECT s.c, e.pos, ROUND(e.x / SQRT(n.n2), 9) AS w
       | FROM sid s JOIN e ON e.vec_id = s.vec_id JOIN n ON n.vec_id = s.vec_id),
       |${kmeansRoundCte(1, "c0", "vtrain")},
       |${kmeansRoundCte(2, "c1", "vtrain")},
       |dfin AS (
       | SELECT e.vec_id, c.c,
       |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
       | FROM e JOIN vv USING (vec_id) JOIN c2 c ON c.pos = e.pos
       | GROUP BY 1, 2),
       |kassign AS (
       | SELECT vec_id, c AS cluster FROM (
       |  SELECT vec_id, c,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rk
       |  FROM dfin) WHERE rk = 1)""".stripMargin

  /** The greedy step-time CTE chain x_funnel / x_funnel_deep /
    * x_funnel_latency share (s3 carries t1 AND t3 for the window gate
    * and the latency).
    */
  val funnelStepsCte: String =
    """e AS (
      | SELECT user_id AS u, epoch_us(ts) AS us, event_type AS t FROM events),
      |s1 AS (SELECT u, MIN(us) AS t1 FROM e WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, t1, MIN(us) AS t2 FROM e JOIN s1 ON e.u = s1.u
      |       WHERE t = 'click' AND e.us >= s1.t1 GROUP BY e.u, t1),
      |s3 AS (SELECT e.u, s2.t1, MIN(us) AS t3 FROM e JOIN s2 ON e.u = s2.u
      |       WHERE t = 'purchase' AND e.us >= s2.t2 GROUP BY e.u, s2.t1)""".stripMargin

  /** The view→click→purchase funnel oracle — shared by x_funnel (k-join
    * engine form) and x_funnel_deep (one-shuffle kernel form): both
    * compute the identical step recurrence.
    */
  val funnelOracle: String =
    s"""WITH $funnelStepsCte
      |SELECT * FROM (
      | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
      |  COUNT(*) AS n_users FROM s1 WHERE t1 - t1 <= 86400000000
      | UNION ALL
      | SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM s2
      | WHERE t2 - t1 <= 86400000000
      | UNION ALL
      | SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM s3
      | WHERE t3 - t1 <= 86400000000)
      |ORDER BY step""".stripMargin

  /** Brute-force exact cosine top-10 — shared by x_cosine_topk and
    * x_ivf_ann (IVF probing every bucket is exhaustive, so its output must
    * equal brute force).
    */
  val cosineTopkOracle: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |z AS (
      | SELECT e.vec_id, e.label,
      |  CAST(unnest(e.embedding) AS DOUBLE) AS a,
      |  CAST(unnest(q.qe) AS DOUBLE) AS b
      | FROM embeddings e, q WHERE e.vec_id <> 0),
      |d AS (
      | SELECT vec_id, label,
      |  SUM(CAST(a * b AS DECIMAL(30,15))) AS dot,
      |  SUM(CAST(a * a AS DECIMAL(30,15))) AS na,
      |  SUM(CAST(b * b AS DECIMAL(30,15))) AS nb
      | FROM z GROUP BY vec_id, label)
      |SELECT vec_id, label,
      | ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) AS cos
      |FROM d ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
}
