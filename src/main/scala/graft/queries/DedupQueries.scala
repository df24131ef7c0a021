package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{Corpus, Dedup, TextFunctions => TF}

import QueryKit._

/** Deduplication: exact, n-gram Jaccard, MinHash/LSH, SimHash, winnowing,
  * fuzzy joins and record linkage, incremental dedup.
  */
object DedupQueries {

  val all: Seq[Query] = Seq(

    // The COMPLETE curation chain as ONE declarative plan — what a
    // pretraining-data user actually runs: language/quality gate →
    // exact dedup (text key, min-id survivor) → n-gram-Jaccard near-dup
    // drop (inverted-index pairs + transitive clustering) → deterministic
    // train/val/test assignment. Every stage is the already-oracled
    // operator; chaining them keeps one plan (Catalyst pipelines the
    // gates into the scan, the only shuffles are the dedup groupBy, the
    // pair join, and the CC rounds — no driver round-trips between
    // stages).
    Query("x_pipeline_full", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TF.langId(col("text")).as("pred_lang"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      val kept = scored
        .where(col("pred_lang") === "en" && col("quality") > 0.2)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), max(col("n_tokens")).as("n_tokens"))
      val pairs = Dedup.ngramJaccardPairs(kept, "doc_id", "text", 5, 0.5)
      val surv = Dedup.dropNearDuplicates(kept, "doc_id", pairs)
      Corpus.hashSplit(surv, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("n_tokens"), col("split"))
        .orderBy("doc_id")
    },
    // Chain of the already-proven stage oracles: curate CTEs (langid +
    // quality, ≡ x_pipeline_curate) → exact-dedup group → ngramPairsCte
    // over the KEPT subset (≡ x_ngram_jaccard) → recursive closure
    // (≡ x_dedup_drop) → md5-cutoff split CASE (≡ x_split).
    oracle =
      s"""WITH RECURSIVE ptoks AS (
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
        | FROM ptoks),
        |f AS (
        | SELECT * FROM scored
        | WHERE NOT (s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 AND s_zh = 0)
        |   AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh
        |   AND quality > 0.2),
        |kept AS (
        | SELECT MIN(doc_id) AS doc_id, text, MAX(n_tokens) AS n_tokens
        | FROM f GROUP BY text),
        |${ngramPairsCte(0.5, "kept")},
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM jpairs
        | UNION
        | SELECT id_b AS u, id_a AS v FROM jpairs),
        |reach AS (
        | SELECT u AS node, u AS lab FROM edges
        | UNION
        | SELECT e.v AS node, r.lab AS lab
        | FROM reach r JOIN edges e ON e.u = r.node),
        |comps AS (SELECT node, MIN(lab) AS complabel FROM reach GROUP BY node)
        |SELECT doc_id, n_tokens,
        | CASE WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |      THEN 'train'
        |      WHEN substring(md5(
        |        'v' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
        |        || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |      THEN 'val'
        |      ELSE 'test' END AS split
        |FROM kept
        |WHERE doc_id NOT IN (SELECT node FROM comps WHERE complabel <> node)
        |ORDER BY doc_id""".stripMargin),

    // Edit-distance fuzzy self-join (record linkage): exact Levenshtein
    // pairs via q-gram prefix filtering — candidates key on each string's
    // globally-rarest grams (boilerplate prefixes like "Supplier#00" are
    // stop-grams and never join), then exact verify. Output = the
    // quadratic join's, which is precisely what the oracle computes.
    Query("x_fuzzy_join", (s, dir) =>
      graft.functions.Dedup.editDistancePairs(
          t(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1, q = 2)
        .orderBy("id_a", "id_b"),
    // The prefix filter is lossless and the verify exact, so the oracle is
    // the naive quadratic join.
    oracle =
      """WITH s AS (SELECT s_suppkey, s_name FROM supplier)
        |SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // Scored record linkage: customers vs a deterministically-corrupted
    // copy (every 3rd name reversed, every 7th typo'd, every 5th
    // balance shifted), blocked on (nation, segment) — the composite
    // blocking key bounds each block's quadratic term — with integer
    // agreement weights (name 40 w/ edit-tol 1, acctbal 30 exact),
    // keep-best per left record with smallest-id ties. Exercises true
    // matches through typos, dropped below-threshold pairs, and
    // deterministic false positives from near-identical names — all
    // exact-integer scored.
    Query("x_linkage", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("c_blk", concat_ws("|", col("c_nationkey"), col("c_mktsegment")))
      val dirty = c.select((col("c_custkey") + 1000000L).as("d_id"),
        col("c_blk").as("d_blk"),
        when(col("c_custkey") % 3 === 0, reverse(col("c_name")))
          .when(col("c_custkey") % 7 === 0, concat(col("c_name"), lit("x")))
          .otherwise(col("c_name")).as("d_name"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 1.0)
          .otherwise(col("c_acctbal")).as("d_bal"))
      graft.functions.Dedup.recordLinkage(c, dirty, "c_custkey", "d_id",
          "c_blk", "d_blk",
          Seq(graft.functions.Dedup.LinkField("c_name", "d_name", 40L, 1),
            graft.functions.Dedup.LinkField("c_acctbal", "d_bal", 30L)),
          minScore = 40L, keepBest = true)
        .orderBy("id_a")
    },
    // Linkage mirrored: same corruption, same integer weights, same
    // (nation, segment) blocking; keep-best = row_number over
    // (score desc, id_b).
    oracle =
      """WITH dirty AS (SELECT c_custkey + 1000000 AS d_id,
        |  c_nationkey || '|' || c_mktsegment AS d_blk,
        |  CASE WHEN c_custkey % 3 = 0 THEN reverse(c_name)
        |       WHEN c_custkey % 7 = 0 THEN c_name || 'x'
        |       ELSE c_name END AS d_name,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1.0
        |       ELSE c_acctbal END AS d_bal
        | FROM customer),
        |scored AS (SELECT c.c_custkey AS id_a, d.d_id AS id_b,
        |  (CASE WHEN levenshtein(c.c_name, d.d_name) <= 1 THEN 40 ELSE 0 END
        |   + CASE WHEN c.c_acctbal = d.d_bal THEN 30 ELSE 0 END) AS score,
        |  (CASE WHEN levenshtein(c.c_name, d.d_name) <= 1 THEN 1 ELSE 0 END
        |   + CASE WHEN c.c_acctbal = d.d_bal THEN 1 ELSE 0 END) AS n_agree
        | FROM customer c JOIN dirty d
        |  ON c.c_nationkey || '|' || c.c_mktsegment = d.d_blk),
        |best AS (SELECT id_a, id_b, score, n_agree,
        |  row_number() OVER (PARTITION BY id_a
        |    ORDER BY score DESC, id_b) AS rn
        | FROM scored WHERE score >= 40)
        |SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        | CAST(n_agree AS BIGINT) AS n_agree
        |FROM best WHERE rn = 1 ORDER BY id_a""".stripMargin),

    // Leakage-safe split: near-dup clusters (5-gram Jaccard ≥ 0.5,
    // transitive) split by their min-id representative so no pair
    // straddles train/test — hashSplit's determinism, cluster-level.
    Query("x_leak_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
      Corpus.leakSafeSplit(docs, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    },
    // Same recursive closure as x_dedup_drop (transitive clusters, min-id
    // label), then the x_split md5 cutoffs applied to the REPRESENTATIVE
    // id — identical 'cccd'/'e666' boundaries, cluster-level key.
    oracle =
      s"""WITH RECURSIVE ${ngramPairsCte(0.5)},
         |edges AS (
         | SELECT id_a AS u, id_b AS v FROM jpairs
         | UNION
         | SELECT id_b AS u, id_a AS v FROM jpairs),
         |reach AS (
         | SELECT u AS node, u AS lab FROM edges
         | UNION
         | SELECT e.v AS node, r.lab AS lab
         | FROM reach r JOIN edges e ON e.u = r.node),
         |labels AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
         |rep AS (SELECT doc_id, COALESCE(l.label, doc_id) AS r
         |        FROM documents LEFT JOIN labels l ON l.node = doc_id)
         |SELECT doc_id,
         | CASE WHEN substring(md5(
         |        'v' || CAST(length(CAST(r AS VARCHAR)) AS VARCHAR)
         |        || ':' || CAST(r AS VARCHAR)), 1, 4) < 'cccd'
         |      THEN 'train'
         |      WHEN substring(md5(
         |        'v' || CAST(length(CAST(r AS VARCHAR)) AS VARCHAR)
         |        || ':' || CAST(r AS VARCHAR)), 1, 4) < 'e666'
         |      THEN 'val'
         |      ELSE 'test' END AS split
         |FROM rep ORDER BY doc_id""".stripMargin),

    // Asymmetric containment pairs (excerpt/quote detection): the
    // short-inside-long relation Jaccard misses — decontamination's
    // "benchmark text embedded in a crawl page" case.
    Query("x_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 5, minContainment = 0.5)
        .withColumn("containment", round(col("containment"), 9))
        .withColumn("jaccard", round(col("jaccard"), 9))
        .orderBy("id_small", "id_big"),
    // Same gram CTEs as jpairs, pair oriented so the smaller set is the
    // contained side; filter on unrounded containment like the engine.
    oracle =
      raw"""WITH toks AS (
         | SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS tok
         | FROM documents),
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
         |o AS (
         | SELECT CASE WHEN sa.sz <= sb.sz THEN id_a ELSE id_b END AS id_small,
         |  CASE WHEN sa.sz <= sb.sz THEN id_b ELSE id_a END AS id_big,
         |  LEAST(sa.sz, sb.sz) AS szs, sa.sz + sb.sz - inter AS uni, inter
         | FROM inter
         | JOIN sizes sa ON sa.doc_id = id_a
         | JOIN sizes sb ON sb.doc_id = id_b)
         |SELECT id_small, id_big,
         | ROUND(CAST(inter AS DOUBLE) / CAST(szs AS DOUBLE), 9) AS containment,
         | ROUND(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 9) AS jaccard
         |FROM o
         |WHERE CAST(inter AS DOUBLE) / CAST(szs AS DOUBLE) >= 0.5
         |ORDER BY id_small, id_big""".stripMargin),

    // Keep-BEST near-dup drop: each Jaccard cluster keeps its longest
    // copy (n_chars DESC, id ASC) instead of the min id — the real
    // curation keep policy; winner = one min-of-struct aggregation.
    Query("x_dedup_keepbest", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", "n_chars",
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5))
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")
    },
    // jpairs closure, then each component keeps FIRST(doc_id ORDER BY
    // n_chars DESC, doc_id) — the engine's min-of-(−score, id) struct.
    oracle =
      s"""WITH RECURSIVE ${ngramPairsCte(0.5)},
         |edges AS (
         | SELECT id_a AS u, id_b AS v FROM jpairs
         | UNION
         | SELECT id_b AS u, id_a AS v FROM jpairs),
         |reach AS (
         | SELECT u AS node, u AS lab FROM edges
         | UNION
         | SELECT e.v AS node, r.lab AS lab
         | FROM reach r JOIN edges e ON e.u = r.node),
         |labels AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
         |members AS (
         | SELECT d.doc_id, d.n_chars, l.label
         | FROM documents d JOIN labels l ON l.node = d.doc_id),
         |winners AS (
         | SELECT label, FIRST(doc_id ORDER BY n_chars DESC, doc_id) AS w
         | FROM members GROUP BY label)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (
         | SELECT m.doc_id FROM members m
         | JOIN winners w ON m.label = w.label AND m.doc_id <> w.w)
         |ORDER BY d.doc_id""".stripMargin),

    // Hybrid text ∪ semantic near-dup drop: n-gram Jaccard pairs UNION
    // language-blocked cosine pairs feed one transitive clustering —
    // catches paraphrases (cosine-only) AND template swaps
    // (Jaccard-only). Pure composition of existing scale shapes.
    Query("x_hybrid_dedup", (s, dir) =>
      Dedup.hybridNearDupDrop(
          t(s, dir, "documents"), t(s, dir, "embeddings"),
          "doc_id", "text", "vec_id", "embedding", "lang",
          saltBuckets = 4)
        .select(col("doc_id"), col("lang")).orderBy("doc_id"),
    // Union of the jpairs text chain and the lang-blocked decimal-cosine
    // pairs, then the x_dedup_drop recursive closure over BOTH.
    oracle =
      s"""WITH RECURSIVE ${ngramPairsCte(0.5)},
         |zz AS (
         | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(unnest(a.embedding) AS DOUBLE) AS x,
         |  CAST(unnest(b.embedding) AS DOUBLE) AS y
         | FROM (SELECT e.*, d.lang FROM embeddings e
         |        JOIN documents d ON d.doc_id = e.vec_id) a
         |   JOIN (SELECT e.*, d.lang FROM embeddings e
         |        JOIN documents d ON d.doc_id = e.vec_id) b
         |   ON a.lang = b.lang AND a.vec_id < b.vec_id),
         |dd AS (
         | SELECT id_a, id_b,
         |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
         |  SUM(CAST(x * x AS DECIMAL(30,15))) AS na,
         |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nb
         | FROM zz GROUP BY id_a, id_b),
         |spairs AS (
         | SELECT id_a, id_b FROM dd
         | WHERE ROUND(CAST(dot AS DOUBLE) /
         |   SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) >= 0.35),
         |allp AS (SELECT id_a, id_b FROM jpairs
         | UNION SELECT id_a, id_b FROM spairs),
         |edges AS (
         | SELECT id_a AS u, id_b AS v FROM allp
         | UNION
         | SELECT id_b AS u, id_a AS v FROM allp),
         |reach AS (
         | SELECT u AS node, u AS lab FROM edges
         | UNION
         | SELECT e.v AS node, r.lab AS lab
         | FROM reach r JOIN edges e ON e.u = r.node),
         |labels AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM labels WHERE label <> node)
         |ORDER BY doc_id""".stripMargin),

    // Incremental dedup — tomorrow's crawl against yesterday's corpus:
    // the index side is the distinct 8-byte fingerprints of the "old"
    // corpus (doc_id % 3 = 0), the "new" batch is the rest PLUS planted
    // re-crawls (old docs under fresh ids) that the anti-join must drop.
    // New bodies never shuffle; the index is hash-sized and broadcast.
    // Oracle mirrors with exact text matching (hash engine-side, same
    // contract as the fingerprint dedup family).
    Query("x_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.where(col("doc_id") % 3 === 0)
      val fresh = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(old.where(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      Dedup.dedupAgainstIndex(fresh, "text",
          Dedup.fingerprintIndex(old, "text"))
        .select(col("doc_id")).orderBy("doc_id")
    },
    oracle =
      """WITH old AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
        |fresh AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT doc_id + 20000000 AS doc_id, text FROM old WHERE doc_id % 6 = 0)
        |SELECT doc_id FROM fresh n
        |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = n.text)
        |ORDER BY doc_id""".stripMargin),

    // Incremental NEAR-dup dedup — the near-dup analogue of
    // x_dedup_incremental: yesterday's corpus persists a MinHash band
    // index; today's batch plants mutated re-crawls (one token dropped
    // from each eligible old doc) that MUST collide with the index in
    // some band and drop. 16 bands × 2 rows — the recall-heavy regime an
    // index you dedup AGAINST wants: detection ≥ 0.999 down to Jaccard
    // 0.55 (short docs with repeated shingles land well below the naive
    // ≈ 0.86 estimate — measured, 8×4 missed 3 of 553 at sf0.1), and
    // signatures are xxhash-seeded, so the outcome is deterministic —
    // the oracle pins dropped TRUE.
    Query("x_neardedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val old = docs.where(col("doc_id") % 3 === 0)
      val index = Dedup.minhashBandIndex(old, "text",
        shingleN = 5, numHashes = 32, rowsPerBand = 2)
      val planted = old
        .where(col("doc_id") % 6 === 0 && size(toks) >= 40)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          array_join(filter(toks, (_, i) => i =!= 16), " ").as("text"))
      val fresh = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      val survived = Dedup.nearDedupAgainstIndex(fresh, "doc_id", "text",
          index, shingleN = 5, numHashes = 32, rowsPerBand = 2)
        .select(col("doc_id").as("copy_id"), lit(true).as("s"))
      planted.select((col("doc_id") - 30000000L).as("doc_id"),
          col("doc_id").as("copy_id"))
        .join(survived, Seq("copy_id"), "left")
        .select(col("doc_id"), col("copy_id"),
          coalesce(!col("s"), lit(true)).as("dropped_by_index"))
        .orderBy("doc_id")
    },
    // Planted-recall oracle: the re-crawl list is pure arithmetic on the
    // eligibility predicate; dropped_by_index is PINNED TRUE — the band
    // index's recall on real near-duplicates is what the compare checks.
    oracle =
      """SELECT doc_id, doc_id + 30000000 AS copy_id,
        | TRUE AS dropped_by_index
        |FROM documents
        |WHERE doc_id % 6 = 0
        |  AND len(regexp_split_to_array(TRIM(text), '\s+')) >= 40
        |ORDER BY doc_id""".stripMargin),

    // End-to-end near-dup removal: detect pairs (exact n-gram Jaccard),
    // cluster (label propagation), keep canonical doc per cluster.
    // Oracle-checked: the pairs are exact, so DuckDB reproduces the
    // clustering with a recursive transitive-closure CTE.
    Query("x_dedup_drop", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5)
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy("doc_id")
    },
    // Connected components over the exact ≥ 0.5 pairs via recursive
    // transitive closure (component label = min reachable id), then keep
    // each component's min-id doc plus all unpaired docs — exactly
    // Dedup.dropNearDuplicates' semantics, independently reformulated.
    oracle =
      s"""WITH RECURSIVE ${ngramPairsCte(0.5)},
         |edges AS (
         | SELECT id_a AS u, id_b AS v FROM jpairs
         | UNION
         | SELECT id_b AS u, id_a AS v FROM jpairs),
         |reach AS (
         | SELECT u AS node, u AS lab FROM edges
         | UNION
         | SELECT e.v AS node, r.lab AS lab
         | FROM reach r JOIN edges e ON e.u = r.node),
         |labels AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM labels WHERE label <> node)
         |ORDER BY doc_id""".stripMargin),

    // Exact dedup: group identical texts, keep min id. At scale the
    // grouping key is the 8-byte fingerprint, not the body (see
    // x_fingerprint); here the oracle-checkable text-key form.
    Query("x_dedup_exact", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id"),
    oracle =
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // Winnowing fingerprint dedup: group by (winnow fingerprint set,
    // byte length) — the native rolling-hash + window-min expression plus
    // the cheapest possible disambiguator. The set alone is a *content*
    // sketch: texts differing only in the multiplicity of a repeated
    // substring ("… dup dup" vs "… dup dup dup") have identical gram
    // sets at any window width, and length separates exactly those.
    // Identical texts agree on both components, so — like x_fingerprint —
    // the ids-only output is exactly text-key dedup, which DuckDB oracles
    // without reproducing the hash. The set key additionally powers
    // partial-overlap (containment) joins that a whole-doc hash cannot.
    // The shuffle key is xxhash64 OF the fingerprint set (+ length), not
    // the set itself — same keys-first discipline as x_fingerprint: the
    // exchange moves 8 bytes per doc however long the fingerprint array
    // is. Honest risk note: unlike the whole-text hash (2^-64), a winnow
    // SET key is a sketch — two same-length docs differing by one
    // substitution collide when none of the ~2k changed grams is a window
    // minimum in either doc (≈(1−2/(w+1))^2k per such pair). That is why
    // the fingerprint-then-verify pattern runs IN-QUERY here:
    // Dedup.verifyGroups byte-compares every candidate group and the
    // oracle pins `verified` TRUE — a winnow-set collision would flip it
    // red rather than silently merging distinct docs. (The winnow set's
    // real job is containment/overlap search; this query is its dedup
    // discipline.)
    // keepIdCol makes it ONE pass: the survivor pick rides the verify
    // aggregation, so the (expensive) winnow expression evaluates once.
    Query("x_winnow_dedup", (s, dir) => {
      val keyed = t(s, dir, "documents").select(
        col("doc_id"), col("text"),
        xxhash64(TF.winnowFingerprints(col("text")),
          octet_length(col("text"))).as("fpkey"))
      Dedup.verifyGroups(keyed, "fpkey", "text", keepIdCol = Some("doc_id"))
        .select(col("keep_id"), col("n_members").as("n_copies"), col("verified"))
        .orderBy("keep_id")
    },
    oracle =
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  TRUE AS verified
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // Exact n-gram Jaccard near-dup pairs via inverted-index self-join.
    Query("x_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 5, 0.2)
        .orderBy("id_a", "id_b"),
    oracle =
      s"""WITH ${ngramPairsCte(0.2)}
         |SELECT id_a, id_b, jaccard FROM jpairs
         |ORDER BY id_a, id_b""".stripMargin),

    // MinHash + LSH banding near-dup candidates, self-verifying: the
    // banded candidates LEFT-join the EXACT n-gram Jaccard pairs at
    // ≥ 0.8 (DuckDB-reproducible ground truth) and the oracle pins
    // `found_by_minhash` TRUE — a banding recall miss on any
    // high-similarity pair turns its row red. 8 bands × 4 rows puts the
    // per-pair miss probability at s = 0.857 (the corpus minimum) at
    // (1 − s⁴)⁸ ≈ 0.2%, and signatures are xxhash-seeded so the outcome
    // is deterministic: green stays green.
    Query("x_minhash_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.8)
      val cand = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleN = 5, numHashes = 32, rowsPerBand = 4, minEstJaccard = 0.4)
        .select(col("id_a"), col("id_b"), lit(true).as("f"))
      exact.join(cand, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          coalesce(col("f"), lit(false)).as("found_by_minhash"))
        .orderBy("id_a", "id_b")
    },
    // Ground truth = exact pairs at ≥ 0.8; the flag is TRUE by definition
    // here and only TRUE on the Spark side when the 8×4 banding really
    // surfaced every high-similarity pair.
    oracle =
      s"""WITH ${ngramPairsCte(0.8)}
         |SELECT id_a, id_b, jaccard, TRUE AS found_by_minhash FROM jpairs
         |ORDER BY id_a, id_b""".stripMargin),

    // SimHash near-dup detection, oracled on PLANTED structure (VERDICT
    // r6 #5): every eligible doc (id % 5 = 0, ≥ 40 tokens) gets a mutated
    // copy — its 17th token dropped — and the query reports whether the
    // pigeonhole-banded simhash pipeline (hash equi-joins on disjoint
    // sketch blocks — never an all-pairs loop) found each planted pair.
    // The oracle pins found_by_simhash TRUE: a recall miss turns the row
    // red. A 1-of-≥40-token drop moves each sketch bit's vote tally by
    // ±1, so only near-tied bits flip; the MEASURED planted hamming
    // (probed over all three fixture scales) tops out at 6, so
    // maxHamming=7 → 8 disjoint 8-bit blocks detects every planted pair
    // with margin, deterministically (simhash votes are xxhash-seeded):
    // green stays green. Scale note: radius 7 means 2^8 buckets/block —
    // fine at fixture scale, quadratic at corpus scale; the production
    // web-dedup regime is radius ≤ 3 (2^16 buckets/block, see
    // simhashNearDupPairs' scaladoc), radius 7 here buys the recall
    // proof against this corpus's short-doc vote margins.
    Query("x_simhash", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val eligible = docs
        .where(col("doc_id") % 5 === 0 && size(toks) >= 40)
      val planted = eligible.select(
        (col("doc_id") + 10000000L).as("id"),
        array_join(filter(toks, (_, i) => i =!= 16), " ").as("text"))
      val corpus = docs.select(col("doc_id").as("id"), col("text"))
        .unionByName(planted)
      val found = Dedup
        .simhashNearDupPairs(corpus, "id", "text", maxHamming = 7)
        .select(col("id_a").as("doc_id"), col("id_b").as("copy_id"),
          lit(true).as("f"))
      eligible
        .select(col("doc_id"), (col("doc_id") + 10000000L).as("copy_id"))
        .join(found, Seq("doc_id", "copy_id"), "left")
        .select(col("doc_id"), col("copy_id"),
          coalesce(col("f"), lit(false)).as("found_by_simhash"))
        .orderBy("doc_id")
    },
    // Planted-recall oracle: the planted pair list is pure arithmetic on
    // the eligibility predicate; found_by_simhash is PINNED TRUE — the
    // engine's banded simhash recall is what the hash compare verifies.
    oracle =
      """SELECT doc_id, doc_id + 10000000 AS copy_id,
        | TRUE AS found_by_simhash
        |FROM documents
        |WHERE doc_id % 5 = 0
        |  AND len(regexp_split_to_array(TRIM(text), '\s+')) >= 40
        |ORDER BY doc_id""".stripMargin),
  )
}
