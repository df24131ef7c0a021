package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{Corpus, Similarity}

import QueryKit._

/** Vector similarity: exact cosine top-k, kNN joins, IVF/PQ indexes,
  * k-means, PCA, semantic dedup.
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(

    // Johnson–Lindenstrauss random projection 64→16: the map-only shrink
    // run before ANN indexing / pairwise sweeps. Sign matrix is baked
    // literals (no broadcast, no shuffle); outDim=16 makes the 1/√outDim
    // scale exactly 0.25 so the output is bit-reproducible.
    Query("x_rand_project", (s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          inDim = 64, outDim = 16)
        .orderBy(col("vec_id"), col("dim")),
    // Rebuilds the seed-42 Achlioptas sign matrix from the same md5
    // formula, mirrors the decimal dot (per-product DECIMAL(30,15), sum,
    // cast double) and the exact 0.25 scale.
    oracle =
      """WITH dgrid AS (SELECT unnest(range(0, 64)) AS d),
        |jgrid AS (SELECT unnest(range(0, 16)) AS j),
        |s AS (SELECT j, d,
        |  CASE WHEN substring(md5('42:' || CAST(j AS VARCHAR)
        |      || ':' || CAST(d AS VARCHAR)), 1, 1) < '8'
        |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
        | FROM jgrid CROSS JOIN dgrid),
        |z AS (SELECT vec_id, g.d,
        |  CAST(embedding[CAST(g.d AS INT) + 1] AS DOUBLE) AS x
        | FROM embeddings CROSS JOIN dgrid g),
        |p AS (SELECT z.vec_id, s.j,
        |  CAST(SUM(CAST(z.x * s.sgn AS DECIMAL(30,15))) AS DOUBLE)
        |    * CAST(0.25 AS DOUBLE) AS raw
        | FROM z JOIN s ON z.d = s.d GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS INT) AS dim, ROUND(raw, 9) AS v
        |FROM p ORDER BY vec_id, dim""".stripMargin),

    // Distributed PCA: top principal component by 2 power-iteration
    // rounds — covariance never materializes; per round one data-sized
    // per-dim aggregation, dim-sized vectors to the driver, iterates
    // rounded in-engine so both engines step from identical literals.
    Query("x_pca_power", (s, dir) =>
      Similarity.principalComponent(t(s, dir, "embeddings"), "embedding",
          dim = 64, rounds = 2)
        .orderBy(col("dim")),
    // Two power-iteration rounds unrolled: v0 = ones, t = x·v − μ·v via
    // the decimal dot, w_d = Σ t·x_d − μ_d·Σt, max-abs normalize, round 9
    // between rounds — the same algebraic split the engine runs.
    oracle =
      """WITH dgrid AS (SELECT unnest(range(0, 64)) AS pos),
        |z AS (SELECT vec_id, g.pos,
        |  CAST(embedding[CAST(g.pos AS INT) + 1] AS DOUBLE) AS x
        | FROM embeddings CROSS JOIN dgrid g),
        |mu AS (SELECT pos, ROUND(CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE), 9) AS m FROM z GROUP BY 1),
        |mdv1 AS (SELECT CAST(SUM(CAST(m * CAST(1.0 AS DOUBLE)
        |  AS DECIMAL(30,15))) AS DOUBLE) AS mdv FROM mu),
        |t1 AS (SELECT vec_id,
        |  CAST(SUM(CAST(x * CAST(1.0 AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv1) AS t
        | FROM z GROUP BY 1),
        |s1 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t1.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t1.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t1 USING (vec_id) GROUP BY 1),
        |w1 AS (SELECT s1.pos, s1.S - mu.m * s1.T AS w
        | FROM s1 JOIN mu USING (pos)),
        |m1 AS (SELECT MAX(ABS(w)) AS mx FROM w1),
        |v1 AS (SELECT pos, CASE WHEN m1.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m1.mx, 9) END AS v FROM w1 CROSS JOIN m1),
        |mdv2 AS (SELECT CAST(SUM(CAST(mu.m * v1.v AS DECIMAL(30,15)))
        |  AS DOUBLE) AS mdv FROM mu JOIN v1 USING (pos)),
        |t2 AS (SELECT z.vec_id,
        |  CAST(SUM(CAST(z.x * v1.v AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv2) AS t
        | FROM z JOIN v1 USING (pos) GROUP BY 1),
        |s2 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t2.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t2.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t2 USING (vec_id) GROUP BY 1),
        |w2 AS (SELECT s2.pos, s2.S - mu.m * s2.T AS w
        | FROM s2 JOIN mu USING (pos)),
        |m2 AS (SELECT MAX(ABS(w)) AS mx FROM w2),
        |v2 AS (SELECT pos, CASE WHEN m2.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m2.mx, 9) END AS v FROM w2 CROSS JOIN m2)
        |SELECT CAST(v2.pos AS INT) AS dim, mu.m AS mu, v2.v AS loading
        |FROM v2 JOIN mu USING (pos) ORDER BY dim""".stripMargin),

    // PCA scores: centered projection of every vector onto the top
    // component — map-only after the dim-sized basis is in hand.
    Query("x_pca_scores", (s, dir) =>
      Similarity.pcaScores(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, rounds = 2)
        .orderBy(col("vec_id")),
    // The x_pca_power chain through the final iterate, then every
    // vector's centered projection: score = x·v − μ·v, decimal dots.
    oracle =
      """WITH dgrid AS (SELECT unnest(range(0, 64)) AS pos),
        |z AS (SELECT vec_id, g.pos,
        |  CAST(embedding[CAST(g.pos AS INT) + 1] AS DOUBLE) AS x
        | FROM embeddings CROSS JOIN dgrid g),
        |mu AS (SELECT pos, ROUND(CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE), 9) AS m FROM z GROUP BY 1),
        |mdv1 AS (SELECT CAST(SUM(CAST(m * CAST(1.0 AS DOUBLE)
        |  AS DECIMAL(30,15))) AS DOUBLE) AS mdv FROM mu),
        |t1 AS (SELECT vec_id,
        |  CAST(SUM(CAST(x * CAST(1.0 AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv1) AS t
        | FROM z GROUP BY 1),
        |s1 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t1.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t1.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t1 USING (vec_id) GROUP BY 1),
        |w1 AS (SELECT s1.pos, s1.S - mu.m * s1.T AS w
        | FROM s1 JOIN mu USING (pos)),
        |m1 AS (SELECT MAX(ABS(w)) AS mx FROM w1),
        |v1 AS (SELECT pos, CASE WHEN m1.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m1.mx, 9) END AS v FROM w1 CROSS JOIN m1),
        |mdv2 AS (SELECT CAST(SUM(CAST(mu.m * v1.v AS DECIMAL(30,15)))
        |  AS DOUBLE) AS mdv FROM mu JOIN v1 USING (pos)),
        |t2 AS (SELECT z.vec_id,
        |  CAST(SUM(CAST(z.x * v1.v AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv2) AS t
        | FROM z JOIN v1 USING (pos) GROUP BY 1),
        |s2 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t2.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t2.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t2 USING (vec_id) GROUP BY 1),
        |w2 AS (SELECT s2.pos, s2.S - mu.m * s2.T AS w
        | FROM s2 JOIN mu USING (pos)),
        |m2 AS (SELECT MAX(ABS(w)) AS mx FROM w2),
        |v2 AS (SELECT pos, CASE WHEN m2.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m2.mx, 9) END AS v FROM w2 CROSS JOIN m2),
        |mdvs AS (SELECT CAST(SUM(CAST(mu.m * v2.v AS DECIMAL(30,15)))
        |  AS DOUBLE) AS mdv FROM mu JOIN v2 USING (pos)),
        |sc AS (SELECT z.vec_id,
        |  CAST(SUM(CAST(z.x * v2.v AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdvs) AS score
        | FROM z JOIN v2 USING (pos) GROUP BY 1)
        |SELECT vec_id, ROUND(score, 9) AS score FROM sc
        |ORDER BY vec_id""".stripMargin),

    // PCA top-2 basis: power iteration with per-round Gram–Schmidt
    // deflation (ratio of exact dots — no √); the whitening /
    // embedding-diagnostic basis, still covariance-free.
    Query("x_pca_top2", (s, dir) =>
      Similarity.principalComponents(t(s, dir, "embeddings"), "embedding",
          dim = 64, nComponents = 2, rounds = 2)
        .orderBy(col("component"), col("dim")),
    // x_pca_power's chain extended: component 1 = the same two rounds;
    // component 2 re-uses round-1's step (both start from ones), deflates
    // against PC1 via the decimal-dot ratio, steps once more, deflates,
    // normalizes. Every float op mirrors the engine: decimal sums,
    // single-op IEEE mul/sub, ROUND 9 at each normalize.
    oracle =
      """WITH dgrid AS (SELECT unnest(range(0, 64)) AS pos),
        |z AS (SELECT vec_id, g.pos,
        |  CAST(embedding[CAST(g.pos AS INT) + 1] AS DOUBLE) AS x
        | FROM embeddings CROSS JOIN dgrid g),
        |mu AS (SELECT pos, ROUND(CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE), 9) AS m FROM z GROUP BY 1),
        |mdv1 AS (SELECT CAST(SUM(CAST(m * CAST(1.0 AS DOUBLE)
        |  AS DECIMAL(30,15))) AS DOUBLE) AS mdv FROM mu),
        |t1 AS (SELECT vec_id,
        |  CAST(SUM(CAST(x * CAST(1.0 AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv1) AS t
        | FROM z GROUP BY 1),
        |s1 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t1.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t1.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t1 USING (vec_id) GROUP BY 1),
        |w1 AS (SELECT s1.pos, s1.S - mu.m * s1.T AS w
        | FROM s1 JOIN mu USING (pos)),
        |m1 AS (SELECT MAX(ABS(w)) AS mx FROM w1),
        |v1 AS (SELECT pos, CASE WHEN m1.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m1.mx, 9) END AS v FROM w1 CROSS JOIN m1),
        |mdv2 AS (SELECT CAST(SUM(CAST(mu.m * v1.v AS DECIMAL(30,15)))
        |  AS DOUBLE) AS mdv FROM mu JOIN v1 USING (pos)),
        |t2 AS (SELECT z.vec_id,
        |  CAST(SUM(CAST(z.x * v1.v AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv2) AS t
        | FROM z JOIN v1 USING (pos) GROUP BY 1),
        |s2 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t2.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t2.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t2 USING (vec_id) GROUP BY 1),
        |w2 AS (SELECT s2.pos, s2.S - mu.m * s2.T AS w
        | FROM s2 JOIN mu USING (pos)),
        |m2 AS (SELECT MAX(ABS(w)) AS mx FROM w2),
        |pc1 AS (SELECT pos, CASE WHEN m2.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m2.mx, 9) END AS v FROM w2 CROSS JOIN m2),
        |d11 AS (SELECT CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE) AS d
        | FROM pc1),
        |d1w1 AS (SELECT CAST(SUM(CAST(pc1.v * w1.w AS DECIMAL(30,15)))
        |  AS DOUBLE) AS d FROM pc1 JOIN w1 USING (pos)),
        |w1b AS (SELECT w1.pos,
        |  w1.w - (CASE WHEN d11.d = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE d1w1.d / d11.d END) * pc1.v AS w
        | FROM w1 JOIN pc1 USING (pos) CROSS JOIN d11 CROSS JOIN d1w1),
        |m1b AS (SELECT MAX(ABS(w)) AS mx FROM w1b),
        |u21 AS (SELECT pos, CASE WHEN m1b.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m1b.mx, 9) END AS v FROM w1b CROSS JOIN m1b),
        |mdv3 AS (SELECT CAST(SUM(CAST(mu.m * u21.v AS DECIMAL(30,15)))
        |  AS DOUBLE) AS mdv FROM mu JOIN u21 USING (pos)),
        |t3 AS (SELECT z.vec_id,
        |  CAST(SUM(CAST(z.x * u21.v AS DECIMAL(30,15))) AS DOUBLE)
        |    - (SELECT mdv FROM mdv3) AS t
        | FROM z JOIN u21 USING (pos) GROUP BY 1),
        |s3 AS (SELECT z.pos,
        |  CAST(SUM(CAST(t3.t * z.x AS DECIMAL(30,15))) AS DOUBLE) AS S,
        |  CAST(SUM(CAST(t3.t AS DECIMAL(30,15))) AS DOUBLE) AS T
        | FROM z JOIN t3 USING (vec_id) GROUP BY 1),
        |w3 AS (SELECT s3.pos, s3.S - mu.m * s3.T AS w
        | FROM s3 JOIN mu USING (pos)),
        |d1w3 AS (SELECT CAST(SUM(CAST(pc1.v * w3.w AS DECIMAL(30,15)))
        |  AS DOUBLE) AS d FROM pc1 JOIN w3 USING (pos)),
        |w3b AS (SELECT w3.pos,
        |  w3.w - (CASE WHEN d11.d = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE d1w3.d / d11.d END) * pc1.v AS w
        | FROM w3 JOIN pc1 USING (pos) CROSS JOIN d11 CROSS JOIN d1w3),
        |m3b AS (SELECT MAX(ABS(w)) AS mx FROM w3b),
        |pc2 AS (SELECT pos, CASE WHEN m3b.mx = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE ROUND(w / m3b.mx, 9) END AS v FROM w3b CROSS JOIN m3b)
        |SELECT 0 AS component, CAST(pos AS INT) AS dim, mu.m AS mu,
        |  pc1.v AS loading
        |FROM pc1 JOIN mu USING (pos)
        |UNION ALL
        |SELECT 1 AS component, CAST(pos AS INT) AS dim, mu.m AS mu,
        |  pc2.v AS loading
        |FROM pc2 JOIN mu USING (pos)
        |ORDER BY component, dim""".stripMargin),

    // Contrastive hard-negative mining: each labeled vector's 3 nearest
    // DIFFERENT-label neighbors — the mismatch predicate applies before
    // the bounded top-k' aggregation, so a same-label-dense region
    // cannot starve the output.
    Query("x_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 3)
        .orderBy(col("query_id"), col("rank")),
    // Exact different-label top-k over the quadratic window, decimal
    // cosine, rank by (rounded cos DESC, id) — the x_knn_join chain with
    // the label-mismatch predicate in the pair generator.
    oracle =
      """WITH z AS (
        | SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS query_label,
        |  c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS neighbor_label,
        |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(q.embedding) AS DOUBLE) AS y
        | FROM embeddings q JOIN embeddings c
        |   ON q.label IS NOT NULL AND c.label IS NOT NULL
        |     AND q.label <> c.label),
        |d AS (
        | SELECT query_id, query_label, neighbor_id, neighbor_label,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
        | FROM z GROUP BY 1, 2, 3, 4),
        |r AS (
        | SELECT query_id, query_label, neighbor_id, neighbor_label,
        |  ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) AS cos,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
        |      neighbor_id) AS rank
        | FROM d)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank
        |FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin),

    // Symmetric int8 quantization of embeddings (map-only, inside the
    // scan projection); exploded to scalar rows for the oracle compare.
    Query("x_quantize", (s, dir) => {
      val q = Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
      q.select(col("vec_id"), col("scale"),
          posexplode(col("q")).as(Seq("pos", "qv")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("qv").as("q"), col("scale"))
        .orderBy("vec_id", "dim")
    },
    oracle =
      """WITH s AS (
        | SELECT vec_id, embedding,
        |  CASE WHEN GREATEST(ABS(list_max(embedding)), ABS(list_min(embedding))) = 0
        |       THEN 0.0
        |       ELSE 127.0 / CAST(GREATEST(ABS(list_max(embedding)),
        |                                  ABS(list_min(embedding))) AS DOUBLE)
        |  END AS scale
        | FROM embeddings),
        |e AS (
        | SELECT vec_id, scale,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i, 'v': embedding[i]})) AS u
        | FROM s)
        |SELECT vec_id, CAST(u.dim AS BIGINT) AS dim,
        | CAST(ROUND(CAST(u.v AS DOUBLE) * scale) AS INTEGER) AS q, scale
        |FROM e ORDER BY vec_id, dim""".stripMargin),

    // Per-label mean embeddings (class centroids / k-means M-step):
    // shuffles (label, dim, value) triples with map-side partials —
    // reducer state is O(labels × dim) regardless of corpus size.
    Query("x_centroid", (s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "dim"),
    oracle =
      """WITH e AS (
        | SELECT label,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i, 'v': embedding[i]})) AS u
        | FROM embeddings)
        |SELECT label, CAST(u.dim AS BIGINT) AS dim,
        | ROUND(CAST(SUM(CAST(CAST(u.v AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) /
        |   CAST(COUNT(*) AS DOUBLE), 9) AS centroid
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin),

    // Embedding-space outlier gate: every vector's exact cosine to its
    // OWN label centroid; below 0 ⇒ flagged (mislabeled/garbage). The
    // centroid table is #labels × dim (broadcast); products accumulate
    // in DECIMAL so the score hash-matches cross-engine.
    Query("x_centroid_outlier", (s, dir) =>
      Similarity.centroidOutlierScores(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", threshold = 0.0)
        .orderBy("vec_id"),
    // Same decimal-mean centroids as x_centroid, then per-vector decimal
    // cosine against its own label's centroid.
    oracle =
      """WITH ex AS (
        | SELECT vec_id, label,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i, 'v': embedding[i]})) AS u
        | FROM embeddings),
        |cent AS (
        | SELECT label, u.dim AS dim,
        |  ROUND(CAST(SUM(CAST(CAST(u.v AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 9) AS c
        | FROM ex GROUP BY label, dim),
        |j AS (
        | SELECT x.vec_id, x.label,
        |  SUM(CAST(CAST(x.u.v AS DOUBLE) * cent.c AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(CAST(x.u.v AS DOUBLE) * CAST(x.u.v AS DOUBLE) AS DECIMAL(30,15))) AS nv,
        |  SUM(CAST(cent.c * cent.c AS DECIMAL(30,15))) AS nc
        | FROM ex x JOIN cent ON x.label = cent.label AND x.u.dim = cent.dim
        | GROUP BY x.vec_id, x.label)
        |SELECT e.vec_id, e.label,
        | ROUND(CAST(j.dot AS DOUBLE) /
        |   SQRT(CAST(j.nv AS DOUBLE) * CAST(j.nc AS DOUBLE)), 9) AS cos_centroid,
        | COALESCE(ROUND(CAST(j.dot AS DOUBLE) /
        |   SQRT(CAST(j.nv AS DOUBLE) * CAST(j.nc AS DOUBLE)), 9) < 0.0, FALSE)
        |   AS is_outlier
        |FROM embeddings e LEFT JOIN j ON e.vec_id = j.vec_id
        |ORDER BY e.vec_id""".stripMargin),

    // First-class k-means: deterministic spherical Lloyd with cross-
    // engine-exact arithmetic (decimal-exact dots and sums, round-9
    // centroids each round) — cluster ids as data, not just the internal
    // IVF quantizer. Per round: one map-only assignment pass + one
    // (k × dim)-grid aggregation with map-side partials. The DuckDB
    // oracle unrolls both Lloyd rounds and hash-matches cluster ids AND
    // cosines bit-for-bit.
    Query("x_kmeans", (s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 2)
        .orderBy("vec_id"),
    // Full unrolled 2-round Lloyd chain — cluster ids AND cosines must
    // hash-match the engine's bit-for-bit.
    oracle =
      s"""WITH $kmeansCte
         |SELECT vec_id, cluster, cos_to_centroid FROM kassign
         |ORDER BY vec_id""".stripMargin),

    // Cluster-balanced selection (the SemDeDup/DataComp curation move:
    // sample evenly across embedding-space clusters so no topic mode
    // dominates): k-means clusters → exact deterministic k-per-cluster
    // by md5 order — repartition/rerun-invariant, like x_sample_k.
    Query("x_cluster_sample", (s, dir) => {
      val assigned = Similarity.kmeansAssign(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, rounds = 2)
      Corpus.exactKPerStratum(
          assigned.select(col("cluster"), col("vec_id")),
          "cluster", "vec_id", k = 20)
        .orderBy("cluster", "vec_id")
    },
    // Same chain + the exactKPerStratum md5 rank (the x_sample_k
    // discipline) per cluster.
    oracle =
      s"""WITH $kmeansCte
         |SELECT cluster, vec_id FROM (
         | SELECT cluster, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY md5(CAST(cluster AS VARCHAR) || ':' ||
         |                 CAST(vec_id AS VARCHAR)), vec_id) AS rk
         | FROM kassign)
         |WHERE rk <= 20 ORDER BY cluster, vec_id""".stripMargin),

    // Cluster-quality diagnostics: size + cohesion (mean/min/max cosine
    // to own centroid) per cluster — the go/no-go report before using a
    // clustering for topic balancing. #clusters-sized aggregation.
    Query("x_cluster_report", (s, dir) =>
      Similarity.clusterReport(
        Similarity.kmeansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, rounds = 2))
        .orderBy("cluster"),
    // Same chain, rolled up per cluster; the mean accumulates the
    // round-9 cosines in DECIMAL exactly as the engine does.
    oracle =
      s"""WITH $kmeansCte
         |SELECT cluster, COUNT(*) AS n,
         | ROUND(CAST(SUM(CAST(cos_to_centroid AS DECIMAL(30,15))) AS DOUBLE) /
         |   CAST(COUNT(*) AS DOUBLE), 9) AS mean_cos,
         | MIN(cos_to_centroid) AS min_cos, MAX(cos_to_centroid) AS max_cos
         |FROM kassign GROUP BY cluster ORDER BY cluster""".stripMargin),

    // Brute-force cosine top-k against the vec_id=0 query vector.
    // Two-phase scoring (the cosineNearDupBlocked pattern): the native
    // double kernel ranks the whole corpus (~100× cheaper per pair than
    // the interpreted exact-decimal HOF), a margin-padded top-k′ survives
    // (k′ = 5k — double-vs-decimal divergence is ~1e-12, so the true
    // top-10 is certainly inside the native top-50), and only survivors
    // pay the order-independent exact-decimal rescore that makes the
    // output bit-equal to the DuckDB oracle.
    Query("x_cosine_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
      val pruned = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("embedding"), col("qe"),
          Similarity.cosine(col("embedding"), col("qe")).as("cos_fast"))
        .orderBy(col("cos_fast").desc, col("vec_id"))
        .limit(50)
      pruned.select(col("vec_id"), col("label"),
          round(Similarity.cosineExact(col("embedding"), col("qe")), 9).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    },
    oracle = cosineTopkOracle),

    // Hyperplane-LSH ANN, oracled on PLANTED structure (VERDICT r6 #5):
    // every 20th vector gets a near-duplicate copy (each dim scaled by
    // 1 + 0.005·((d%7)−3), cos ≈ 0.99995) and the query reports whether
    // 4-table OR-amplified LSH bucketing found each planted pair, plus
    // the exact-decimal cosine the oracle reproduces bit-for-bit. The
    // oracle pins found_by_lsh TRUE; per-pair miss probability at this
    // angle is ~(nBits·θ/π)^4 ≈ 1e-6, and hyperplanes are hash-derived,
    // so the outcome is deterministic — green stays green.
    Query("x_lsh_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // bucket count tracks corpus size (fixed nBits degenerates toward
      // all-pairs as the corpus grows) — sized from the scan's CATALOG
      // estimate (file-footer bytes ÷ approx row width: 64 float32 + id/
      // label/encoding overhead ≈ 400 B), not a count() job: lshBitsFor
      // is logarithmic, so an order-of-magnitude estimate lands the same
      // nBits while removing a whole corpus pass from the query
      val estRows = math.max(1L,
        (e.queryExecution.optimizedPlan.stats.sizeInBytes / 400).toLong)
      val nBits = Similarity.lshBitsFor(estRows, targetPerBucket = 8)
      val perturbed = e.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("id"),
          transform(col("embedding"), (x, i) =>
            (x * (lit(1.0) + lit(0.005) * ((i % 7) - lit(3))))
              .cast(org.apache.spark.sql.types.FloatType)).as("v"))
      val corpus = e.select(col("vec_id").as("id"), col("embedding").as("v"))
        .unionByName(perturbed)
      val found = Similarity
        .lshCandidatePairs(corpus, "id", "v", dim = 64, nBits = nBits,
          nTables = 4)
        .select(col("id_a").as("vec_id"), col("id_b").as("copy_id"),
          lit(true).as("f"))
      e.where(col("vec_id") % 20 === 0)
        .select(col("vec_id"), (col("vec_id") + 10000000L).as("copy_id"),
          col("embedding"))
        .join(perturbed.withColumnRenamed("id", "copy_id"), Seq("copy_id"))
        .join(found, Seq("vec_id", "copy_id"), "left")
        .select(col("vec_id"), col("copy_id"),
          round(Similarity.cosineExact(col("embedding"), col("v")), 9).as("cos"),
          coalesce(col("f"), lit(false)).as("found_by_lsh"))
        .orderBy("vec_id")
    },
    // Planted-recall oracle: reproduces the perturbed copy (dim d scaled
    // by 1 + 0.005·((d%7)−3), rounded to float32 exactly as Spark's
    // transform+cast) and the exact-decimal cosine; found_by_lsh PINNED
    // TRUE verifies the 4-table OR-amplified bucketing recall.
    oracle =
      """WITH p AS (
        | SELECT vec_id,
        |  list_transform(embedding, (x, i) ->
        |    CAST(CAST(x AS DOUBLE) * (1.0 + 0.005 * (((i - 1) % 7) - 3)) AS FLOAT)) AS pemb
        | FROM embeddings
        | WHERE vec_id % 20 = 0),
        |z AS (
        | SELECT e.vec_id,
        |  CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(p.pemb) AS DOUBLE) AS y
        | FROM embeddings e JOIN p USING (vec_id)),
        |d AS (
        | SELECT vec_id,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS na,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nb
        | FROM z GROUP BY 1)
        |SELECT vec_id, vec_id + 10000000 AS copy_id,
        | ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) AS cos,
        | TRUE AS found_by_lsh
        |FROM d ORDER BY vec_id""".stripMargin),

    // Embedding-cosine near-dup pairs, blocked on the label column (the
    // coarse-quantizer-bucket pattern: exact recall within a block, hash
    // equi-join plan — the scale path for pairwise embedding dedup).
    // Exact-decimal cosine → bit-equal to the DuckDB quadratic oracle.
    Query("x_embed_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineNearDupBlocked(e, "vec_id", "embedding", "label",
          minCos = 0.35,
          saltBuckets = 4) // 10 labels alone under-parallelize 32 cores
        .orderBy("id_a", "id_b")
    },
    oracle =
      """WITH z AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(unnest(a.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(b.embedding) AS DOUBLE) AS y
        | FROM embeddings a JOIN embeddings b
        |   ON a.label = b.label AND a.vec_id < b.vec_id),
        |d AS (
        | SELECT id_a, id_b,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS na,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nb
        | FROM z GROUP BY id_a, id_b)
        |SELECT id_a, id_b,
        | ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) AS cos
        |FROM d
        |WHERE ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin),

    // Semantic dedup (SemDeDup): cosine near-dup pairs within blocks →
    // transitive clustering → keep each cluster's min-id member plus all
    // unpaired rows. Blocked on the label column so DuckDB reproduces
    // the WHOLE chain exactly (pairs CTE ≡ x_embed_neardup, closure ≡
    // x_dedup_drop's recursive CTE) — the learned-cluster variant
    // (semanticDedupClustered) is spec-pinned equal to the brute-force
    // chain at nCentroids=1 instead.
    Query("x_semdedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedup(e, "vec_id", "embedding", "label",
          minCos = 0.35, saltBuckets = 4)
        .select(col("vec_id"), col("label")).orderBy("vec_id")
    },
    // Pair CTE mirrors x_embed_neardup (label-blocked exact cosine);
    // closure mirrors x_dedup_drop's recursive reachability CTE.
    oracle =
      """WITH RECURSIVE z AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(unnest(a.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(b.embedding) AS DOUBLE) AS y
        | FROM embeddings a JOIN embeddings b
        |   ON a.label = b.label AND a.vec_id < b.vec_id),
        |d AS (
        | SELECT id_a, id_b,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS na,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nb
        | FROM z GROUP BY id_a, id_b),
        |cpairs AS (
        | SELECT id_a, id_b FROM d
        | WHERE ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) >= 0.35),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM cpairs
        | UNION
        | SELECT id_b AS u, id_a AS v FROM cpairs),
        |reach AS (
        | SELECT u AS node, u AS lab FROM edges
        | UNION
        | SELECT e.v AS node, r.lab AS lab
        | FROM reach r JOIN edges e ON e.u = r.node),
        |comps AS (SELECT node, MIN(lab) AS complabel FROM reach GROUP BY node)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM comps WHERE complabel <> node)
        |ORDER BY vec_id""".stripMargin),

    // Density clustering with a noise verdict (DBSCAN in cosine space,
    // label-blocked ε-pairs): core = ≥ minPts ε-neighbors incl. self,
    // cluster = min core id of the core-core component, border takes
    // its smallest adjacent cluster — order-free, engine-exact.
    Query("x_dbscan", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.dbscan(e, "vec_id", "embedding", "label",
          minCos = 0.25, minPts = 4, saltBuckets = 4)
        .orderBy("id")
    },
    // DBSCAN mirrored: the x_semdedup pair CTE at 0.25, neighbor counts
    // over both pair directions, core = cnt+1 >= 4, min-label closure
    // over CORE-core edges only, border = min adjacent core cluster.
    oracle =
      """WITH RECURSIVE z AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(unnest(a.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(b.embedding) AS DOUBLE) AS y
        | FROM embeddings a JOIN embeddings b
        |   ON a.label = b.label AND a.vec_id < b.vec_id),
        |d AS (
        | SELECT id_a, id_b,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS na,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nb
        | FROM z GROUP BY id_a, id_b),
        |cpairs AS (
        | SELECT id_a, id_b FROM d
        | WHERE ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) >= 0.25),
        |adj AS (
        | SELECT id_a AS id, id_b AS nbr FROM cpairs
        | UNION ALL SELECT id_b, id_a FROM cpairs),
        |cores AS (
        | SELECT e.vec_id AS id FROM embeddings e
        | WHERE 1 + (SELECT COUNT(*) FROM adj WHERE adj.id = e.vec_id) >= 4),
        |cedges AS (
        | SELECT p.id_a, p.id_b FROM cpairs p
        | JOIN cores ca ON ca.id = p.id_a JOIN cores cb ON cb.id = p.id_b),
        |cadj AS (
        | SELECT id_a AS u, id_b AS v FROM cedges
        | UNION SELECT id_b, id_a FROM cedges),
        |reach AS (
        | SELECT id AS node, id AS lab FROM cores
        | UNION
        | SELECT a.v AS node, r.lab FROM reach r JOIN cadj a ON a.u = r.node),
        |clab AS (SELECT node AS id, MIN(lab) AS cluster FROM reach GROUP BY node),
        |blab AS (
        | SELECT adj.id, MIN(c.cluster) AS bc
        | FROM adj JOIN clab c ON c.id = adj.nbr
        |   JOIN cores co ON co.id = adj.nbr
        | GROUP BY adj.id)
        |SELECT e.vec_id AS id,
        | CASE WHEN co.id IS NOT NULL THEN 'core'
        |      WHEN b.bc IS NOT NULL THEN 'border'
        |      ELSE 'noise' END AS role,
        | CASE WHEN co.id IS NOT NULL THEN c.cluster ELSE b.bc END AS cluster
        |FROM embeddings e
        |LEFT JOIN cores co ON co.id = e.vec_id
        |LEFT JOIN clab c ON c.id = e.vec_id
        |LEFT JOIN blab b ON b.id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin),

    // Batch kNN join: top-5 cosine neighbors for EVERY query vector in
    // one corpus scan (bounded top-k' aggregator keeps the shuffle
    // candidate-sized), exact-decimal rescore + rank — oracle is the full
    // quadratic window in DuckDB.
    Query("x_knn_join", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnJoin(
          e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20),
          "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    oracle =
      """WITH z AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(q.embedding) AS DOUBLE) AS y
        | FROM embeddings q JOIN embeddings c
        |   ON q.vec_id < 20 AND c.vec_id >= 20),
        |d AS (
        | SELECT query_id, neighbor_id,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
        | FROM z GROUP BY 1, 2),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) AS cos,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
        |      neighbor_id) AS rank
        | FROM d)
        |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // kNN classification (weak supervision / label transfer): unlabeled
    // vectors take the majority label of their 5 nearest labeled
    // neighbors; the vote is count-based with smallest-label tiebreak —
    // float-free, so the oracle reproduces it exactly on top of the
    // quadratic kNN chain.
    Query("x_knn_classify", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnClassify(
          e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20),
          "vec_id", "embedding", "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    },
    // The x_knn_join quadratic chain + label join + count-based majority
    // vote (smallest-label tiebreak — float-free, exactly the engine's).
    oracle =
      """WITH z AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(q.embedding) AS DOUBLE) AS y
        | FROM embeddings q JOIN embeddings c
        |   ON q.vec_id < 20 AND c.vec_id >= 20),
        |d AS (
        | SELECT query_id, neighbor_id,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
        | FROM z GROUP BY 1, 2),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
        |      neighbor_id) AS rank
        | FROM d),
        |nb AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
        |v AS (
        | SELECT nb.query_id, e.label AS lab, COUNT(*) AS nv
        | FROM nb JOIN embeddings e ON nb.neighbor_id = e.vec_id
        | GROUP BY 1, 2),
        |tot AS (
        | SELECT query_id, CAST(SUM(nv) AS BIGINT) AS n_neighbors
        | FROM v GROUP BY 1),
        |pick AS (
        | SELECT query_id, lab, nv,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY nv DESC, lab ASC) AS rk
        | FROM v)
        |SELECT p.query_id, p.lab AS pred_label,
        | CAST(p.nv AS BIGINT) AS n_votes, t.n_neighbors
        |FROM pick p JOIN tot t USING (query_id)
        |WHERE p.rk = 1 ORDER BY p.query_id""".stripMargin),

    // PQ ANN in its PRODUCTION regime, self-verifying: small codebooks
    // (m=8 subspaces × k=256 codes — the driver holds k·dim doubles,
    // never corpus-sized state), one Lloyd refinement round, ADC top-400
    // candidates, exact-decimal rescore of survivors. The candidate
    // budget is sized to the corpus's geometry, verified at every
    // shipped SF: these embeddings are near-orthogonal (top-10 cos ≈
    // 0.31 vs a bulk at 0.25–0.30), the adversarial regime for PQ —
    // m=4/top-100 and m=8/top-100 each missed one top-10 member at 2000
    // vectors by < 5e-4 cosine. Recall is proven in-query instead of by
    // construction: the rescored top-10 left-joins the brute-force exact
    // top-10 (native two-phase prune, one cheap corpus pass) and emits
    // `in_exact_topk`, which the oracle pins TRUE — any PQ recall miss
    // flips the flag (and the rows) red, which is exactly how the
    // too-small budgets were caught.
    Query("x_pq_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0).select(col("embedding"))
        .collect().head.getSeq[Float](0).toArray
      val corpus = e.where(col("vec_id") =!= 0)
      val (encoded, books) = Similarity.productQuantize(
        corpus, "vec_id", "embedding", m = 8, k = 256, lloydIters = 1)
      val cand = Similarity.pqCandidates(encoded, books, qv, topN = 400)
      val q = array(qv.map(v => lit(v)): _*)
      val pqTop = corpus.join(cand.select(col("vec_id")), "vec_id")
        .select(col("vec_id"), col("label"),
          round(Similarity.cosineExact(col("embedding"), q), 9).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
      val bfTop = corpus
        .select(col("vec_id"), col("embedding"),
          Similarity.cosine(col("embedding"), q).as("cf"))
        .orderBy(col("cf").desc, col("vec_id")).limit(50)
        .select(col("vec_id"),
          round(Similarity.cosineExact(col("embedding"), q), 9).as("bf_cos"))
        .orderBy(col("bf_cos").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(true).as("in_exact_topk"))
      pqTop.join(bfTop, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("cos"),
          coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
        .orderBy(col("cos").desc, col("vec_id"))
    },
    // Same exact top-10 as brute force, plus the recall flag the query
    // computes by joining its PQ answer against the in-query brute-force
    // top-10 — TRUE by definition on the oracle side, and only TRUE on
    // the Spark side when PQ's ADC top-400 really contained the top-10.
    oracle =
      s"""WITH topk AS ($cosineTopkOracle)
         |SELECT vec_id, label, cos, TRUE AS in_exact_topk FROM topk
         |ORDER BY cos DESC, vec_id""".stripMargin),

    // IVF ANN, self-verifying: probing ALL centroid buckets makes IVF
    // exhaustive (recall = 1), so the output must equal the brute-force
    // top-k — same oracle as x_cosine_topk. The probe-limited approximate
    // path is spec-covered (FunctionsSpec "ivfTopK"); this query verifies
    // the assignment + probe machinery end-to-end against the oracle.
    Query("x_ivf_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0).select(col("embedding"))
        .collect().head.getSeq[Float](0).toArray
      val (assigned, centroids) = Similarity.ivfAssign(
        e.where(col("vec_id") =!= 0), "vec_id", "embedding", nCentroids = 16,
        kmeansIters = 2) // spherical-Lloyd-refined quantizer, still exhaustive
      val qd = qv.map(_.toDouble)
      val probes = centroids.zipWithIndex
        .map { case (c, i) => (i, c.zip(qd).map { case (a, b) => a * b }.sum) }
        .sortBy(-_._2).map(_._1) // every bucket, best-first
      val q = array(qv.map(v => lit(v)): _*)
      assigned.where(col("ivf_bucket").isin(probes: _*))
        .select(col("vec_id"), col("label"),
          round(Similarity.cosineExact(col("embedding"), q), 9).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    },
    oracle = cosineTopkOracle),

    // Persisted dense ANN index — the tfidfIndex/tfidfProbeIndex
    // convention applied to embeddings: ivfIndex freezes a deterministic
    // spherical-k-means quantizer (k=8, 2 rounds — the x_kmeans chain)
    // plus cluster-filed postings, BOTH round-tripped through parquet
    // (the probe consumes the persisted artifact, not the live plans,
    // and the postings are partitioned by cluster so probing prunes
    // unread lists at the scan). The probe is SUB-exhaustive (nProbe =
    // 3 of 8) and still hash-oracled: probe selection ranks exact-
    // decimal dots against the round-9 centroid literals, so DuckDB
    // replays the entire frozen chain — which lists are probed, which
    // candidates are scored, and the final ranks — bit-for-bit. The
    // in_exact_topk flag (vs the in-query brute-force top-5) records
    // the recall trade IN the oracled output.
    Query("x_ivf_probe", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, postings) = Similarity.ivfIndex(
        e, "vec_id", "embedding", nCentroids = 8, rounds = 2)
      val tmp = scratchDir("graft-ivfidx")
      cents.write.mode("overwrite").parquet(s"$tmp/centroids")
      postings.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$tmp/postings")
      val queries = e.where(col("vec_id") % 125 === 0)
      val probed = Similarity.ivfProbeIndex(queries, "vec_id", "embedding",
        s.read.parquet(s"$tmp/centroids"), s.read.parquet(s"$tmp/postings"),
        k = 5, nProbe = 3, excludeSelf = true)
      val exact = Similarity.knnJoin(queries, e,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), lit(true).as("in_exact_topk"))
      probed.join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"),
          coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
        .orderBy("query_id", "rank")
    },
    // The persisted-IVF probe replayed END-TO-END: the frozen quantizer
    // is the x_kmeans chain (kmeansCte — smallest-id seeds, 2 exact
    // Lloyd rounds, round-9 unit centroids), probe selection ranks
    // decimal-exact (query · centroid) dots with ties to the smaller
    // cluster, candidates are EXACTLY the nProbe=3 probed lists'
    // members, and pair scores are decimal-exact round-9 cosines — so
    // the sub-exhaustive result (including which near-neighbors recall
    // MISSES) hash-matches. in_exact_topk recomputes the brute-force
    // top-5 per query; a probe/assignment bug flips rows AND flags.
    oracle =
      s"""WITH $kmeansCte,
         |qs AS (
         | SELECT vec_id AS qid FROM embeddings WHERE vec_id % 125 = 0),
         |qd AS (
         | SELECT q.qid, c.c,
         |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
         | FROM qs q JOIN vv ON vv.vec_id = q.qid
         |  JOIN e ON e.vec_id = q.qid JOIN c2 c ON c.pos = e.pos
         | GROUP BY 1, 2),
         |pr AS (
         | SELECT qid, c FROM (
         |  SELECT qid, c,
         |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, c) AS rk
         |  FROM qd) WHERE rk <= 3),
         |cand AS (
         | SELECT p.qid, a.vec_id
         | FROM pr p JOIN kassign a ON a.cluster = p.c
         | WHERE a.vec_id <> p.qid),
         |pd AS (
         | SELECT cd.qid, cd.vec_id,
         |  CAST(SUM(CAST(eq.x * ec.x AS DECIMAL(30,15))) AS DOUBLE) AS dot
         | FROM cand cd
         |  JOIN e eq ON eq.vec_id = cd.qid
         |  JOIN e ec ON ec.vec_id = cd.vec_id AND ec.pos = eq.pos
         | GROUP BY 1, 2),
         |ranked AS (
         | SELECT qid AS query_id, vec_id AS neighbor_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         | FROM (
         |  SELECT pd.qid, pd.vec_id,
         |   ROUND(pd.dot / SQRT(nc.n2 * nq.n2), 9) AS cos
         |  FROM pd JOIN n nq ON nq.vec_id = pd.qid
         |   JOIN n nc ON nc.vec_id = pd.vec_id)),
         |bfd AS (
         | SELECT q.qid, ec.vec_id,
         |  CAST(SUM(CAST(eq.x * ec.x AS DECIMAL(30,15))) AS DOUBLE) AS dot
         | FROM qs q JOIN e eq ON eq.vec_id = q.qid
         |  JOIN e ec ON ec.pos = eq.pos
         |  JOIN vv ON vv.vec_id = ec.vec_id
         | WHERE ec.vec_id <> q.qid
         | GROUP BY 1, 2),
         |bft AS (
         | SELECT qid, vec_id FROM (
         |  SELECT bfd.qid, bfd.vec_id,
         |   ROW_NUMBER() OVER (PARTITION BY bfd.qid
         |     ORDER BY ROUND(bfd.dot / SQRT(nc.n2 * nq.n2), 9) DESC,
         |       bfd.vec_id) AS rk
         |  FROM bfd JOIN n nq ON nq.vec_id = bfd.qid
         |   JOIN n nc ON nc.vec_id = bfd.vec_id)
         | WHERE rk <= 5)
         |SELECT r.query_id, r.neighbor_id, r.cos, r.rank,
         | (bft.vec_id IS NOT NULL) AS in_exact_topk
         |FROM ranked r LEFT JOIN bft
         | ON bft.qid = r.query_id AND bft.vec_id = r.neighbor_id
         |WHERE r.rank <= 5
         |ORDER BY r.query_id, r.rank""".stripMargin),

    // Incremental index maintenance: the quantizer trains on the OLD
    // snapshot only (vec_id % 3 ≠ 1), the arrival batch files into the
    // FROZEN centroids with one map pass (ivfIndexAppend), and the new
    // postings APPEND to the stored cluster-partitioned parquet — the
    // old index never moves, the batch never trains. The probe then
    // reads the grown index; the oracle retrains on the old slice but
    // assigns EVERYTHING, replaying exactly what the engine persisted.
    Query("x_ivf_append", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val old = e.where(col("vec_id") % 3 =!= 1)
      val fresh = e.where(col("vec_id") % 3 === 1)
      val (cents, post) = Similarity.ivfIndex(old, "vec_id", "embedding",
        nCentroids = 8, rounds = 2)
      val tmp = scratchDir("graft-ivfapp")
      cents.write.parquet(s"$tmp/centroids")
      post.write.partitionBy("cluster").parquet(s"$tmp/postings")
      Similarity.ivfIndexAppend(s.read.parquet(s"$tmp/centroids"), fresh,
          "vec_id", "embedding")
        .write.mode("append").partitionBy("cluster").parquet(s"$tmp/postings")
      val queries = e.where(col("vec_id") % 125 === 0)
      Similarity.ivfProbeIndex(queries, "vec_id", "embedding",
          s.read.parquet(s"$tmp/centroids"), s.read.parquet(s"$tmp/postings"),
          k = 5, nProbe = 3, excludeSelf = true)
        .orderBy("query_id", "rank")
    },
    // The grown index replayed: train-on-old / assign-all (ivfAppendCte),
    // then the same sub-exhaustive probe chain as x_ivf_probe — any
    // divergence between the appended parquet state and a from-scratch
    // frozen-centroid assignment flips rows.
    oracle =
      s"""WITH $ivfAppendCte,
         |qs AS (
         | SELECT vec_id AS qid FROM embeddings WHERE vec_id % 125 = 0),
         |qd AS (
         | SELECT q.qid, c.c,
         |  CAST(SUM(CAST(e.x * c.w AS DECIMAL(30,15))) AS DOUBLE) AS dot
         | FROM qs q JOIN vv ON vv.vec_id = q.qid
         |  JOIN e ON e.vec_id = q.qid JOIN c2 c ON c.pos = e.pos
         | GROUP BY 1, 2),
         |pr AS (
         | SELECT qid, c FROM (
         |  SELECT qid, c,
         |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, c) AS rk
         |  FROM qd) WHERE rk <= 3),
         |cand AS (
         | SELECT p.qid, a.vec_id
         | FROM pr p JOIN kassign a ON a.cluster = p.c
         | WHERE a.vec_id <> p.qid),
         |pd AS (
         | SELECT cd.qid, cd.vec_id,
         |  CAST(SUM(CAST(eq.x * ec.x AS DECIMAL(30,15))) AS DOUBLE) AS dot
         | FROM cand cd
         |  JOIN e eq ON eq.vec_id = cd.qid
         |  JOIN e ec ON ec.vec_id = cd.vec_id AND ec.pos = eq.pos
         | GROUP BY 1, 2)
         |SELECT qid AS query_id, vec_id AS neighbor_id, cos, rank FROM (
         | SELECT qid, vec_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         | FROM (
         |  SELECT pd.qid, pd.vec_id,
         |   ROUND(pd.dot / SQRT(nc.n2 * nq.n2), 9) AS cos
         |  FROM pd JOIN n nq ON nq.vec_id = pd.qid
         |   JOIN n nc ON nc.vec_id = pd.vec_id))
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    // Blocked batch kNN join — knnJoin when the query side does NOT
    // broadcast (self-kNN-graph shape: queries ⊂ corpus): candidate
    // generation is the coarse-bucket hash EQUI-join (never a broadcast
    // nested loop of queries × corpus), candidates reduce through the
    // bounded top-k′ aggregator, survivors exact-rescore through id
    // joins. Budget-tested at sf0.01 AND sf0.1 (round-5 discipline):
    // this corpus is near-orthogonal (top cosines 0.27–0.33) and
    // IVF-adversarial — sub-exhaustive probing tops out at 94% recall
    // (nProbe=12/16 → 189/200 exact matches at sf0.1) — so the ORACLED
    // regime probes every bucket (recall structurally 1, the x_ivf_ann
    // discipline) and the in-query flag pins it; probe-limited recall is
    // spec-covered (FunctionsSpec) as the documented trade.
    Query("x_knn_blocked", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.where(pmod(col("vec_id"), lit(20)) === 0)
      val blocked = Similarity.knnJoinBlocked(queries, e,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 16, kmeansIters = 1,
        margin = 40, saltBuckets = 2, excludeSelf = true)
      val exact = Similarity.knnJoin(queries, e,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"), lit(true).as("in_exact_topk"))
      blocked.join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"),
          coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
        .orderBy("query_id", "rank")
    },
    // Blocked kNN join (self-kNN graph, every 20th vector as query, self
    // excluded): the full quadratic window, plus the pinned recall flag.
    oracle =
      """WITH z AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CAST(unnest(c.embedding) AS DOUBLE) AS x,
        |  CAST(unnest(q.embedding) AS DOUBLE) AS y
        | FROM embeddings q JOIN embeddings c
        |   ON q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id),
        |d AS (
        | SELECT query_id, neighbor_id,
        |  SUM(CAST(x * y AS DECIMAL(30,15))) AS dot,
        |  SUM(CAST(x * x AS DECIMAL(30,15))) AS nc,
        |  SUM(CAST(y * y AS DECIMAL(30,15))) AS nq
        | FROM z GROUP BY 1, 2),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) AS cos,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nc AS DOUBLE) * CAST(nq AS DOUBLE)), 9) DESC,
        |      neighbor_id) AS rank
        | FROM d)
        |SELECT query_id, neighbor_id, cos, rank, TRUE AS in_exact_topk
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // Mutual-kNN graph over the WHOLE corpus (every row is a query, no
    // broadcast): edges where each side ranks in the other's top-5.
    // Exhaustive probing (nProbe = nCentroids) makes the blocked path
    // exact, so DuckDB reproduces the full graph from the quadratic
    // rank window — rows+schema+hash, no recall flag needed.
    Query("x_knn_graph", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mutualKnnEdges(e, "vec_id", "embedding", k = 5,
          nCentroids = 16, nProbe = 16, kmeansIters = 1,
          margin = 40, saltBuckets = 2)
        .orderBy("id_a", "id_b")
    },
    oracle =
      s"""WITH $mutualKnnCte
        |SELECT id_a, id_b, cos FROM mutual
        |ORDER BY id_a, id_b""".stripMargin),

    // Composed IVF→PQ cascade (probe the inverted lists, ADC-rank only
    // within them, exact-rescore the ADC top-400) in the x_pq_ann
    // production regime: m=8 × k=256 codebooks, one Lloyd round.
    // Budget-tested at sf0.1 first: sub-exhaustive probing bottoms out
    // at 40–60% recall on this near-orthogonal corpus (nProbe=8/16 →
    // 4/10), so the oracled regime probes all lists — the ADC budget
    // (proven at sf0.1 in round 5) does the pruning, and the recall
    // flag pins the whole cascade; probe-limited probing is
    // spec-covered (FunctionsSpec).
    Query("x_ivfpq_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0).select(col("embedding"))
        .collect().head.getSeq[Float](0).toArray
      val corpus = e.where(col("vec_id") =!= 0)
      val cascade = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", qv,
        k = 10, nCentroids = 16, nProbe = 16, kmeansIters = 1,
        m = 8, codebookK = 256, lloydIters = 1, adcTopN = 400)
      val q = array(qv.map(v => lit(v)): _*)
      val bfTop = corpus
        .select(col("vec_id"), col("embedding"),
          Similarity.cosine(col("embedding"), q).as("cf"))
        .orderBy(col("cf").desc, col("vec_id")).limit(50)
        .select(col("vec_id"),
          round(Similarity.cosineExact(col("embedding"), q), 9).as("bf_cos"))
        .orderBy(col("bf_cos").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), lit(true).as("in_exact_topk"))
      cascade.join(bfTop, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cos"),
          coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
        .orderBy(col("cos").desc, col("vec_id"))
    },
    // IVF→PQ cascade with exhaustive probing: exact top-10 + pinned flag
    // (any probe/ADC recall miss flips rows AND flag red).
    oracle =
      s"""WITH topk AS ($cosineTopkOracle)
         |SELECT vec_id, cos, TRUE AS in_exact_topk FROM topk
         |ORDER BY cos DESC, vec_id""".stripMargin),
  )
}
