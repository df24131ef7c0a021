package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import QueryKit._

/** Multimodal and streaming: perceptual-hash near-dups for images, video
  * and audio, byte-level media decode.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(

    // Video scene-level near-dup: blobs split into 64-byte "frames",
    // each frame gets its perceptual bit-grid, and videos pair on ≥ 2
    // shared DISTINCT frame signatures (the inverted-index shape —
    // signature equi-join, never frames × frames). Planted copies damage
    // exactly one frame (first char swapped), so every planted pair with
    // ≥ 3 frames must surface with shared_frames = frames − 1.
    Query("x_video_neardup", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 13 === 0 && length(col("text")) >= 129)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          concat(lit("#"), expr("substring(text, 2)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "video", "mp4")
      graft.multimodal.Multimodal.videoNearDupByFrames(media,
          window = 64, minShared = 2)
        .orderBy("id_a", "id_b")
    },
    // 64-byte frames with cells = 64 mean one byte per cell, so a frame
    // cell is ascii·131 mod 256 directly (no stripe sum); signatures
    // dedup per video BEFORE the pair join, mirroring the engine.
    oracle =
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 50000000, '#' || substr(text, 2) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 13 = 0 AND length(text) >= 129),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |gs AS (SELECT doc_id, (i - 1) // 64 AS f, (i - 1) % 64 AS c,
        |        (ascii(substr(text, CAST(i AS INTEGER), 1)) % 256) * 131 % 256 AS s
        |       FROM pos),
        |fr AS (SELECT doc_id, unnest(range(0, (length(text) + 63) // 64)) AS f
        |       FROM docs),
        |allc AS (SELECT r.doc_id, r.f, t.c FROM fr r
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.f, a.c, COALESCE(g.s, 0) AS s
        |         FROM allc a LEFT JOIN gs g
        |         ON g.doc_id = a.doc_id AND g.f = a.f AND g.c = a.c),
        |bits AS (SELECT doc_id, f,
        |  string_agg(CASE WHEN s > 127 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1, 2),
        |sig AS (SELECT DISTINCT doc_id, bs FROM bits),
        |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  COUNT(*) AS shared_frames
        | FROM sig x JOIN sig y ON x.bs = y.bs AND x.doc_id < y.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_frames FROM pairs WHERE shared_frames >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Perceptual-hash image near-dup over the stub decode: planted
    // byte-local perturbations (2 leading chars swapped) move at most 2
    // grid cells, so every planted pair sits within Hamming 2 and the
    // 4-band pigeonhole must surface it; the ORACLE recomputes the whole
    // chain byte-for-byte (stripe-sum grid, fixed-threshold bits, banded
    // candidates, exact Hamming) — a full-chain oracle, not pinned recall.
    Query("x_phash_neardup", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 7 === 0 && length(col("text")) >= 2)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "image", "png")
      graft.multimodal.Multimodal.phashNearDupPairs(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    // Recomputes the engine's whole perceptual chain on ASCII bytes (the
    // x_multimodal_decode convention): stripe sums mod 256 over byte
    // positions ≡ c (mod 64), fixed mid-gray threshold, 4×16-bit band
    // candidate join (complete for Hamming ≤ 3 by pigeonhole), exact
    // Hamming over the 64-char bit strings.
    oracle =
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 40000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 7 = 0 AND length(text) >= 2),
        |pos AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS i, text
        |        FROM docs),
        |pb AS (SELECT doc_id, (i - 1) % 64 AS c,
        |        ascii(substr(text, CAST(i AS INTEGER), 1))::BIGINT
        |          * (2 * ((i - 1) // 64) + 1) AS v FROM pos),
        |gsum AS (SELECT doc_id, c, (SUM(v) % 256) * 131 % 256 AS s
        |         FROM pb GROUP BY 1, 2),
        |allc AS (SELECT d.doc_id, t.c FROM docs d
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.c, COALESCE(g.s, 0) AS s
        |         FROM allc a LEFT JOIN gsum g
        |         ON g.doc_id = a.doc_id AND g.c = a.c),
        |bits AS (SELECT doc_id,
        |  string_agg(CASE WHEN s > 127 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1),
        |bk AS (SELECT doc_id, bs, b, substr(bs, CAST(1 + 16 * b AS INTEGER), 16) AS key
        |       FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |          x.bs AS ba, y.bs AS bb
        |         FROM bk x JOIN bk y
        |         ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
        |ham AS (SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN substr(ba, CAST(i AS INTEGER), 1)
        |              <> substr(bb, CAST(i AS INTEGER), 1)
        |         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        | FROM cand)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Audio near-dup by banded PCM fingerprint — the phash discipline on
    // the audio modality: text bytes stand in for a PCM16 stream (stub
    // framing; the band math is byte-local, so the planted re-encodes —
    // first two bytes = sample 0 = band 0 perturbed — are pigeonhole-
    // guaranteed candidates and land within the Hamming budget). Full
    // chain (16-bit LE samples → odd-weighted floor-mod-65536 bands →
    // ×131 spread → threshold bits → banding → exact Hamming) mirrored
    // in DuckDB, bit-exact.
    Query("x_audio_neardup", (s, dir) => {
      val base = t(s, dir, "documents").where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 7 === 0 && length(col("text")) >= 2)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.select(col("doc_id"), col("text")).unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "audio", "pcm16")
      graft.multimodal.Multimodal.audioNearDupPairs(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    // The audio chain mirrored end-to-end over the (ASCII) text bytes:
    // 16-bit LE samples from byte pairs, odd-weighted stripe sums in
    // floor-mod 65536 (DuckDB's % truncates, hence the +65536 fold),
    // ×131 spread, mid-range threshold, 4-band pigeonhole join, exact
    // Hamming ≤ 3.
    oracle =
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 40000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 7 = 0 AND length(text) >= 2),
        |sm AS (SELECT doc_id, unnest(range(0, length(text) // 2)) AS k, text
        |       FROM docs),
        |ss AS (SELECT doc_id, k,
        |        CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
        |       FROM (SELECT doc_id, k,
        |         ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1))
        |         + 256 * ascii(substr(text, CAST(2 * k + 2 AS INTEGER), 1)) AS raw
        |        FROM sm)),
        |bv AS (SELECT doc_id, k % 64 AS c,
        |        s * (2 * (k // 64) + 1) AS v FROM ss),
        |gsum AS (SELECT doc_id, c, SUM(v) AS sv FROM bv GROUP BY 1, 2),
        |dn AS (SELECT doc_id, length(text) // 2 AS ns FROM docs),
        |allc AS (SELECT d.doc_id, t.c FROM docs d
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.c,
        |          ((((COALESCE(g.sv, 0) + d.ns * (a.c + 1)) % 65536)
        |            + 65536) % 65536 * 131) % 65536 AS b
        |         FROM allc a JOIN dn d ON d.doc_id = a.doc_id
        |         LEFT JOIN gsum g
        |         ON g.doc_id = a.doc_id AND g.c = a.c),
        |bits AS (SELECT doc_id,
        |  string_agg(CASE WHEN b > 32767 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1),
        |bk AS (SELECT doc_id, bs, b, substr(bs, CAST(1 + 16 * b AS INTEGER), 16) AS key
        |       FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |          x.bs AS ba, y.bs AS bb
        |         FROM bk x JOIN bk y
        |         ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
        |ham AS (SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN substr(ba, CAST(i AS INTEGER), 1)
        |              <> substr(bb, CAST(i AS INTEGER), 1)
        |         THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        | FROM cand)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Window-level audio containment near-dup — the video shared-scene
    // discipline on the sample stream: planted re-encodes perturb only
    // sample 0 (first two bytes), so every other window's fingerprint
    // survives byte-identically and the signature equi-join recalls the
    // pair; whole chain mirrored in DuckDB.
    Query("x_audio_windows", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull)
      val planted = base
        .where(col("doc_id") % 13 === 0 && length(col("text")) >= 200)
        .select((col("doc_id") + 70000000L).as("doc_id"),
          concat(lit("~!"), expr("substring(text, 3)")).as("text"))
      val media = graft.multimodal.Multimodal.asMediaTable(
        base.unionByName(planted)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "audio", "pcm16")
      graft.multimodal.Multimodal.audioNearDupByWindows(media,
          windowSamples = 32, minShared = 2)
        .orderBy("id_a", "id_b")
    },
    // Per-window sample chain mirrored: window w = k DIV 32, in-window
    // band c = k MOD 32 (single-sample stripes, weight 1), the same
    // floor-mod-65536 ×131 spread and mid-range bit, DISTINCT per-row
    // signatures, equi-join containment count ≥ 2.
    oracle =
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        | UNION ALL
        | SELECT doc_id + 70000000, '~!' || substr(text, 3) FROM documents
        | WHERE text IS NOT NULL AND doc_id % 13 = 0 AND length(text) >= 200),
        |sm AS (SELECT doc_id, unnest(range(0, length(text) // 2)) AS k, text
        |       FROM docs),
        |ss AS (SELECT doc_id, k,
        |        CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
        |       FROM (SELECT doc_id, k,
        |         ascii(substr(text, CAST(2 * k + 1 AS INTEGER), 1))
        |         + 256 * ascii(substr(text, CAST(2 * k + 2 AS INTEGER), 1)) AS raw
        |        FROM sm)),
        |gs AS (SELECT doc_id, k // 32 AS w, k % 32 AS c, s AS sv FROM ss),
        |wr AS (SELECT doc_id, w,
        |        LEAST(32, (length(text) // 2) - 32 * w) AS wn
        |       FROM (SELECT doc_id, text,
        |         unnest(range(0, ((length(text) // 2) + 31) // 32)) AS w
        |        FROM docs)),
        |allc AS (SELECT r.doc_id, r.w, r.wn, t.c FROM wr r
        |         CROSS JOIN (SELECT unnest(range(0, 64)) AS c) t),
        |grid AS (SELECT a.doc_id, a.w, a.c,
        |          ((((COALESCE(g.sv, 0) + a.wn * (a.c + 1)) % 65536)
        |            + 65536) % 65536 * 131) % 65536 AS b
        |         FROM allc a LEFT JOIN gs g
        |         ON g.doc_id = a.doc_id AND g.w = a.w AND g.c = a.c),
        |bits AS (SELECT doc_id, w,
        |  string_agg(CASE WHEN b > 32767 THEN '1' ELSE '0' END, '' ORDER BY c) AS bs
        | FROM grid GROUP BY 1, 2),
        |sig AS (SELECT DISTINCT doc_id, bs FROM bits),
        |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  COUNT(*) AS shared_windows
        | FROM sig x JOIN sig y ON x.bs = y.bs AND x.doc_id < y.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_windows FROM pairs WHERE shared_windows >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // Multimodal plumbing: opaque binary column + typed metadata (the
    // decode itself is stubbed in graft.multimodal; here the oracle-
    // checkable byte-level layer).
    Query("x_multimodal_bytes", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        col("n_chars"))
        .orderBy("doc_id"),
    oracle =
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal decode pipeline: text→binary blob→stubbed image decode →
    // per-media stats (rows-only; the stub codec is engine-specific).
    Query("x_multimodal_decode", (s, dir) => {
      val media = graft.multimodal.Multimodal.asMediaTable(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("blob")),
        "doc_id", "blob", "image", "png")
      graft.multimodal.Multimodal.decodeImages(media).orderBy("media_id")
    },
    // The stub codec derives (width, height, mean_luma) from
    // java.util.Arrays.hashCode of the UTF-8 bytes — a 31-polynomial fold
    // DuckDB reproduces exactly with list_reduce over ascii codes (the
    // synthetic corpus is pure ASCII, asserted by the length guard), so
    // even the stubbed decode path is value-checked, not just row-counted.
    oracle =
      """WITH h0 AS (
        | SELECT doc_id AS media_id,
        |  list_reduce(
        |    list_prepend(1::BIGINT, list_transform(range(1, length(text)+1),
        |      i -> ascii(substr(text, i, 1))::BIGINT)),
        |    (a, b) -> ((a * 31 + b) % 4294967296 + 4294967296) % 4294967296) AS hu
        | FROM documents),
        |h1 AS (
        | SELECT media_id,
        |  CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS h
        | FROM h0)
        |SELECT media_id,
        | CAST(16 + abs(h % 1024) AS INTEGER) AS width,
        | CAST(16 + abs(CAST((h - (h % 1024)) / 1024 AS BIGINT) % 1024) AS INTEGER) AS height,
        | CAST(abs(h % 256) AS DOUBLE) AS mean_luma
        |FROM h1 ORDER BY media_id""".stripMargin),
  )
}
