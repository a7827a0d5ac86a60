package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Multimodal gates: the image/frame pipeline of [[graft.ops.Multimodal]]. */
private[graft] object MultimodalGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_multimodal", (s, dir) =>
      Multimodal.featureColumns(
        Multimodal.asMediaTable(docs(s, dir), "doc_id", "text")),
      s"""SELECT doc_id, 'image/stub' AS media_type,
         |  octet_length(encode(text)) AS n_bytes,
         |  (${hexToLong("md5(text)", 1, 4)} % 1024 + 1)::INT AS width,
         |  (${hexToLong("md5(text)", 5, 4)} % 1024 + 1)::INT AS height,
         |  md5(text) AS content_hash
         |FROM documents""".stripMargin),

    Gate("q_frames", (s, dir) =>
      // deterministic 4-frame sampling of every payload (video-frame /
      // audio-chunk plumbing; stub bytes, real offsets + hashing)
      Multimodal.frameSample(
        Multimodal.asMediaTable(docs(s, dir), "doc_id", "text"), 4),
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hexp,
        |    octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, hexp, n, unnest(range(0, 4)) AS i FROM m),
        |g AS (SELECT doc_id, (i + 1)::INT AS frame_idx,
        |    (i * n) // 4 AS off,
        |    (CASE WHEN i = 3 THEN n ELSE ((i + 1) * n) // 4 END) - (i * n) // 4 AS flen,
        |    md5(substring(hexp, ((i * n) // 4) * 2 + 1,
        |      ((CASE WHEN i = 3 THEN n ELSE ((i + 1) * n) // 4 END) - (i * n) // 4) * 2)) AS frame_hash
        |  FROM f)
        |SELECT doc_id, frame_idx, off, flen, frame_hash FROM g WHERE flen > 0""".stripMargin),

    Gate("q_resize", (s, dir) =>
      // decode -> resize to 224x224 (stubbed decode; deterministic
      // derived identity) — the feature-extraction preprocessing shape
      Multimodal.resize(
        Multimodal.featureColumns(
          Multimodal.asMediaTable(docs(s, dir), "doc_id", "text")), 224, 224),
      """SELECT doc_id, 'image/stub' AS media_type,
        |  CAST(224 * 224 * 3 AS BIGINT) AS n_bytes,
        |  224 AS width, 224 AS height,
        |  md5(md5(text) || '_224x224') AS content_hash
        |FROM documents""".stripMargin),

    Gate("q_phash_dedup", (s, dir) => {
      // frame/image-level perceptual dedup plumbing: per-partition codec
      // signatures -> 4x16-bit pigeonhole banding -> bit_count(xor)
      // Hamming verify; payload bytes never leave their scan partitions
      implicit val sp: SparkSession = s
      import s.implicits._
      // payload = each doc's leading 200 chars (the "thumbnail" frame):
      // the corpus has no byte-identical full texts, but near-dup docs
      // share their leading frame — exactly what frame-level dedup sees
      Multimodal.perceptualDedup(
        Multimodal.asMediaTable(
          docs(s, dir).withColumn("text", substring(col("text"), 1, 200)),
          "doc_id", "text")
          .as[graft.ops.MediaRecord])
    },
      s"""WITH sg AS (SELECT doc_id,
         |    ${hexToLong("md5(substr(text, 1, 200))", 1, 4)} AS b0,
         |    ${hexToLong("md5(substr(text, 1, 200))", 5, 4)} AS b1,
         |    ${hexToLong("md5(substr(text, 1, 200))", 9, 4)} AS b2,
         |    ${hexToLong("md5(substr(text, 1, 200))", 13, 4)} AS b3
         |  FROM documents),
         |bd AS (SELECT doc_id, 0 AS band_idx, b0 AS band_val FROM sg
         |  UNION ALL SELECT doc_id, 1, b1 FROM sg
         |  UNION ALL SELECT doc_id, 2, b2 FROM sg
         |  UNION ALL SELECT doc_id, 3, b3 FROM sg),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bd a JOIN bd b ON a.band_idx = b.band_idx
         |    AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |h AS (SELECT id1, id2,
         |    (bit_count(xor(s1.b0, s2.b0)) + bit_count(xor(s1.b1, s2.b1))
         |     + bit_count(xor(s1.b2, s2.b2))
         |     + bit_count(xor(s1.b3, s2.b3)))::BIGINT AS hamming
         |  FROM cand JOIN sg s1 ON s1.doc_id = cand.id1
         |    JOIN sg s2 ON s2.doc_id = cand.id2)
         |SELECT id1, id2, hamming FROM h WHERE hamming <= 3""".stripMargin))
}
