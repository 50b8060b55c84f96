package graft.queries

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: treat media payloads as opaque `BINARY`
  * columns with typed, deterministic metadata derived from the bytes.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB (dimensions/frames derived from the
  * payload's sha-256) — the Spark-side plumbing is real: binary column,
  * per-row digesting, schema of the decoded-metadata struct, and the
  * mapPartitions batch shape in [[graft.operators.MediaPipeline]].
  *
  * At 100 TB this is the pattern for media tables: binary payload column +
  * pushdown-prunable metadata columns; decode happens once per partition
  * with a pooled codec, never on the driver.
  */
object Multimodal {

  val queries: Map[String, Q] = Map(
    // payload digest + STUB decode (text bytes stand in for media payloads)
    "q42_media_meta" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
        .withColumn("sha", sha2(col("payload"), 256))
        // STUB decode: a real implementation would decode image headers here.
        .withColumn("width", (conv(substring(col("sha"), 1, 4), 16, 10).cast("long") % 240) + 16)
        .withColumn("height", (conv(substring(col("sha"), 5, 4), 16, 10).cast("long") % 240) + 16)
        .withColumn("n_frames", (col("byte_len") % 8) + 1)
        .select("doc_id", "byte_len", "sha", "width", "height", "n_frames")
        .orderBy("doc_id")
    }),

    // frame sampling + resize + feature extraction over the decoded stub
    // metadata (builder brief: "decode / feature-extract / resize /
    // frame-sample"). Every 2nd frame is materialized as a row
    // (sequence → posexplode: the generator shape of frame extraction);
    // resize fits a 64×64 box with INTEGER-ONLY aspect-preserving math
    // (w*64 div max(w,h)) so Spark and DuckDB can't diverge on fp rounding;
    // the per-frame "feature" (brightness) is the first byte of the frame's
    // deterministic stub digest. At scale this is the explode-heavy side of
    // a media pipeline: one row per sampled frame, partition-parallel, no
    // shuffle until the per-label aggregation.
    "q61_frame_sample" -> ((s: SparkSession, dir: String) => {
      val meta = Tables(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("sha", sha2(col("payload"), 256))
        .withColumn("width", (conv(substring(col("sha"), 1, 4), 16, 10).cast("long") % 240) + 16)
        .withColumn("height", (conv(substring(col("sha"), 5, 4), 16, 10).cast("long") % 240) + 16)
        .withColumn("n_frames", (length(col("payload")).cast("long") % 8) + 1)
      meta
        .withColumn("out_w", expr("width * 64 div greatest(width, height)"))
        .withColumn("out_h", expr("height * 64 div greatest(width, height)"))
        .select(col("doc_id"), col("sha"), col("out_w"), col("out_h"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(2L))).as("frame_idx"))
        .withColumn("frame_sha",
          md5(concat(col("sha"), lit(":"), col("frame_idx")).cast("binary")))
        .withColumn("brightness",
          conv(substring(col("frame_sha"), 1, 2), 16, 10).cast("long"))
        .select("doc_id", "frame_idx", "out_w", "out_h", "frame_sha", "brightness")
        .orderBy("doc_id", "frame_idx")
    }),

    // ---- cross-asset duplicate detection by frame overlap ------------------
    // The video near-dup operator: two media assets are duplicate
    // candidates when they SHARE sampled-frame content digests (re-encoded
    // uploads keep frame content where byte-level dedup fails). The stub
    // codec models a frame as a 16-token content chunk, so assets sharing
    // runs of content — the corpus's near-dups — genuinely collide.
    // Pipeline: frame generator (every 2nd chunk) → per-digest bucket
    // grouping with a size cap (ONE shuffle keyed by digest; the cap
    // drops degenerate boilerplate frames AND bounds pair expansion —
    // q37's LSH design applied to media) → in-array i<j pairs → per-pair
    // shared-frame count and containment share vs the smaller asset's
    // sampled-frame count.
    "q191_frame_dedup" -> ((s: SparkSession, dir: String) => {
      val frames = Tables(s, dir, "documents")
        .withColumn("w", TrainPrep.rawToks(col("text")))
        .filter(size(col("w")) > 0)
        .withColumn("n_chunks", expr("CAST((size(w) + 15) div 16 AS BIGINT)"))
        .select(col("doc_id"), col("n_chunks"), col("w"),
          explode(sequence(lit(0L), col("n_chunks") - 1, lit(2L))).as("ci"))
        .withColumn("frame_sha",
          md5(concat_ws(" ", slice(col("w"), (col("ci") * 16 + 1).cast("int"), lit(16)))
            .cast("binary")))
        .select("doc_id", "n_chunks", "frame_sha")
        .dropDuplicates()
      // mega-bucket screen (r13 window-count form): `frames` is already
      // deduplicated on (doc_id, n_chunks, frame_sha), so the group count
      // equals the set size — arrays form only for keys proven ≤ 32, and
      // the size comes from a window count over the same digest-keyed
      // shuffle the collect needs (Dedup.withGroupCount; spill-safe). A
      // boilerplate frame digest shared across a template family would
      // otherwise materialize the family in one reducer before the filter.
      val buckets = Dedup.withGroupCount(frames, Seq("frame_sha"))
        .filter(col("cnt").between(2, 32))
        .groupBy("frame_sha")
        .agg(sort_array(collect_set(struct(col("doc_id"), col("n_chunks")))).as("ds"))
      Dedup.bucketPairs(buckets)
        .select(col("x.doc_id").as("d1"), col("x.n_chunks").as("nc1"),
          col("y.doc_id").as("d2"), col("y.n_chunks").as("nc2"))
        .groupBy("d1", "d2")
        .agg(count(lit(1)).as("n_shared"),
          min(expr("least((nc1 + 1) div 2, (nc2 + 1) div 2)")).as("min_sampled"))
        .withColumn("overlap_bp", expr("(n_shared * 10000) div min_sampled"))
        .select("d1", "d2", "n_shared", "overlap_bp")
        .orderBy("d1", "d2")
    })
  )

  val oracles: Map[String, String] = Map(
    "q42_media_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | sha256(text) AS sha,
        | ('0x' || substr(sha256(text), 1, 4))::BIGINT % 240 + 16 AS width,
        | ('0x' || substr(sha256(text), 5, 4))::BIGINT % 240 + 16 AS height,
        | CAST(octet_length(encode(text)) AS BIGINT) % 8 + 1 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q61_frame_sample" ->
      """WITH m AS (SELECT doc_id, sha256(text) AS sha,
        |  ('0x' || substr(sha256(text), 1, 4))::BIGINT % 240 + 16 AS width,
        |  ('0x' || substr(sha256(text), 5, 4))::BIGINT % 240 + 16 AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) % 8 + 1 AS n_frames
        | FROM documents),
        |f AS (SELECT doc_id, sha,
        |  width * 64 // greatest(width, height) AS out_w,
        |  height * 64 // greatest(width, height) AS out_h,
        |  unnest(range(0, n_frames, 2)) AS frame_idx
        | FROM m)
        |SELECT doc_id, frame_idx, out_w, out_h,
        | md5(sha || ':' || frame_idx) AS frame_sha,
        | ('0x' || substr(md5(sha || ':' || frame_idx), 1, 2))::BIGINT AS brightness
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q191_frame_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |d AS (SELECT doc_id, w, CAST((len(w) + 15) // 16 AS BIGINT) AS n_chunks
        |  FROM t WHERE len(w) > 0),
        |f AS (SELECT DISTINCT doc_id, n_chunks,
        |    md5(array_to_string(w[ci * 16 + 1 : ci * 16 + 16], ' ')) AS frame_sha
        |  FROM (SELECT doc_id, n_chunks, w,
        |          unnest(range(0, n_chunks, 2)) AS ci FROM d)),
        |b AS (SELECT frame_sha FROM f GROUP BY frame_sha
        |      HAVING count(*) BETWEEN 2 AND 32),
        |p AS (SELECT a.doc_id AS d1, a.n_chunks AS nc1,
        |        c.doc_id AS d2, c.n_chunks AS nc2
        |      FROM f a JOIN b ON a.frame_sha = b.frame_sha
        |      JOIN f c ON c.frame_sha = a.frame_sha AND a.doc_id < c.doc_id)
        |SELECT d1, d2, CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST((count(*) * 10000) // min(least((nc1 + 1) // 2, (nc2 + 1) // 2))
        |    AS BIGINT) AS overlap_bp
        |FROM p GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin
  )
}
