package graft
package gates

import graft.SparkEntry._
import org.apache.spark.sql.functions._

/** Image, audio and video payload gates over the committed golden fixtures. */
private[graft] object MultimodalGates {

  val gates: Seq[Gate] = Seq(
    // multimodal plumbing: binary payload + frame sampling
    Gate("multimodal_features", (s, dir) => {
      val bin = encode(col("text"), "utf-8")
      val frames = graft.multimodal.Multimodal.binaryFrames(bin, 64, 48)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(bin).cast("long").as("n_bytes"),
        size(frames).cast("long").as("n_frames"),
        // hex, not cast-to-string: the 64-byte slice may split a UTF-8
        // codepoint, and the oracle must compare bytes, not characters
        hex(get(frames, lit(0))).as("first_frame_hex"))
    },
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "CAST(CASE WHEN octet_length(encode(text)) < 64 THEN 0 ELSE floor((octet_length(encode(text)) - 64) / 48) + 1 END AS BIGINT) AS n_frames, " +
        // byte-exact frame compare: hex the whole blob, slice 128 hex chars
        // = 64 bytes (DuckDB cannot substring a BLOB directly)
        "CASE WHEN octet_length(encode(text)) >= 64 THEN substring(hex(encode(text)), 1, 128) END AS first_frame_hex " +
        "FROM documents"),

    // real image-header decode over committed PNG/JPEG/GIF/BMP payloads (plus
    // a non-image miss case): format + pixel dimensions from the pure-JVM
    // container parse, byte entropy from the kernel. Oracle: the fixture's
    // expected columns, parsed independently in python (tools/make_golden.py).
    Gate("multimodal_decode", (s, dir) =>
      graft.multimodal.Multimodal.extractMediaFeatures(
        s.read.parquet(s"$goldenDir/images.parquet"), col("img_id"), col("payload"))
        .toDF()
        .select(col("id").as("img_id"), col("format"), col("width"), col("height"),
          col("n_bytes"), col("entropy")),
      // expected format/width/height/entropy parsed independently in python
      // (struct-based header reads) at fixture build time
      "SELECT img_id, format, width, height, n_bytes, entropy " +
        s"FROM read_parquet('$goldenDir/images.parquet')"),

    // real RIFF/WAVE header decode over committed WAV payloads (written by
    // the python stdlib wave module; expected facts re-parsed by an
    // independent chunk walk in tools/make_golden.py)
    Gate("multimodal_audio", (s, dir) =>
      graft.multimodal.Multimodal.extractAudioFeatures(
        s.read.parquet(s"$goldenDir/audio.parquet"), col("audio_id"), col("payload"))
        .toDF()
        .select(col("id").as("audio_id"), col("channels"), col("sample_rate"),
          col("bits_per_sample"), col("n_frames"), col("n_bytes")),
      "SELECT audio_id, channels, sample_rate, bits_per_sample, n_frames, n_bytes " +
        s"FROM read_parquet('$goldenDir/audio.parquet')"),

    // real MP4/AVI container-header decode over committed synthetic payloads
    // built box-by-box in python (tools/make_golden.py) — the expected
    // columns ARE the construction parameters
    Gate("multimodal_video", (s, dir) =>
      graft.multimodal.Multimodal.extractVideoFeatures(
        s.read.parquet(s"$goldenDir/videos.parquet"), col("video_id"), col("payload"))
        .toDF()
        .select(col("id").as("video_id"), col("format"), col("width"), col("height"),
          col("duration_ms"), col("n_frames"), col("n_bytes")),
      "SELECT video_id, format, width, height, duration_ms, n_frames, n_bytes " +
        s"FROM read_parquet('$goldenDir/videos.parquet')"),

    // frame-extraction plan: k=4 uniformly-spaced frame indices + timestamps
    // per golden video from the real container header (integer arithmetic,
    // narrow plan — the oracle recomputes the same integers from the
    // fixture's construction-parameter columns)
    Gate("multimodal_frames", (s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        s.read.parquet(s"$goldenDir/videos.parquet"), col("video_id"), col("payload"), k = 4)
        .select(col("id").as("video_id"), col("frame_idx"), col("ts_ms")),
      // same integer frame-index arithmetic as Multimodal.sampleFrames,
      // recomputed from the fixture's construction-parameter columns
      "WITH v AS (SELECT video_id, n_frames, duration_ms " +
        s"FROM read_parquet('$goldenDir/videos.parquet') " +
        "WHERE n_frames IS NOT NULL AND n_frames > 0), " +
        "f AS (SELECT DISTINCT video_id, n_frames, duration_ms, " +
        "CAST(i.i * n_frames // 4 AS BIGINT) AS frame_idx " +
        "FROM v, (SELECT unnest(range(4)) AS i) i) " +
        "SELECT video_id, frame_idx, " +
        "CAST(frame_idx * duration_ms // n_frames AS BIGINT) AS ts_ms FROM f"),

    // exact media-payload dedup: the image fixtures unioned with
    // shifted-id byte-identical copies; keep-smallest-id per payload. The
    // decision shuffle carries (md5, id) rows only — never payload bytes;
    // the oracle groups on the blob itself (same keep set, no hash needed)
    Gate("multimodal_dedup", (s, dir) => {
      val imgs = s.read.parquet(s"$goldenDir/images.parquet")
        .select(col("img_id"), col("payload"), col("format"), col("n_bytes"))
      val dupes = imgs.select((col("img_id") + 100L).as("img_id"),
        col("payload"), col("format"), col("n_bytes"))
      graft.multimodal.Multimodal.dropExactPayloadDuplicates(
        imgs.unionByName(dupes), col("img_id"), col("payload"))
        .select(col("img_id"), col("format"), col("n_bytes"))
    },
      "WITH u AS (SELECT img_id, payload, format, n_bytes " +
        s"FROM read_parquet('$goldenDir/images.parquet') " +
        "UNION ALL SELECT img_id + 100, payload, format, n_bytes " +
        s"FROM read_parquet('$goldenDir/images.parquet')), " +
        "w AS (SELECT MIN(img_id) AS keep_id FROM u GROUP BY payload) " +
        "SELECT u.img_id, u.format, u.n_bytes FROM u JOIN w ON u.img_id = w.keep_id"),
  )
}
