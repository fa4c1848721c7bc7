package graft.gates

import org.apache.spark.sql.functions._
import graft.Gate, Gate.Sql

/** Multimodal and media-container gates (H.264, MP4, ADTS). */
private[graft] object MediaGates {
  val gates: Seq[Gate] = Seq(
    // X-multimodal: binary media columns + typed metadata — REAL BMP/WAV/
    // Y4M header+signal decode plus compressed JPEG/PNG decode via the
    // JDK's javax.imageio, feature extraction through the batched
    // mapPartitions seam, and explode-style frame sampling, aggregated
    // per kind. ORACLED against independently-computed goldens
    // ([[Multimodal.goldens]]: closed-form stats from the generation
    // parameters, no parser in the loop; jpeg via a separate raster-band
    // decode) inlined as the oracle's VALUES table. The signal average is
    // a decimal SUM divided in DOUBLE (order-invariant — the repo
    // float-parity rule), so a decode regression is hash-visible.
    Gate("q_x_multimodal", (s, dir) => {
      val mm = graft.operators.Multimodal
      val media = mm.syntheticMedia(s, 300).cache()
      val feats = mm.extractFeatures(media, dim = 16)
      val decoded = mm.decodeMedia(media)
      val frames = mm.sampleFrames(media, fps = 1.0)
      feats.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
        .join(
          decoded.groupBy(col("kind"))
            .agg(sum(when(col("ok"), 1L).otherwise(0L)).as("n_decoded"),
              round(
                sum(when(col("ok"), col("signal_stat"))
                  .cast("decimal(27,12)")).cast("double") /
                  sum(when(col("ok"), 1L).otherwise(0L)),
                3).as("avg_signal")),
          Seq("kind"), "left")
        .join(
          frames.groupBy(lit("video").as("kind"))
            .agg(count(lit(1)).as("n_frames")),
          Seq("kind"), "left")
        .na.fill(0L, Seq("n_frames"))
        .orderBy(col("kind"))
    },
      // multimodal goldens: the payloads are engine-seeded (no source
      // parquet), so the oracle reads the independently-computed expected
      // stats — closed-form from the generation parameters, jpeg via a
      // separate raster-band decode ([[Multimodal.goldens]]) — inlined as a
      // VALUES table built from that computation at dump time (no
      // hand-copied constants to drift)
      Sql(() => graft.operators.Multimodal.goldensAggregateSql(300))),

    // X-h264: COMPRESSED-video structural decode — Annex-B NAL walk,
    // exp-Golomb SPS parse (profile/level/dims/crop/VUI-fps), per-picture
    // frame counting via first_mb_in_slice, IDR detection, and the
    // keyframe byte-range index (the seek table that makes keyframe
    // sampling over object storage a range-GET, not a decode). ORACLED
    // against closed-form goldens ([[H264.goldens]]: generation
    // parameters + exp-Golomb length arithmetic, no parser in the loop);
    // the index side is cross-checked in-plan (n_index_consistent: the
    // NAL-walk frame count must equal the SPS-side parse's per media).
    // Pixel-level slice decode stays behind the documented codec seam.
    Gate("q_x_h264", (s, dir) => {
      val h = graft.operators.H264
      val media = h.syntheticH264(s, 120).cache()
      val sizes = media.toDF().select(col("media_id"),
        length(col("bytes")).cast("long").as("n_bytes"))
      val dec = h.decodeH264(media)
      val kfAgg = h.keyframeIndex(media).groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_indexed"))
      dec.join(sizes, Seq("media_id"))
        .join(kfAgg, Seq("media_id"), "left")
        .na.fill(0L, Seq("n_indexed"))
        .groupBy(col("profile_idc"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_decoded"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("width").cast("long")).as("sum_width"),
          sum(col("height").cast("long")).as("sum_height"),
          sum(col("n_frames").cast("long")).as("n_frames"),
          sum(col("n_idr").cast("long")).as("n_idr"),
          sum(col("n_vcl").cast("long")).as("n_vcl"),
          sum(col("duration_ms").cast("long")).as("duration_ms"),
          round(sum(col("avg_vcl_bytes").cast("decimal(27,12)"))
            .cast("double") / count(lit(1)), 3).as("avg_vcl_bytes"),
          sum(when(col("n_frames") === col("n_indexed"), 1L).otherwise(0L))
            .as("n_index_consistent"))
        .orderBy(col("profile_idc"))
    },
      // H.264 structural decode goldens: same engine-seeded closure pattern
      // — dims/fps/frame counts ARE the generation parameters, VCL NAL
      // lengths are closed-form exp-Golomb arithmetic, no parser in the
      // oracle loop ([[graft.operators.H264.goldens]])
      Sql(() => graft.operators.H264.goldenAggregateSql(120))),

    // X-adts: COMPRESSED-audio structural decode — the AAC counterpart
    // of q_x_h264: ADTS syncword walk, fixed-header parse (profile /
    // sampling-frequency-index table / channel config), frame-length
    // hop, 1024-samples-per-block duration. ORACLED against closed-form
    // goldens ([[Adts.goldens]] — pure generation-parameter arithmetic,
    // no parser in the loop). Spectral/Huffman decode stays behind the
    // per-batch codec seam.
    Gate("q_x_adts", (s, dir) => {
      val a = graft.operators.Adts
      val media = a.syntheticAdts(s, 150).cache()
      val sizes = media.toDF().select(col("media_id"),
        length(col("bytes")).cast("long").as("n_bytes"))
      a.decodeAdts(media).join(sizes, Seq("media_id"))
        .groupBy(col("sample_rate"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_decoded"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("n_channels").cast("long")).as("sum_channels"),
          sum(col("n_frames").cast("long")).as("n_frames"),
          sum(col("n_samples")).as("n_samples"),
          sum(col("duration_ms").cast("long")).as("duration_ms"),
          round(sum(col("avg_frame_bytes").cast("decimal(27,12)"))
            .cast("double") / count(lit(1)), 3).as("avg_frame_bytes"))
        .orderBy(col("sample_rate"))
    },
      // AAC-ADTS goldens: everything is generation parameters + arithmetic
      // (frame bytes = header + payload; duration = blocks·1024/rate)
      Sql(() => graft.operators.Adts.goldenAggregateSql(150))),

    // X-mp4: ISO-BMFF container probe — the at-rest format video
    // corpora arrive in: box-tree walk (32/64-bit sizes), per-track
    // tkhd/mdhd/hdlr/stsd/stts parse, and the avcC decoder-config
    // record whose embedded SPS runs through H264.parseSps so
    // container-declared dims are CROSS-CHECKED against the bitstream
    // (`sps_consistent`). ORACLED against closed-form goldens
    // ([[Mp4.goldens]]); sample data (mdat) is never read — the probe
    // is the few-KB range-GET that inventories a 100 TB corpus.
    Gate("q_x_mp4", (s, dir) => {
      val m = graft.operators.Mp4
      val media = m.syntheticMp4(s, 100).cache()
      val sizes = media.toDF().select(col("media_id"),
        length(col("bytes")).cast("long").as("file_bytes"))
      m.probeMp4(media).join(sizes, Seq("media_id"))
        .groupBy(col("codec"))
        .agg(
          count(lit(1)).as("n"),
          // one file total per media item: attribute bytes to the video row
          sum(when(col("codec") === "avc1", col("file_bytes"))
            .otherwise(0L)).as("total_bytes"),
          sum(col("width").cast("long")).as("sum_width"),
          sum(col("height").cast("long")).as("sum_height"),
          sum(col("sample_rate").cast("long")).as("sum_rate"),
          sum(col("n_channels").cast("long")).as("sum_channels"),
          sum(col("n_samples")).as("n_samples"),
          sum(col("duration_ms").cast("long")).as("duration_ms"),
          sum(when(col("codec") === "avc1" &&
            col("sps_width") === col("width") &&
            col("sps_height") === col("height"), 1L).otherwise(0L))
            .as("sps_consistent"))
        .orderBy(col("codec"))
    },
      // MP4 container goldens: per-track generation parameters; file bytes
      // via the shared writer, probe never runs in the oracle loop
      Sql(() => graft.operators.Mp4.goldenAggregateSql(100)))
  )
}
