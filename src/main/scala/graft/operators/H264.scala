package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** H.264/AVC (ISO/IEC 14496-10) Annex-B STRUCTURAL decode — the
  * compressed-video seam of the multimodal surface (build brief;
  * reference multimodal plumbing per SURVEY §2 X-multimodal).
  *
  * What is REAL here (pure bit arithmetic, no codec dependency, works on
  * real-world elementary streams): the Annex-B NAL-unit walk (3- and
  * 4-byte start codes), emulation-prevention-byte removal, exp-Golomb
  * `ue(v)`/`se(v)` decode, a full SPS parse — baseline AND
  * high-profile chroma/bit-depth/scaling-list fields, all three
  * `pic_order_cnt_type` layouts, frame cropping with 4:2:0 crop units,
  * and VUI `timing_info` for fps — plus per-picture frame counting via
  * `first_mb_in_slice == 0` on VCL NALs and IDR/keyframe detection from
  * `nal_unit_type`. This is the ffprobe-level capability that lets a
  * 100 TB video corpus be filtered, bucketed, and keyframe-sampled by
  * resolution/fps/duration/GOP structure WITHOUT a decoder farm: the
  * scan reads headers, never pixels.
  *
  * What stays behind the documented plug-in seam: entropy (CABAC/CAVLC)
  * slice-data decode — actual pixel reconstruction needs a real decoder
  * and plugs into the same per-batch `mapPartitions` seam as the other
  * codecs ([[Multimodal.decodeMedia]]). Accordingly the synthetic
  * fixture's slice PAYLOADS are structural fakes (parseable headers,
  * filler bodies); the parser side never depends on that.
  */
object H264 {

  /** Recovered sequence parameters. `fpsNum`/`fpsDen` are 0:0 when the
    * SPS carries no VUI timing info (legal; fps then unknown). */
  final case class SpsInfo(profileIdc: Int, levelIdc: Int,
      width: Int, height: Int, fpsNum: Int, fpsDen: Int)

  /** Structural stream metadata: SPS fields + NAL census. `nFrames`
    * counts access units (VCL NALs with `first_mb_in_slice == 0`);
    * `nVcl` counts every slice NAL including continuation slices;
    * `avgVclBytes` is mean VCL NAL payload size — a bitrate proxy. */
  final case class H264Meta(sps: SpsInfo, nFrames: Int, nIdr: Int,
      nVcl: Int, durationMs: Int, avgVclBytes: Double)

  final case class H264Decoded(media_id: Long, ok: Boolean,
      profile_idc: Int, level_idc: Int, width: Int, height: Int,
      n_frames: Int, n_idr: Int, n_vcl: Int, duration_ms: Int,
      avg_vcl_bytes: Double)

  /** One frame-start VCL NAL: enough to seek-and-sample keyframes from
    * object storage by byte range, no decode in the loop. */
  final case class NalFrame(media_id: Long, frame_idx: Int,
      byte_offset: Int, nal_len: Int, is_idr: Boolean)

  // ─────────────────────── bit-level primitives ───────────────────────

  /** MSB-first bit reader; throws on overrun (callers catch → None). */
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def u1(): Int = {
      if (pos >= b.length * 8) throw new IndexOutOfBoundsException
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1; v
    }
    def u(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }
      v
    }
    /** Exp-Golomb unsigned: count leading zeros, read that many more. */
    def ue(): Int = {
      var zeros = 0
      while (u1() == 0) {
        zeros += 1
        if (zeros > 31) throw new IllegalStateException("ue overflow")
      }
      ((1L << zeros) - 1 + u(zeros)).toInt
    }
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  /** MSB-first bit writer producing an RBSP (callers add emulation
    * prevention before framing into a NAL). */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0; private var n = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); n += 1
      if (n == 8) { buf += cur.toByte; cur = 0; n = 0 }
    }
    def bits(v: Long, w: Int): Unit = {
      var i = w - 1
      while (i >= 0) { bit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def ue(k: Int): Unit = {
      val v = k + 1L
      val len = 64 - java.lang.Long.numberOfLeadingZeros(v)
      bits(0L, len - 1); bits(v, len)
    }
    def se(k: Int): Unit = ue(if (k > 0) 2 * k - 1 else -2 * k)
    /** rbsp_trailing_bits(): stop bit then zero-pad to alignment. */
    def trailing(): Unit = { bit(1); while (n != 0) bit(0) }
    def toBytes: Array[Byte] = {
      require(n == 0, "unaligned RBSP")
      buf.toArray
    }
  }

  /** Bits of ue(k) — closed-form length arithmetic for the goldens. */
  private[operators] def ueBits(k: Int): Int = {
    val len = 64 - java.lang.Long.numberOfLeadingZeros(k + 1L)
    2 * len - 1
  }

  /** RBSP → EBSP: insert 0x03 after any 00 00 preceding a byte <= 3. */
  private[operators] def emulationPrevent(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i)
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3.toByte; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toArray
  }

  /** EBSP → RBSP: drop the 0x03 in every 00 00 03 run. */
  private[operators] def emulationStrip(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new Array[Byte](until - from)
    var o = 0; var zeros = 0; var i = from
    while (i < until) {
      val b = ebsp(i)
      if (zeros >= 2 && b == 3) zeros = 0 // emulation-prevention byte
      else {
        out(o) = b; o += 1
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  // ───────────────────────────── SPS parse ─────────────────────────────

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** scaling_list() skip per 7.3.2.1.1.1 — values discarded, bit cursor
    * advanced correctly so fields after a scaling matrix still parse. */
  private def skipScalingList(r: BitReader, size: Int): Unit = {
    var lastScale = 8; var nextScale = 8; var j = 0
    while (j < size) {
      if (nextScale != 0) nextScale = (lastScale + r.se() + 256) % 256
      lastScale = if (nextScale == 0) lastScale else nextScale
      j += 1
    }
  }

  /** Parses one SPS RBSP (7.3.2.1.1). Returns None on any malformation. */
  private[operators] def parseSps(rbsp: Array[Byte]): Option[SpsInfo] =
    try {
      val r = new BitReader(rbsp)
      val profile = r.u(8).toInt
      r.u(8) // constraint_set flags + reserved
      val level = r.u(8).toInt
      r.ue() // seq_parameter_set_id
      var chromaFormat = 1 // 4:2:0 default for non-high profiles
      if (HighProfiles.contains(profile)) {
        chromaFormat = r.ue()
        val separateColourPlane =
          if (chromaFormat == 3) r.u1() == 1 else false
        r.ue(); r.ue() // bit_depth_{luma,chroma}_minus8
        r.u1() // qpprime_y_zero_transform_bypass_flag
        if (r.u1() == 1) { // seq_scaling_matrix_present_flag
          val lists = if (chromaFormat == 3) 12 else 8
          var i = 0
          while (i < lists) {
            if (r.u1() == 1) skipScalingList(r, if (i < 6) 16 else 64)
            i += 1
          }
        }
        if (separateColourPlane) chromaFormat = 0 // monochrome-coded planes
      }
      r.ue() // log2_max_frame_num_minus4
      r.ue() match { // pic_order_cnt_type
        case 0 => r.ue() // log2_max_pic_order_cnt_lsb_minus4
        case 1 =>
          r.u1(); r.se(); r.se()
          val cycle = r.ue()
          var i = 0
          while (i < cycle) { r.se(); i += 1 }
        case _ => // type 2: no extra fields
      }
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed_flag
      val widthMbs = r.ue() + 1
      val heightMapUnits = r.ue() + 1
      val frameMbsOnly = r.u1()
      if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field_flag
      r.u1() // direct_8x8_inference_flag
      var w = widthMbs * 16
      var h = (2 - frameMbsOnly) * heightMapUnits * 16
      if (r.u1() == 1) { // frame_cropping_flag — crop units per Table 6-1
        val (cx, cy) = chromaFormat match {
          case 0 => (1, 2 - frameMbsOnly) // monochrome
          case 1 => (2, 2 * (2 - frameMbsOnly)) // 4:2:0
          case 2 => (2, 2 - frameMbsOnly) // 4:2:2
          case _ => (1, 2 - frameMbsOnly) // 4:4:4
        }
        val (l, rr, t, b) = (r.ue(), r.ue(), r.ue(), r.ue())
        w -= cx * (l + rr)
        h -= cy * (t + b)
      }
      var fpsNum = 0; var fpsDen = 0
      if (r.u1() == 1) { // vui_parameters_present_flag
        if (r.u1() == 1) { // aspect_ratio_info_present_flag
          val idc = r.u(8).toInt
          if (idc == 255) { r.u(16); r.u(16) } // Extended_SAR
        }
        if (r.u1() == 1) r.u1() // overscan
        if (r.u1() == 1) { // video_signal_type
          r.u(3); r.u1()
          if (r.u1() == 1) { r.u(8); r.u(8); r.u(8) } // colour description
        }
        if (r.u1() == 1) { r.ue(); r.ue() } // chroma_loc_info
        if (r.u1() == 1) { // timing_info_present_flag
          val numUnits = r.u(32)
          val timeScale = r.u(32)
          r.u1() // fixed_frame_rate_flag
          if (numUnits > 0 && timeScale > 0) {
            // frame rate = time_scale / (2 * num_units_in_tick)
            fpsNum = timeScale.toInt; fpsDen = 2 * numUnits.toInt
          }
        }
        // remaining VUI (HRD, bitstream restriction) not needed
      }
      if (w <= 0 || h <= 0) None
      else Some(SpsInfo(profile, level, w, h, fpsNum, fpsDen))
    } catch { case _: Exception => None }

  // ─────────────────────────── stream parse ───────────────────────────

  /** Walks Annex-B start codes; `f(nalStart, payloadStart, payloadEnd)`
    * per NAL, where nalStart indexes the start code itself. */
  private def forEachNal(b: Array[Byte])(f: (Int, Int, Int) => Unit): Unit = {
    var i = 0
    var nalStart = -1; var payloadStart = -1
    while (i + 2 < b.length) {
      if (b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) {
        val scStart = if (i > 0 && b(i - 1) == 0) i - 1 else i
        if (payloadStart >= 0) f(nalStart, payloadStart, scStart)
        nalStart = scStart; payloadStart = i + 3
        i += 3
      } else i += 1
    }
    if (payloadStart >= 0) {
      var end = b.length // trailing zero padding is not NAL payload
      while (end > payloadStart && b(end - 1) == 0) end -= 1
      f(nalStart, payloadStart, end)
    }
  }

  /** Structural parse of an Annex-B elementary stream. None when no
    * parseable SPS or no VCL NAL is present. */
  def parse(bytes: Array[Byte]): Option[H264Meta] = {
    var sps: Option[SpsInfo] = None
    var nFrames = 0; var nIdr = 0; var nVcl = 0
    var vclBytes = 0L
    forEachNal(bytes) { (_, ps, pe) =>
      if (pe > ps) {
        val nalType = bytes(ps) & 0x1f
        nalType match {
          case 7 if sps.isEmpty =>
            sps = parseSps(emulationStrip(bytes, ps + 1, pe))
          case 1 | 5 =>
            nVcl += 1
            vclBytes += (pe - ps)
            // slice_header() begins with first_mb_in_slice ue(v); only a
            // bounded prefix is needed — strip at most 8 payload bytes.
            val head = emulationStrip(bytes, ps + 1, math.min(pe, ps + 9))
            try {
              val firstMb = new BitReader(head).ue()
              if (firstMb == 0) {
                nFrames += 1
                if (nalType == 5) nIdr += 1
              }
            } catch { case _: Exception => }
          case _ => // SEI/PPS/AUD/filler — structural no-ops here
        }
      }
    }
    sps match {
      case Some(s) if nVcl > 0 =>
        val durationMs =
          if (s.fpsNum > 0) (nFrames.toLong * 1000L * s.fpsDen / s.fpsNum).toInt
          else 0
        Some(H264Meta(s, nFrames, nIdr, nVcl, durationMs,
          vclBytes.toDouble / nVcl))
      case _ => None
    }
  }

  // ─────────────────────────── stream write ───────────────────────────

  /** Minimal valid SPS for progressive 4:2:0 content at `w`×`h` (even
    * dims; non-multiples of 16 exercise frame cropping) with VUI timing
    * carrying `fpsNum`/`fpsDen`. Baseline (66) or High (100) layout. */
  private[operators] def writeSps(profileIdc: Int, levelIdc: Int,
      w: Int, h: Int, fpsNum: Int, fpsDen: Int): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0, "4:2:0 needs even dimensions")
    val wMbs = (w + 15) / 16; val hMbs = (h + 15) / 16
    val cropR = (wMbs * 16 - w) / 2; val cropB = (hMbs * 16 - h) / 2
    val bw = new BitWriter
    bw.bits(profileIdc.toLong, 8)
    bw.bits(0L, 8) // constraint flags
    bw.bits(levelIdc.toLong, 8)
    bw.ue(0) // seq_parameter_set_id
    if (HighProfiles.contains(profileIdc)) {
      bw.ue(1) // chroma_format_idc 4:2:0
      bw.ue(0); bw.ue(0) // bit depths
      bw.bit(0) // transform bypass
      bw.bit(0) // no scaling matrix
    }
    bw.ue(0) // log2_max_frame_num_minus4
    bw.ue(2) // pic_order_cnt_type 2
    bw.ue(1) // max_num_ref_frames
    bw.bit(0) // gaps_in_frame_num
    bw.ue(wMbs - 1); bw.ue(hMbs - 1)
    bw.bit(1) // frame_mbs_only
    bw.bit(1) // direct_8x8_inference
    if (cropR > 0 || cropB > 0) {
      bw.bit(1); bw.ue(0); bw.ue(cropR); bw.ue(0); bw.ue(cropB)
    } else bw.bit(0)
    bw.bit(1) // vui_parameters_present
    bw.bit(0); bw.bit(0); bw.bit(0); bw.bit(0) // aspect/overscan/signal/chroma-loc
    bw.bit(1) // timing_info_present
    bw.bits(fpsDen.toLong, 32) // num_units_in_tick
    bw.bits(2L * fpsNum, 32) // time_scale (frame rate doubles the tick)
    bw.bit(1) // fixed_frame_rate
    bw.bit(0); bw.bit(0); bw.bit(0); bw.bit(0) // hrd×2/pic_struct/restriction
    bw.trailing()
    bw.toBytes
  }

  /** Minimal PPS (all defaults, CAVLC, one slice group). */
  private[operators] def writePps(): Array[Byte] = {
    val bw = new BitWriter
    bw.ue(0); bw.ue(0) // pps id, sps id
    bw.bit(0); bw.bit(0) // entropy_coding_mode, bottom_field_poc
    bw.ue(0) // num_slice_groups_minus1
    bw.ue(0); bw.ue(0) // num_ref_idx defaults
    bw.bit(0); bw.bits(0L, 2) // weighted pred / bipred
    bw.se(0); bw.se(0); bw.se(0) // init qp/qs, chroma offset
    bw.bit(0); bw.bit(0); bw.bit(0) // deblock/intra/redundant
    bw.trailing()
    bw.toBytes
  }

  /** Fake-payload slice NAL RBSP: a REAL parseable slice-header prefix
    * (`first_mb_in_slice`, `slice_type`) then `payloadLen` filler bytes
    * in 0x20..0x7e (no zero byte can form under any bit shift, so the
    * closed-form length `1 + ceil((prefixBits + 8·payload + 1)/8)` holds
    * with no emulation inserts). Pixel data is the plug-in seam. */
  private[operators] def writeSliceRbsp(firstMb: Int, sliceType: Int,
      payloadLen: Int, fillerOf: Int => Int): Array[Byte] = {
    val bw = new BitWriter
    bw.ue(firstMb)
    bw.ue(sliceType)
    var j = 0
    while (j < payloadLen) {
      bw.bits((0x20 + (fillerOf(j) % 95)).toLong, 8); j += 1
    }
    bw.trailing()
    bw.toBytes
  }

  private val StartCode = Array[Byte](0, 0, 0, 1)

  private def nal(refIdcAndType: Int, rbsp: Array[Byte]): Array[Byte] = {
    val body = emulationPrevent(rbsp)
    val out = new Array[Byte](5 + body.length)
    System.arraycopy(StartCode, 0, out, 0, 4)
    out(4) = refIdcAndType.toByte
    System.arraycopy(body, 0, out, 5, body.length)
    out
  }

  /** Deterministic Annex-B stream: SPS + PPS + `nFrames` pictures.
    * Every 6th frame is IDR (type 5); every 3rd frame carries a second
    * continuation slice (`first_mb_in_slice = 1`) so the per-picture
    * counter is genuinely exercised. Slice payload lengths are seeded
    * draws (the goldens re-draw them closed-form). */
  private[operators] def writeStream(profileIdc: Int, levelIdc: Int,
      w: Int, h: Int, fpsNum: Int, nFrames: Int,
      rnd: scala.util.Random, itemTag: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(nal(0x67, writeSps(profileIdc, levelIdc, w, h, fpsNum, 1)))
    out.write(nal(0x68, writePps()))
    var f = 0
    while (f < nFrames) {
      val idr = f % 6 == 0
      val hdr = if (idr) 0x65 else 0x41
      val sliceType = if (idr) 7 else 5 // I / P ("all slices" variants)
      val p0 = 24 + rnd.nextInt(180)
      out.write(nal(hdr,
        writeSliceRbsp(0, sliceType, p0, j => itemTag * 31 + f * 17 + j * 3)))
      if (f % 3 == 0) {
        val p1 = 24 + rnd.nextInt(180)
        out.write(nal(hdr,
          writeSliceRbsp(1, sliceType, p1, j => itemTag * 31 + f * 17 + 7 + j * 3)))
      }
      f += 1
    }
    out.toByteArray
  }

  // ─────────────────────── dataset-level operators ───────────────────────

  /** Seeded synthetic H.264 corpus as [[Multimodal.MediaRow]]s. The
    * metadata columns are deliberately ZERO — recovering them from the
    * bitstream is the operator under test. Draw order (w, h, fps,
    * nFrames, then per-slice payload lengths) is the shared generation
    * spec that [[goldens]] re-draws. */
  def syntheticH264(spark: SparkSession, n: Int, seed: Long = 11L): Dataset[Multimodal.MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val rnd = new scala.util.Random(seed + i)
      val w = 32 + 2 * rnd.nextInt(65) // even, 32..160; crop when %16 != 0
      val h = 32 + 2 * rnd.nextInt(49)
      val fpsNum = Seq(24, 25, 30)(rnd.nextInt(3))
      val nFrames = 8 + rnd.nextInt(41)
      val profile = if (i % 2 == 0) 66 else 100
      val bytes = writeStream(profile, 31, w, h, fpsNum, nFrames, rnd, i.toInt)
      Multimodal.MediaRow(i, "h264", bytes, width = 0, height = 0,
        sample_rate = 0, duration_ms = 0)
    }
  }

  /** Batched partition-preserving structural decode (the same seam shape
    * as [[Multimodal.decodeMedia]]). Malformed → `ok = false` row. */
  def decodeH264(media: Dataset[Multimodal.MediaRow],
      batchSize: Int = 64): Dataset[H264Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup seam (a real slice-data decoder inits here)
        batch.iterator.map { r =>
          parse(r.bytes) match {
            case Some(m) => H264Decoded(r.media_id, ok = true,
              m.sps.profileIdc, m.sps.levelIdc, m.sps.width, m.sps.height,
              m.nFrames, m.nIdr, m.nVcl, m.durationMs, m.avgVclBytes)
            case None => H264Decoded(r.media_id, ok = false,
              0, 0, 0, 0, 0, 0, 0, 0, 0.0)
          }
        }
      }
    }
  }

  /** Frame index: one row per picture-start VCL NAL with its byte range
    * — the seek table for keyframe sampling over object storage (range
    * GETs of `nal_len` bytes at `byte_offset`; decode stays optional). */
  def keyframeIndex(media: Dataset[Multimodal.MediaRow]): Dataset[NalFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer.empty[NalFrame]
      forEachNal(r.bytes) { (ns, ps, pe) =>
        if (pe > ps) {
          val nalType = r.bytes(ps) & 0x1f
          if (nalType == 1 || nalType == 5) {
            val head = emulationStrip(r.bytes, ps + 1, math.min(pe, ps + 9))
            try {
              if (new BitReader(head).ue() == 0)
                out += NalFrame(r.media_id, out.length, ns, pe - ns,
                  is_idr = nalType == 5)
            } catch { case _: Exception => }
          }
        }
      }
      out.iterator
    }
  }

  // ──────────────────────────── goldens/oracle ────────────────────────────

  /** Expected structural stats for [[syntheticH264]]`(n, seed)`, computed
    * WITHOUT the parser: dimensions/fps/frame counts are the generation
    * parameters themselves; VCL NAL lengths are closed-form exp-Golomb
    * arithmetic (`1 + ceil((ueBits + 8·payload + 1)/8)`); only the
    * SPS/PPS container lengths come from the shared writer (the jpeg
    * precedent — generation shared, verification independent). */
  final case class H264Golden(media_id: Long, profile_idc: Int,
      n_bytes: Int, width: Int, height: Int, n_frames: Int, n_idr: Int,
      n_vcl: Int, duration_ms: Int, avg_vcl_bytes: Double)

  def goldens(n: Int, seed: Long = 11L): Seq[H264Golden] =
    (0L until n.toLong).map { i =>
      val rnd = new scala.util.Random(seed + i)
      val w = 32 + 2 * rnd.nextInt(65)
      val h = 32 + 2 * rnd.nextInt(49)
      val fpsNum = Seq(24, 25, 30)(rnd.nextInt(3))
      val nFrames = 8 + rnd.nextInt(41)
      val profile = if (i % 2 == 0) 66 else 100
      val spsLen = emulationPrevent(writeSps(profile, 31, w, h, fpsNum, 1)).length
      val ppsLen = emulationPrevent(writePps()).length
      var nVcl = 0; var nIdr = 0
      var vclBytes = 0L
      var f = 0
      while (f < nFrames) {
        val idr = f % 6 == 0
        if (idr) nIdr += 1
        val stBits = ueBits(if (idr) 7 else 5)
        val p0 = 24 + rnd.nextInt(180)
        vclBytes += 1 + (ueBits(0) + stBits + 8 * p0 + 1 + 7) / 8
        nVcl += 1
        if (f % 3 == 0) {
          val p1 = 24 + rnd.nextInt(180)
          vclBytes += 1 + (ueBits(1) + stBits + 8 * p1 + 1 + 7) / 8
          nVcl += 1
        }
        f += 1
      }
      // vclBytes already counts each NAL's header byte; add start codes
      val totalBytes = (4 + 1 + spsLen) + (4 + 1 + ppsLen) +
        4 * nVcl + vclBytes.toInt
      val durationMs = (nFrames.toLong * 1000L * 2L / (2L * fpsNum)).toInt
      H264Golden(i, profile, totalBytes, w, h, nFrames, nIdr, nVcl,
        durationMs, vclBytes.toDouble / nVcl)
    }

  /** Per-profile aggregate of [[goldens]] as an inline-VALUES oracle —
    * payloads are engine-seeded so the expectations ARE the table. The
    * average follows the repo float-parity rule: per-item doubles
    * decimal(·,12)-quantized (shortest-string, HALF_UP), summed exactly,
    * divided in DOUBLE, rounded to 3. */
  def goldenAggregateSql(n: Int, seed: Long = 11L): String = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = goldens(n, seed).groupBy(_.profile_idc).toSeq.sortBy(_._1)
      .map { case (profile, items) =>
        val cnt = items.size
        val sumDec = items
          .map(g => new JBD(java.lang.Double.toString(g.avg_vcl_bytes))
            .setScale(12, RoundingMode.HALF_UP))
          .reduce(_.add(_))
        val avg = sumDec.doubleValue() / cnt
        val avgRounded = new JBD(java.lang.Double.toString(avg))
          .setScale(3, RoundingMode.HALF_UP).doubleValue()
        s"($profile, $cnt, $cnt, ${items.map(_.n_bytes.toLong).sum}, " +
          s"${items.map(_.width.toLong).sum}, ${items.map(_.height.toLong).sum}, " +
          s"${items.map(_.n_frames.toLong).sum}, ${items.map(_.n_idr.toLong).sum}, " +
          s"${items.map(_.n_vcl.toLong).sum}, ${items.map(_.duration_ms.toLong).sum}, " +
          s"$avgRounded, $cnt)"
      }
    s"""SELECT CAST(profile_idc AS INT) AS profile_idc,
       |  CAST(n AS BIGINT) AS n, CAST(n_decoded AS BIGINT) AS n_decoded,
       |  CAST(total_bytes AS BIGINT) AS total_bytes,
       |  CAST(sum_width AS BIGINT) AS sum_width,
       |  CAST(sum_height AS BIGINT) AS sum_height,
       |  CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(n_idr AS BIGINT) AS n_idr,
       |  CAST(n_vcl AS BIGINT) AS n_vcl,
       |  CAST(duration_ms AS BIGINT) AS duration_ms,
       |  CAST(avg_vcl_bytes AS DOUBLE) AS avg_vcl_bytes,
       |  CAST(n_index_consistent AS BIGINT) AS n_index_consistent
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS t(profile_idc, n, n_decoded, total_bytes, sum_width, sum_height,
       |       n_frames, n_idr, n_vcl, duration_ms, avg_vcl_bytes,
       |       n_index_consistent)
       |ORDER BY profile_idc""".stripMargin
  }
}
