package graft

import graft.multimodal.{AviCodec, WavCodec, Y4mCodec}
import org.scalatest.funsuite.AnyFunSuite

/** Algorithmic contracts of the AVI/DIB-8 container ([[AviCodec]]):
  * bottom-up row order and DWORD stride padding are where a naive
  * parser silently corrupts pixels, so the roundtrips use widths that
  * exercise the pad and asymmetric frames that catch a flip. */
class AviCodecSpec extends AnyFunSuite {

  private def frame(w: Int, h: Int, seed: Int) =
    Array.tabulate(w * h)(i => (seed * 31 + i * 5) % 256)

  test("roundtrip: width%4 != 0 exercises stride padding; rows come back top-down") {
    val frames = Seq(frame(6, 4, 1), frame(6, 4, 2), frame(6, 4, 3))
    val bytes = AviCodec.encodeGray8(6, 4, frames)
    val Some((w, h, got)) = AviCodec.decodeGray8(bytes)
    assert(w == 6 && h == 4 && got.length == 3)
    got.zip(frames).foreach { case (g, f) => assert(g.toSeq == f.toSeq) }
  }

  test("asymmetric frame catches a bottom-up flip bug") {
    // top row all 10s, bottom row all 200s: a parser that forgets the
    // bottom-up flip returns them swapped
    val f = Array.tabulate(4 * 2)(i => if (i < 4) 10 else 200)
    val Some((_, _, got)) = AviCodec.decodeGray8(AviCodec.encodeGray8(4, 2, Seq(f)))
    assert(got.head.toSeq == f.toSeq)
  }

  test("negative biHeight (top-down DIB) decodes too") {
    val f = frame(4, 4, 7)
    val bytes = AviCodec.encodeGray8(4, 4, Seq(f))
    // flip the sign of biHeight inside strf AND re-flip the stored rows:
    // find strf, biHeight is at strf body offset 8
    val idx = indexOfTag(bytes, "strf") + 8 + 8
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(idx, -bb.getInt(idx))
    val Some((_, _, got)) = AviCodec.decodeGray8(bytes)
    // stored rows are bottom-up from the encoder; a top-down reader sees
    // them reversed
    assert(got.head.toSeq == f.grouped(4).toSeq.reverse.flatten.map(_.toInt))
  }

  test("every-k sampler keeps frame 0 and every k-th; non-AVI falls to stub") {
    val frames = Seq.tabulate(5)(s => frame(4, 4, s))
    val bytes = AviCodec.encodeGray8(4, 4, frames)
    val rows = AviCodec.frameSampleBatch(2)(Seq((9L, "video", bytes)))
    assert(rows.map(_.frame_idx) == Seq(0, 2, 4))
    assert(rows.forall(_.decoder == "avi/dib8-v1"))
    val stub = AviCodec.frameSampleBatch(2)(Seq((9L, "video", Array[Byte](1, 2, 3))))
    assert(stub.map(_.frame_idx) == Seq(-1) && stub.head.decoder == "stub/md5-v1")
  }

  test("reject matrix: WAV bytes, Y4M bytes, truncated AVI, compressed 00dc") {
    val wav = WavCodec.encodePcm16(8000, Array.tabulate(64)(_.toShort))
    assert(AviCodec.decodeGray8(wav).isEmpty)
    val y4m = Y4mCodec.encodeLuma(4, 4, Seq(Array.fill(16)(1)))
    assert(AviCodec.decodeGray8(y4m).isEmpty)
    val ok = AviCodec.encodeGray8(4, 4, Seq(frame(4, 4, 1)))
    assert(AviCodec.decodeGray8(ok.take(ok.length / 2)).isEmpty)
    // rewrite the frame tag 00db -> 00dc: compressed frames must reject
    val dc = ok.clone()
    val fi = indexOfTag(dc, "00db")
    dc(fi + 3) = 'c'.toByte
    assert(AviCodec.decodeGray8(dc).isEmpty)
    // cross-container: the WAV parser must reject AVI (both are RIFF)
    assert(WavCodec.decodePcm16(ok).isEmpty)
    // malformed biClrUsed: negative must reject (a naive `== 0 ? 256`
    // check reads a negative as an empty palette and decodes all-zero),
    // and > 256 is impossible for 8-bpp
    for (bad <- Seq(-1, -2147483648, 257)) {
      val neg = ok.clone()
      val cu = indexOfTag(neg, "strf") + 8 + 32 // biClrUsed offset in BITMAPINFOHEADER
      java.nio.ByteBuffer.wrap(neg).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(cu, bad)
      assert(AviCodec.decodeGray8(neg).isEmpty, s"biClrUsed=$bad must reject")
    }
  }

  test("MJPEG: fixtures mux/demux through the real JPEG path; sampling; rejects") {
    val dec = java.util.Base64.getDecoder
    val jpegs = Seq(graft.multimodal.JpegFixtures.gradient,
      graft.multimodal.JpegFixtures.checker,
      graft.multimodal.JpegFixtures.radial).map(dec.decode)
    val avi = AviCodec.encodeMjpeg(16, 16, jpegs)
    // demuxed frames must equal decoding each stored JPEG directly —
    // the container stores payloads verbatim, the decode path is shared
    val Some((w, h, frames)) = AviCodec.decodeMjpeg(avi)
    assert(w == 16 && h == 16 && frames.map(_._1) == Seq(0, 1, 2))
    frames.zip(jpegs).foreach { case ((_, luma), j) =>
      val Some((_, _, direct)) = graft.multimodal.PngCodec.decodeGray(j)
      assert(luma.toSeq == direct.toSeq)
    }
    // every-k sampling only decodes sampled frames
    val Some((_, _, sampled)) = AviCodec.decodeMjpeg(avi, everyK = 2)
    assert(sampled.map(_._1) == Seq(0, 2))
    // confusion both ways: the DIB decoder refuses MJPEG, and vice versa
    assert(AviCodec.decodeGray8(avi).isEmpty)
    val dib = AviCodec.encodeGray8(4, 4, Seq(frame(4, 4, 1)))
    assert(AviCodec.decodeMjpeg(dib).isEmpty)
    // and the usual reject matrix: non-RIFF, truncation, garbage frame
    assert(AviCodec.decodeMjpeg(Array[Byte](1, 2, 3)).isEmpty)
    assert(AviCodec.decodeMjpeg(avi.take(avi.length / 2)).isEmpty)
    val bad = avi.clone()
    val fi = indexOfTag(bad, "00dc")
    bad(fi + 8) = 0 // corrupt the JPEG SOI marker: frame must not decode
    assert(AviCodec.decodeMjpeg(bad).isEmpty)
    // batch seam: decoder tag + stub fallback for the DIB payload
    val rows = AviCodec.mjpegFrameSampleBatch(2)(
      Seq((1L, "video", avi), (2L, "video", dib)))
    assert(rows.filter(_.media_id == 1L).map(_.frame_idx) == Seq(0, 2))
    assert(rows.filter(_.media_id == 1L).forall(_.decoder == "avi/mjpeg-v1"))
    assert(rows.filter(_.media_id == 2L).map(_.decoder) == Seq("stub/md5-v1"))
  }

  test("interleaved A/V: both streams decode; strf gating; audio rejects") {
    val frames = Seq(frame(6, 5, 1), frame(6, 5, 2), frame(6, 5, 3))
    val samples = Array.tabulate(100)(j => ((j * 131) % 2001 - 1000).toShort)
    val av = AviCodec.encodeGray8WithPcm(6, 5, frames, 8000, samples)
    // video decodes THROUGH the audio stream (strh-gated strf, 01wb skipped)
    val Some((w, h, gotV)) = AviCodec.decodeGray8(av)
    assert(w == 6 && h == 5 && gotV.length == 3)
    gotV.zip(frames).foreach { case (g, f) => assert(g.toSeq == f.toSeq) }
    // audio reassembles across the interleaved 01wb chunks, in order
    val Some((rate, gotA)) = AviCodec.decodeAviPcm16(av)
    assert(rate == 8000 && gotA.toSeq == samples.toSeq)
    // combined seam row
    val st = AviCodec.avStatsBatch(2)(Seq((7L, "video", av))).head
    assert(st.decoder == "avi/av-v1" && st.n_frames_sampled == 2)
    assert(st.luma_units == Seq(0, 2).map(f => frames(f).map(_.toLong).sum).sum)
    assert(st.amp_units == samples.map(s => math.abs(s.toLong)).sum)
    // rejects: a video-only AVI has no auds stream; non-PCM format tags
    // reject; a WAV is not an AVI
    val videoOnly = AviCodec.encodeGray8(6, 5, frames)
    assert(AviCodec.decodeAviPcm16(videoOnly).isEmpty)
    assert(AviCodec.avStatsBatch(2)(Seq((1L, "video", videoOnly))).head.decoder == "stub/md5-v1")
    val badFmt = av.clone()
    val sa = indexOfTag(badFmt, "auds")
    // the audio strf follows the auds strh (56-byte body): wFormatTag
    val strfOff = indexOfTag(java.util.Arrays.copyOfRange(badFmt, sa, badFmt.length), "strf") + sa
    java.nio.ByteBuffer.wrap(badFmt).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(strfOff + 8, 2.toShort) // wFormatTag = 2 (ADPCM): not PCM
    assert(AviCodec.decodeAviPcm16(badFmt).isEmpty)
    assert(AviCodec.decodeAviPcm16(
      WavCodec.encodePcm16(8000, Array.tabulate(16)(_.toShort))).isEmpty)
  }

  test("interleaved MJPEG+PCM: both streams decode; full cross-kind reject matrix") {
    val dec = java.util.Base64.getDecoder
    val jpegs = Seq(graft.multimodal.JpegFixtures.gradient,
      graft.multimodal.JpegFixtures.checker,
      graft.multimodal.JpegFixtures.radial).map(dec.decode)
    val samples = Array.tabulate(64)(j => ((j * 77) % 2001 - 1000).toShort)
    val av = AviCodec.encodeMjpegWithPcm(16, 16, jpegs, 8000, samples)
    // MJPEG frames decode THROUGH the interleaved audio (01wb skipped,
    // auds strf never parsed as BITMAPINFOHEADER)
    val Some((w, h, frames)) = AviCodec.decodeMjpeg(av, everyK = 2)
    assert(w == 16 && h == 16 && frames.map(_._1) == Seq(0, 2))
    frames.zip(Seq(jpegs(0), jpegs(2))).foreach { case ((_, luma), j) =>
      val Some((_, _, direct)) = graft.multimodal.PngCodec.decodeGray(j)
      assert(luma.toSeq == direct.toSeq)
    }
    // audio reassembles through the interleaved 00dc chunks
    val Some((rate, gotA)) = AviCodec.decodeAviPcm16(av)
    assert(rate == 8000 && gotA.toSeq == samples.toSeq)
    // combined seam row with the pinned fixture luma
    val st = AviCodec.avMjpegStatsBatch(2)(Seq((9L, "video", av))).head
    assert(st.decoder == "avi/mjpeg-av-v1" && st.n_frames_sampled == 2)
    assert(st.luma_units == 23040L + 31363L) // gradient + radial: m21/m23's literals
    assert(st.amp_units == samples.map(s => math.abs(s.toLong)).sum)
    // cross-kind rejects: each A/V seam refuses the other's container,
    // and the DIB decoder refuses the lossy interleave outright
    val dibAv = AviCodec.encodeGray8WithPcm(6, 5,
      Seq(frame(6, 5, 1), frame(6, 5, 2)), 8000, samples)
    assert(AviCodec.decodeGray8(av).isEmpty)
    assert(AviCodec.decodeMjpeg(dibAv).isEmpty)
    assert(AviCodec.avMjpegStatsBatch(2)(
      Seq((1L, "video", dibAv))).head.decoder == "stub/md5-v1")
    assert(AviCodec.avStatsBatch(2)(
      Seq((1L, "video", av))).head.decoder == "stub/md5-v1")
    // video-only MJPEG (no auds stream) falls to the stub row too
    val videoOnly = AviCodec.encodeMjpeg(16, 16, jpegs)
    assert(AviCodec.avMjpegStatsBatch(2)(
      Seq((1L, "video", videoOnly))).head.decoder == "stub/md5-v1")
  }

  test("JUNK chunks anywhere are skipped (encoder emits one before movi)") {
    val bytes = AviCodec.encodeGray8(4, 4, Seq(frame(4, 4, 5)))
    assert(indexOfTag(bytes, "JUNK") > 0) // structure really contains it
    assert(AviCodec.decodeGray8(bytes).nonEmpty)
  }

  private def indexOfTag(bytes: Array[Byte], tag: String): Int = {
    val t = tag.getBytes("US-ASCII")
    bytes.indices.find(i => i + 4 <= bytes.length &&
      bytes(i) == t(0) && bytes(i + 1) == t(1) &&
      bytes(i + 2) == t(2) && bytes(i + 3) == t(3)).getOrElse(-1)
  }
}
