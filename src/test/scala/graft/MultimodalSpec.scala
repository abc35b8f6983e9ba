package graft

import graft.multimodal.{MediaCodec, Multimodal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def media = Multimodal.mediaTable(Tables.documents(spark, TestSpark.Sf))

  test("media table has binary payload + typed metadata") {
    val schema = media.schema
    assert(schema("content").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    assert(media.count() === Tables.documents(spark, TestSpark.Sf).count())
  }

  test("BMP roundtrip: encode → true header parse → closed-form stats") {
    import graft.multimodal.MediaCodec
    for (id <- Seq(0L, 2L, 40L, 398L)) {
      val m = MediaCodec.decode(MediaCodec.encodeBmp(id))
      assert(m.kind === "bmp")
      assert(m.width === MediaCodec.bmpWidth(id) && m.height === MediaCodec.bmpHeight(id))
      val n = m.width * m.height
      val vals = (0 until n.toInt).map(k => MediaCodec.bmpPixel(id, k))
      assert(m.nUnits === n)
      assert(m.meanVal === vals.map(_.toLong).sum.toDouble / n)
      assert(m.maxVal === vals.max.toLong)
    }
  }

  test("WAV roundtrip: chunk walk, sign extension, closed-form stats") {
    import graft.multimodal.MediaCodec
    for (id <- Seq(1L, 3L, 47L, 399L)) {
      val m = MediaCodec.decode(MediaCodec.encodeWav(id))
      assert(m.kind === "wav")
      val n = MediaCodec.wavSamples(id)
      val vals = (0 until n).map(k => MediaCodec.wavSample(id, k))
      assert(m.width === n.toLong && m.height === 1L && m.nUnits === n.toLong)
      assert(vals.exists(_ < 0), "fixture should exercise negative samples")
      assert(m.meanVal === vals.map(_.toLong).sum.toDouble / n)
      assert(m.maxVal === vals.max.toLong)
    }
  }

  test("malformed payloads are rejected, not guessed at") {
    import graft.multimodal.MediaCodec
    assertThrows[IllegalArgumentException](
      MediaCodec.decode("not a media file at all".getBytes("UTF-8")))
    // valid BMP magic but truncated before the pixel data
    val bmp = MediaCodec.encodeBmp(6L)
    assertThrows[IllegalArgumentException](MediaCodec.decode(bmp.take(40)))
    assertThrows[IllegalArgumentException](MediaCodec.decode(bmp.take(60)))
    // WAV whose data chunk length overruns the buffer
    val wav = MediaCodec.encodeWav(7L)
    assertThrows[IllegalArgumentException](MediaCodec.decode(wav.dropRight(4)))
  }

  test("video_frame_sample: decimation before compute, keyframe = argmax of sampled") {
    val out = Multimodal.videoFrameSample(spark, TestSpark.Sf).collect()
    assert(out.nonEmpty)
    // brute-force recompute from the synthesis formulas, honoring the
    // every-3rd-frame decimation and the (energy DESC, idx ASC) tie rule
    out.take(40).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n  = MediaCodec.wavSamples(id)
      val frames = (0 until (n + 7) / 8).map { f =>
        val ks = (f * 8) until math.min(f * 8 + 8, n)
        val sq = ks.map { k => val v = MediaCodec.wavSample(id, k).toLong; v * v }.sum
        (f.toLong, ks.size.toLong, sq)
      }
      val sampledFrames = frames.filter(_._1 % 3 == 0)
      assert(r.getAs[Long]("n_frames") === frames.size.toLong)
      assert(r.getAs[Long]("n_sampled") === sampledFrames.size.toLong)
      val best = sampledFrames.maxBy { case (f, _, sq) => (sq, -f) }
      assert(r.getAs[Long]("key_frame_idx") === best._1)
      assert(r.getAs[Long]("key_n_samples") === best._2)
      assert(r.getAs[Long]("key_sum_sq") === best._3)
      // keyframe must be a SAMPLED frame even when a skipped frame has
      // more energy — decimation is the contract, not an optimization
      assert(best._1 % 3 === 0)
    }
    // the fixture must include at least one doc where the global argmax
    // frame is NOT sampled (so decimation is observably load-bearing)
    val divergent = out.take(200).exists { r =>
      val id = r.getAs[Long]("doc_id")
      val n  = MediaCodec.wavSamples(id)
      val frames = (0 until (n + 7) / 8).map { f =>
        val ks = (f * 8) until math.min(f * 8 + 8, n)
        (f, ks.map { k => val v = MediaCodec.wavSample(id, k).toLong; v * v }.sum)
      }
      frames.maxBy { case (f, sq) => (sq, -f) }._1 % 3 != 0
    }
    assert(divergent, "fixture never exercises a skipped-frame global max")
  }

  test("corrupt chunk sizes throw instead of hanging the decoder") {
    val wav = MediaCodec.encodeWav(5L)
    // poison the fmt chunk size field with -8: a naive cursor advances
    // by 0 bytes forever
    val bad = wav.clone()
    bad(16) = 0xf8.toByte; bad(17) = 0xff.toByte
    bad(18) = 0xff.toByte; bad(19) = 0xff.toByte
    intercept[IllegalArgumentException](MediaCodec.decode(bad))
    // and a BMP whose width/height would overflow int bounds math
    val bmp = MediaCodec.encodeBmp(4L)
    val badBmp = bmp.clone()
    badBmp(18) = 0xff.toByte; badBmp(19) = 0xff.toByte
    badBmp(20) = 0xff.toByte; badBmp(21) = 0x7f.toByte
    intercept[IllegalArgumentException](MediaCodec.decode(badBmp))
  }

  test("pixel decode undoes bottom-up storage; NN resize maps exactly") {
    val docId      = 4L // even → BMP
    val (w, h, px) = MediaCodec.decodeBmpPixels(MediaCodec.encodeBmp(docId))
    assert(w === MediaCodec.bmpWidth(docId) && h === MediaCodec.bmpHeight(docId))
    // row-major reconstruction must equal the synthesis formula at every
    // position (catches transposed/upside-down decodes that pass on stats)
    (0 until w * h).foreach { k =>
      assert(px(k) === MediaCodec.bmpPixel(docId, k), s"pixel $k")
    }
    // identity resize is a no-op
    assert(MediaCodec.resizeNearest(w, h, px, w, h).toSeq === px.toSeq)
    // hand-computed 2x2 -> 4x4: each source pixel becomes a 2x2 block
    val up = MediaCodec.resizeNearest(2, 2, Array(10, 20, 30, 40), 4, 4)
    assert(up.toSeq === Seq(
      10, 10, 20, 20,
      10, 10, 20, 20,
      30, 30, 40, 40,
      30, 30, 40, 40))
    // downscale picks the floor-mapped source pixel
    assert(MediaCodec.resizeNearest(2, 2, Array(10, 20, 30, 40), 1, 1).toSeq === Seq(10))
  }

  test("decodeWavSamples round-trips the synthesis formula; audio frames cover every sample") {
    val docId = 12347L // odd -> wav
    val s = MediaCodec.decodeWavSamples(MediaCodec.encodeWav(docId))
    assert(s.length === MediaCodec.wavSamples(docId))
    s.indices.foreach { k =>
      assert(s(k) === MediaCodec.wavSample(docId, k), s"sample $k")
    }
    val rows = graft.multimodal.Multimodal
      .audioEnergyWindows(spark, TestSpark.Sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, frames) =>
      val n = frames.map(_.getLong(2)).sum
      assert(n === (id % 50) + 10, s"doc $id frames cover $n samples")
      // dense frame indices; only the LAST frame may be partial
      val byIdx = frames.sortBy(_.getLong(1))
      assert(byIdx.map(_.getLong(1)).toSeq === (0L until frames.length).toSeq)
      byIdx.init.foreach(f => assert(f.getLong(2) === 8L, s"doc $id inner frame partial"))
      frames.foreach { f =>
        assert(f.getLong(4) <= 2048L, s"doc $id peak out of 16-bit synth range")
        val rms = f.getDouble(5)
        assert(rms >= 0.0 && rms <= 2048.0, s"doc $id rms $rms out of range")
      }
    }
  }

  test("pHash survives a clamped brightness shift that breaks aHash") {
    // 4x4 blocks of 8x8 px — strong low-frequency structure (pHash's
    // signal) with many mid values near the mean (aHash's weakness).
    // The duplicate is the same image brightness-shifted +80 with
    // clamping at 255: saturation moves the thumbnail mean relative to
    // mid pixels and flips a third of aHash's bits, while the DCT
    // coefficient-vs-median signs barely move.
    val blocks = Array(
      Array(120, 120, 110, 245),
      Array(245, 110, 40, 110),
      Array(130, 120, 120, 40),
      Array(130, 245, 40, 40))
    val (w, h) = (32, 32)
    val base = Array.tabulate(w * h)(i => blocks((i / w) / 8)((i % w) / 8))
    val shifted = base.map(v => math.min(255, v + 80))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val aDist = ham(MediaCodec.ahash64(w, h, base), MediaCodec.ahash64(w, h, shifted))
    val pDist = ham(MediaCodec.phash64(w, h, base), MediaCodec.phash64(w, h, shifted))
    assert(pDist <= 8, s"pHash must keep the shifted duplicate near (got $pDist)")
    assert(aDist > 16, s"aHash must lose the shifted duplicate (got $aDist) — " +
      "if this starts passing for aHash the fixture no longer demonstrates the upgrade")
    // and identical payloads are distance 0 on both
    assert(ham(MediaCodec.phash64(w, h, base), MediaCodec.phash64(w, h, base.clone())) === 0)
  }

  test("pHash DC bit is clear and exactly the above-median coefficients are set") {
    // flat image: all 63 AC coefficients are 0 → median 0, no strict
    // exceeders → hash must be exactly 0 (bit 0 = DC always clear)
    val flat = Array.fill(16 * 16)(77)
    assert(MediaCodec.phash64(16, 16, flat) === 0L)
    // a structured image sets at most 31 bits (strictly above the
    // 32nd-smallest of 63) and never bit 0
    val blocks = Array.tabulate(16 * 16)(i => ((i % 16) / 4 * 60 + (i / 64) * 30) % 256)
    val bits   = MediaCodec.phash64(16, 16, blocks)
    assert((bits & 1L) === 0L, "DC bit must stay clear")
    assert(java.lang.Long.bitCount(bits) <= 31)
  }

  test("image tiles cover every pixel exactly once, with full inner tiles") {
    val rows = graft.multimodal.Multimodal
      .imageTileStats(spark, TestSpark.Sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, tiles) =>
      val (w, h) = ((id % 21) + 2, (id % 13) + 2)
      assert(tiles.map(_.getLong(3)).sum === w * h, s"doc $id tile coverage")
      val maxTy = (h - 1) / 4
      val maxTx = (w - 1) / 4
      tiles.foreach { t =>
        val (ty, tx, n) = (t.getLong(1), t.getLong(2), t.getLong(3))
        assert(ty <= maxTy && tx <= maxTx, s"doc $id tile ($ty,$tx) out of grid")
        // inner (non-edge) tiles are full 4x4
        if (ty < maxTy && tx < maxTx) assert(n === 16L, s"doc $id inner tile $n px")
        assert(t.getLong(5) <= 255L, s"doc $id pixel out of byte range")
      }
    }
  }
}
