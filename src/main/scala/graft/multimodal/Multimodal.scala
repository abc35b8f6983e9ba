package graft.multimodal

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted per partition.
  *
  * The container has no image/audio codec LIBRARIES, so payloads are
  * synthesized — but in REAL public formats (24-bit BMP with row
  * padding, 16-bit PCM RIFF/WAVE), and [[MediaCodec]] performs a true
  * header parse (magic, dimensions, data offset, chunk walk, padding)
  * rather than a stand-in. Because each payload's pixels/samples are a
  * closed-form function of doc_id, the decoded statistics have an exact
  * DuckDB oracle — the binary pipeline is hash-compared end to end.
  * The schema (binary + metadata struct), the per-partition batch shape
  * (iterator → iterator, the same contract an Arrow/codec-based decode
  * would use), frame sampling, and the feature aggregation are the same
  * plumbing a production image/audio table would use.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, content: Array[Byte], kind: String)

  /** Media table synthesized from `documents`: UTF-8 payload as the
    * opaque binary column plus a typed metadata struct — the layout a
    * real image/audio table would have (binary + width/height/etc.).
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("blob").as("kind"),
        col("n_chars").cast("long").as("n_bytes"),
        col("source").as("origin")).as("meta"))

  final case class DecodedRow(
      doc_id: Long, kind: String, width: Long, height: Long,
      n_units: Long, mean_val: Double, max_val: Long)

  /** Media table with REAL format payloads: even doc_ids carry a 24-bit
    * BMP, odd doc_ids a 16-bit PCM WAV, pixels/samples a closed-form
    * function of doc_id (MediaCodec synthesis formulas).
    */
  def mediaBinaryTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaBinaryTable(spark, dir, kind = None)

  /** Single-kind callers pass `kind` so the parity filter runs BEFORE
    * the encode map — encoding a payload just to filter it away is pure
    * fixture waste on the hot per-partition path.
    */
  def mediaBinaryTable(
      spark: SparkSession, dir: String, kind: Option[String]): Dataset[MediaRow] = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val wanted = kind match {
      case Some("bmp") => ids.filter(col("doc_id") % 2 === 0)
      case Some("wav") => ids.filter(col("doc_id") % 2 =!= 0)
      case _           => ids
    }
    wanted
      .as[Long]
      .mapPartitions(_.map { id =>
        if (id % 2 == 0) MediaRow(id, MediaCodec.encodeBmp(id), "bmp")
        else MediaRow(id, MediaCodec.encodeWav(id), "wav")
      })
  }

  /** Registered query: a TRUE format decode of every payload — header
    * parse, padding/chunk walk, pixel/sample statistics — in the same
    * iterator→iterator per-partition shape. Because the synthesized
    * payloads are closed-form in doc_id, the decoded statistics are
    * oracle-checked against DuckDB recomputing the same formulas — the
    * encoder, the decoder and the pipeline all have to agree for the
    * hash to match.
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaBinaryTable(spark, dir)
      .mapPartitions(_.map { row =>
        val m = MediaCodec.decode(row.content)
        DecodedRow(row.doc_id, m.kind, m.width, m.height, m.nUnits, m.meanVal, m.maxVal)
      })
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of multimodalFeatures: the synthesis formulas evaluated
    * directly (pixel k = (doc_id·31 + k·7) mod 256 over w·h pixels;
    * sample k = (doc_id·13 + k·11) mod 4096 − 2048 over n samples) — if
    * the JVM encoder or decoder mishandled a header field, padding byte
    * or sign extension, the statistics would diverge.
    */
  private val multimodalFeaturesSql =
    s"""WITH bmp AS (
       |  SELECT doc_id, doc_id % 21 + 2 AS w, doc_id % 13 + 2 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |), bmpstats AS (
       |  SELECT b.doc_id, 'bmp' AS kind,
       |         CAST(b.w AS BIGINT) AS width, CAST(b.h AS BIGINT) AS height,
       |         CAST(b.w * b.h AS BIGINT) AS n_units,
       |         CAST(SUM((b.doc_id * 31 + t.k * 7) % 256) AS DOUBLE) / (b.w * b.h) AS mean_val,
       |         CAST(MAX((b.doc_id * 31 + t.k * 7) % 256) AS BIGINT) AS max_val
       |  FROM bmp b, unnest(generate_series(0, b.w * b.h - 1)) AS t(k)
       |  GROUP BY b.doc_id, b.w, b.h
       |), wav AS (
       |  SELECT doc_id, doc_id % 50 + 10 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |), wavstats AS (
       |  SELECT w.doc_id, 'wav' AS kind,
       |         CAST(w.n AS BIGINT) AS width, CAST(1 AS BIGINT) AS height,
       |         CAST(w.n AS BIGINT) AS n_units,
       |         CAST(SUM((w.doc_id * 13 + t.k * 11) % 4096 - 2048) AS DOUBLE) / w.n AS mean_val,
       |         CAST(MAX((w.doc_id * 13 + t.k * 11) % 4096 - 2048) AS BIGINT) AS max_val
       |  FROM wav w, unnest(generate_series(0, w.n - 1)) AS t(k)
       |  GROUP BY w.doc_id, w.n
       |)
       |SELECT * FROM bmpstats
       |UNION ALL
       |SELECT * FROM wavstats
       |ORDER BY doc_id""".stripMargin

  final case class ThumbRow(
      doc_id: Long, width: Long, height: Long,
      thumb_mean: Double, thumb_max: Long, thumb_checksum: Long)

  /** Registered query: decode every BMP payload and nearest-neighbor
    * resize it to an 8×8 thumbnail — the "resize" leg of the
    * decode/feature-extract/resize/frame-sample quartet, as real
    * byte-level work (header parse, bottom-up row unpadding, integer NN
    * mapping). The position-weighted checksum Σ(j+1)·v_j pins the exact
    * pixel MAPPING — a transposed or off-by-one resize matches on
    * mean/max but not on the checksum. Oracle: DuckDB recomputes the
    * thumbnail from the synthesis formula through the same ⌊x2·w/w2⌋
    * index arithmetic. Per-row scalar work in the iterator→iterator
    * partition shape — embarrassingly parallel at any corpus size.
    */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val side = 8
    mediaBinaryTable(spark, dir, kind = Some("bmp"))
      .mapPartitions(_.map { row =>
        val (w, h, px) = MediaCodec.decodeBmpPixels(row.content)
        val thumb      = MediaCodec.resizeNearest(w, h, px, side, side)
        var sum = 0L; var max = Long.MinValue; var chk = 0L
        var j = 0
        while (j < thumb.length) {
          sum += thumb(j)
          if (thumb(j) > max) max = thumb(j)
          chk += (j + 1).toLong * thumb(j)
          j += 1
        }
        ThumbRow(row.doc_id, w.toLong, h.toLong,
          sum.toDouble / thumb.length, max, chk)
      })
      .toDF()
      .select(
        col("doc_id"), col("width"), col("height"),
        graft.Det.detRound(col("thumb_mean"), 4).as("thumb_mean"),
        col("thumb_max"), col("thumb_checksum"))
      .orderBy(col("doc_id"))
  }

  private val multimodalResizeSql =
    s"""WITH bmp AS (
       |  SELECT doc_id, doc_id % 21 + 2 AS w, doc_id % 13 + 2 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |), px AS (
       |  SELECT b.doc_id, b.w, b.h, t.j,
       |         (b.doc_id * 31
       |          + ((((t.j // 8) * b.h) // 8) * b.w + (((t.j % 8) * b.w) // 8)) * 7) % 256 AS v
       |  FROM bmp b, unnest(generate_series(0, 63)) AS t(j)
       |)
       |SELECT doc_id,
       |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |       ${graft.Det.roundSql("CAST(SUM(v) AS DOUBLE) / 64", 4)} AS thumb_mean,
       |       CAST(MAX(v) AS BIGINT) AS thumb_max,
       |       CAST(SUM((t_j_plus_1) * v) AS BIGINT) AS thumb_checksum
       |FROM (SELECT doc_id, w, h, j, v, j + 1 AS t_j_plus_1 FROM px)
       |GROUP BY doc_id, w, h
       |ORDER BY doc_id""".stripMargin

  /** Media manifest: per-origin blob accounting over the binary column —
    * counts, total/avg payload bytes, distinct payloads (two-stage on
    * md5 of the binary — never shuffles payloads), and the frame count a
    * 64-byte frame slicer would produce. These are all REAL byte-level
    * operations, and because the fixture payload
    * is the UTF-8 text, every measure has an exact SQL twin over the
    * text column — so the binary pipeline is oracle-checked end to end.
    */
  def mediaManifest(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(Tables.documents(spark, dir))
    val perPayload = media
      .select(
        col("meta.origin").as("origin"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("payload_md5"),
        ceil(length(col("content")) / lit(64.0)).cast("long").as("n_frames"))
    perPayload
      .groupBy(col("origin"), col("payload_md5"))
      .agg(
        count(lit(1)).as("n_copies"),
        sum(col("n_bytes")).as("bytes_sum"),
        sum(col("n_frames")).as("frames_sum"))
      .groupBy(col("origin"))
      .agg(
        sum(col("n_copies")).as("n_blobs"),
        count(lit(1)).as("n_distinct_payloads"),
        sum(col("bytes_sum")).as("total_bytes"),
        sum(col("frames_sum")).as("total_frames_64b"))
      .select(
        col("origin"), col("n_blobs"), col("n_distinct_payloads"),
        col("total_bytes"),
        graft.Det.detRound(col("total_bytes").cast("double") / col("n_blobs"), 4)
          .as("avg_bytes"),
        col("total_frames_64b"))
      .orderBy(asc_nulls_last("origin"))
  }

  private val mediaManifestSql =
    s"""WITH per AS (
       |  SELECT source AS origin, md5(text) AS payload_md5,
       |         CAST(strlen(text) AS BIGINT) AS n_bytes,
       |         CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames
       |  FROM documents
       |), grouped AS (
       |  SELECT origin, payload_md5, count(*) AS n_copies,
       |         SUM(n_bytes) AS bytes_sum, SUM(n_frames) AS frames_sum
       |  FROM per GROUP BY origin, payload_md5
       |)
       |SELECT origin,
       |       CAST(SUM(n_copies) AS BIGINT) AS n_blobs,
       |       count(*) AS n_distinct_payloads,
       |       CAST(SUM(bytes_sum) AS BIGINT) AS total_bytes,
       |       ${graft.Det.roundSql("CAST(SUM(bytes_sum) AS DOUBLE) / SUM(n_copies)", 4)} AS avg_bytes,
       |       CAST(SUM(frames_sum) AS BIGINT) AS total_frames_64b
       |FROM grouped
       |GROUP BY origin
       |ORDER BY origin""".stripMargin

  final case class AudioFrameRow(
      doc_id: Long, frame_idx: Long, n_samples: Long, sum_sq: Long, peak: Long)

  /** Registered query: windowed audio frame analysis — the
    * frame-sample + feature-extract leg over the WAV payloads as REAL
    * byte-level work. Each payload's chunk walk yields the raw
    * sign-extended samples ([[MediaCodec.decodeWavSamples]]); frames of
    * 8 samples (last partial kept) each emit exact integer power sums
    * (sum of squares, peak |sample|) and the derived RMS — the
    * voice-activity / loudness screening pass an audio curation
    * pipeline runs before transcription. Per-row scalar work in the
    * iterator→iterator partition shape, embarrassingly parallel; the
    * oracle replays the synthesis formula through the same framing and
    * the IEEE sqrt.
    */
  def audioEnergyWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val FrameN = 8
    mediaBinaryTable(spark, dir, kind = Some("wav"))
      .mapPartitions(_.flatMap { row =>
        val s = MediaCodec.decodeWavSamples(row.content)
        s.grouped(FrameN).zipWithIndex.map { case (fr, i) =>
          var sq = 0L; var peak = 0L
          fr.foreach { v =>
            sq += v.toLong * v
            val a = math.abs(v.toLong)
            if (a > peak) peak = a
          }
          AudioFrameRow(row.doc_id, i.toLong, fr.length.toLong, sq, peak)
        }
      })
      .toDF()
      .withColumn(
        "rms",
        graft.Det.detRound(
          sqrt(col("sum_sq").cast("double") / col("n_samples")), 6))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  private val audioEnergyWindowsSql =
    s"""WITH wav AS (
       |  SELECT doc_id, doc_id % 50 + 10 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |), s AS (
       |  SELECT w.doc_id, t.k, (w.doc_id * 13 + t.k * 11) % 4096 - 2048 AS v
       |  FROM wav w, unnest(generate_series(0, w.n - 1)) AS t(k)
       |), fr AS (
       |  SELECT doc_id, k // 8 AS frame_idx,
       |         count(*) AS n_samples, SUM(v * v) AS sum_sq, MAX(abs(v)) AS peak
       |  FROM s GROUP BY doc_id, k // 8
       |)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |       CAST(n_samples AS BIGINT) AS n_samples,
       |       CAST(sum_sq AS BIGINT) AS sum_sq,
       |       CAST(peak AS BIGINT) AS peak,
       |       ${graft.Det.roundSql("sqrt(CAST(sum_sq AS DOUBLE) / n_samples)", 6)} AS rms
       |FROM fr
       |ORDER BY doc_id, frame_idx""".stripMargin

  final case class TileRow(
      doc_id: Long, tile_y: Long, tile_x: Long, n_px: Long,
      px_sum: Long, px_max: Long)

  /** Registered query: 4×4 tile statistics over every decoded BMP — the
    * patch-extraction pass a vision pipeline runs before any patch
    * encoder (and the image twin of audio_energy_windows' framing).
    * True decode via the shared byte-level BMP reader
    * ([[MediaCodec.decodeBmpPixels]]: header parse, bottom-up row
    * unpadding); edge tiles are partial, exact integer sums per tile,
    * mean deterministically rounded. The oracle replays the pixel
    * synthesis formula through the same row-major → (x, y) → tile index
    * arithmetic, so a transposed or off-by-one tiling hash-fails.
    */
  def imageTileStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = 4
    mediaBinaryTable(spark, dir, kind = Some("bmp"))
      .mapPartitions(_.flatMap { row =>
        val (w, h, px) = MediaCodec.decodeBmpPixels(row.content)
        val agg = scala.collection.mutable.LinkedHashMap
          .empty[(Int, Int), (Long, Long, Long)]
        var k = 0
        while (k < w * h) {
          val key  = (k / w / T, k % w / T) // (tile_y, tile_x)
          val v    = px(k).toLong
          val cur  = agg.getOrElse(key, (0L, 0L, Long.MinValue))
          agg(key) = (cur._1 + 1, cur._2 + v, math.max(cur._3, v))
          k += 1
        }
        agg.iterator.map { case ((ty, tx), (n, sum, max)) =>
          TileRow(row.doc_id, ty.toLong, tx.toLong, n, sum, max)
        }
      })
      .toDF()
      .withColumn(
        "mean_val",
        graft.Det.detRound(col("px_sum").cast("double") / col("n_px"), 6))
      .orderBy(col("doc_id"), col("tile_y"), col("tile_x"))
  }

  private val imageTileStatsSql =
    s"""WITH bmp AS (
       |  SELECT doc_id, doc_id % 21 + 2 AS w, doc_id % 13 + 2 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |), px AS (
       |  SELECT b.doc_id,
       |         (t.k // b.w) // 4 AS tile_y,
       |         (t.k % b.w) // 4 AS tile_x,
       |         (b.doc_id * 31 + t.k * 7) % 256 AS v
       |  FROM bmp b, unnest(generate_series(0, b.w * b.h - 1)) AS t(k)
       |), tiles AS (
       |  SELECT doc_id, tile_y, tile_x,
       |         count(*) AS n_px, SUM(v) AS px_sum, MAX(v) AS px_max
       |  FROM px GROUP BY doc_id, tile_y, tile_x
       |)
       |SELECT doc_id, CAST(tile_y AS BIGINT) AS tile_y,
       |       CAST(tile_x AS BIGINT) AS tile_x,
       |       CAST(n_px AS BIGINT) AS n_px,
       |       CAST(px_sum AS BIGINT) AS px_sum,
       |       CAST(px_max AS BIGINT) AS px_max,
       |       ${graft.Det.roundSql("CAST(px_sum AS DOUBLE) / n_px", 6)} AS mean_val
       |FROM tiles
       |ORDER BY doc_id, tile_y, tile_x""".stripMargin

  final case class PHashRow(doc_id: Long, hi: Long, lo: Long)

  /** Perceptual image dedup (DCT pHash + banded Hamming join) — the
    * multimodal leg of the dedup family: every BMP payload is REALLY
    * decoded, thumbnailed to 16×16, put through an exact integer 2-D
    * DCT ([[MediaCodec.phash64]]: fixed-point cosine table, two
    * separable passes, no float seam), and hashed as
    * coefficient-vs-median of the 63 low-frequency terms — the hash
    * that survives the clamped brightness/contrast shifts that flip
    * aHash's mean comparisons (MultimodalSpec proves the separation on
    * a crafted shifted duplicate). Near-duplicate candidate pairs come
    * from a simhash-style 4×16-bit band join over the 64-bit hash
    * (size-capped posting lists — never all-pairs). Output is the
    * Hamming-distance histogram of the candidate pairs (zero-padded
    * bin labels so the report reads in distance order): the '00' bin
    * counts perceptual exact-dups, low bins near-dups — the view that
    * sizes an image-dedup pass before it runs. Oracle: DuckDB
    * recomputes pixels from the synthesis formula through the SAME
    * resize index arithmetic, the SAME integer cosine table (shipped
    * into the SQL as a VALUES literal), median, hash bits, bands and
    * XOR popcounts — encoder, decoder, DCT, hash and blocking all have
    * to agree.
    */
  def imageDedupPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = mediaBinaryTable(spark, dir, kind = Some("bmp"))
      .mapPartitions(_.map { row =>
        val (w, h, px) = MediaCodec.decodeBmpPixels(row.content)
        val bits       = MediaCodec.phash64(w, h, px)
        PHashRow(row.doc_id, bits >>> 32, bits & 0xffffffffL)
      })
      .toDF()
    val bands = hashes.select(
      col("doc_id"), col("hi"), col("lo"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band,
          |  CASE WHEN b = 0 THEN lo & 65535
          |       WHEN b = 1 THEN shiftright(lo, 16) & 65535
          |       WHEN b = 2 THEN hi & 65535
          |       ELSE shiftright(hi, 16) & 65535 END AS bh))""".stripMargin)).as("l"))
      .select(col("doc_id"), col("l.band"), col("l.bh"))
    val candidates = bands
      .groupBy(col("band"), col("bh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 200).as("ids"))
      .select(posexplode(col("ids")).as(Seq("i", "doc_a")), col("ids"))
      .select(col("doc_a"), explode(expr("slice(ids, i + 2, size(ids))")).as("doc_b"))
      .distinct()
    val ha = hashes.select(col("doc_id").as("doc_a"), col("hi").as("hi_a"), col("lo").as("lo_a"))
    val hb = hashes.select(col("doc_id").as("doc_b"), col("hi").as("hi_b"), col("lo").as("lo_b"))
    candidates
      .join(ha, "doc_a")
      .join(hb, "doc_b")
      .select(
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .select(
        // zero-padded labels: lexicographic == numeric distance order,
        // so the histogram reads exact→near→weak→far
        when(col("hamming") === 0, "00_exact")
          .when(col("hamming") <= 8, "01-08_near")
          .when(col("hamming") <= 16, "09-16_weak")
          .otherwise("17+_far").as("hamming_bin"))
      .groupBy(col("hamming_bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming_bin"))
  }

  private val imageDedupPhashSql = {
    // the EXACT fixed-point cosine table the Scala kernel uses, shipped
    // into the oracle as a literal — both engines run the identical
    // all-integer DCT, so the hash compare has zero float seams
    val ct = (for { u <- 0 until 8; x <- 0 until 16 }
      yield s"($u,$x,${MediaCodec.PhashCos(u)(x)})").mkString(",")
    s"""WITH bmp AS (
       |  SELECT doc_id, doc_id % 21 + 2 AS w, doc_id % 13 + 2 AS h
       |  FROM documents WHERE doc_id % 2 = 0
       |), ct(u, x, c) AS (
       |  SELECT * FROM (VALUES $ct)
       |), px16 AS (
       |  SELECT b.doc_id, t.j // 16 AS ty, t.j % 16 AS tx,
       |         (b.doc_id * 31
       |          + ((((t.j // 16) * b.h) // 16) * b.w + (((t.j % 16) * b.w) // 16)) * 7) % 256 AS v
       |  FROM bmp b, unnest(generate_series(0, 255)) AS t(j)
       |), pass1 AS (
       |  SELECT p.doc_id, p.ty, ct.u, CAST(SUM(p.v * ct.c) AS BIGINT) AS f1
       |  FROM px16 p JOIN ct ON ct.x = p.tx
       |  GROUP BY p.doc_id, p.ty, ct.u
       |), dct AS (
       |  SELECT p.doc_id, p.u * 8 + ct.u AS j,
       |         CAST(SUM(p.f1 * ct.c) AS BIGINT) AS coeff
       |  FROM pass1 p JOIN ct ON ct.x = p.ty
       |  WHERE NOT (p.u = 0 AND ct.u = 0)
       |  GROUP BY p.doc_id, p.u, ct.u
       |), med AS (
       |  SELECT doc_id, MAX(CASE WHEN rn = 32 THEN coeff END) AS med
       |  FROM (SELECT doc_id, coeff,
       |               row_number() OVER (PARTITION BY doc_id ORDER BY coeff) AS rn
       |        FROM dct)
       |  GROUP BY doc_id
       |), hashes AS (
       |  SELECT d.doc_id,
       |         CAST(SUM(CASE WHEN d.coeff > m.med AND d.j >= 32 THEN 1::BIGINT << (d.j - 32) ELSE 0 END) AS BIGINT) AS hi,
       |         CAST(SUM(CASE WHEN d.coeff > m.med AND d.j < 32 THEN 1::BIGINT << d.j ELSE 0 END) AS BIGINT) AS lo
       |  FROM dct d JOIN med m USING (doc_id)
       |  GROUP BY d.doc_id
       |), bands AS (
       |  SELECT doc_id, b.band,
       |         CASE WHEN b.band = 0 THEN lo & 65535
       |              WHEN b.band = 1 THEN (lo >> 16) & 65535
       |              WHEN b.band = 2 THEN hi & 65535
       |              ELSE (hi >> 16) & 65535 END AS bh
       |  FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
       |), buck AS (
       |  SELECT band, bh, list_slice(list_sort(list(doc_id)), 1, 200) AS ids
       |  FROM bands GROUP BY band, bh
       |), cand AS (
       |  SELECT DISTINCT a.x AS doc_a, b.x AS doc_b
       |  FROM buck, unnest(ids) AS a(x), unnest(ids) AS b(x)
       |  WHERE a.x < b.x
       |), ham AS (
       |  SELECT bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS hamming
       |  FROM cand c
       |  JOIN hashes ha ON c.doc_a = ha.doc_id
       |  JOIN hashes hb ON c.doc_b = hb.doc_id
       |)
       |SELECT CASE WHEN hamming = 0 THEN '00_exact' WHEN hamming <= 8 THEN '01-08_near'
       |            WHEN hamming <= 16 THEN '09-16_weak' ELSE '17+_far' END AS hamming_bin,
       |       count(*) AS n_pairs
       |FROM ham
       |GROUP BY 1
       |ORDER BY hamming_bin""".stripMargin
  }

  final case class VideoKeyRow(
      doc_id: Long, n_frames: Long, n_sampled: Long, key_frame_idx: Long,
      key_n_samples: Long, key_sum_sq: Long, key_peak: Long)

  /** Registered query: temporal frame decimation + keyframe selection —
    * the 1-in-N frame-sampling pass a video curation pipeline runs
    * before any per-frame encoder (sample every 3rd frame, keep the
    * highest-energy sampled frame as the clip's representative
    * thumbnail). The WAV payloads stand in as the frame stream: the
    * chunk walk yields raw samples ([[MediaCodec.decodeWavSamples]]),
    * frames of 8 samples are enumerated, and ONLY frames with
    * `idx % 3 == 0` have their statistics computed — decimation happens
    * before feature extraction, which is the entire point of frame
    * sampling (decode headers once, skip 2/3 of the frame compute).
    * Keyframe = max exact integer energy among sampled frames, ties to
    * the earliest frame.
    *
    * Scale: one media blob is one row, so decode → decimate → select is
    * per-row scalar work in the iterator→iterator partition shape — no
    * shuffle, no window, no state; the final sort is the registry-wide
    * presentation orderBy. The oracle replays the synthesis formula
    * through the same framing, decimation predicate and
    * (energy DESC, frame_idx ASC) argmax, so an off-by-one decimation
    * phase or a tie broken the other way hash-fails.
    *
    * Reference analog: the per-session binary-cell scan of
    * load_hbase_sessions_stream.py:15-18, generalized to the
    * frame-sample leg of a multimodal ingest.
    */
  def videoFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val FrameN = 8; val EveryN = 3
    mediaBinaryTable(spark, dir, kind = Some("wav"))
      .mapPartitions(_.map { row =>
        val s = MediaCodec.decodeWavSamples(row.content)
        val nFrames = (s.length + FrameN - 1) / FrameN
        var nSampled = 0L
        var bestIdx = 0L; var bestN = 0L; var bestSq = -1L; var bestPeak = 0L
        var f = 0
        while (f < nFrames) {
          if (f % EveryN == 0) {
            nSampled += 1
            val start = f * FrameN
            val end   = math.min(start + FrameN, s.length)
            var sq = 0L; var peak = 0L; var k = start
            while (k < end) {
              val v = s(k).toLong
              sq += v * v
              val a = math.abs(v); if (a > peak) peak = a
              k += 1
            }
            if (sq > bestSq) {
              bestIdx = f.toLong; bestN = (end - start).toLong
              bestSq = sq; bestPeak = peak
            }
          }
          f += 1
        }
        VideoKeyRow(row.doc_id, nFrames.toLong, nSampled, bestIdx,
          bestN, bestSq, bestPeak)
      })
      .toDF()
      .withColumn(
        "key_rms",
        graft.Det.detRound(
          sqrt(col("key_sum_sq").cast("double") / col("key_n_samples")), 6))
      .orderBy(col("doc_id"))
  }

  private val videoFrameSampleSql =
    s"""WITH wav AS (
       |  SELECT doc_id, doc_id % 50 + 10 AS n
       |  FROM documents WHERE doc_id % 2 = 1
       |), s AS (
       |  SELECT w.doc_id, w.n, t.k, (w.doc_id * 13 + t.k * 11) % 4096 - 2048 AS v
       |  FROM wav w, unnest(generate_series(0, w.n - 1)) AS t(k)
       |), fr AS (
       |  SELECT doc_id, n, k // 8 AS frame_idx,
       |         count(*) AS n_samples, SUM(v * v) AS sum_sq, MAX(abs(v)) AS peak
       |  FROM s WHERE (k // 8) % 3 = 0
       |  GROUP BY doc_id, n, k // 8
       |), ranked AS (
       |  SELECT *,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |                            ORDER BY sum_sq DESC, frame_idx) AS r,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS n_samp
       |  FROM fr
       |)
       |SELECT doc_id,
       |       CAST(CEIL(n / 8.0) AS BIGINT) AS n_frames,
       |       CAST(n_samp AS BIGINT) AS n_sampled,
       |       CAST(frame_idx AS BIGINT) AS key_frame_idx,
       |       CAST(n_samples AS BIGINT) AS key_n_samples,
       |       CAST(sum_sq AS BIGINT) AS key_sum_sq,
       |       CAST(peak AS BIGINT) AS key_peak,
       |       ${graft.Det.roundSql("sqrt(CAST(sum_sq AS DOUBLE) / n_samples)", 6)} AS key_rms
       |FROM ranked
       |WHERE r = 1
       |ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "video_frame_sample"   -> QueryDef(videoFrameSample, Some(videoFrameSampleSql)),
    "image_dedup_phash"    -> QueryDef(imageDedupPhash, Some(imageDedupPhashSql)),
    "image_tile_stats"     -> QueryDef(imageTileStats, Some(imageTileStatsSql)),
    "audio_energy_windows" -> QueryDef(audioEnergyWindows, Some(audioEnergyWindowsSql)),
    "multimodal_features" -> QueryDef(multimodalFeatures, Some(multimodalFeaturesSql)),
    "multimodal_resize"   -> QueryDef(multimodalResize, Some(multimodalResizeSql)),
    "media_manifest"      -> QueryDef(mediaManifest, Some(mediaManifestSql)))
}
