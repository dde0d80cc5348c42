package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media (image/audio/video) as opaque
  * `binary` columns with typed metadata, and partition-wise feature
  * extraction.
  *
  * The Spark-side shape is real and tested: schema, batching,
  * partition sizing, and the typed `mapPartitions` boundary are
  * exactly what a production decode stage uses. Since round 3 the
  * image (PNG via javax.imageio), audio (WAV/PCM16 via
  * javax.sound.sampled), and clip-container paths run REAL pure-JRE
  * codecs — the legacy byte-statistics [[MediaDecoder]] survives only
  * for the original `mm_features` gate. A heavier codec (JPEG, Opus,
  * H.264 via JNI) swaps in without touching any plan.
  */
object Multimodal {

  /** A media row: payload + the typed metadata a real pipeline carries. */
  case class MediaRow(doc_id: Long, mime: String, n_bytes: Int,
                      payload: Array[Byte])

  /** Extracted features (what a decode→resize→featurize stage emits). */
  case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
                           width: Int, height: Int, mean_px: Double,
                           std_px: Double, histogram: Array[Long])

  /** STUB decoder — deterministic fake in place of a real codec. */
  object MediaDecoder {
    /** "Decode" payload bytes into a fake WxH gray image: the byte
      * stream itself plays the pixel buffer. Deterministic, so tests
      * and benchmarks of the surrounding plan are real.
      */
    def decode(payload: Array[Byte]): (Int, Int, Array[Int]) = {
      val w = math.max(1, math.min(64, payload.length))
      val h = math.max(1, payload.length / w)
      val px = payload.take(w * h).map(b => b & 0xff)
      (w, h, px)
    }
  }

  /** Attach a binary payload column. Here the document text bytes
    * stand in for media blobs; a real corpus reads them from parquet
    * `binary` columns directly.
    */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      lit("image/fake").as("mime"),
      octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
      encode(col("text"), "UTF-8").as("payload"))

  /** REAL codec — PNG via `javax.imageio` (pure JRE, no native libs):
    * grayscale encode/decode, byte-lossless. This replaces the decode
    * stub for the image path; the container has no external media
    * libraries, but the JRE's PNG plugin is a genuine codec.
    */
  object PngCodec {
    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, px(y * w + x)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** None when no registered reader recognizes the bytes —
      * ImageIO.read returns null (it does not throw) on corrupt or
      * foreign payloads, and one bad row must not NPE a corpus scan.
      */
    def decodeOpt(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))).map(decodeImage)

    def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) =
      decodeOpt(bytes).getOrElse(
        throw new IllegalArgumentException("undecodable image payload"))

    private def decodeImage(img: java.awt.image.BufferedImage)
        : (Int, Int, Array[Int]) = {
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      (w, h, px)
    }
  }

  /** Deterministic analytic test images, encoded as REAL PNG bytes:
    * pixel(x, y) = (doc_id·31 + x·7 + y·13) mod 256 over a
    * doc_id-derived geometry. Because PNG is lossless and the pixel
    * law is closed-form, the decode→featurize pipeline is value-
    * checkable by an oracle that computes the same statistics
    * analytically — the gate verifies an actual codec round-trip, not
    * just row counts.
    */
  def attachPngPayload(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        // floorMod: Scala % keeps the dividend's sign, so a negative
        // (hash-derived) id would yield a 0-width image or a negative
        // pixel law that no longer round-trips
        val w = (8 + java.lang.Math.floorMod(id, 9L)).toInt
        val h = (8 + java.lang.Math.floorMod(id * 7, 9L)).toInt
        val px = Array.tabulate(w * h) { i =>
          val (x, y) = (i % w, i / w)
          java.lang.Math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt
        }
        val bytes = PngCodec.encode(w, h, px)
        MediaRow(id, "image/png", bytes.length, bytes)
      }
    }.toDF()
  }

  /** REAL audio codec — WAV/PCM16 via `javax.sound.sampled` (pure JRE,
    * no native libs): mono 16-bit little-endian encode/decode,
    * sample-lossless. The audio analog of [[PngCodec]]: the container
    * ships no media libraries, but the JRE's WAV reader/writer is a
    * genuine codec, so the decode stage under test is real.
    */
  object WavCodec {
    def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** None on corrupt/foreign payloads or non-PCM16 content — one bad
      * row must not kill a corpus scan (same contract as
      * [[PngCodec.decodeOpt]]).
      */
    def decodeOpt(bytes: Array[Byte]): Option[(Int, Array[Short])] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val out = new Array[Short](n)
          val bigEndian = fmt.isBigEndian
          var i = 0
          while (i < n) {
            val (b0, b1) = (raw(2 * i), raw(2 * i + 1))
            out(i) =
              (if (bigEndian) (b0 << 8) | (b1 & 0xff)
               else (b1 << 8) | (b0 & 0xff)).toShort
            i += 1
          }
          Some((fmt.getSampleRate.toInt, out))
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }
  }

  /** Deterministic analytic test audio, encoded as REAL WAV bytes:
    * sample(i) = ((doc_id·31 + i·7919) mod 4096) − 2048 over a
    * doc_id-derived length — a 12-bit pseudo-sawtooth. PCM16-in-WAV is
    * lossless and the sample law is closed-form integers, so the
    * decode→featurize pipeline is value-checkable by a SQL oracle that
    * recomputes the same statistics analytically (the audio analog of
    * [[attachPngPayload]]).
    */
  val WavSampleRate = 8000

  def attachWavPayload(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val n = (256 + java.lang.Math.floorMod(id, 257L)).toInt
        val pcm = Array.tabulate(n) { i =>
          (java.lang.Math.floorMod(id * 31 + i.toLong * 7919, 4096L) - 2048).toShort
        }
        val bytes = WavCodec.encode(pcm, WavSampleRate)
        MediaRow(id, "audio/wav", bytes.length, bytes)
      }
    }.toDF()
  }

  /** Audio features from a real WAV decode ([[WavCodec]]): RMS via an
    * exact integer energy sum, zero-crossing count, peak amplitude —
    * the standard cheap audio-quality screens. Same
    * iterator-at-a-time memory shape as the image path.
    */
  case class AudioFeatures(doc_id: Long, mime: String, sample_rate: Int,
                           n_samples: Int, rms: Double,
                           zero_crossings: Int, peak: Int)

  def extractAudioFeatures(media: DataFrame)
                          (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        WavCodec.decodeOpt(r.payload).map { case (rate, pcm) =>
          val n = math.max(1, pcm.length)
          // energy sum in Long: 16-bit samples square to ≤ 2^30, so
          // 2^33 samples fit — an hour of 48 kHz audio is ~2^27
          var (sum2, zc, peak) = (0L, 0, 0)
          var i = 0
          while (i < pcm.length) {
            val s = pcm(i).toInt
            sum2 += s.toLong * s
            if (i > 0 && ((pcm(i - 1) < 0) != (s < 0))) zc += 1
            val a = math.abs(s)
            if (a > peak) peak = a
            i += 1
          }
          AudioFeatures(r.doc_id, r.mime, rate, pcm.length,
            math.sqrt(sum2.toDouble / n), zc, peak)
        }
      }
    }
  }

  /** Per-frame integer energy of a decoded WAV stream: the PCM samples
    * framed into `frameLen`-sample windows, each with its exact sum of
    * squares (Long — 16-bit samples square to ≤ 2^30, so even 2^33
    * samples per frame would fit). Decode is iterator-at-a-time; one
    * output row per frame.
    */
  case class FrameEnergy(doc_id: Long, frame: Int, n_in_frame: Int,
                         energy: Long)

  def audioFrameEnergies(media: DataFrame, frameLen: Int)
                        (implicit spark: SparkSession): Dataset[FrameEnergy] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        WavCodec.decodeOpt(r.payload).toSeq.flatMap { case (_, pcm) =>
          pcm.grouped(frameLen).zipWithIndex.map { case (fr, idx) =>
            var sum2 = 0L
            var i = 0
            while (i < fr.length) {
              val s = fr(i).toInt; sum2 += s.toLong * s; i += 1
            }
            FrameEnergy(r.doc_id, idx, fr.length, sum2)
          }
        }
      }
    }
  }

  /** Energy-based activity segmentation (VAD shape) over the real WAV
    * decode: a frame is ACTIVE when its mean energy clears
    * `minMeanEnergy` (compared in exact integers —
    * `energy ≥ minMeanEnergy · n` — so the short tail frame is judged
    * by the same rule without a division), and consecutive active
    * frames merge into segments with the same per-document
    * gap-and-island window pass as [[Dedup.duplicateSpans]]. This is
    * the speech/music trimming screen an audio curation pipeline runs
    * before transcription: everything stays integer-exact, the decode
    * never materializes a clip's frames off its row until the
    * per-frame explode, and the merge shuffles one row per frame keyed
    * by doc.
    *
    * Output: (doc_id, seg_start, seg_end, n_frames, n_samples,
    * energy_sum) — frame indices inclusive.
    */
  def audioActivitySegments(media: DataFrame, frameLen: Int = 64,
                            minMeanEnergy: Long = 1400000L)
                           (implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = audioFrameEnergies(media, frameLen).toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame")
    f.where(col("energy") >= lit(minMeanEnergy) * col("n_in_frame"))
      .withColumn("grp", col("frame") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("frame")).cast("long").as("seg_start"),
        max(col("frame")).cast("long").as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("n_in_frame")).as("n_samples"),
        sum(col("energy")).as("energy_sum"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"),
        col("n_frames"), col("n_samples"), col("energy_sum"))
  }

  /** Minimal seekable clip container: [4-byte big-endian length][frame
    * bytes] repeated — the property that matters for video pipelines
    * is SEEKABILITY: frame byte ranges are recoverable without
    * decoding, so a sampling pass decodes only the frames it keeps.
    * Real video containers (MP4/MKV) carry the same information in an
    * index box; this is that shape reduced to its essence.
    */
  object ClipCodec {
    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
      bos.toByteArray
    }

    /** (offset, length) of each frame, parsed from the prefixes alone.
      * A torn/corrupt tail stops the walk — partial frames are
      * dropped, never thrown on (one bad payload must not kill a
      * corpus scan).
      */
    def frameOffsets(bytes: Array[Byte]): IndexedSeq[(Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var p = 0
      var ok = true
      while (ok && p + 4 <= bytes.length) {
        val len = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
          ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
        // bounds check in Long: a hostile length prefix near Int.MaxValue
        // would wrap p + 4 + len negative and slip past an Int compare
        if (len < 0 || p.toLong + 4 + len > bytes.length) ok = false
        else { out += ((p + 4, len)); p += 4 + len }
      }
      out.toIndexedSeq
    }
  }

  /** Deterministic analytic test clips: `2 + doc_id mod 4` frames of
    * REAL PNG bytes, frame f's pixel law mixing the frame index in —
    * pixel(x, y) = (doc_id·31 + f·17 + x·7 + y·13) mod 256 over the
    * same doc_id-derived geometry as [[attachPngPayload]]. Closed-form
    * law + lossless codec ⇒ the sampled-decode pipeline is
    * value-checkable end to end.
    */
  def attachClipPayload(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (8 + java.lang.Math.floorMod(id, 9L)).toInt
        val h = (8 + java.lang.Math.floorMod(id * 7, 9L)).toInt
        val nFrames = (2 + java.lang.Math.floorMod(id, 4L)).toInt
        val frames = (0 until nFrames).map { f =>
          PngCodec.encode(w, h, Array.tabulate(w * h) { i =>
            val (x, y) = (i % w, i / w)
            java.lang.Math.floorMod(id * 31 + f * 17 + x * 7 + y * 13, 256L).toInt
          })
        }
        val bytes = ClipCodec.encode(frames)
        MediaRow(id, "video/x-clip", bytes.length, bytes)
      }
    }.toDF()
  }

  /** Per-frame features over every `everyN`-th frame of a clip. The
    * container index is parsed first and ONLY sampled frames are
    * PNG-decoded — at 100 TB the decode is the cost, and a seekable
    * container turns an every-8th-frame pass into 1/8th the decode
    * work, not just 1/8th the output.
    */
  case class ClipFrameFeatures(doc_id: Long, frame_idx: Int, n_frames: Int,
                               width: Int, height: Int, mean_px: Double,
                               min_px: Int, max_px: Int)

  def extractClipFrameFeatures(media: DataFrame, everyN: Int = 1)
      (implicit spark: SparkSession): Dataset[ClipFrameFeatures] = {
    import spark.implicits._
    require(everyN > 0, s"everyN must be positive: $everyN")
    media.as[MediaRow].flatMap { r =>
      val offsets = ClipCodec.frameOffsets(r.payload)
      (offsets.indices by everyN).iterator.flatMap { f =>
        val (off, len) = offsets(f)
        PngCodec.decodeOpt(
          java.util.Arrays.copyOfRange(r.payload, off, off + len))
          .map { case (w, h, px) =>
            ClipFrameFeatures(r.doc_id, f, offsets.length, w, h,
              px.foldLeft(0L)(_ + _).toDouble / (w * h), px.min, px.max)
          }
      }
    }
  }

  /** One sampled frame of a (fake) video payload. */
  case class Frame(doc_id: Long, frame_idx: Int, n_frames: Int,
                   frame: Array[Byte])

  /** Frame sampling: treat the payload as a fixed-frame-size stream and
    * keep every `everyN`-th frame — the row-explosion shape of a video
    * pipeline (one input row → k frame rows), with frame bytes sliced
    * lazily per partition. Output rows are small; partition sizing
    * stays driven by input bytes.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, everyN: Int)
                  (implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    require(frameBytes > 0, s"frameBytes must be positive: $frameBytes")
    require(everyN > 0, s"everyN must be positive: $everyN")
    media.as[MediaRow].flatMap { r =>
      // ceil: the trailing partial frame is ALWAYS a frame (the old
      // floor silently dropped the tail except for sub-frame payloads)
      val total = math.max(1,
        (r.payload.length + frameBytes - 1) / frameBytes)
      (0 until total by everyN).map { i =>
        val from = i * frameBytes
        val until = math.min(r.payload.length, from + frameBytes)
        Frame(r.doc_id, i, total, java.util.Arrays.copyOfRange(r.payload, from, until))
      }
    }
  }

  /** STUB resize: deterministic nearest-neighbour subsample of the fake
    * pixel buffer to `(w, h)` — stands in for a real scaler; the plan
    * shape (map over decoded features, fixed output size) is real.
    */
  def resize(px: Array[Int], srcW: Int, srcH: Int, w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val sx = math.min(srcW - 1, x * srcW / w)
        val sy = math.min(srcH - 1, y * srcH / h)
        val idx = sy * srcW + sx
        out(y * w + x) = if (idx < px.length) px(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Image features from a real PNG decode ([[PngCodec]]): same
    * iterator-at-a-time memory shape as [[extractFeatures]], genuine
    * codec in the loop.
    */
  case class ImageFeatures(doc_id: Long, mime: String, width: Int,
                           height: Int, mean_px: Double, min_px: Int,
                           max_px: Int)

  def extractImageFeatures(media: DataFrame)
                          (implicit spark: SparkSession): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // undecodable payloads are dropped, not fatal; pixel sum is Long
      // (a 17MP image overflows an Int sum into a silent negative mean)
      rows.flatMap { r =>
        PngCodec.decodeOpt(r.payload).map { case (w, h, px) =>
          ImageFeatures(r.doc_id, r.mime, w, h,
            px.foldLeft(0L)(_ + _).toDouble / (w * h), px.min, px.max)
        }
      }
    }
  }

  /** Partition-wise decode + featurize. One task per input split; the
    * iterator never materializes a partition in memory, so executor
    * footprint is one media item at a time — the property that matters
    * when payloads are MBs and partitions are GBs. At 100 TB, size
    * input splits by payload bytes (maxPartitionBytes), not row count.
    */
  def extractFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (w, h, px) = MediaDecoder.decode(r.payload)
        val n = math.max(1, px.length)
        // integer moment sums (exact), variance via Σp²/n − mean²:
        // the same value as the two-pass form, but computable by any
        // engine from the same integers with identical IEEE ops — this
        // is what lets a SQL oracle value-check the decode stage
        val sumP = px.foldLeft(0L)(_ + _)
        val sumP2 = px.foldLeft(0L)((a, p) => a + p.toLong * p)
        val mean = sumP.toDouble / n
        val variance = math.max(0.0, sumP2.toDouble / n - mean * mean)
        val hist = new Array[Long](8)
        px.foreach(p => hist(p / 32) += 1)
        MediaFeatures(r.doc_id, r.mime, r.n_bytes, w, h,
          mean, math.sqrt(variance), hist)
      }
    }
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int,
                       b0: Int, b1: Int, b2: Int, b3: Int)

  /** Perceptual difference hash (dHash) through the REAL codec:
    * nearest-neighbor sample the decoded image onto a 9×8 grid,
    * bit(x, y) = g(x, y) > g(x+1, y) — 64 bits packed into four 16-bit
    * blocks. Nearest sampling (not area averaging) keeps the resize
    * exact integer math — `sx = x·w/9, sy = y·h/8` — so the entire
    * hash is value-checkable by a SQL oracle replaying the analytic
    * pixel law, while the Spark side went through a real PNG
    * encode→decode. Per-row work, no shuffle; the hash frame is the
    * input to [[imageNearDupPairs]].
    */
  def imageDHash(media: DataFrame)
                (implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        PngCodec.decodeOpt(r.payload).map { case (w, h, px) =>
          val blocks = new Array[Int](4)
          var y = 0
          while (y < 8) {
            val sy = y * h / 8
            var x = 0
            while (x < 8) {
              if (px(sy * w + x * w / 9) > px(sy * w + (x + 1) * w / 9)) {
                val idx = y * 8 + x
                blocks(idx / 16) |= 1 << (idx % 16)
              }
              x += 1
            }
            y += 1
          }
          ImageHash(r.doc_id, w, h,
            blocks(0), blocks(1), blocks(2), blocks(3))
        }
      }
    }
  }

  /** A (block, value) shared by more than this many images is treated
    * as corpus structure (solid fills, logos, thumbnails all hash to a
    * handful of block values), not near-dup signal — the image analog
    * of [[Dedup.DefaultMaxDocFreq]]. Each hot value contributes O(df²)
    * join rows, so without the cap a real corpus's boilerplate imagery
    * turns the LSH join quadratic.
    */
  val DefaultMaxBlockFreq = 1000

  /** Image near-duplicate pairs from dHash blocks — the multimodal
    * analog of [[Dedup.simHashCandidates]]: any pair within Hamming
    * distance 3 shares at least one of the four 16-bit blocks
    * (pigeonhole), so candidate generation is a block equi-join —
    * never all-pairs — and the exact Hamming distance over the XORed
    * blocks filters candidates to true near-dups.
    *
    * Hot block values are dropped before the self-join (default cap
    * [[DefaultMaxBlockFreq]], opt out with `None`): a value shared by
    * thousands of images is structure, and candidate recall only
    * suffers for pairs whose EVERY shared block is that common —
    * which at Hamming ≤ 3 means the pair is itself boilerplate. The
    * hot list is df > cap values only, so it stays broadcast-sized on
    * any corpus. Residual skew below the cap is AQE's to split, like
    * every other LSH join here.
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
                        maxBlockFreq: Option[Int] = Some(DefaultMaxBlockFreq))
      : DataFrame = {
    // The hash frame is referenced five times downstream (block
    // explode on both self-join sides, the hot-block aggregation, and
    // both verify join-backs); when it arrives straight off
    // imageDHash's mapPartitions PNG decode, each reference re-runs
    // the decode. A lazy local checkpoint of the narrow frame
    // (doc_id + four 16-bit blocks) pays the decode once.
    val h = hashes.localCheckpoint(false)
    val blkAll = h.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("blk", "bv")))
    val blk = maxBlockFreq match {
      case None => blkAll
      case Some(cap) =>
        val hot = blkAll.groupBy("blk", "bv")
          .agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("blk", "bv")
        // checkpointed: the capped frame feeds BOTH self-join sides
        // below, and an unmaterialized cap chain re-runs the hot-block
        // aggregation (a full exchange over the block rows) once per
        // side — with one materialized copy the two block exchanges
        // are identical and ReuseExchange collapses them. A lazy local
        // checkpoint (the dHash frame's pattern above) rather than
        // cache(): nothing is left registered in the CacheManager, so
        // repeated calls in a long-lived session pin no storage
        // memory. Narrow rows: (doc_id, blk, bv) — 4 per image.
        blkAll.join(broadcast(hot), Seq("blk", "bv"), "left_anti")
          .localCheckpoint(false)
    }
    val cand = blk.as("a").join(blk.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ham = (0 to 3).map(i =>
      bit_count(col(s"ha.b$i").bitwiseXOR(col(s"hb.b$i"))))
      .reduce(_ + _)
    cand.join(h.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(h.as("hb"), col("doc_b") === col("hb.doc_id"))
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
