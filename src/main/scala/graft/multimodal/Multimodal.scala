package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the training-data pipeline (north star):
  * image/audio/video as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / resize / frame-sample operators.
  *
  * The Spark-side plumbing — schemas, partition-preserving batch iteration,
  * output shapes — is real and tested, and so are IMAGE and AUDIO decode:
  * `Codec` parses actual PNG/JPEG/GIF/BMP bytes through the JDK's
  * `javax.imageio` for true width/height/channels, and actual WAV/AIFF/AU
  * bytes through `javax.sound.sampled` for true sample rate / channels /
  * frame count plus a windowed-RMS energy profile (both pure JDK, no
  * external dependency). Payloads
  * ImageIO cannot parse fall back to a deterministic payload-keyed fake so
  * the operators stay total over synthetic corpora (the container has no
  * real image fixtures); a production corpus would route undecodable
  * assets to quarantine instead. FEATURIZE is likewise real for decodable
  * images — an aHash-family average-pooled luminance grid (visually
  * similar images are cosine-near) — with the rolling-hash fold only as
  * the undecodable-payload fallback; a learned vision encoder would slot
  * into the same signature (the model weights aren't in this container).
  * `mapPartitions` (not a per-row UDF) is deliberate: real codecs
  * amortize model/codec init per partition, exactly like a Pandas-UDF
  * batch would.
  */
object Multimodal {

  /** An opaque media asset: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType),   // image | audio | video
    StructField("mime", StringType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source_url", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  final case class DecodedImage(width: Int, height: Int, channels: Int)

  /** Image decode + payload featurization.
    *
    * `decodeImage` is REAL: `javax.imageio.ImageIO` parses the encoded
    * bytes and reports true geometry and the raster's band count (3 for
    * opaque RGB, 4 with alpha, 1 for grayscale). Unparseable payloads get
    * a deterministic fake keyed on the bytes — same total-function
    * contract, synthetic fixtures keep working, and the fallback dims are
    * >= 64 so they cannot be mistaken for a tiny real image. */
  object Codec {
    def decodeImage(payload: Array[Byte]): DecodedImage = {
      // NonFatal, not just IOException: JDK decoders throw RuntimeExceptions
      // (ArrayIndexOutOfBounds, CMMException, …) on payloads whose header a
      // reader claims but whose body is garbage — exactly the undecodable
      // case the fallback exists for; an escaping exception would kill the
      // task instead of routing the row to the fallback
      val real =
        if (payload == null || payload.isEmpty) None
        else try {
          Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
            .map(img => DecodedImage(img.getWidth, img.getHeight, img.getRaster.getNumBands))
        } catch { case scala.util.control.NonFatal(_) => None }
      real.getOrElse {
        val h = java.util.Arrays.hashCode(payload)
        DecodedImage(64 + math.abs(h % 1024), 64 + math.abs((h >> 10) % 1024), 3)
      }
    }
    /** Fixed-dim embedding of the payload. For payloads that DECODE as
      * images this is a REAL feature vector: the image average-pooled onto
      * a `rows×cols ≈ dim` grid of mean luminances in [0,1] — the classic
      * aHash/pHash-family thumbnail feature (visually similar images land
      * near each other in cosine space), pure JDK. Undecodable payloads
      * fall back to the deterministic rolling-hash fold so the operator
      * stays total over synthetic corpora; null payloads embed as the zero
      * vector (a real pipeline likewise needs a missing-payload policy). */
    def featurize(payload0: Array[Byte], dim: Int): Array[Float] = {
      val payload = if (payload0 == null) Array.emptyByteArray else payload0
      val img =
        if (payload.isEmpty) None
        else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        catch { case scala.util.control.NonFatal(_) => None } // see decodeImage
      img.map(pooledLuminance(_, dim)).getOrElse(hashFold(payload, dim))
    }

    /** Mean luminance (ITU-R BT.601 weights) per cell of a rows×cols grid,
      * rows = floor(sqrt(dim)), cols = dim/rows; trailing dims stay 0. */
    private def pooledLuminance(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      val rows = math.max(1, math.sqrt(dim.toDouble).toInt)
      val cols = math.max(1, dim / rows)
      val (w, h) = (img.getWidth, img.getHeight)
      var r = 0
      while (r < rows) {
        val y0 = r * h / rows; val y1 = math.max(y0 + 1, (r + 1) * h / rows)
        var c = 0
        while (c < cols) {
          val x0 = c * w / cols; val x1 = math.max(x0 + 1, (c + 1) * w / cols)
          var sum = 0.0; var n = 0
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) {
              val rgb = img.getRGB(x, y)
              sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
                0.114 * (rgb & 0xff)
              n += 1; x += 1
            }
            y += 1
          }
          out(r * cols + c) = if (n == 0) 0f else (sum / n / 255.0).toFloat
          c += 1
        }
        r += 1
      }
      out
    }

    final case class DecodedAudio(
        sampleRateHz: Int, channels: Int, frames: Long, pcmOk: Boolean)

    /** Audio decode — REAL for WAV/AIFF/AU: the JDK's
      * `javax.sound.sampled.AudioSystem` parses the container (no external
      * dependency, the `ImageIO` posture applied to audio) and reports the
      * true sample rate, channel count, and frame length. Payloads the JDK
      * cannot parse get the deterministic payload-keyed fake with
      * `pcmOk=false` — same total-function contract as `decodeImage`. */
    def decodeAudio(payload: Array[Byte]): DecodedAudio = {
      val real =
        if (payload == null || payload.isEmpty) None
        else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val f = in.getFormat
            // AudioSystem reports NOT_SPECIFIED (-1) for containers with no
            // declared frame count (e.g. streamed AU with the 0xFFFFFFFF
            // unknown-size header); clamp to 0 so downstream duration math
            // (frames / sample_rate) never goes negative — 0 here means
            // "container did not declare", not "empty clip"
            Some(DecodedAudio(f.getSampleRate.toInt, f.getChannels,
              math.max(in.getFrameLength, 0L), pcmOk = true))
          } finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      real.getOrElse {
        val h = java.util.Arrays.hashCode(payload)
        DecodedAudio(8000 + math.abs(h % 40000), 1 + math.abs(h >> 8) % 2,
          1000L + math.abs((h >> 4) % 100000), pcmOk = false)
      }
    }

    /** Windowed RMS energy profile — the real audio feature under every
      * VAD/silence-trim/quality gate: decode to signed-16-bit PCM via the
      * JDK's converter, mix channels down, split the clip into `windows`
      * equal slices, RMS per slice normalized to [0,1]. Undecodable
      * payloads fall back to the rolling-hash fold (total-function
      * contract); a learned audio encoder slots into the same signature. */
    def audioEnergy(payload0: Array[Byte], windows: Int): Array[Float] = {
      require(windows > 0, s"windows must be positive, got $windows")
      val payload = if (payload0 == null) Array.emptyByteArray else payload0
      val samples =
        if (payload.isEmpty) None
        else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val f = in.getFormat
            val target = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
              f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
              f.getSampleRate, false)
            val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
            try {
              val bytes = pcm.readAllBytes()
              val ch = f.getChannels
              val nFrames = bytes.length / (2 * ch)
              val mono = new Array[Double](nFrames)
              var i = 0
              while (i < nFrames) {
                var s = 0.0; var c = 0
                while (c < ch) {
                  val o = (i * ch + c) * 2
                  s += ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toDouble
                  c += 1
                }
                mono(i) = s / ch; i += 1
              }
              if (nFrames == 0) None else Some(mono)
            } finally pcm.close()
          } finally in.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      samples.map { mono =>
        val out = new Array[Float](windows)
        val n = mono.length
        var w = 0
        while (w < windows) {
          val i0 = (w.toLong * n / windows).toInt
          val i1 = math.max(i0 + 1, ((w + 1).toLong * n / windows).toInt)
          var ss = 0.0; var i = i0
          while (i < math.min(i1, n)) { ss += mono(i) * mono(i); i += 1 }
          val cnt = math.min(i1, n) - i0
          out(w) = if (cnt <= 0) 0f else (math.sqrt(ss / cnt) / 32768.0).toFloat
          w += 1
        }
        out
      }.getOrElse(hashFold(payload, windows))
    }

    private def hashFold(payload: Array[Byte], dim: Int): Array[Float] = {
      val acc = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) {
        h = 31 * h + payload(i)
        acc((i % dim + dim) % dim) += (h % 997).toFloat / 997f
        i += 1
      }
      acc
    }
  }

  /** Decode image metadata for every asset — a partition-batched transform
    * producing (asset_id, width, height, channels). Output schema is fixed;
    * partitioning of the input is preserved (no shuffle). */
  def decodeImages(assets: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    assets.select("asset_id", "payload").mapPartitions { rows =>
      // per-partition init happens HERE with a real codec
      rows.map { r =>
        val d = Codec.decodeImage(r.getAs[Array[Byte]]("payload"))
        Row(r.getLong(0), d.width, d.height, d.channels)
      }
    }(enc)
  }

  /** Feature-extract every asset into a fixed-dim float vector column —
    * the shape similarity search consumes (`graft.catalog.SimilarityCatalog`). */
  def featurize(assets: DataFrame, dim: Int = 64): DataFrame = {
    val out = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    assets.select("asset_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0), Codec.featurize(r.getAs[Array[Byte]]("payload"), dim).toSeq)
      }
    }(enc)
  }

  /** Decode audio metadata for every asset — the `decodeImages` shape for
    * the audio modality: (asset_id, sample_rate_hz, channels, frames,
    * pcm_ok), partition-preserving, codec init amortized per partition. */
  def decodeAudios(assets: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("sample_rate_hz", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("frames", LongType, nullable = false),
      StructField("pcm_ok", BooleanType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    assets.select("asset_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val d = Codec.decodeAudio(r.getAs[Array[Byte]]("payload"))
        Row(r.getLong(0), d.sampleRateHz, d.channels, d.frames, d.pcmOk)
      }
    }(enc)
  }

  /** Windowed RMS energy per asset — the fixed-dim audio feature column
    * (VAD / silence-trim / loudness gates consume this; similarity search
    * can index it exactly like the image embeddings). */
  def audioFeatures(assets: DataFrame, windows: Int = 32): DataFrame = {
    require(windows > 0, s"windows must be positive, got $windows") // fail at the driver, not per-task
    val out = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("energy", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    assets.select("asset_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0), Codec.audioEnergy(r.getAs[Array[Byte]]("payload"), windows).toSeq)
      }
    }(enc)
  }

  /** Frame-sample plumbing for video payloads: split the binary into
    * `frameBytes`-sized chunks, keep every `stride`-th — the batch shape a
    * real demuxer would fill in. Pure `functions._`: no UDF, codegen'd. */
  def sampleFrames(assets: DataFrame, frameBytes: Int = 1024, stride: Int = 10): DataFrame =
    assets
      .withColumn("n_frames",
        ceil(length(col("payload")) / lit(frameBytes)).cast("int"))
      // empty payloads have no frames: without this filter the clamp below
      // (which only guards sequence(0,-1)) would emit a phantom frame 0
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx",
        filter(sequence(lit(0), greatest(col("n_frames") - 1, lit(0))),
          i => i % stride === 0))
      .select(col("asset_id"), explode(col("frame_idx")).as("frame_no"),
        substring_index(lit(""), "", 0).as("_dummy"))
      .withColumn("frame_payload_offset", col("frame_no") * frameBytes)
      .drop("_dummy")
}
