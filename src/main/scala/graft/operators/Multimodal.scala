package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DetHash

/** Asset metadata carried alongside the opaque payload. */
case class AssetMeta(width: Int, height: Int, sample_rate: Int,
                     duration_ms: Long, format: String)

/** A multimodal asset: opaque binary payload + typed metadata. */
case class Asset(asset_id: Long, kind: String, content: Array[Byte],
                 meta: AssetMeta)

/** Per-asset decoded features (the output contract of the decode stage). */
case class AssetFeatures(asset_id: Long, kind: String, n_bytes: Long,
                         digest: String, emb_0: Double, emb_norm: Double)

/** Multimodal-column operators — north-star extension (the reference has no
  * binary payloads; SURVEY.md §2.8 flags all extensions).
  *
  * Design for 100 TB: image/audio/video payloads are opaque `binary`
  * columns + a typed metadata struct; every transform below is either a
  * narrow codegen'd projection (metadata ops, frame sampling) or a
  * `mapPartitions` batch pass (decode) — embarrassingly parallel, no
  * shuffles, no driver round-trips. Real media codecs are NOT available in
  * this build sandbox, so the codec call sites are STUBS with a
  * deterministic md5-derived fake — the Spark-side plumbing (schemas,
  * Encoders, per-partition batch iteration, explode shapes) is real and
  * oracle-tested.
  */
object Multimodal {

  val kinds = Seq("image", "audio", "video")

  /** ImageIO.read with ALL decode failures contained (null on failure):
    * codec plugins throw more than IOException on malformed bytes —
    * IllegalArgumentException, IndexOutOfBounds from truncated headers —
    * and a poisoned asset must SKIP, never fail the whole job.
    */
  private[operators] def readImageOrNull(bytes: Array[Byte], off: Int = 0,
      len: Int = -1): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      bytes, off, if (len < 0) bytes.length - off else len))
    catch { case scala.util.control.NonFatal(_) => null }

  /** AudioSystem stream open with the same NonFatal containment. */
  private[operators] def audioStreamOrNull(
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
    try javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }

  /** Deterministic fake asset corpus derived from the documents table:
    * payload = UTF-8 text bytes, kind/meta md5-derived from asset_id. Keeps
    * every downstream result oracle-checkable (TESTDATA ships no binary
    * columns).
    */
  def assetsFromDocuments(docs: DataFrame): DataFrame = {
    def h(salt: String) =
      DetHash.base60(concat(lit(salt + ":"), col("doc_id").cast("string")))
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(array(kinds.map(lit): _*),
        (pmod(h("kind"), lit(kinds.size)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"),
      struct(
        (pmod(h("w"), lit(1280)) + 16).cast("int").as("width"),
        (pmod(h("h"), lit(720)) + 16).cast("int").as("height"),
        (pmod(h("sr"), lit(2)) * 22050 + 22050).cast("int").as("sample_rate"),
        (pmod(h("dur"), lit(120000)) + 1000).as("duration_ms"),
        element_at(array(lit("raw"), lit("rle"), lit("chunked")),
          (pmod(h("fmt"), lit(3)) + 1).cast("int")).as("format")).as("meta"))
  }

  // ------------------------------------------------------------- decode

  val EmbDims = 8

  /** STUB — stands in for a real codec (libjpeg/ffmpeg/...) which is not in
    * this container. Deterministic md5-derived pseudo-features keep the
    * pipeline testable end-to-end; a production build swaps only this
    * function's body, the partition-batch plumbing stays.
    */
  private def decodeOneStub(assetId: Long, kind: String,
                            content: Array[Byte]): AssetFeatures = {
    val digest = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(content)
      d.map(b => f"$b%02x").mkString
    }
    // pseudo-embedding dim i ∈ [-1, 1]: float-rounded md5 affine
    val emb = Array.tabulate(EmbDims) { i =>
      ((DetHash.base60(s"$digest:$i") % 2001 - 1000) / 1000.0).toFloat
    }
    val norm = math.sqrt(
      emb.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    AssetFeatures(assetId, kind, content.length.toLong, digest,
      emb(0).toDouble, norm)
  }

  /** REAL decode for the formats `javax.imageio` ships with (png/bmp):
    * feature dims 0-2 are the decoded channel means affinely mapped to
    * [-1, 1], the rest 0 — a stand-in feature map over REAL pixels.
    * Returns None when the bytes don't decode (caller falls back).
    */
  private def decodeOneImage(assetId: Long, kind: String,
                             content: Array[Byte]): Option[AssetFeatures] = {
    val img = readImageOrNull(content)
    if (img == null) None
    else {
      val digest = {
        val d = java.security.MessageDigest.getInstance("MD5").digest(content)
        d.map(b => f"$b%02x").mkString
      }
      val (w, h) = (img.getWidth, img.getHeight)
      var (rs, gs, bs) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val emb = Array(rs, gs, bs).map(s => (s.toDouble / n / 127.5 - 1.0).toFloat)
      val norm = math.sqrt(
        emb.foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble))
      Some(AssetFeatures(assetId, kind, content.length.toLong, digest,
        emb(0).toDouble, norm))
    }
  }

  /** Decode stage: per-partition batch iteration over the typed Dataset —
    * the Scala analog of a vectorized-batch decode UDF. One codec init per
    * partition (the `iter =>` scope), streaming through rows without
    * materializing the partition. Formats with a REAL JDK codec (png/bmp)
    * decode actual pixels ([[decodeOneImage]]); everything else falls back
    * to the deterministic stub — the stub is the fallback, not the path.
    */
  def decodeFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { iter =>
      // [heavier codec/session init would go here — once per partition]
      iter.map { a =>
        (a.meta.format match {
          case "png" | "bmp" => decodeOneImage(a.asset_id, a.kind, a.content)
          case _ => None
        }).getOrElse(decodeOneStub(a.asset_id, a.kind, a.content))
      }
    }
  }

  /** Untyped entry: documents → assets → decoded features. */
  def decodedFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    decodeFeatures(assetsFromDocuments(docs).as[Asset]).toDF()
  }

  // ------------------------------------------- metadata / sampling ops

  /** Resize: pure metadata transform + payload passthrough (the pixel
    * resample itself is part of the decode stub's domain). Codegen'd —
    * no UDF.
    */
  def resize(assets: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    // integer scale-to-fit preserving aspect: scale = min(maxW/w, maxH/h, 1)
    val scale = least(lit(maxW).cast("double") / w,
      lit(maxH).cast("double") / h, lit(1.0))
    assets.withColumn("meta", struct(
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"),
      col("meta.sample_rate").as("sample_rate"),
      col("meta.duration_ms").as("duration_ms"),
      col("meta.format").as("format")))
  }

  /** Frame sampling for video assets: one row per sampled frame timestamp,
    * every `strideMs` ms across the duration. sequence+explode — the frame
    * extraction itself would join this spine back to the decode stage.
    */
  def frameSample(assets: DataFrame, strideMs: Long = 10000L): DataFrame =
    assets.filter(col("kind") === "video")
      .select(col("asset_id"),
        explode_outer(sequence(lit(0L), col("meta.duration_ms") - 1,
          lit(strideMs))).as("frame_ms"))

  /** Corpus stats per kind — count, payload volume, mean dimensions. */
  def assetStats(assets: DataFrame): DataFrame =
    assets.groupBy(col("kind")).agg(
      count(lit(1)).as("n_assets"),
      sum(length(col("content")).cast("long")).as("total_bytes"),
      avg(col("meta.width").cast("double")).as("avg_width"),
      avg(col("meta.duration_ms").cast("double")).as("avg_duration_ms"))

  // --------------------------------------------------- real image codec

  /** REAL image assets: deterministic RGB pixels (closed-form per
    * (asset_id, x, y) — [[pixelR]]/[[pixelG]]/[[pixelB]]) encoded to
    * actual PNG/BMP bytes by `javax.imageio` at fixture-build time, then
    * DECODED (bytes → pixels) by [[decodeImageStats]]. Both codecs are
    * lossless for 24-bit RGB, so the decoded channel sums equal the
    * closed form — which is what lets DuckDB oracle-check a real binary
    * decode it cannot perform itself: the oracle recomputes the sums
    * from the formula, the engine recomputes them from the bytes.
    */
  case class ImageAsset(asset_id: Long, format: String, content: Array[Byte])

  /** Decoded per-image stats: dimensions read from the DECODED image
    * (not metadata) + per-channel pixel sums.
    */
  case class ImagePixelStats(asset_id: Long, width: Int, height: Int,
                             r_sum: Long, g_sum: Long, b_sum: Long)

  /** The shared pixel formula (engine generates + re-derives from decoded
    * bytes; OracleSqlGen renders the same arithmetic in SQL). All terms
    * non-negative, so `%` == pmod in both engines.
    */
  def pixelR(id: Long, x: Int, y: Int): Int = ((x * 7L + y * 11L + id) % 256L).toInt
  def pixelG(id: Long, x: Int, y: Int): Int = ((x * 13L + y * 3L + 2L * id) % 256L).toInt
  def pixelB(id: Long, x: Int, y: Int): Int = ((x * 1L + y * 17L + 5L * id) % 256L).toInt

  /** Image dimension bounds — small enough that a 100 TB corpus of these
    * is decode-bound, not allocation-bound; SQL mirrors the same md5
    * derivation (OracleSqlGen.imageDimsCte).
    */
  val ImgWMod = 48; val ImgWMin = 16 // width  ∈ [16, 63]
  val ImgHMod = 32; val ImgHMin = 16 // height ∈ [16, 47]

  /** Fixture build: one REAL encoded image per document — even asset_id →
    * PNG, odd → BMP (both `javax.imageio` writers ship in the JDK). The
    * encode runs in `mapPartitions` with one encoder lookup per partition;
    * at production scale this stage is the write side of an image-ingest
    * pipeline (embarrassingly parallel, no shuffle).
    */
  def imageAssets(docs: DataFrame): Dataset[ImageAsset] = {
    import docs.sparkSession.implicits._
    def h(salt: String) =
      DetHash.base60(concat(lit(salt + ":"), col("doc_id").cast("string")))
    docs.select(col("doc_id"),
      (pmod(h("iw"), lit(ImgWMod)) + ImgWMin).cast("int").as("w"),
      (pmod(h("ih"), lit(ImgHMod)) + ImgHMin).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions { iter =>
        iter.map { case (id, w, h) =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y,
                (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
              x += 1
            }
            y += 1
          }
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val bos = new java.io.ByteArrayOutputStream()
          if (!javax.imageio.ImageIO.write(img, fmt, bos))
            throw new IllegalStateException(s"no JDK ImageIO writer for $fmt")
          ImageAsset(id, fmt, bos.toByteArray)
        }
      }
  }

  /** The image fixture PERSISTED per corpus directory (ensure-once, same
    * discipline as the ANN indexes) — decode queries then measure DECODE,
    * not encode+decode.
    */
  def imageAssetsTable(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.persisted(spark, dir, "graft_imgassets_") {
      imageAssets(graft.Tables.load(spark, dir, "documents"))
    }

  /** The REAL decode pass: `javax.imageio` reads the container format from
    * the bytes themselves (no per-row format dispatch needed), dimensions
    * and channel sums come from the DECODED raster. Undecodable payloads
    * are DROPPED, not thrown (a 100 TB corpus always contains corrupt
    * files; spec-pinned) — callers needing an audit trail anti-join the
    * output against the input ids.
    */
  def decodeImageStats(assets: DataFrame): Dataset[ImagePixelStats] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          val img = readImageOrNull(bytes)
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (rs, gs, bs) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
                x += 1
              }
              y += 1
            }
            Some(ImagePixelStats(id, w, h, rs, gs, bs))
          }
        }
      }
  }

  /** 56-bit difference hash of a decoded image — PERCEPTUAL image dedup
    * (the pHash-family member expressible in pure integer arithmetic):
    * sample a 9×7 grid of grayscale values (nearest-neighbour positions
    * `sx = x·w/9`, `sy = y·h/7` — the same integer resample convention
    * as [[resampleImageStats]]), emit one bit per adjacent-column
    * comparison (`gray(x+1) > gray(x)`: 8×7 = 56 bits, row-major).
    * Near-identical images (recompressions, small crops, brightness
    * shifts that preserve gradients) collide or land within a small
    * Hamming distance, where byte-level md5 sees nothing. 56 bits, not
    * the conventional 64: bit 63 can't be built portably (the oracle
    * engine rejects `1<<63`), and the 8-bit loss is negligible at any
    * realistic corpus size.
    *
    * `gray = r+g+b` (integer, not luma weights) keeps every step exact
    * integer; the DuckDB oracle recomputes the hash from the
    * closed-form pixel formula while the engine derives it from REAL
    * decoded PNG/BMP bytes — a hash match proves the decode.
    */
  case class ImageDHash(asset_id: Long, width: Int, height: Int, dhash: Long)

  def imageDHash(assets: DataFrame): Dataset[ImageDHash] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          val img = readImageOrNull(bytes)
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            def gray(sx: Int, sy: Int): Int = {
              val p = img.getRGB(sx, sy)
              ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            }
            var hash = 0L
            var y = 0
            while (y < 7) {
              val sy = y * h / 7
              var x = 0
              while (x < 8) {
                if (gray((x + 1) * w / 9, sy) > gray(x * w / 9, sy))
                  hash |= 1L << (y * 8 + x)
                x += 1
              }
              y += 1
            }
            Some(ImageDHash(id, w, h, hash))
          }
        }
      }
  }

  /** Perceptual-hash dedup GROUPS: one row per distinct [[imageDHash]]
    * value with the group size and the kept representative (min id) —
    * the grouped-dedup shape ([[graft.operators.Dedup.exactGroups]])
    * over perceptual identity instead of byte identity. Group-bounded
    * exchange; safe on fixtures where gradients make hashes collide
    * heavily (a PAIRS emission would go quadratic in the collision
    * class — groups never do).
    */
  def imageDHashGroups(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    imageDHash(assets).toDF()
      .groupBy(col("dhash"))
      .agg(count(lit(1)).as("n_images"), min(col("asset_id")).as("keep_asset_id"))
  }

  /** The corpus' distinct perceptual hashes PERSISTED per corpus dir
    * (ensure-once, same discipline as the fingerprint/ANN indexes) —
    * the static side of
    * [[graft.streaming.Pipelines.streamingPerceptualDedup]].
    */
  def dhashIndexTable(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.persisted(spark, dir, "graft_dhashidx_") {
      imageDHash(imageAssetsTable(spark, dir)).toDF()
        .select(col("dhash")).distinct()
    }

  // ---------------------------------------------------- real audio codec

  /** REAL audio assets: 16-bit signed mono PCM with closed-form samples
    * ([[audioSample]]), wrapped in an actual WAV (RIFF) container by
    * `javax.sound.sampled.AudioSystem` — and decoded back through the
    * same API ([[decodeAudioStats]]), so the RIFF header parse and PCM
    * frame decode are real JDK codec work, oracle-checked the same way
    * as the images: DuckDB recomputes the sample statistics from the
    * closed form, the engine recomputes them from the bytes.
    */
  case class AudioAsset(asset_id: Long, content: Array[Byte], n_samples: Int)

  case class AudioStats(asset_id: Long, n_samples: Long, sample_sum: Long,
                        abs_sum: Long, energy: Long)

  val AudSampleRate = 8000f
  val AudNMod = 4000; val AudNMin = 1000 // n_samples ∈ [1000, 4999]

  /** The shared sample formula (16-bit range by construction). */
  def audioSample(id: Long, i: Int): Int =
    (((i.toLong * 2003L + id * 31L) % 65536L) - 32768L).toInt

  def audioAssets(docs: DataFrame): Dataset[AudioAsset] = {
    import docs.sparkSession.implicits._
    def h(salt: String) =
      DetHash.base60(concat(lit(salt + ":"), col("doc_id").cast("string")))
    docs.select(col("doc_id"),
      (pmod(h("ns"), lit(AudNMod)) + AudNMin).cast("int").as("n"))
      .as[(Long, Int)]
      .mapPartitions { iter =>
        val fmt = new javax.sound.sampled.AudioFormat(
          AudSampleRate, 16, 1, true, false) // signed, little-endian
        iter.map { case (id, n) =>
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val s = audioSample(id, i)
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          AudioAsset(id, bos.toByteArray, n)
        }
      }
  }

  /** The audio fixture PERSISTED per corpus directory (ensure-once). */
  def audioAssetsTable(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.persisted(spark, dir, "graft_audassets_") {
      audioAssets(graft.Tables.load(spark, dir, "documents"))
    }

  /** REAL WAV decode: `AudioSystem` parses the RIFF header (sample rate,
    * width, endianness all come from the CONTAINER, not from metadata),
    * the PCM frames stream through a bounded buffer, and the statistics
    * are integer-exact — sum, absolute sum and energy (Σ s²) of the
    * decoded samples plus the frame count the container declares.
    * Undecodable payloads are dropped, like the image path.
    */
  def decodeAudioStats(assets: DataFrame): Dataset[AudioStats] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          val ais = audioStreamOrNull(bytes)
          if (ais == null) None
          else {
            val fmt = ais.getFormat
            val le = !fmt.isBigEndian
            var (n, sum, abs, energy) = (0L, 0L, 0L, 0L)
            val buf = new Array[Byte](8192)
            var read = ais.read(buf)
            var carry = -1 // odd-byte boundary between reads
            while (read > 0) {
              var i = 0
              while (i < read) {
                if (carry < 0) { carry = buf(i) & 0xff }
                else {
                  val (lo, hi) = if (le) (carry, buf(i).toInt)
                                 else (buf(i) & 0xff, carry.toByte.toInt)
                  val s = (hi << 8) | lo
                  n += 1; sum += s; abs += math.abs(s)
                  energy += s.toLong * s
                  carry = -1
                }
                i += 1
              }
              read = ais.read(buf)
            }
            Some(AudioStats(id, n, sum, abs, energy))
          }
        }
      }
  }

  /** Temporal FEATURE EXTRACTION over real-decoded audio: lag
    * autocorrelations (lags 1, 8, 64) plus energy — the
    * periodicity/smoothness signals a speech-vs-noise or silence filter
    * keys on, computed from the DECODED samples (full RIFF parse + PCM
    * frame decode, same real-codec path as [[decodeAudioStats]]).
    * Integer products throughout (|s| < 2¹⁵, n < 5·10³ ⇒ sums < 2⁴³) so
    * the DuckDB oracle recomputes every value exactly from the
    * closed-form samples. Lags past the clip length yield 0. One
    * asset's samples materialize at a time inside `mapPartitions` —
    * O(clip) memory, the per-partition-codec shape of the whole
    * multimodal pillar.
    */
  case class AudioAutocorr(asset_id: Long, n_samples: Long, energy: Long,
                           ac1: Long, ac8: Long, ac64: Long)

  def decodeAudioAutocorr(assets: DataFrame): Dataset[AudioAutocorr] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          val ais = audioStreamOrNull(bytes)
          if (ais == null) None
          else {
            val le = !ais.getFormat.isBigEndian
            val pcm = ais.readAllBytes()
            val n = pcm.length / 2
            val s = new Array[Int](n)
            var i = 0
            while (i < n) {
              val (lo, hi) = if (le) (pcm(2 * i) & 0xff, pcm(2 * i + 1).toInt)
                             else (pcm(2 * i + 1) & 0xff, pcm(2 * i).toInt)
              s(i) = (hi << 8) | lo
              i += 1
            }
            def ac(lag: Int): Long = {
              var acc = 0L; var j = 0
              while (j + lag < n) { acc += s(j).toLong * s(j + lag); j += 1 }
              acc
            }
            Some(AudioAutocorr(id, n.toLong, ac(0), ac(1), ac(8), ac(64)))
          }
        }
      }
  }

  // ----------------------------------------- real per-frame video decode

  /** Video assets: a REAL AVI (RIFF) container — 'hdrl' with
    * avih/strh/strf headers, '00db' uncompressed 24-bit DIB frame chunks
    * in the 'movi' list, and an 'idx1' keyframe index — muxed by
    * [[Avi.mux]] and demuxed back by [[Avi.demux]] (the same RIFF
    * discipline as the WAV path, one level deeper: nested LISTs and a
    * per-stream format block). BI_RGB frames are lossless, so the decoded
    * channel sums equal the closed form and DuckDB can oracle-check a
    * container parse it cannot perform. Frame f of asset `id` uses the
    * pixel formula keyed by `id·131 + f`, so every frame is distinct.
    * The demuxer also decodes 'MJPG'-compressed chunks (JPEG frames via
    * `javax.imageio`) — the compressed path real MJPEG surveillance/
    * capture files use — spec-covered, while the fixture stays BI_RGB
    * for oracle exactness (JPEG is lossy).
    */
  case class VideoAsset(asset_id: Long, content: Array[Byte],
                        n_frames: Int, width: Int, height: Int)

  case class FrameStats(asset_id: Long, frame_idx: Int, width: Int,
                        height: Int, r_sum: Long, g_sum: Long, b_sum: Long)

  val VidFMod = 6; val VidFMin = 3   // n_frames ∈ [3, 8]
  val VidWMod = 16; val VidWMin = 8  // width    ∈ [8, 23]
  val VidHMod = 12; val VidHMin = 8  // height   ∈ [8, 19]

  /** The per-frame pixel key — frames differ, deterministically. */
  def frameKey(id: Long, f: Int): Long = id * 131L + f

  def videoAssets(docs: DataFrame): Dataset[VideoAsset] = {
    import docs.sparkSession.implicits._
    def h(salt: String) =
      DetHash.base60(concat(lit(salt + ":"), col("doc_id").cast("string")))
    docs.select(col("doc_id"),
      (pmod(h("nf"), lit(VidFMod)) + VidFMin).cast("int").as("nf"),
      (pmod(h("vw"), lit(VidWMod)) + VidWMin).cast("int").as("w"),
      (pmod(h("vh"), lit(VidHMod)) + VidHMin).cast("int").as("h"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions { iter =>
        iter.map { case (id, nf, w, h) =>
          val frames = Array.tabulate(nf) { f =>
            val k = frameKey(id, f)
            val stride = (w * 3 + 3) & ~3 // DIB rows pad to 4 bytes
            val dib = new Array[Byte](stride * h)
            var y = 0
            while (y < h) {
              val row = (h - 1 - y) * stride // bottom-up, BGR
              var x = 0
              while (x < w) {
                dib(row + 3 * x) = pixelB(k, x, y).toByte
                dib(row + 3 * x + 1) = pixelG(k, x, y).toByte
                dib(row + 3 * x + 2) = pixelR(k, x, y).toByte
                x += 1
              }
              y += 1
            }
            dib
          }
          VideoAsset(id, Avi.mux(frames.toIndexedSeq, w, h, Avi.BiRgb), nf, w, h)
        }
      }
  }

  /** The video fixture PERSISTED per corpus directory (ensure-once). */
  def videoAssetsTable(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.persisted(spark, dir, "graft_vidassets_") {
      videoAssets(graft.Tables.load(spark, dir, "documents"))
    }

  /** Frame-sampled REAL decode: [[Avi.demux]] parses the RIFF structure
    * (headers + frame chunk offsets) WITHOUT touching frame payloads, so
    * skipped frames cost nothing — the keyframe-extraction shape of a
    * video ingest pipeline. Every `stride`-th frame (plus frame 0) is
    * then decoded bytes→pixels: BI_RGB DIB rows unpacked directly
    * (bottom-up, stride-padded, BGR), MJPG chunks through the JDK JPEG
    * codec. Undecodable assets/frames are dropped, like the image path.
    */
  def decodeFrameStats(assets: DataFrame, stride: Int = 2): Dataset[FrameStats] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          Avi.demux(bytes).iterator.flatMap { case (info, frames) =>
            frames.iterator.zipWithIndex
              .filter { case (_, f) => f % stride == 0 }
              .flatMap { case ((off, len), f) =>
                Avi.decodeFrame(bytes, off, len, info).map {
                  case (w, h, rs, gs, bs) => FrameStats(id, f, w, h, rs, gs, bs)
                }
              }
          }
        }
      }
  }

  /** REAL pixel resample: decode, nearest-neighbour sample to a fixed
    * `tw`×`th` grid (srcX = x·w / tw, integer floor — the same mapping the
    * oracle renders in SQL), and report the resampled image's channel
    * sums. Upgrades [[resize]] (metadata-only scale-to-fit) to actual
    * pixel work on the decoded raster.
    */
  def resampleImageStats(assets: DataFrame, tw: Int = 16, th: Int = 12): Dataset[ImagePixelStats] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.flatMap { case (id, bytes) =>
          val img = readImageOrNull(bytes)
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (rs, gs, bs) = (0L, 0L, 0L)
            var y = 0
            while (y < th) {
              var x = 0
              while (x < tw) {
                val p = img.getRGB(x * w / tw, y * h / th)
                rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
                x += 1
              }
              y += 1
            }
            Some(ImagePixelStats(id, tw, th, rs, gs, bs))
          }
        }
      }
  }
}

/** Minimal real AVI (RIFF) muxer + demuxer — the video twin of the WAV
  * path's RIFF handling (reference pipeline ships payloads as opaque
  * bytes; SURVEY.md §2.8 multimodal extension). Layout written:
  *
  * {{{
  * RIFF('AVI '
  *   LIST('hdrl' avih(56) LIST('strl' strh(56,'vids') strf(BITMAPINFOHEADER)))
  *   LIST('movi' '00db'|'00dc' frame chunks, word-aligned)
  *   idx1(16-byte keyframe entries))
  * }}}
  *
  * Supported on read: single video stream, BI_RGB 24-bit bottom-up DIB
  * frames ('00db') and MJPG JPEG frames ('00dc', decoded by
  * `javax.imageio`). Everything little-endian; malformed containers demux
  * to None rather than throwing — a 100 TB corpus always has corrupt
  * files.
  */
private[graft] object Avi {
  import java.nio.{ByteBuffer, ByteOrder}

  val BiRgb = 0 // BITMAPINFOHEADER biCompression for uncompressed DIB
  val FccMjpg: Int = fourccInt("MJPG")

  def fourccInt(s: String): Int = {
    val b = s.getBytes("US-ASCII")
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
  }

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val bb = le(8 + body.length + (body.length & 1)) // RIFF word alignment
    bb.put(id.getBytes("US-ASCII")); bb.putInt(body.length); bb.put(body)
    bb.array
  }

  private def list(typ: String, parts: Array[Byte]*): Array[Byte] =
    chunk("LIST", typ.getBytes("US-ASCII") ++ parts.flatten)

  /** Mux frame payloads into a complete AVI. `frames` are raw chunk
    * bodies: stride-padded bottom-up BGR DIBs for [[BiRgb]], whole JPEG
    * files for [[FccMjpg]].
    */
  def mux(frames: IndexedSeq[Array[Byte]], w: Int, h: Int,
          compression: Int): Array[Byte] = {
    val nf = frames.length
    val maxLen = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = {
      val b = le(56)
      b.putInt(100000) // µs/frame (10 fps)
      b.putInt(0); b.putInt(0)
      b.putInt(0x10) // AVIF_HASINDEX
      b.putInt(nf); b.putInt(0)
      b.putInt(1) // one stream
      b.putInt(maxLen); b.putInt(w); b.putInt(h)
      b.array // + dwReserved[4] zero-filled
    }
    val strh = {
      val b = le(56)
      b.put("vids".getBytes("US-ASCII"))
      b.put((if (compression == BiRgb) "DIB " else "MJPG").getBytes("US-ASCII"))
      b.putInt(0); b.putInt(0) // flags; wPriority+wLanguage
      b.putInt(0) // initial frames
      b.putInt(1); b.putInt(10) // scale/rate = 10 fps
      b.putInt(0); b.putInt(nf) // start, length (frames)
      b.putInt(maxLen); b.putInt(-1); b.putInt(0) // sugBuf, quality, sampleSize
      b.putShort(0); b.putShort(0) // rcFrame left, top
      b.putShort(w.toShort); b.putShort(h.toShort)
      b.array
    }
    val strf = {
      val b = le(40) // BITMAPINFOHEADER
      b.putInt(40); b.putInt(w); b.putInt(h) // biHeight > 0 → bottom-up
      b.putShort(1); b.putShort(24)
      b.putInt(compression); b.putInt(maxLen)
      b.array // pels-per-meter / clrUsed / clrImportant zero-filled
    }
    val ckId = if (compression == BiRgb) "00db" else "00dc"
    val idx1 = {
      val b = le(16 * nf)
      var off = 4 // first chunk sits right after the 'movi' fourcc
      frames.foreach { f =>
        b.put(ckId.getBytes("US-ASCII"))
        b.putInt(0x10) // AVIIF_KEYFRAME — every frame self-contained here
        b.putInt(off); b.putInt(f.length)
        off += 8 + f.length + (f.length & 1)
      }
      b.array
    }
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih),
        list("strl", chunk("strh", strh), chunk("strf", strf))) ++
      list("movi", frames.map(f => chunk(ckId, f)): _*) ++
      chunk("idx1", idx1))
  }

  /** The first video stream's format block, as read from 'strf'. */
  case class VideoInfo(width: Int, height: Int, bitCount: Int, compression: Int)

  /** Parse the container STRUCTURE only: stream format + the (offset,
    * length) of every frame chunk payload, never touching frame bytes —
    * that's what makes stride-sampling skip frames for free. Returns
    * None on anything that isn't a single-video-stream AVI.
    */
  def demux(bytes: Array[Byte]): Option[(VideoInfo, IndexedSeq[(Int, Int)])] =
    try {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      if (bytes.length < 12 || fcc(0) != "RIFF" || fcc(8) != "AVI ") None
      else {
        var info: Option[VideoInfo] = None
        val frames = IndexedSeq.newBuilder[(Int, Int)]
        var bad = false
        def walk(start: Int, end: Int): Unit = {
          var p = start
          while (!bad && p + 8 <= end) {
            val id = fcc(p)
            val len = bb.getInt(p + 4)
            if (len < 0 || p + 8 + len > end) bad = true
            else {
              if (id == "LIST") {
                val typ = fcc(p + 8)
                if (typ == "hdrl" || typ == "strl" || typ == "movi")
                  walk(p + 12, p + 8 + len)
              } else if (id == "strf" && info.isEmpty && len >= 40) {
                info = Some(VideoInfo(bb.getInt(p + 12), bb.getInt(p + 16),
                  bb.getShort(p + 22).toInt, bb.getInt(p + 24)))
              } else if (id.endsWith("db") || id.endsWith("dc")) {
                frames += ((p + 8, len))
              }
              p += 8 + len + (len & 1)
            }
          }
        }
        walk(12, math.min(bytes.length, 8 + bb.getInt(4).toLong).toInt)
        if (bad) None else info.map(i => (i, frames.result()))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode one frame payload → (width, height, rSum, gSum, bSum).
    * BI_RGB unpacks the DIB in place (bottom-up rows, 4-byte stride
    * padding, BGR byte order); anything else goes through `javax.imageio`
    * (MJPG = plain JPEG per frame). None if the payload doesn't decode.
    */
  def decodeFrame(bytes: Array[Byte], off: Int, len: Int,
                  info: VideoInfo): Option[(Int, Int, Long, Long, Long)] =
    if (info.compression == BiRgb && info.bitCount == 24 && info.height > 0) {
      val (w, h) = (info.width, info.height)
      val stride = (w * 3 + 3) & ~3
      if (w <= 0 || len < stride * h) None
      else {
        var (rs, gs, bs) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          val row = off + (h - 1 - y) * stride
          var x = 0
          while (x < w) {
            bs += bytes(row + 3 * x) & 0xff
            gs += bytes(row + 3 * x + 1) & 0xff
            rs += bytes(row + 3 * x + 2) & 0xff
            x += 1
          }
          y += 1
        }
        Some((w, h, rs, gs, bs))
      }
    } else {
      val img = Multimodal.readImageOrNull(bytes, off, len)
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        var (rs, gs, bs) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
            x += 1
          }
          y += 1
        }
        Some((w, h, rs, gs, bs))
      }
    }
}
