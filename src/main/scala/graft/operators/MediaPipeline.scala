package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}

/** Multimodal-column pipeline: image/audio/video payloads travel as
  * opaque BINARY columns with typed metadata; decode / feature-extract
  * runs as a per-partition batch operator.
  *
  * Image payloads are REAL PNGs, decoded with the JDK's
  * `javax.imageio` (no external codec needed): [[mediaFeatures]]
  * synthesizes a deterministic solid-color PNG per image row
  * executor-side, decodes it back, and emits the DECODED dimensions,
  * channel count, and per-channel means — the oracle checks the full
  * encode→decode round-trip because the expected values follow from
  * the same doc_id formulas. Audio payloads get the same treatment
  * via `javax.sound.sampled` (WAV/AIFF/AU parse also ships in the
  * base JDK): a deterministic 16-bit PCM WAV per audio row, decoded
  * back to sample rate / channel count / frame count / mean absolute
  * amplitude. Codecs the JDK genuinely lacks (video) keep the
  * deterministic md5 surrogate ([[decodeStub]]); swapping it for a
  * JNI/FFI decoder keeps the whole pipeline unchanged.
  *
  * Scale notes: payloads dominate row size, so the pipeline
  * repartitions by payload-size-aware salting before extraction
  * (binary columns make default file-split sizing misleading), and
  * features project to a narrow frame early so downstream joins never
  * carry the payload.
  */
object MediaPipeline {

  // per-thread digest (the kernel pattern from HashExpressions): the
  // JCA getInstance lookup per ROW on corpus-sized paths is pure
  // wasted allocation
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
  private def digestMd5: MessageDigest = {
    val d = md5Local.get(); d.reset(); d
  }

  // ImageIO's use-cache flag is a JVM-wide static; setting it per row
  // from every task thread is contended global mutation — a lazy val
  // sets it exactly once per JVM
  private lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  // AudioSystem.getAudioInputStream/write fetch their SPI providers
  // through JDK13Services.getProviders — a `static synchronized`
  // registry lookup PER CALL. Under 32 task threads that lock convoy
  // made the per-op wall cost 3× the single-threaded cost (measured
  // 321 µs vs 105 µs; 130 s for the sf10 audio rows). The provider
  // instances themselves (WaveFileReader/Writer) are stateless, so
  // resolve them ONCE per JVM via ServiceLoader — the same SPI set
  // AudioSystem consults — and call them directly.
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val rs = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toSeq
    // The soft-synth MIDI reader costs ~170 µs per REJECTION (it spins
    // up sequencer machinery before refusing) while the sampled-audio
    // readers reject on a 4-byte magic in ~1 µs — and ServiceLoader
    // order tries MIDI before WAVE. Probe the cheap readers first.
    val (midi, sampled) = rs.partition(_.getClass.getName.contains("Midi"))
    sampled ++ midi
  }

  // corpus payloads are format-homogeneous, so the reader that decoded
  // the last row almost always decodes the next — probe it first and
  // fall back to the ordered scan on a miss
  @volatile private var lastGoodReader: javax.sound.sampled.spi.AudioFileReader = null
  private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.toSeq
  }

  /** Opaque media payload + typed metadata. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** Narrow feature frame (payload dropped). */
  case class MediaFeatures(media_id: Long, kind: String, byte_len: Long,
      digest: String, feature: Array[Float])

  /** STUB decoder: a real implementation decodes the payload
    * (image/audio frame) and runs feature extraction. The surrogate is
    * deterministic — md5 digest + a pseudo-feature derived from the
    * digest bytes — so tests and oracles are stable. ??? -> replace
    * with the real codec when available. */
  def decodeStub(payload: Array[Byte]): (String, Array[Float]) = {
    val d = digestMd5.digest(payload)
    val hex = d.map("%02x".format(_)).mkString
    val feat = d.take(8).map(b => (b & 0xff) / 255.0f)
    (hex, feat)
  }

  /** Synthesize a media table from the documents corpus (text bytes as
    * the opaque payload) — stands in for a parquet table with real
    * image/audio bytes. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        MediaRecord(id, if (lang == "en") "image" else "audio",
          text.getBytes("UTF-8"), 64, 64, 16000)
      }
  }

  /** Feature extraction: per-partition batches over the payloads. The
    * extractor is pure per record; mapPartitions keeps codec/session
    * setup (the expensive part of a real decoder) per-partition, which
    * is the batch shape a Pandas-UDF/Arrow pipeline uses too. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // real pipeline: open codec once per partition here
      it.map { m =>
        val (digest, feat) = decodeStub(m.payload)
        MediaFeatures(m.media_id, m.kind, m.payload.length.toLong, digest, feat)
      }
    }
  }

  /** Decoded media feature row: the populated columns depend on the
    * modality — image rows carry REAL-decoded dimensions, channel
    * count, and per-channel means (audio fields −1); audio rows carry
    * REAL-decoded sample rate, frame count, and mean |amplitude|
    * (image fields −1). `channels` is decoded for both. */
  case class MediaDecoded(media_id: Long, kind: String, width: Int,
      height: Int, channels: Int, mean_r: Int, mean_g: Int, mean_b: Int,
      sample_rate: Int, n_frames: Long, mean_amp: Int, digest: String)

  /** Deterministic solid-color PNG: dimensions and fill color are pure
    * functions of the id, so an oracle can predict what a CORRECT
    * decode must recover without being able to parse PNG itself. */
  private[operators] def encodePng(id: Long): Array[Byte] = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    val r = ((id * 31) % 256).toInt
    val g = ((id * 17) % 256).toInt
    val b = ((id * 7) % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    imageIoNoCache
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image decode via the JDK's ImageIO: dimensions, band count,
    * and exact per-channel means (integer sums — solid-color images
    * make them exact, but the code path is the general one). Returns
    * None when no installed reader claims the payload. */
  private[operators] def decodeImage(
      payload: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int)] = {
    imageIoNoCache
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val ch = img.getRaster.getNumBands
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      Some((w, h, ch, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt))
    }
  }

  /** Deterministic mono 16-bit PCM WAV: sample rate, frame count, and
    * every sample value are pure functions of the id, so an oracle can
    * predict what a CORRECT decode must recover without being able to
    * parse WAV itself (the exact analogue of [[encodePng]]). 16-bit
    * PCM survives the encode→decode round trip bit-exactly. */
  private[operators] def encodeWav(id: Long): Array[Byte] = {
    val rate = wavRate(id)
    val n = wavFrames(id)
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, 1, true, false) // 16-bit signed mono little-endian
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = wavSample(id, i)
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    audioWriters.find(_.isFileTypeSupported(wave, ais)) match {
      case Some(w) => w.write(ais, wave, bos)
      case None => // registry fallback (never on a stock JDK)
        javax.sound.sampled.AudioSystem.write(ais, wave, bos)
    }
    bos.toByteArray
  }

  private[operators] def wavRate(id: Long): Int =
    (8000 + (id % 5) * 2000).toInt
  private[operators] def wavFrames(id: Long): Int = (64 + id % 101).toInt
  private[operators] def wavSample(id: Long, i: Int): Int =
    ((id * 31 + i.toLong * 7) % 65536 - 32768).toInt

  /** Real audio decode via the JDK's `javax.sound.sampled`: sample
    * rate, channel count, frame count, and the mean absolute sample
    * amplitude (integer division — exact). Handles any 16-bit signed
    * PCM stream either endianness, any channel count; returns None
    * when no installed reader claims the payload or the sample format
    * is not 16-bit PCM. */
  private def openAudio(
      payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val memo = lastGoodReader
    if (memo != null) {
      try return memo.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => // scan
      }
    }
    audioReaders.foreach { r =>
      if (r ne memo) {
        try {
          val ais = r.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          lastGoodReader = r
          return ais
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => // next
        }
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed reader claims the payload")
  }

  private[operators] def decodeAudio(
      payload: Array[Byte]): Option[(Int, Int, Long, Int)] =
    try {
      val ais = openAudio(payload)
      try {
        val f = ais.getFormat
        val nFrames = ais.getFrameLength
        val enc = f.getEncoding
        if (enc != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            f.getSampleSizeInBits != 16 || nFrames <= 0) None
        else {
          val bytes = ais.readAllBytes()
          val big = f.isBigEndian
          val nSamples = bytes.length / 2
          var sumAbs = 0L
          var i = 0
          while (i < nSamples) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1) & 0xff
            val v = (if (big) (lo << 8) | hi else (hi << 8) | lo).toShort.toInt
            sumAbs += math.abs(v.toLong)
            i += 1
          }
          Some((f.getSampleRate.toInt, f.getChannels, nFrames,
            (sumAbs / nSamples).toInt))
        }
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Media table with REAL image payloads: image rows carry a PNG
    * encoded executor-side (the metadata width/height record the true
    * dimensions); audio rows a WAV (the metadata sample_rate records
    * the true rate). */
  def imageTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        if (lang == "en")
          MediaRecord(id, "image", encodePng(id),
            (8 + id % 9).toInt, (8 + id % 7).toInt, 0)
        else MediaRecord(id, "audio", encodeWav(id), 0, 0, wavRate(id))
      }
  }

  /** Oracle-checked query: REAL decode for BOTH modalities — image
    * rows via [[decodeImage]] parsing actual PNG bytes, audio rows via
    * [[decodeAudio]] parsing actual WAV bytes. The emitted fields and
    * the digest of their canonical string come from the decode, and
    * the oracle recomputes the expected values from the encoding
    * formulas (an encode→decode round-trip check on both paths). */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    imageTable(s, dir).mapPartitions { it =>
      it.map { m =>
        if (m.kind == "image") {
          decodeImage(m.payload) match {
            case Some((w, h, ch, mr, mg, mb)) =>
              val canon = s"${w}x${h}x$mr,$mg,$mb"
              val hex = digestMd5.digest(canon.getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
              MediaDecoded(m.media_id, m.kind, w, h, ch, mr, mg, mb,
                -1, -1L, -1, hex)
            case None =>
              MediaDecoded(m.media_id, "undecodable", -1, -1, -1, -1, -1,
                -1, -1, -1L, -1, decodeStub(m.payload)._1)
          }
        } else {
          decodeAudio(m.payload) match {
            case Some((rate, ch, nFrames, meanAmp)) =>
              val canon = s"$rate:$ch:$nFrames:$meanAmp"
              val hex = digestMd5.digest(canon.getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
              MediaDecoded(m.media_id, m.kind, -1, -1, ch, -1, -1, -1,
                rate, nFrames, meanAmp, hex)
            case None =>
              MediaDecoded(m.media_id, "undecodable", -1, -1, -1, -1, -1,
                -1, -1, -1L, -1, decodeStub(m.payload)._1)
          }
        }
      }
    }.toDF().orderBy(col("media_id"))
  }

  /** The audio expectations re-derive what a correct WAV decode must
    * recover from the [[encodeWav]] formulas: rate/frames directly,
    * mean |amplitude| as the integer mean of |((id*31 + i*7) mod
    * 65536) − 32768| over the n generated samples (DuckDB `//` on the
    * non-negative sum equals Scala's truncating Long division). */
  val mediaFeaturesSql: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN lang = 'en' THEN 'image' ELSE 'audio' END AS kind,
      |  CASE WHEN lang = 'en' THEN CAST(8 + doc_id % 9 AS INT) ELSE -1 END AS width,
      |  CASE WHEN lang = 'en' THEN CAST(8 + doc_id % 7 AS INT) ELSE -1 END AS height,
      |  CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS channels,
      |  CASE WHEN lang = 'en' THEN CAST((doc_id * 31) % 256 AS INT) ELSE -1 END AS mean_r,
      |  CASE WHEN lang = 'en' THEN CAST((doc_id * 17) % 256 AS INT) ELSE -1 END AS mean_g,
      |  CASE WHEN lang = 'en' THEN CAST((doc_id * 7) % 256 AS INT) ELSE -1 END AS mean_b,
      |  CASE WHEN lang = 'en' THEN -1
      |    ELSE CAST(8000 + (doc_id % 5) * 2000 AS INT) END AS sample_rate,
      |  CASE WHEN lang = 'en' THEN CAST(-1 AS BIGINT)
      |    ELSE CAST(64 + doc_id % 101 AS BIGINT) END AS n_frames,
      |  CASE WHEN lang = 'en' THEN -1
      |    ELSE CAST(list_reduce(list_transform(range(0, 64 + doc_id % 101),
      |        i -> abs((doc_id * 31 + i * 7) % 65536 - 32768)),
      |        (a, b) -> a + b) // (64 + doc_id % 101) AS INT) END AS mean_amp,
      |  CASE WHEN lang = 'en' THEN md5(
      |      CAST(8 + doc_id % 9 AS VARCHAR) || 'x' ||
      |      CAST(8 + doc_id % 7 AS VARCHAR) || 'x' ||
      |      CAST((doc_id * 31) % 256 AS VARCHAR) || ',' ||
      |      CAST((doc_id * 17) % 256 AS VARCHAR) || ',' ||
      |      CAST((doc_id * 7) % 256 AS VARCHAR))
      |    ELSE md5(
      |      CAST(8000 + (doc_id % 5) * 2000 AS VARCHAR) || ':1:' ||
      |      CAST(64 + doc_id % 101 AS VARCHAR) || ':' ||
      |      CAST(list_reduce(list_transform(range(0, 64 + doc_id % 101),
      |          i -> abs((doc_id * 31 + i * 7) % 65536 - 32768)),
      |          (a, b) -> a + b) // (64 + doc_id % 101) AS VARCHAR))
      |    END AS digest
      |FROM documents ORDER BY media_id""".stripMargin

  /** One sampled frame of a payload: the video/audio batch shape is
    * one input row fanning out to MANY frame rows. */
  case class MediaFrame(media_id: Long, frame_idx: Long, frame_digest: String)

  /** Fixed-stride frame sampling: every `stride` bytes, take a
    * `frameLen`-byte window that fits entirely inside the payload and
    * digest it (a real pipeline would decode + embed the frame; the
    * digest is the deterministic stub). flatMap inside mapPartitions —
    * the fan-out happens executor-side, the payload is read once, and
    * only narrow frame rows leave the operator. */
  def sampleFrames(media: Dataset[MediaRecord], frameLen: Int,
      stride: Int): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.flatMap { m =>
        val n =
          if (m.payload.length < frameLen) 0
          else (m.payload.length - frameLen) / stride + 1
        (0 until n).iterator.map { i =>
          val frame = java.util.Arrays.copyOfRange(
            m.payload, i * stride, i * stride + frameLen)
          md.reset()
          val hex = md.digest(frame).map("%02x".format(_)).mkString
          MediaFrame(m.media_id, i.toLong, hex)
        }
      }
    }
  }

  /** Oracle-checked frame-sampling query (64-byte frames every 128
    * bytes), expressed entirely in builtin functions: the frame
    * fan-out is `explode(sequence(...))`, the byte slice is
    * `substring` over the BINARY payload (byte semantics — identical
    * to the operator's `Arrays.copyOfRange`), the digest is builtin
    * `md5`. When the per-frame work is byte slicing plus a hash, this
    * is the right tier of the brief's preference order: the whole
    * query stays inside whole-stage codegen (measured 7× faster than
    * the typed-Dataset form at sf10: 0.5 s vs 3.6 s), while
    * [[sampleFrames]] remains the mapPartitions batch shape for the
    * day the "digest" is a real codec call — a parity spec pins the
    * two paths row-identical so they cannot drift. */
  def mediaFrames(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("media_id"), col("payload"),
        when(length(col("payload")) < 64, 0)
          .otherwise(((length(col("payload")) - 64) / 128).cast("int") + 1)
          .as("n"))
      .filter(col("n") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n") - 1)).as("i"), col("payload"))
      .select(col("media_id"), col("i").cast("long").as("frame_idx"),
        md5(expr("substring(payload, i * 128 + 1, 64)")).as("frame_digest"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** The per-row `unnest(range(...))` bound is the SAME frame-count
    * formula the operator computes (`(len - 64) / 128 + 1`, zero for
    * payloads shorter than a frame) — no hard cap, so the oracle
    * agrees with the operator for arbitrarily LONG payloads. The CASE
    * mirrors the Scala guard exactly because DuckDB's `//` truncates
    * toward zero rather than flooring.
    *
    * Corpus contract (like the tokenizer's 0x0B note): the operator
    * slices the UTF-8 payload by BYTES while this SQL slices text by
    * CHARACTERS — identical only while documents are pure ASCII,
    * which the driver fixtures are. DuckDB cannot express the
    * byte-exact form (no substring over BLOB), so a non-ASCII corpus
    * needs either ASCII normalization ahead of the media oracle or a
    * DuckDB with blob slicing. */
  val mediaFramesSql: String =
    """SELECT media_id, i AS frame_idx,
      |  md5(substr(text, CAST(i * 128 + 1 AS INT), 64)) AS frame_digest
      |FROM (
      |  SELECT doc_id AS media_id, text,
      |    unnest(range(0, CASE WHEN length(text) < 64 THEN 0
      |                         ELSE (length(text) - 64) // 128 + 1 END)) AS i
      |  FROM documents)
      |ORDER BY media_id, frame_idx""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("media_features", mediaFeatures, Some(mediaFeaturesSql)),
    QuerySpec("media_frames", mediaFrames, Some(mediaFramesSql)))
}
