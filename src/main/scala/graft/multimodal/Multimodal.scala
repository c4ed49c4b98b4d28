package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: media payloads as opaque binary columns
  * with typed metadata, and decode / feature-extract / frame-sample as
  * per-partition batch operators over a typed Dataset.
  *
  * The decode step is PLUGGABLE: [[MediaDecoder]] is the seam a real
  * codec slots into. The container has no image/audio codecs, so the
  * default [[StubDecoder]] is a DETERMINISTIC FAKE (byte statistics in
  * place of pixel decoding) — clearly marked; the Spark-side plumbing
  * around it is the real thing: binary columns survive parquet
  * round-trips, the typed Encoder schema is explicit, and extraction
  * runs via mapPartitions so a real codec amortizes per-batch
  * model/codec setup exactly here (the Scala analog of the reference's
  * batched GPU inference, predicter.py:230).
  *
  * Payloads are synthesized from document text (UTF-8 bytes) since the
  * fixtures carry no true media; at 100 TB the payload column is the
  * only thing that changes.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features (the stub's deterministic byte statistics). */
  case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      byte_sum: Long,
      mean_byte: Double,
      n_frames: Int,
      n_sampled: Int,
      sampled_checksum: Long)

  val FrameBytes  = 16
  val SampleEvery = 4

  /** Session conf key naming the [[MediaDecoder]] implementation class
    * (or Scala object, `...$` suffix) to decode with; unset → stub. */
  val DecoderConfKey = "spark.graft.multimodal.decoder"

  /** documents → media table: payload = UTF-8 bytes, media type faked
    * from the doc id (even=image, odd=audio). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The decoder an unconfigured session gets: [[DecoderConfKey]] names
    * an implementation (a class with a no-arg constructor, or a Scala
    * `object` via its `...$` class name); unset falls back to the stub.
    * Conf-driven so cluster jobs swap decoders with a `--conf`, not a
    * rebuild, and the `mm_*` queries stay unchanged. */
  def resolveDecoder(s: SparkSession): MediaDecoder =
    s.conf.getOption(DecoderConfKey).filter(_.nonEmpty) match {
      case None => StubDecoder
      case Some(cn) =>
        val cls = Class.forName(cn, true, Thread.currentThread().getContextClassLoader)
        if (cn.endsWith("$"))
          cls.getField("MODULE$").get(null).asInstanceOf[MediaDecoder]
        else cls.getDeclaredConstructor().newInstance().asInstanceOf[MediaDecoder]
    }

  /** Feature extraction over partitions — the batch boundary where a
    * real codec/model initializes once per partition ([[MediaDecoder.open]]).
    * The decoder is serialized into the task closure, standard Spark
    * practice for per-partition resources. */
  def extractFeatures(media: Dataset[MediaRow],
      decoder: MediaDecoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      decoder.open()
      rows.map(decoder.decode)
    }
  }

  /** DataFrame view of extracted features for the query layer, using the
    * session-configured decoder (stub by default). */
  def featuresDF(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(s, dir), resolveDecoder(s)).toDF()
}

/** The decode seam: implement this to plug a real codec into the
  * multimodal pipeline without touching the query layer — either pass
  * an instance to [[Multimodal.extractFeatures]], or set
  * [[Multimodal.DecoderConfKey]] to the implementation's class name and
  * every `mm_*` query on that session uses it.
  *
  * Contract: `decode` must be deterministic per payload (downstream
  * oracle checks and retried tasks both rely on it) and the instance
  * must survive Java serialization into the task closure. */
trait MediaDecoder extends Serializable {
  /** Called once per partition before its rows decode — load codecs /
    * models / native handles here, never in `decode`. Default no-op. */
  def open(): Unit = ()

  def decode(row: Multimodal.MediaRow): Multimodal.MediaFeatures
}

/** STUB DECODER — deterministic fake standing in for a codec call.
  * A real implementation would decode `payload` with an image/audio
  * library; the byte statistics keep every downstream contract
  * (schema, determinism, batch shape) testable without codecs. */
object StubDecoder extends MediaDecoder {
  import Multimodal.{FrameBytes, MediaFeatures, MediaRow, SampleEvery}

  def decode(row: MediaRow): MediaFeatures = {
    val bytes = row.payload
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    // "Frames": FrameBytes-sized chunks; sample every SampleEvery-th.
    val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
    var checksum = 0L
    var sampled = 0
    var f = 0
    while (f < nFrames) {
      if (f % SampleEvery == 0) {
        sampled += 1
        var j = f * FrameBytes
        val end = math.min(j + FrameBytes, bytes.length)
        while (j < end) { checksum = (checksum * 31 + (bytes(j) & 0xff)) % 1000000007L; j += 1 }
      }
      f += 1
    }
    MediaFeatures(row.doc_id, row.media_type, bytes.length.toLong, sum,
      if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length,
      nFrames, sampled, checksum)
  }
}
