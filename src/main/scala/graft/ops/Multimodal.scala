package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: images/audio/video as opaque `binary` payloads with
  * typed metadata, plus partition-batched decode/feature/frame operators —
  * the training-data-pipeline shape for non-text modalities.
  *
  * The Spark-side plumbing is real: pinned schema, binary expressions
  * (`length`/`sha2`) that stay in codegen, and iterator-based
  * `mapPartitions` for the decode stage (one decoder init per partition,
  * streaming through rows — the JVM analog of `mapInPandas` batching; at
  * 1000 executors each task decodes its partition independently, no
  * driver involvement).
  *
  * The codec itself is a STUB: real image/audio decoding libraries are not
  * in this build, so [[FakeCodec]] deterministically derives
  * dimensions/frames/features from the payload bytes. Swapping in a real
  * codec changes only the function body marked below — schema, batching
  * and partitioning are production-shaped.
  */
object Multimodal {

  /** Media table schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType), // image | audio | video
    StructField("payload", BinaryType),
    StructField("source_uri", StringType),
    StructField("width", IntegerType), //      image/video, nullable
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType), // audio, nullable
    StructField("duration_ms", LongType))) //  audio/video, nullable

  case class MediaRow(media_id: Long, media_type: String,
                      payload: Array[Byte], source_uri: String,
                      width: Option[Int], height: Option[Int],
                      sample_rate: Option[Int], duration_ms: Option[Long])

  case class MediaFeatures(media_id: Long, media_type: String,
                           n_bytes: Long, features: Array[Float])

  case class Frame(media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** STUB decoder — deterministic fake standing in for the absent codec
    * libraries. Every method is a pure function of the payload bytes. */
  object FakeCodec {
    val featureDim = 16

    /** "Decode + feature-extract": a 16-dim byte-histogram signature.
      * Real impl would decode pixels/samples and run a feature net. */
    def features(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](featureDim)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) % featureDim) += 1f
        i += 1
      }
      val n = math.max(payload.length, 1).toFloat
      hist.map(_ / n)
    }

    /** "Frame-sample a video": fixed-size chunks as fake frames. */
    def frames(payload: Array[Byte], frameBytes: Int): Seq[Array[Byte]] =
      payload.grouped(frameBytes).toSeq

    /** "Resize": truncate/pad the fake frame to the target byte size. */
    def resize(frame: Array[Byte], targetBytes: Int): Array[Byte] =
      if (frame.length >= targetBytes) frame.take(targetBytes)
      else frame ++ Array.fill[Byte](targetBytes - frame.length)(0)
  }

  /** Cheap per-row byte metadata via codegen'd expressions — no decode,
    * no shuffle; this is the filter stage you run *before* the expensive
    * decode to prune corrupt/empty/duplicate payloads. */
  def withByteStats(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("payload_sha", sha2(col("payload"), 256))
      .withColumn("is_empty", coalesce(length(col("payload")), lit(0)) === 0)

  /** Decode + feature-extract, batched per partition: decoder state is
    * initialized once per partition (the `iter =>` closure), rows stream
    * through without materializing the partition. */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { iter =>
      // real codec: init decoder here, once per partition
      iter.map { m =>
        MediaFeatures(m.media_id, m.media_type,
          Option(m.payload).map(_.length.toLong).getOrElse(0L),
          FakeCodec.features(Option(m.payload).getOrElse(Array.empty)))
      }
    }
  }

  /** Frame-sample video payloads: one output row per kept frame
    * (`every`-th frame, resized) — the generator shape of §2.J explode,
    * over binary data. */
  def sampleFrames(ds: Dataset[MediaRow], frameBytes: Int, every: Int,
                   targetBytes: Int): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.filter(col("media_type") === "video").as[MediaRow]
      .flatMap { m =>
        FakeCodec.frames(Option(m.payload).getOrElse(Array.empty), frameBytes)
          .zipWithIndex
          .collect { case (f, i) if i % every == 0 =>
            Frame(m.media_id, i, FakeCodec.resize(f, targetBytes))
          }
      }
  }

  /** Exact payload dedup on content hash — same operator family as
    * q_text_dedup_exact, applied to binary. */
  def dedupPayloads(df: DataFrame): DataFrame =
    Relational.dedupKeepFirst(
      withByteStats(df), Seq(col("payload_sha")), Seq(col("media_id")))

  /** Fixed on-disk media fixture for the registered q_media_dedup query
    * and its DuckDB oracle: [[syntheticMedia]] written once to a stable
    * path (content is a pure function of the generator version, so the
    * path carries a version suffix; _SUCCESS gates the write). SF-
    * independent by design — the media table is synthetic, not part of
    * the driver's testdata. 2400 rows makes the payload cycle (lcm of the
    * 256-value byte cycle and the 5-value length cycle = 1280) wrap:
    * ids 0–1119 each have exactly one byte-identical partner at id+1280,
    * so the dedup has real work. */
  val fixturePath = s"${graft.GraftSession.target}/tmp/media_fixture_v1"
  val fixtureRows = 2400

  def mediaFixture(spark: SparkSession): String = {
    if (!new java.io.File(s"$fixturePath/_SUCCESS").exists()) {
      syntheticMedia(spark, fixtureRows).write
        .mode("overwrite").parquet(fixturePath)
    }
    fixturePath
  }

  /** Deterministic synthetic media table for tests/demos (no binary
    * fixtures in the repo): payloads derived from seed strings. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { i =>
      val mt = Seq("image", "audio", "video")((i % 3).toInt)
      val payload = (0 until (64 + (i % 5).toInt * 32))
        .map(j => ((i * 131 + j * 7) % 256).toByte).toArray
      MediaRow(i, mt, payload, s"synthetic://media/$i",
        if (mt != "audio") Some(64) else None,
        if (mt != "audio") Some(48) else None,
        if (mt == "audio") Some(16000) else None,
        if (mt != "image") Some(1000L + i) else None)
    }
  }

  /** 64-bit perceptual-style signature of a binary payload: a 64-bin
    * byte histogram (byte DIV 4) thresholded at its mean, one bit per
    * bin. This is the honest STUB analog of a DCT pHash (the codec
    * libraries are absent — [[FakeCodec]] note): locality-sensitive
    * for byte-level perturbations (a few flipped bytes move a few
    * bins ⇒ small Hamming distance; unrelated payloads differ in
    * ~half the bits), and a pure function of the payload so the
    * signature is rerun-stable. The Spark-side plumbing this feeds —
    * signature → Hamming bands → bucket equi-join → candidate rescue —
    * is the REAL deliverable and is exactly the production pHash-dedup
    * dataflow; swapping in a real DCT hash changes only this
    * function. */
  def phash64(bytes: Array[Byte]): Long = {
    val hist = new Array[Long](64)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xFF) >> 2) += 1; i += 1 }
    val mean = if (bytes.isEmpty) 0.0 else bytes.length.toDouble / 64
    var acc = 0L
    var b = 0
    while (b < 64) { if (hist(b) > mean) acc |= (1L << b); b += 1 }
    acc
  }
}
