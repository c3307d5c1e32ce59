package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema, frame sampling, binary dedup, perceptual
  * hashing. The codec is the documented deterministic stub. */
class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val media = Multimodal.syntheticMedia(spark, 30)

  test("byte stats are expression-only metadata (no decode)") {
    val df = Multimodal.withByteStats(media.toDF())
    val r = df.filter(col("media_id") === 0)
      .select("n_bytes", "payload_sha", "is_empty").head()
    assert(r.getLong(0) == 64)
    assert(r.getString(1).length == 64)
    assert(!r.getBoolean(2))
  }

  test("frame sampling explodes every Nth fixed-size frame") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 32,
      every = 2, targetBytes = 16).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_bytes.length == 16), "resize broken")
    assert(frames.forall(_.frame_idx % 2 == 0), "sampling stride broken")
    // media_id=2 is video with 64+2*32=128 bytes → frames 0,1,2,3 → keep 0,2
    assert(frames.filter(_.media_id == 2L).map(_.frame_idx).sorted.toSeq ==
      Seq(0, 2))
  }

  test("q_media_frames is deterministic with the declared frame shape") {
    // the registered Q-tier query: two runs hash-identical, every kept
    // frame exactly targetBytes and on the sampling stride
    val q = SparkEntry.queries("q_media_frames")
    val a = q(spark, sf0001).collect()
    val b = q(spark, sf0001).collect()
    assert(a.nonEmpty && a.sameElements(b), "frame sampling nondeterministic")
    assert(a.forall(_.getLong(2) == 128L), "resize target violated")
    assert(a.forall(_.getLong(1) % 4 == 0L), "sampling stride violated")
  }

  test("media fixture has the documented duplicate structure") {
    // q_media_dedup's oracle value depends on this: with 2400 rows the
    // payload generator's cycle (lcm of 256-value byte phase and 5-value
    // length phase = 1280) wraps, so ids 0..1119 each have exactly one
    // byte-identical partner at id+1280 and 1120..1279 have none. If the
    // generator changes, bump Multimodal.fixturePath's version suffix.
    val n = Multimodal.fixtureRows
    assert(n == 2400)
    // the generator itself, not the cached on-disk fixture: a drifted
    // generator must fail here even while an old fixture dir survives
    val groups = Multimodal.withByteStats(
        Multimodal.syntheticMedia(spark, n).toDF())
      .groupBy("payload_sha").agg(min("media_id").as("media_id"))
      .select("media_id").as[Long].collect().toSet
    assert(groups == (0L until 1280L).toSet,
      "keeper set drifted — fixture version bump required")
  }

  test("payload dedup keeps first media_id per content hash") {
    // q_media_dedup against a scalar group-by over the fixture's bytes
    val rows = spark.read.parquet(Multimodal.mediaFixture(spark))
      .select("media_id", "payload").as[(Long, Array[Byte])].collect()
    val want = rows.groupBy(_._2.toSeq).values
      .map(g => g.map(_._1).min -> g.length.toLong).toMap
    val kept = SparkEntry.queries("q_media_dedup")(spark, sf0001)
      .select("media_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(kept == want, "kept wrong copies")
  }

  test("phash64 is deterministic and byte-flip local") {
    val payload = (0 until 256).map(j => ((j * 13) % 256).toByte).toArray
    val h1 = Multimodal.phash64(payload)
    assert(h1 == Multimodal.phash64(payload.clone()),
      "phash must be a pure function of the bytes")
    // one flipped byte moves at most two histogram bins -> at most 2
    // signature bits can cross their threshold
    val flipped = payload.clone(); flipped(42) = (flipped(42) ^ 0x5A).toByte
    val d = java.lang.Long.bitCount(h1 ^ Multimodal.phash64(flipped))
    assert(d <= 2, s"single-byte flip moved $d bits (locality broken)")
    // unrelated payloads should differ in many bits
    val other = (0 until 256).map(j => ((j * j + 7) % 256).toByte).toArray
    val far = java.lang.Long.bitCount(h1 ^ Multimodal.phash64(other))
    assert(far > 8, s"unrelated payloads only $far bits apart")
  }

  test("q_media_phash matches the brute-force banded reference exactly") {
    import spark.implicits._
    val got = graft.queries.MediaQueries.mediaPhashPairs(spark)
      .as[(Long, Long, Long)].collect().toSet
    // independent in-memory reference: all pairs that share >= 1 of
    // the 4 exact 16-bit bands AND sit within hamming 4
    val sigs = spark.read
      .parquet(graft.ops.Multimodal.mediaFixture(spark))
      .as[graft.ops.Multimodal.MediaRow].collect()
      .map(m => m.media_id ->
        graft.ops.Multimodal.phash64(Option(m.payload)
          .getOrElse(Array.empty)))
      .sortBy(_._1)
    def bands(h: Long): Set[(Int, Long)] =
      (0 until 4).map(b => b -> ((h >>> (b * 16)) & 0xFFFFL)).toSet
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if bands(sigs(i)._2).intersect(bands(sigs(j)._2)).nonEmpty
      d = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if d <= 4
    } yield (sigs(i)._1, sigs(j)._1, d.toLong)).toSet
    assert(got == expected,
      s"pair set mismatch: ${got.size} got vs ${expected.size} expected")
  }
}
