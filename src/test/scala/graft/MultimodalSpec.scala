package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"

  test("binary payloads are 96 deterministic bytes with typed metadata") {
    val df = Multimodal.mm01BinaryFeatures(spark, dir)
    val row = df.head()
    assert(row.getAs[Long]("n_bytes") == 96)
    assert(row.getAs[String]("format") == "fake/v1")
    assert(row.getAs[String]("magic").length == 8)
    // re-running produces identical hashes (fully deterministic synthesis)
    val h1 = df.agg(max(col("payload_md5"))).head().getString(0)
    val h2 = Multimodal.mm01BinaryFeatures(spark, dir)
      .agg(max(col("payload_md5"))).head().getString(0)
    assert(h1 == h2)
  }

  test("decode stage produces stable per-source aggregates") {
    val df = Multimodal.mm02DecodeFeatures(spark, dir).cache()
    assert(df.count() > 0)
    // norms are positive and bounded: each of 96 bytes contributes <= 1.0
    // to one of 16 dims, so per-dim sums <= 6 and norm <= sqrt(16*36) = 24
    val bad = df.filter(col("max_norm") <= 0 || col("max_norm") > 24).count()
    assert(bad == 0)
    // stable across runs (tolerance: the per-source double sum is
    // aggregation-order dependent in its last ulps)
    val a = df.agg(sum(col("total_norm"))).head().getDouble(0)
    val b = Multimodal.mm02DecodeFeatures(spark, dir)
      .agg(sum(col("total_norm"))).head().getDouble(0)
    assert(math.abs(a - b) <= math.abs(a) * 1e-9)
  }

  test("frame sampling yields exactly the strided frames with bounded features") {
    val df = Multimodal.mm03FrameSample(spark, dir).cache()
    val nMedia = Multimodal.mm01BinaryFeatures(spark, dir).count()
    // stride-2 over 6 frames: exactly frames 0, 2, 4 for every media row
    assert(df.count() == nMedia * 3)
    val idxs = df.select(collect_set(col("frame_idx"))).head()
      .getAs[Seq[Long]](0).toSet
    assert(idxs == Set(0L, 2L, 4L))
    // each frame is 16 bytes: sum in [0, 16*255], brightness in [0, 1]
    val bad = df.filter(col("frame_sum") < 0 || col("frame_sum") > 16 * 255 ||
      col("brightness") < 0 || col("brightness") > 1).count()
    assert(bad == 0)
    // a frame's identity is its bytes: md5 collides across media only if
    // the slices collide, so distinct md5 count is near the frame count
    assert(df.select(countDistinct(col("frame_md5"))).head().getLong(0) > nMedia)
  }

  test("perceptual hamming dedup grades edits: trailing append 0, interior edit small, rewrite unfound") {
    import spark.implicits._
    // four media over the same word-length profile: an exact twin with a
    // TRAILING append (outside the 61-word window -> hamming 0), an
    // interior one-word length change (flips exactly the two gradient
    // bits that touch word 30 -> hamming <= 2), and a full rewrite
    // (alternating lengths everywhere -> not within hamming 6, must not
    // pair). Word k of the base has length (k % 7) + 1.
    def words(lenAt: Int => Int, n: Int): String =
      (0 until n).map(k => "x" * lenAt(k)).mkString(" ")
    val base = (k: Int) => (k % 7) + 1
    val docs = Seq(
      (1L, words(base, 70)),
      (2L, words(base, 70) + " trailing junk appended here"),
      (3L, words(k => if (k == 30) base(30) + 3 else base(k), 70)),
      (4L, words(k => if (k % 2 == 0) 9 else 1, 70))
    ).toDF("doc_id", "text")
    // same hash construction as the mm05 gate
    val toks = split(trim(col("text")), "\\s+")
    def cell(i: Int) =
      coalesce(length(element_at(col("__w"), i + 1)), lit(0))
    val hash = (0 until 60).map { k =>
      when(cell(k) < cell(k + 1), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    val hashed = docs.select(col("doc_id"), toks.as("__w"))
      .where(size(col("__w")) >= 62).select(col("doc_id"), hash.as("phash"))
    val pairs = graft.api.Graft.hammingNearDupPairs(
        hashed, col("doc_id"), col("phash"))
      .as[(Long, Long, Int)].collect().toSet
    val h12 = pairs.find(p => p._1 == 1L && p._2 == 2L).map(_._3)
    val h13 = pairs.find(p => p._1 == 1L && p._2 == 3L).map(_._3)
    assert(h12.contains(0), s"trailing append must be hamming 0: $pairs")
    assert(h13.exists(h => h > 0 && h <= 2),
      s"interior edit must grade small nonzero: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"the rewrite must not pair within hamming 6: $pairs")
  }
}
