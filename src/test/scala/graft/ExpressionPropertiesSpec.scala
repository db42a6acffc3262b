package graft

import graft.api.Graft
import graft.functions.SortedSetOverlap
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the custom expressions: SortedSetOverlap's merge
  * counts must equal reference Set arithmetic on arbitrary inputs under
  * its sorted-distinct contract, and zorderValue must be exactly
  * de-interleavable (each input's low bits recoverable from the z-value).
  * All samples evaluate in ONE Spark pass per property.
  */
class ExpressionPropertiesSpec extends GraftSuite {
  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    Iterator.from(0)
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .take(n).toSeq

  test("SortedSetOverlap equals Set intersection/union cardinalities") {
    import spark.implicits._
    val token: Gen[String] = Gen.choose(0, 400).map(i => f"t$i%03d")
    val pair: Gen[(Seq[String], Seq[String])] = for {
      a <- Gen.listOf(token)
      b <- Gen.listOf(token)
    } yield (a.distinct.sorted, b.distinct.sorted)
    val cases = samples(pair, 400) :+
      ((Seq.empty[String], Seq.empty[String])) :+ // both empty
      ((Seq("x"), Seq.empty[String]))             // one empty
    val expected = cases.map { case (a, b) =>
      val (sa, sb) = (a.toSet, b.toSet)
      (a, b, (sa & sb).size.toLong, (sa | sb).size.toLong)
    }
    val df = expected.toDF("a", "b", "exp_inter", "exp_union")
      .withColumn("got", SortedSetOverlap.overlap(col("a"), col("b")))
    val bad = df.where(
      col("got.n_inter") =!= col("exp_inter") ||
        col("got.n_union") =!= col("exp_union"))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
  }

  test("BucketPairSurvivors equals the reference quadratic on arbitrary buckets") {
    import spark.implicits._
    // random buckets of (id, h1..h4) signatures, long AND string ids;
    // the native per-bucket quadratic must emit exactly the reference
    // i<j pairs with exact n_match agreement counts and the cut applied
    val sigGen = for {
      id <- Gen.choose(0L, 30L)
      hs <- Gen.listOfN(4, Gen.choose(0L, 3L)) // small range -> real ties
    } yield (id, hs)
    val bucketGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, sigGen))
    val buckets = samples(bucketGen, 200).zipWithIndex
    def reference(bucket: Seq[(Long, Seq[Long])], minAgree: Int) = {
      val sorted = bucket.sortBy(s => (s._1, s._2.mkString(",")))
      for {
        i <- sorted.indices; j <- (i + 1) until sorted.size
        m = sorted(i)._2.zip(sorted(j)._2).count { case (a, b) => a == b }
        if m >= minAgree
      } yield (sorted(i)._1, sorted(j)._1, m.toLong)
    }
    val rows = buckets.map { case (b, bi) =>
      (bi.toLong, b.map { case (id, hs) => (id, hs(0), hs(1), hs(2), hs(3)) })
    }.toDF("bucket_id", "ss0")
    val native = rows.select($"bucket_id",
        explode(graft.functions.BucketPairSurvivors.bucketPairs(
          sort_array(transform($"ss0", s => struct(
            s.getField("_1").as("id"), s.getField("_2").as("h1"),
            s.getField("_3").as("h2"), s.getField("_4").as("h3"),
            s.getField("_5").as("h4")))), 2)).as("p"))
      .select($"bucket_id", $"p.id_a", $"p.id_b", $"p.n_match")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sorted.toSeq).toMap
    for ((b, bi) <- buckets) {
      // the reference sorts by (id, sig) exactly like sort_array's struct
      // order only when ids are distinct-or-tied consistently; compare as
      // multisets of (min,max,n_match) which are order-independent
      val want = reference(b, 2)
        .map { case (x, y, m) => (math.min(x, y), math.max(x, y), m) }.sorted
      val got = native.getOrElse(bi.toLong, Seq.empty)
        .map { case (x, y, m) => (math.min(x, y), math.max(x, y), m) }.sorted
      assert(got == want, s"bucket $bi: native $got vs reference $want")
    }
    // string ids flow through unchanged (copied, not aliased)
    val sRows = Seq(("k", Seq(("a", 1L, 2L), ("b", 1L, 2L), ("c", 9L, 2L))))
      .toDF("k", "ss0")
    val sGot = sRows.select(explode(
        graft.functions.BucketPairSurvivors.bucketPairs(
          sort_array(transform($"ss0", s => struct(
            s.getField("_1").as("id"), s.getField("_2").as("h1"),
            s.getField("_3").as("h2")))), 1)).as("p"))
      .select($"p.id_a", $"p.id_b", $"p.n_match")
      .as[(String, String, Long)].collect().toSet
    assert(sGot == Set(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)), sGot)
  }

  test("BucketPairSurvivors: null hashes match nothing, null elements drop") {
    import spark.implicits._
    // the replaced `when(a.h === b.h, 1)` formulation never matched a
    // null hash (null === null is non-true in SQL) and a null struct
    // element's pairs all had null n_match (failing any cut); the native
    // expression must preserve exactly that
    val rows = spark.sql(
      """SELECT array(
        |  named_struct('id', 1L, 'h1', CAST(NULL AS BIGINT), 'h2', 8L),
        |  named_struct('id', 2L, 'h1', CAST(NULL AS BIGINT), 'h2', 8L),
        |  named_struct('id', 3L, 'h1', CAST(NULL AS BIGINT),
        |               'h2', CAST(NULL AS BIGINT)),
        |  CAST(NULL AS struct<id: bigint, h1: bigint, h2: bigint>)
        |) AS ss0""".stripMargin)
    val got = rows.select(explode(
        graft.functions.BucketPairSurvivors.bucketPairs(
          sort_array($"ss0"), 1)).as("p"))
      .select($"p.id_a", $"p.id_b", $"p.n_match")
      .as[(Long, Long, Long)].collect().toSet
    // only (1,2) share a NON-NULL equal hash (h2=8); the null h1s do NOT
    // count as agreement (so n_match is 1, not 2), doc 3 (all-null
    // hashes) pairs with nothing, and the null element generates no pairs
    assert(got == Set((1L, 2L, 1L)), got.toString)
  }

  test("zorderValue de-interleaves back to each input's low bits") {
    import spark.implicits._
    val bits = 8
    val xy: Gen[(Int, Int)] = for {
      x <- Gen.choose(0, 1 << 16) // wider than bits: high bits must drop
      y <- Gen.choose(0, 1 << 16)
    } yield (x, y)
    val cases = samples(xy, 500) :+ ((0, 0)) :+ ((255, 255))
    // reference de-interleave in plain Scala
    def deinterleave(z: Long): (Int, Int) = {
      var (x, y, i) = (0, 0, 0)
      while (i < bits) {
        x |= (((z >> (2 * i)) & 1L) << i).toInt
        y |= (((z >> (2 * i + 1)) & 1L) << i).toInt
        i += 1
      }
      (x, y)
    }
    val got = cases.toDF("x", "y")
      .withColumn("z", Graft.zorderValue(col("x"), col("y"), bits))
      .select("x", "y", "z").as[(Int, Int, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z >= 0 && z < (1L << (2 * bits)), s"z=$z out of range")
      val (dx, dy) = deinterleave(z)
      assert(dx == (x & ((1 << bits) - 1)) && dy == (y & ((1 << bits) - 1)),
        s"($x, $y) -> z=$z -> ($dx, $dy)")
    }
  }

  test("tokenizeBpe is a lossless segmentation under arbitrary merge tables") {
    import spark.implicits._
    // any text over a small alphabet, any (possibly useless or repeated)
    // merge table: concatenating each word's BPE tokens must reproduce the
    // word exactly — merges only regroup characters, never alter them
    val word: Gen[String] = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val doc: Gen[String] = for {
      n <- Gen.choose(0, 6)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val sym: Gen[String] = for {
      n <- Gen.choose(1, 3)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val mergesGen: Gen[Seq[(String, String)]] = for {
      n <- Gen.choose(0, 6)
      ms <- Gen.listOfN(n, Gen.zip(sym, sym))
    } yield ms
    val cases = samples(Gen.zip(doc, mergesGen), 120)
    // evaluate per distinct merge table (the table is compiled into the
    // expression); group cases to keep it to a handful of Spark passes
    cases.groupBy(_._2).foreach { case (merges, group) =>
      val df = group.map(_._1).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("k", "body")
      val got = Graft.tokenizeBpe(df, col("body"), merges)
        .select(col("k"), concat_ws("", col("bpe_tokens")).as("joined"),
          concat_ws("", filter(split(trim(col("body")), "\\s+"),
            t => t =!= lit(""))).as("expected"))
        .collect()
      got.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"merge table $merges broke doc ${r.getLong(0)}: " +
            s"'${r.getString(1)}' != '${r.getString(2)}'")
      }
    }
  }
}
