package graft

import graft.functions.{CharNGrams, Md5Int60, MinHashSig}
import org.apache.spark.sql.functions._

/** The fused one-pass MinHash expression must be value-identical to the
  * composable formulation it replaced (CharNGrams explode -> md5-int60 ->
  * groupBy min per permutation) — that formulation is what the DuckDB
  * dedup oracles re-derive, so this equivalence is what keeps d02/d03/
  * d06/d07 hash-matching.
  */
class MinHashSigSpec extends GraftSuite {
  private val P = graft.api.Graft.MinhashP
  private val params = graft.api.Graft.minhashParams(8, 777L).toSeq

  test("fused signature equals the explode+groupBy formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val words = Seq("spark", "table", "row", "scan", "fast", "batch", "agg")
    val texts = (0L until 200L).map(i =>
      (i, Seq.fill(3 + rng.nextInt(40))(words(rng.nextInt(words.size)))
        .mkString(" ")))
    val df = texts.toDF("id", "t")

    val fused = df.select($"id",
      MinHashSig.minhashSig($"t", 5, params, P).as("mh"))
      .where($"mh".isNotNull)
      .select($"id" +: (0 until 8).map(i => $"mh" (i).as(s"h${i + 1}")): _*)

    val base = Md5Int60.md5Int60(col("s")) % P
    val perms = params.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h0") + lit(b)) % P).as(s"h${i + 1}")
    }
    val composed = df.select($"id", CharNGrams.charNGrams($"t", 5))
      .select($"id", base.as("h0"))
      .groupBy($"id").agg(perms.head, perms.tail: _*)

    assert(fused.exceptAll(composed).count() == 0 &&
      composed.exceptAll(fused).count() == 0)
  }

  test("strings shorter than the shingle produce NULL (no signature row)") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "abcde")).toDF("id", "t")
      .select($"id", MinHashSig.minhashSig($"t", 5, params, P).as("mh"))
    assert(df.where($"mh".isNull).select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  test("minhash_sig participates in whole-stage codegen") {
    val df = spark.range(10)
      .select(concat(lit("doc text number "), col("id").cast("string")).as("t"))
      .select(MinHashSig.minhashSig(col("t"), 5, params, P).as("mh"))
    assert(df.where(col("mh").isNotNull).count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("minhash_sig") && l.contains("*(")), plan)
  }
}
