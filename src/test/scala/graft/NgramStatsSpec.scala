package graft

import graft.functions.NgramStats
import org.apache.spark.sql.functions._

/** The one-pass NgramStats expression must be value-identical to the
  * explode + (id, ngram) count + per-id rollup formulation it replaced —
  * that formulation is what the t08 DuckDB oracle re-derives, so this
  * equivalence is what keeps t08/t11 hash-matching. */
class NgramStatsSpec extends GraftSuite {
  test("native stats equal the explode+groupBy formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val words = Seq("a", "bb", "ccc", "dd", "e", "ff")
    val texts = (0L until 300L).map { i =>
      val body = Seq.fill(rng.nextInt(30))(words(rng.nextInt(words.size)))
      // leading/trailing spaces + repeated runs exercise trim/split edges
      (i, "  " + body.mkString("  ") + " ")
    } :+ (900L, "") :+ (901L, "solo") :+ (902L, "x y x y x y")
    val df = texts.toDF("id", "t")
    val n = 2

    val fused = graft.api.Graft.repetitionStats(df, $"id", $"t", n)
      .select($"id", $"n_ngrams", $"n_distinct_ngrams", $"max_ngram_count",
        $"dup_ngram_frac")

    val toks = split(trim($"t"), "\\s+")
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
    val explodeForm = df.select($"id", explode(grams).as("ng"))
      .groupBy($"id", $"ng").agg(count(lit(1)).as("cnt"))
      .groupBy($"id")
      .agg(sum($"cnt").as("n_ngrams"),
        count(lit(1)).as("n_distinct_ngrams"),
        max($"cnt").as("max_ngram_count"))
      .withColumn("dup_ngram_frac",
        lit(1.0) - $"n_distinct_ngrams".cast("double") / $"n_ngrams")

    val a = fused.orderBy($"id").collect().toSeq
    val b = explodeForm.orderBy($"id").collect().toSeq
    assert(a == b)
    // the repeated-phrase row: 5 bigrams, 2 distinct, "x y" 3 times
    val r902 = a.find(_.getLong(0) == 902L).get
    assert((r902.getLong(1), r902.getLong(2), r902.getLong(3)) == ((5L, 2L, 3L)))
    // the empty and sub-n rows are dropped by both forms
    assert(!a.exists(r => r.getLong(0) == 900L || r.getLong(0) == 901L))
  }

  test("ngram_stats participates in whole-stage codegen") {
    val plan = spark.range(5).toDF("id")
      .select(NgramStats.ngramStats(
        split(concat(col("id").cast("string"), lit(" a b c")), " "), 2)
        .as("ns"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("ngram_stats") && l.contains("*(")), plan)
  }
}
