package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Storage-partitioned joins on the atomic catalog: two tables
  * partitioned on the join key report KeyGroupedPartitioning, and Spark
  * plans their equi-join with ZERO shuffle — each task joins one
  * partition-value group straight from both tables' files. The 100 TB
  * claim this pins: co-partitioned fact-to-fact joins on catalog tables
  * pay no exchange on either side. */
class StoragePartitionedJoinSpec extends GraftSuite {
  registerCatalog("graft_spj")

  // co-partitioned single-key joins need the partition key to be the
  // full cluster key; keep the default requireAllClusterKeysForCoPartition
  private def withBucketing[A](f: => A): A =
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")(f)

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    var n = 0
    plan.foreachUp { case _: ShuffleExchangeExec => n += 1; case _ => () }
    n
  }

  test("co-partitioned equi-join plans with zero shuffle and joins correctly") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_spj.db")
    (1L to 300L).map(i => (i % 7, i, i * 2.0))
      .toDF("k", "a_id", "a_v")
      .writeTo("graft_spj.db.fact_a").using("parquet")
      .partitionedBy($"k").createOrReplace()
    (1L to 500L).map(i => (i % 7, i, i * 3.0))
      .toDF("k", "b_id", "b_v")
      .writeTo("graft_spj.db.fact_b").using("parquet")
      .partitionedBy($"k").createOrReplace()
    withBucketing {
      val j = spark.table("graft_spj.db.fact_a")
        .join(spark.table("graft_spj.db.fact_b"), Seq("k"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n"), sum($"a_v" + $"b_v").as("s"))
      // shuffle-free: the join co-locates by storage partitioning and
      // the groupBy on the same key rides the join's clustering
      assert(shuffles(j) == 0,
        s"expected ZERO exchanges, plan:\n${j.queryExecution.executedPlan}")
      val got = j.orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // per-key row counts: |a rows with key k| * |b rows with key k|
      def cnt(n: Long, m: Long): Seq[(Long, Long)] =
        (0L until 7L).map { k =>
          val ca = (1L to n).count(_ % 7 == k).toLong
          val cb = (1L to m).count(_ % 7 == k).toLong
          (k, ca * cb)
        }
      assert(got == cnt(300, 500), s"wrong join cardinalities: $got")
    }
    spark.sql("DROP TABLE graft_spj.db.fact_a")
    spark.sql("DROP TABLE graft_spj.db.fact_b")
  }

  test("mismatched partition values still join correctly (pushed values)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_spj.db")
    // side A holds keys 0..6, side B only 0..3: the co-partitioned plan
    // must not drop A's unmatched groups from an inner join's result
    // accounting (pushPartValues handles value-set mismatch)
    (1L to 100L).map(i => (i % 7, i)).toDF("k", "a_id")
      .writeTo("graft_spj.db.mm_a").using("parquet")
      .partitionedBy($"k").createOrReplace()
    (1L to 100L).map(i => (i % 4, i)).toDF("k", "b_id")
      .writeTo("graft_spj.db.mm_b").using("parquet")
      .partitionedBy($"k").createOrReplace()
    withBucketing {
      val j = spark.table("graft_spj.db.mm_a")
        .join(spark.table("graft_spj.db.mm_b"), Seq("k"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
      val got = j.orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = (0L until 4L).map { k =>
        val ca = (1L to 100L).count(_ % 7 == k).toLong
        val cb = (1L to 100L).count(_ % 4 == k).toLong
        (k, ca * cb)
      }
      assert(got == want, s"wrong cardinalities: $got vs $want")
      assert(shuffles(j) == 0,
        s"expected ZERO exchanges, plan:\n${j.queryExecution.executedPlan}")
    }
    spark.sql("DROP TABLE graft_spj.db.mm_a")
    spark.sql("DROP TABLE graft_spj.db.mm_b")
  }

  test("bucketing off: same join still correct (the default path unchanged)") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_spj.db")
    (1L to 50L).map(i => (i % 3, i)).toDF("k", "a_id")
      .writeTo("graft_spj.db.off_a").using("parquet")
      .partitionedBy($"k").createOrReplace()
    (1L to 50L).map(i => (i % 3, i)).toDF("k", "b_id")
      .writeTo("graft_spj.db.off_b").using("parquet")
      .partitionedBy($"k").createOrReplace()
    val j = spark.table("graft_spj.db.off_a")
      .join(spark.table("graft_spj.db.off_b"), Seq("k"))
    assert(j.count() ==
      (0L until 3L).map { k =>
        val c = (1L to 50L).count(_ % 3 == k).toLong; c * c
      }.sum)
    spark.sql("DROP TABLE graft_spj.db.off_a")
    spark.sql("DROP TABLE graft_spj.db.off_b")
  }
}
