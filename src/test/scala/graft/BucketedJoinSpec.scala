package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing demo: pre-bucketed tables on the join key let the fact-fact
  * join run with ZERO exchanges — the co-located join posture that, at
  * 100 TB, replaces the per-query shuffle with a one-time layout cost.
  */
class BucketedJoinSpec extends AnyFunSuite {
  /** Where this spec's tables live. The session's `warehouse.dir` cannot
    * be relied on: the first session of the JVM fixes it (usually
    * `./spark-warehouse`), where a table left by an interrupted run makes
    * the next `saveAsTable` fail with LOCATION_ALREADY_EXISTS. */
  lazy val wh: String = TempDirs.create("graft_bucket_wh").toString

  lazy val spark: SparkSession = {
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .config("spark.sql.sources.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val dir = "/root/testdata/sf0.001"

  test("join on bucketed tables requires no shuffle exchange") {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    li.write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")
    o.write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")

    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not introduce a shuffle: the only exchange
    // allowed is the aggregation's (on o_orderpriority)
    val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"), plan)

    // and results equal the plain (shuffled) join
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(joined.exceptAll(plain).count() == 0 && plain.exceptAll(joined).count() == 0)
  }
}
