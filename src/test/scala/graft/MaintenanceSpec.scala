package graft

import graft.medallion.{BronzeGen, Maintenance, MdpConfig, Pipeline, Silver}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-maintenance operators: incremental silver, partition-scoped
  * upsert, and small-file compaction — each checked for exact data
  * equivalence with the full-rebuild result, not just row counts.
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_maint_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private val Epoch = 1754982000L

  /** The medallion table names are global catalog state shared across
    * suites in one JVM; start each test that resolves them from a clean
    * catalog so another suite's leftover table (pointing at ITS temp dir)
    * cannot hijack the catalog-first resolution. */
  private def dropMedallionTables(): Unit = {
    val cfg = MdpConfig.fromEnv("/tmp/unused")
    Seq(cfg.silverFqn, cfg.goldFqn)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("silverIncremental over new bronze days equals a full rebuild") {
    import spark.implicits._
    dropMedallionTables()
    val base = tmpDir("incr")
    val cfg = MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4)

    // day 1: bronze rows from the first half of the date range
    val all = BronzeGen.generate(spark, 2000, 4, cfg.payloadKb, cfg.seed, Epoch)
      .cache()
    val cut = to_date(timestamp_seconds(lit(Epoch))) - expr("INTERVAL 15 DAYS")
    all.where(to_date($"event_timestamp") < cut)
      .write.parquet(cfg.bronzeUri)
    val n1 = Maintenance.silverIncremental(spark, cfg)
    assert(n1 > 0)

    // day 2: the full bronze set lands (old days unchanged + new days)
    all.write.mode("overwrite").parquet(cfg.bronzeUri)
    val n2 = Maintenance.silverIncremental(spark, cfg)

    val expected = Silver.enrich(all,
      to_date(timestamp_seconds(lit(Epoch))),
      timestamp_seconds(lit(Epoch)), lit(Epoch))
    val got = spark.read.parquet(cfg.silverFallbackUri)
    // n2 is the rows WRITTEN (the incremental slice), strictly less than
    // the full table; the table itself must equal the full rebuild.
    assert(n2 > 0 && n2 < expected.count(), s"slice=$n2 full=${expected.count()}")
    assert(got.count() == expected.count(),
      s"table=${got.count()} full=${expected.count()}")
    // exact equivalence: same (id -> fingerprint) multiset
    val fp = concat_ws("|", $"id", $"email_clean", $"customer_value_tier",
      $"interaction_date".cast("string"), $"channel")
    val gotSet = got.select(fp).as[String].collect().sorted
    val expSet = expected.select(fp).as[String].collect().sorted
    assert(gotSet.sameElements(expSet))
    all.unpersist()
  }

  test("gold reflects silver-incremental rows through the shared silver table") {
    import spark.implicits._
    dropMedallionTables()
    val base = tmpDir("chain")
    val cfg = MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4)
    val all = BronzeGen.generate(spark, 2000, 4, cfg.payloadKb, cfg.seed, Epoch)
      .cache()
    val cut = to_date(timestamp_seconds(lit(Epoch))) - expr("INTERVAL 15 DAYS")
    all.where(to_date($"event_timestamp") < cut)
      .write.parquet(cfg.bronzeUri)
    Pipeline.silver(spark, cfg) // full build: catalog table (or path fallback)
    val goldDates1 = { Pipeline.gold(spark, cfg); spark
      .table(cfg.goldFqn).select(countDistinct($"interaction_date"))
      .head().getLong(0) }

    // new bronze days arrive; ONLY the incremental path runs before gold —
    // the round-3 latent bug was incremental rows landing in a location
    // gold never read (silently stale KPIs)
    all.write.mode("overwrite").parquet(cfg.bronzeUri)
    Maintenance.silverIncremental(spark, cfg)
    Pipeline.gold(spark, cfg)
    val goldDates2 = spark.table(cfg.goldFqn)
      .select(countDistinct($"interaction_date")).head().getLong(0)
    val expectedDates = Silver.enrich(all,
      to_date(timestamp_seconds(lit(Epoch))),
      timestamp_seconds(lit(Epoch)), lit(Epoch))
      .select(countDistinct($"interaction_date")).head().getLong(0)
    assert(goldDates2 == expectedDates,
      s"gold sees $goldDates2 dates, full silver has $expectedDates")
    assert(goldDates2 > goldDates1)
    all.unpersist()
  }

  test("goldIncremental refreshes only new dates yet equals a full rebuild") {
    import spark.implicits._
    dropMedallionTables()
    val base = tmpDir("goldincr")
    val cfg = MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4)
    val all = BronzeGen.generate(spark, 2000, 4, cfg.payloadKb, cfg.seed, Epoch)
      .cache()
    val cut = to_date(timestamp_seconds(lit(Epoch))) - expr("INTERVAL 15 DAYS")
    all.where(to_date($"event_timestamp") < cut)
      .write.parquet(cfg.bronzeUri)
    // on the session catalog too, the counts the stages return (taken
    // from the write) are the written tables'
    val silverRows = Pipeline.silver(spark, cfg)
    assert(silverRows > 0 && silverRows == spark.table(cfg.silverFqn).count())
    val goldRows = Pipeline.gold(spark, cfg)
    val total1 = spark.table(cfg.goldFqn).count()
    assert(goldRows > 0 && goldRows == total1)

    // new bronze days arrive; ONLY the incremental legs run
    all.write.mode("overwrite").parquet(cfg.bronzeUri)
    Maintenance.silverIncremental(spark, cfg)
    val refreshed = Maintenance.goldIncremental(spark, cfg)

    val got = spark.table(cfg.goldFqn)
    val expected = graft.medallion.Gold.kpis(spark.table(cfg.silverFqn))
    // the incremental write touched only the new-date suffix ...
    assert(refreshed > 0 && refreshed < expected.count(),
      s"refreshed=$refreshed full=${expected.count()}")
    assert(got.count() > total1)
    // ... yet the table equals the full re-aggregation (gold's grain is
    // its partition key, so the scoped recompute sees identical rows).
    // Counts/distincts/max compare EXACTLY; the plain double sums/avgs of
    // Gold.kpis are order-dependent in their last ulp (same data, a
    // different summation order), so those compare at 1e-9 relative —
    // the kpisDet variant is the bit-exact form, pinned by the m03 gate.
    val exactCols = Seq("daily_active_customers", "unique_email_addresses",
      "support_tickets_created", "largest_transaction", "total_transactions",
      "daily_conversions", "loyalty_member_interactions",
      "total_points_earned", "total_points_redeemed",
      "high_churn_risk_customers")
    val dblCols = Seq("total_daily_revenue", "avg_transaction_value",
      "web_revenue", "mobile_revenue", "store_revenue",
      "avg_engagement_score", "avg_time_on_site", "avg_satisfaction_score",
      "total_estimated_ltv")
    val g = got.select($"interaction_date" +: got.columns.filter(_ != "interaction_date")
      .map(c => col(c).as(s"g_$c")): _*)
    val e = expected.select($"interaction_date" +: expected.columns
      .filter(_ != "interaction_date").map(c => col(c).as(s"e_$c")): _*)
    val j = g.join(e, "interaction_date", "full").cache()
    assert(j.filter(exactCols.map(c =>
      col(s"g_$c") =!= col(s"e_$c")).reduce(_ || _)).count() == 0, "exact cols diverge")
    assert(j.filter(dblCols.map(c =>
      abs(col(s"g_$c") - col(s"e_$c")) >
        abs(col(s"e_$c")) * 1e-9 + 1e-9).reduce(_ || _)).count() == 0,
      "double cols beyond ulp tolerance")
    assert(j.filter($"g_total_transactions".isNull || $"e_total_transactions".isNull)
      .count() == 0, "date sets differ")
    j.unpersist()
    all.unpersist()
  }

  test("withStageTimeout cancels an over-budget stage's jobs and fails loudly") {
    import spark.implicits._
    // a stage whose Spark job takes seconds against a ~120ms budget: the
    // timer must cancel the job group and surface StageTimeoutException,
    // and do so at the deadline, not after the job would have finished.
    // Warm the session first: a cold first-job plan takes seconds and
    // would dominate the wall-clock this test asserts on.
    spark.range(64).repartition(4).mapPartitions(it => it).count()
    val t0 = System.nanoTime()
    val e = intercept[Pipeline.StageTimeoutException] {
      Pipeline.withStageTimeout(spark, "spec-slow", minutes = 0.002) {
        spark.range(64).repartition(4).mapPartitions { it =>
          Thread.sleep(5000); it
        }.count()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("exceeded its"), e.getMessage)
    assert(secs < 4.5, f"abort took $secs%.1fs — cancellation didn't bite")
    // driver-side overrun (no Spark jobs to cancel) still fails the stage
    intercept[Pipeline.StageTimeoutException] {
      Pipeline.withStageTimeout(spark, "spec-driver", minutes = 0.002) {
        Thread.sleep(300)
      }
    }
    // an in-budget stage passes its result through untouched
    val ok = Pipeline.withStageTimeout(spark, "spec-fast", minutes = 10.0) {
      spark.range(10).count()
    }
    assert(ok == 10L)
  }

  test("rollback drops gold+silver (tables and files) and a rebuild restores gold exactly") {
    dropMedallionTables()
    val base = tmpDir("rollback")
    val cfg = MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4)
    Pipeline.bronze(spark, cfg)
    Pipeline.silver(spark, cfg)
    Pipeline.gold(spark, cfg)
    val before = spark.table(cfg.goldFqn)
      .orderBy("interaction_date").collect().toSeq
    assert(before.nonEmpty)

    Pipeline.rollback(spark, cfg)
    // tables dropped AND files gone — catalog and path readers both fail
    assert(!spark.catalog.tableExists(cfg.silverFqn))
    assert(!spark.catalog.tableExists(cfg.goldFqn))
    assert(!new java.io.File(cfg.silverFallbackUri).exists())
    assert(!new java.io.File(cfg.goldFallbackUri).exists())
    // bronze retained: the rebuild needs no re-ingest
    assert(new java.io.File(cfg.bronzeUri).exists())
    // a second rollback is a no-op, not an error
    Pipeline.rollback(spark, cfg)

    Pipeline.silver(spark, cfg)
    Pipeline.gold(spark, cfg)
    val after = spark.table(cfg.goldFqn)
      .orderBy("interaction_date").collect().toSeq
    assert(after == before, "rollback-rebuild changed the gold table")
  }

  test("upsertPartitioned replaces keys in touched partitions and appends new ones") {
    import spark.implicits._
    val path = tmpDir("upsert") + "/t"
    Seq((1L, "a", "2026-01-01"), (2L, "b", "2026-01-01"), (3L, "c", "2026-01-02"))
      .toDF("k", "v", "day")
      .write.partitionBy("day").parquet(path)

    val updates = Seq((2L, "B2", "2026-01-01"), (9L, "new", "2026-01-01"))
      .toDF("k", "v", "day")
    val merged = Maintenance.upsertPartitioned(spark, path, updates,
      keyCols = Seq("k"), partitionCol = "day")
    assert(merged == 3) // 1,2(updated),9 in day-01; day-02 untouched

    val out = spark.read.parquet(path).select("k", "v", "day")
      .as[(Long, String, String)].collect().toSet
    assert(out == Set(
      (1L, "a", "2026-01-01"), (2L, "B2", "2026-01-01"),
      (9L, "new", "2026-01-01"), (3L, "c", "2026-01-02")))
  }

  test("compact merges small files and preserves the data exactly") {
    import spark.implicits._
    val path = tmpDir("compact") + "/t"
    // 40 tiny files across 2 partitions
    (1 to 200).map(i => (i.toLong, s"row$i", s"p${i % 2}")).toDF("k", "v", "part")
      .repartition(20)
      .write.partitionBy("part").parquet(path)
    val beforeData = spark.read.parquet(path)
      .as[(Long, String, String)].collect().toSet

    val (before, after) = Maintenance.compact(spark, path, Seq("part"))
    assert(before > after, s"expected fewer files, got $before -> $after")
    assert(after <= 8)
    val afterData = spark.read.parquet(path)
      .as[(Long, String, String)].collect().toSet
    assert(afterData == beforeData)
  }
}
