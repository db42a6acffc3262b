package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The `years`/`months`/`hours` hidden time transforms — the rest of
  * the Iceberg time-granularity ladder around `days(ts)`
  * (DaysTransformSpec): `hours` for short-retention hot streams,
  * `months`/`years` for long-retention archives where daily dirs would
  * mean 36 500 directories a decade. Pins: UTC-fixed ordinals
  * (including pre-1970 negatives), static range pruning on the month
  * ladder, month-granular MERGE copy-on-write (untouched months
  * hard-link), zero-exchange SPJ between two month-partitioned tables
  * (proving FunctionCatalog resolution of the `months` transform), and
  * the hours-needs-a-timestamp guard rail. */
class TimeTransformSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_time")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_time")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def hiddenDirs(name: String, prefix: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.list(v).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith(prefix)).toSeq.sorted
  }

  private def ino(p: java.nio.file.Path): Long =
    java.nio.file.Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  private def partFiles(v: java.nio.file.Path, part: String): Map[String, Long] = {
    val d = v.resolve(part)
    if (!java.nio.file.Files.isDirectory(d)) Map.empty
    else java.nio.file.Files.list(d).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith("."))
      .map(f => f.getFileName.toString -> ino(f)).toMap
  }

  /** Distinct partition directories the final plan's scan planned —
    * which dirs were LISTED, not just which rows survived row filters. */
  private def plannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case b: BatchScanExec => Seq(b)
        case q: QueryStageExec => scans(q.plan)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    scans(plan).flatMap(_.scan.toBatch.planInputPartitions().toSeq).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq.map { f =>
          val p = new java.net.URI(f.urlEncodedPath).getPath
          p.split('/').filter(_.contains("=")).mkString("/")
        }
      case _ => Seq.empty
    }.toSet
  }

  /** 2024-01-01T00:00:00Z plus `id` * `stepSec` seconds. */
  private def eventsDf(n: Int, stepSec: Long) = {
    import spark.implicits._
    (1 to n).toDF("id")
      .select($"id".cast("long").as("id"),
        (lit(1704067200L) + $"id" * stepSec).cast("timestamp").as("ts"),
        ($"id" * 1.5).as("v"))
  }

  test("months layout: UTC month ordinals incl. pre-1970, round-trip") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_time.db")
    // 10-day spacing over 12 rows: Jan..Apr 2024; plus one 1969-12 row
    val df = eventsDf(12, 864000L).union(
      Seq((99L, java.sql.Timestamp.from(
        java.time.Instant.parse("1969-12-15T12:00:00Z")), -1.0))
        .toDF("id", "ts", "v"))
    df.writeTo("graft_time.db.evm").using("parquet")
      .partitionedBy(months($"ts")).createOrReplace()
    assert(spark.table("graft_time.db.evm").columns.toSeq ==
      Seq("id", "ts", "v"))
    // 2024-01 = (2024-1970)*12 = 648; Dec 1969 = -1
    assert(hiddenDirs("evm", "_gm_") ==
      Seq("_gm_ts=-1", "_gm_ts=648", "_gm_ts=649", "_gm_ts=650", "_gm_ts=651"),
      hiddenDirs("evm", "_gm_"))
    val got = spark.table("graft_time.db.evm").orderBy($"id")
      .select($"id", $"v").as[(Long, Double)].collect().toSeq
    assert(got == (1 to 12).map(i => (i.toLong, i * 1.5)) :+ (99L, -1.0))
  }

  test("years + hours layouts: ordinal arithmetic matches the functions") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_time.db")
    // years: 100-day spacing over 12 rows spans 2024..2027
    eventsDf(12, 8640000L).writeTo("graft_time.db.evy").using("parquet")
      .partitionedBy(years($"ts")).createOrReplace()
    assert(hiddenDirs("evy", "_gy_") ==
      Seq("_gy_ts=54", "_gy_ts=55", "_gy_ts=56", "_gy_ts=57"),
      hiddenDirs("evy", "_gy_"))
    // hours: 20-min spacing, ids 1..9 = 00:20..03:00 → 4 epoch hours
    eventsDf(9, 1200L).writeTo("graft_time.db.evh").using("parquet")
      .partitionedBy(hours($"ts")).createOrReplace()
    // 2024-01-01T00:00Z = epoch hour 1704067200/3600 = 473352
    assert(hiddenDirs("evh", "_gh_") ==
      Seq("_gh_ts=473352", "_gh_ts=473353", "_gh_ts=473354", "_gh_ts=473355"),
      hiddenDirs("evh", "_gh_"))
    assert(spark.table("graft_time.db.evy").count() == 12)
    assert(spark.table("graft_time.db.evh").count() == 9)
    spark.sql("DROP TABLE graft_time.db.evy")
    spark.sql("DROP TABLE graft_time.db.evh")
  }

  test("static pruning: a timestamp range plans only its month directories") {
    import spark.implicits._
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-02-10T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-20T00:00:00Z"))
    val q = spark.table("graft_time.db.evm")
      .where($"ts" >= lit(lo) && $"ts" < lit(hi))
    // id*10d from 01-01: id4=02-10 (= lo, kept), id5=02-20, id6=03-01,
    // id7=03-11; id8=03-21 ≥ hi drops
    assert(q.count() == 4, q.collect().mkString(","))
    assert(plannedDirs(q) == Set("_gm_ts=649", "_gm_ts=650"),
      s"range must plan exactly Feb+Mar dirs, planned: ${plannedDirs(q)}")
    // a point lookup plans one month dir and excludes the null/neg rows
    val q2 = spark.table("graft_time.db.evm")
      .where($"ts" === lit(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-11T00:00:00Z"))))
    assert(q2.count() == 1)
    assert(plannedDirs(q2) == Set("_gm_ts=648"), plannedDirs(q2))
  }

  test("MERGE touches only the month its keys live in; others hard-link") {
    import spark.implicits._
    val before = Seq("_gm_ts=-1", "_gm_ts=648", "_gm_ts=649", "_gm_ts=650",
      "_gm_ts=651").map(p => p -> partFiles(currentVersionDir("evm"), p)).toMap
    // update one February row (id 5 → 2024-02-20)
    Seq((5L, 999.0)).toDF("id", "nv").createOrReplaceTempView("tt_src")
    spark.sql("""MERGE INTO graft_time.db.evm t USING tt_src s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val after = currentVersionDir("evm")
    for (p <- Seq("_gm_ts=-1", "_gm_ts=648", "_gm_ts=650", "_gm_ts=651"))
      assert(partFiles(after, p) == before(p),
        s"untouched month $p must hard-link (same names + inodes)")
    assert(partFiles(after, "_gm_ts=649") != before("_gm_ts=649"),
      "the touched month must be rewritten")
    assert(spark.table("graft_time.db.evm").where($"id" === 5L)
      .select($"v").as[Double].head() == 999.0)
    spark.sql("DROP TABLE graft_time.db.evm")
  }

  test("SPJ: two months(ts) tables join on ts with zero exchanges") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_time.db")
    eventsDf(12, 864000L).writeTo("graft_time.db.ma").using("parquet")
      .partitionedBy(months($"ts")).createOrReplace()
    eventsDf(12, 864000L).select($"id", $"ts", ($"v" * 2).as("w"))
      .writeTo("graft_time.db.mb").using("parquet")
      .partitionedBy(months($"ts")).createOrReplace()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_time.db.ma")
        .join(spark.table("graft_time.db.mb"), Seq("ts"))
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = j.collect().head
      assert(row.getLong(0) == 12 && row.getDouble(1) == (1 to 12).map(_ * 4.5).sum)
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"months SPJ must plan zero exchanges, found ${shuffles.size}")
    }
    spark.sql("DROP TABLE graft_time.db.ma")
    spark.sql("DROP TABLE graft_time.db.mb")
  }

  test("guard rails: hours needs a timestamp; months needs a temporal") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_time.db")
    val dated = Seq((1L, java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "d")
    val e1 = intercept[Exception] {
      dated.writeTo("graft_time.db.badh").using("parquet")
        .partitionedBy(hours($"d")).createOrReplace()
    }
    assert(e1.getMessage.contains("hours"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "n").writeTo("graft_time.db.badm")
        .using("parquet").partitionedBy(months($"n")).createOrReplace()
    }
    assert(e2.getMessage.contains("months"), e2.getMessage)
    // but months over a DATE column works (hours is the odd one out)
    dated.writeTo("graft_time.db.okm").using("parquet")
      .partitionedBy(months($"d")).createOrReplace()
    assert(hiddenDirs("okm", "_gm_") == Seq("_gm_d=648"))
    spark.sql("DROP TABLE graft_time.db.okm")
  }
}
