package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `days(ts)` hidden time-transform partitioning on the atomic catalog —
  * the event-stream layout: rows land in `_gd_ts=<utc epoch day>`
  * directories derived from the timestamp, WITHOUT the derived date
  * column classic layouts force into the schema. Pins: hidden layout +
  * round-trip (nulls included), runtime DAY pruning from a dim filter,
  * day-granular MERGE copy-on-write (untouched days hard-link), and
  * zero-exchange SPJ between two day-partitioned tables. */
class DaysTransformSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_days")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_days")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def dayDirs(name: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.list(v).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("_gd_")).toSeq.sorted
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

  /** 2024-01-01T00:00:00Z plus `id` * 6 hours — 4 rows per UTC day. */
  private def eventsDf(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("id")
      .select($"id".cast("long").as("id"),
        (lit(1704067200L) + $"id" * 21600L).cast("timestamp").as("ts"),
        ($"id" * 1.5).as("v"))
  }

  test("days layout: hidden dirs, schema, round-trip incl. a null timestamp") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    val withNull = eventsDf(40).union(
      Seq((99L, null.asInstanceOf[java.sql.Timestamp], -1.0))
        .toDF("id", "ts", "v"))
    withNull.writeTo("graft_days.db.ev").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    assert(spark.table("graft_days.db.ev").columns.toSeq ==
      Seq("id", "ts", "v"))
    val dirs = dayDirs("ev")
    // 40 rows at 6h spacing starting 06:00 → days 19723..19733 (11 dirs)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("_gd_ts=")), dirs)
    assert(dirs.count(!_.endsWith("__HIVE_DEFAULT_PARTITION__")) == 11 &&
      dirs.exists(_.endsWith("__HIVE_DEFAULT_PARTITION__")),
      s"expected 11 UTC day dirs + the null-ts default dir, got $dirs")
    // the null-ts row lives in the hive default dir and still reads back
    val got = spark.table("graft_days.db.ev").orderBy($"id")
      .select($"id", $"v").as[(Long, Double)].collect().toSeq
    assert(got == (1 to 40).map(i => (i.toLong, i * 1.5)) :+ (99L, -1.0))
    // day ids are UTC-fixed epoch days: 2024-01-01 = 19723
    assert(dirs.head == "_gd_ts=19723", dirs.head)
  }

  test("runtime day pruning: a dim filter's timestamps prune day dirs") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    eventsDf(400).writeTo("graft_days.db.evf").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    // dim: one ts per day boundary, only one marked
    (0 to 99).toDF("d")
      .select(((lit(1704067200L) + $"d" * 86400L) + 21600L)
        .cast("timestamp").as("ts"),
        when($"d" === 7, lit("x")).otherwise(lit("y")).as("cat"))
      .writeTo("graft_days.db.evd").using("parquet").createOrReplace()
    val j = spark.table("graft_days.db.evf")
      .join(spark.table("graft_days.db.evd").where($"cat" === "x"),
        Seq("ts"))
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    val row = j.collect().head
    // day 7's 06:00 tick is id = 7*4 + 1 = 29
    assert(row.getLong(0) == 1 && row.getDouble(1) == 29 * 1.5, row)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case b: BatchScanExec => Seq(b)
        case q: QueryStageExec => scans(q.plan)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
    val plan = j.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val factRows = scans(plan).filter(_.output.exists(_.name == "v"))
      .map(_.metrics("numOutputRows").value)
    assert(factRows.nonEmpty && factRows.sum <= 4,
      s"fact scan read ${factRows.sum} rows — runtime day pruning did " +
        "not fire (whole table = 400)")
    spark.sql("DROP TABLE graft_days.db.evd")
  }

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

  test("static pruning: a timestamp range plans only its day directories") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    eventsDf(400).writeTo("graft_days.db.evr").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    // [day 19725 12:00, day 19727 06:00): three calendar days
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-03T12:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T06:00:00Z"))
    val q = spark.table("graft_days.db.evr")
      .where($"ts" >= lit(lo) && $"ts" < lit(hi))
    // ids 10..17 → ts 2024-01-03T12:00 .. 2024-01-05T06:00 (exclusive)
    assert(q.count() == 7, q.collect().mkString(","))
    val dirs = plannedDirs(q)
    assert(dirs == Set("_gd_ts=19725", "_gd_ts=19726", "_gd_ts=19727"),
      s"range must plan exactly three day dirs, planned: $dirs")
    spark.sql("DROP TABLE graft_days.db.evr")
  }

  test("MERGE touches only the day its keys live in; other days hard-link") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    eventsDf(40).writeTo("graft_days.db.evm").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    val v0 = currentVersionDir("evm")
    val dirs0 = dayDirs("evm")
    // source updates the row at id=10 (ts = 2024-01-03T12:00 → day 19725)
    eventsDf(40).where($"id" === 10)
      .select($"id", $"ts", lit(1000.0).as("v"))
      .createOrReplaceTempView("evm_src")
    spark.sql("""MERGE INTO graft_days.db.evm t USING evm_src s
                |ON t.ts = s.ts
                |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val v1 = currentVersionDir("evm")
    val touched = "_gd_ts=19725"
    dirs0.filterNot(_ == touched).foreach { d =>
      assert(partFiles(v0, d) == partFiles(v1, d) && partFiles(v1, d).nonEmpty,
        s"untouched day $d must ride as hard links through the merge")
    }
    assert(partFiles(v0, touched) != partFiles(v1, touched),
      "the touched day must be rewritten")
    assert(spark.table("graft_days.db.evm").where($"id" === 10)
      .collect().map(_.getDouble(2)).toSeq == Seq(1000.0))
    spark.sql("DROP TABLE graft_days.db.evm")
  }

  test("SPJ: two days(ts) tables join on ts with zero exchanges") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    eventsDf(80).select($"ts", $"v".as("a_v"))
      .writeTo("graft_days.db.spd_a").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    eventsDf(80).select($"ts", ($"v" * 2).as("b_v"))
      .writeTo("graft_days.db.spd_b").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") {
      val j = spark.table("graft_days.db.spd_a")
        .join(spark.table("graft_days.db.spd_b"), Seq("ts"))
        .select($"ts", ($"a_v" + $"b_v").as("s"))
      var n = 0
      j.queryExecution.executedPlan.foreachUp {
        case _: ShuffleExchangeExec => n += 1; case _ => ()
      }
      assert(n == 0,
        s"expected ZERO exchanges, plan:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 80 &&
        j.agg(sum($"s")).collect().head.getDouble(0) ==
          (1 to 80).map(_ * 1.5 * 3).sum)
    }
    spark.sql("DROP TABLE graft_days.db.spd_a")
    spark.sql("DROP TABLE graft_days.db.spd_b")
    spark.sql("DROP TABLE graft_days.db.ev")
    spark.sql("DROP TABLE graft_days.db.evf")
  }

  test("guard rails: days over a non-temporal column is refused") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_days.db")
    val e = intercept[Exception] {
      Seq((1.0, 2L)).toDF("d", "id")
        .writeTo("graft_days.db.badd").using("parquet")
        .partitionedBy(days($"d")).createOrReplace()
    }
    assert(e.getMessage.contains("has no day") ||
      e.getMessage.contains("days"), e.getMessage)
  }
}
