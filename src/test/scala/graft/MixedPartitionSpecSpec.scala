package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** MULTI-FIELD partition specs mixing transforms — the composite
  * layouts a real lakehouse runs: `(days(ts), bucket(n, key))` is
  * Iceberg's classic event-table spec (time for retention/pruning,
  * bucket for join co-location on the same table). Pins: the composed
  * hidden layout on disk, static pruning intersecting BOTH levels
  * (a time range × a key literal plans exactly one (day × bucket)
  * directory), multi-key SPJ (join on BOTH source columns with zero
  * exchanges), identity+transform mixes, and MERGE pruning across the
  * composite layout. */
class MixedPartitionSpecSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_mx")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_mx")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def leafDirs(name: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.walk(v).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => v.relativize(p).getParent.toString).toSeq.distinct.sorted
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

  /** 4 UTC days x keys 1..8: one row per (day, key). */
  private def evDf = {
    import spark.implicits._
    (0 until 32).toDF("i")
      .select(($"i" % 8 + 1).cast("long").as("k"),
        (lit(1704067200L) + ($"i" / 8).cast("long") * 86400L + lit(3600L))
          .cast("timestamp").as("ts"),
        ($"i" * 1.0).as("v"))
  }

  test("days x bucket composite layout + static pruning intersects levels") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_mx.db")
    evDf.writeTo("graft_mx.db.ev").using("parquet")
      .partitionedBy(days($"ts"), bucket(4, $"k")).createOrReplace()
    val dirs = leafDirs("ev")
    // two-level dirs: _gd_ts=<day>/_gb_k=<bucket>
    assert(dirs.forall(d => d.startsWith("_gd_ts=") && d.contains("/_gb_k=")),
      dirs.take(3))
    assert(spark.table("graft_mx.db.ev").count() == 32)
    // static pruning composes: one day x one key's bucket
    val day1 = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-02T00:00:00Z"))
    val day2 = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-03T00:00:00Z"))
    val q = spark.table("graft_mx.db.ev")
      .where($"ts" >= lit(day1) && $"ts" < lit(day2) && $"k" === 5L)
    assert(q.count() == 1)
    val wantB = graft.sources.GraftBucketFunction.bucketOf(5L,
      org.apache.spark.sql.types.LongType, 4)
    assert(plannedDirs(q) == Set(s"_gd_ts=19724/_gb_k=$wantB"),
      s"must plan exactly one (day x bucket) dir, planned ${plannedDirs(q)}")
  }

  test("multi-key SPJ: join on (ts, k) with zero exchanges") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_mx.db")
    evDf.select($"k", $"ts", ($"v" * 2).as("w"))
      .writeTo("graft_mx.db.ev2").using("parquet")
      .partitionedBy(days($"ts"), bucket(4, $"k")).createOrReplace()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_mx.db.ev")
        .join(spark.table("graft_mx.db.ev2"), Seq("ts", "k"))
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = j.collect().head
      assert(row.getLong(0) == 32 &&
        row.getDouble(1) == (0 until 32).map(_ * 3.0).sum)
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"multi-key SPJ must plan zero exchanges, found ${shuffles.size}")
    }
    spark.sql("DROP TABLE graft_mx.db.ev2")
  }

  /** Data-file names per leaf cell (dotfiles/markers excluded — the
    * COW hard-link walk does not carry .crc sidecars). */
  private def cellFiles(name: String): Map[String, Set[String]] = {
    val v = currentVersionDir(name)
    leafDirs(name).map { d =>
      d -> java.nio.file.Files.list(v.resolve(d)).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith("."))
        .map(_.getFileName.toString).toSet
    }.toMap
  }

  test("MERGE into the composite layout rewrites one (day x bucket) cell") {
    import spark.implicits._
    // key 5 on day 2 — exactly the cell the static-pruning test read
    Seq((5L, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-02T01:00:00Z")), 99.0))
      .toDF("k", "ts", "nv").createOrReplaceTempView("mix_src")
    val before = cellFiles("ev")
    spark.sql("""MERGE INTO graft_mx.db.ev t USING mix_src s
                |ON t.k = s.k AND t.ts = s.ts
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val wantB = graft.sources.GraftBucketFunction.bucketOf(5L,
      org.apache.spark.sql.types.LongType, 4)
    val touched = s"_gd_ts=19724/_gb_k=$wantB"
    val after = cellFiles("ev")
    assert(after(touched) != before(touched), "touched cell must rewrite")
    // the per-level intersected group filters prune to EXACTLY the one
    // (day x bucket) cell — every other cell hard-links name-identically
    val untouchedSame = before.keySet.filter(_ != touched)
      .count(d => after.get(d).contains(before(d)))
    assert(untouchedSame == before.size - 1,
      s"expected all other cells untouched, got $untouchedSame of " +
        s"${before.size - 1}")
    assert(spark.table("graft_mx.db.ev")
      .where($"k" === 5L && to_date($"ts") === "2024-01-02")
      .select($"v").as[Double].head() == 99.0)
    spark.sql("DROP TABLE graft_mx.db.ev")
  }

  test("identity + transform mix: g=... dirs nest hidden bucket dirs") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_mx.db")
    (1L to 40L).map(i => (i, (i % 2).toString, i * 1.0)).toDF("k", "g", "v")
      .writeTo("graft_mx.db.idb").using("parquet")
      .partitionedBy($"g", bucket(4, $"k")).createOrReplace()
    val dirs = leafDirs("idb")
    assert(dirs.forall(d => d.startsWith("g=") && d.contains("/_gb_k=")),
      dirs.take(3))
    // identity level prunes natively, bucket level statically: one cell
    val q = spark.table("graft_mx.db.idb")
      .where($"g" === "1" && $"k" === 7L)
    assert(q.count() == 1)
    val wantB = graft.sources.GraftBucketFunction.bucketOf(7L,
      org.apache.spark.sql.types.LongType, 4)
    assert(plannedDirs(q) == Set(s"g=1/_gb_k=$wantB"), plannedDirs(q))
    assert(spark.table("graft_mx.db.idb").count() == 40)
    spark.sql("DROP TABLE graft_mx.db.idb")
  }
}
