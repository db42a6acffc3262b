package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `truncate(w, col)` hidden transform — the ORDER-PRESERVING
  * coarsening for high-cardinality keys: string keys land under their
  * first-w-characters prefix, integers floored to a multiple of w.
  * Unlike hash buckets the directory id is monotone in the value, so
  * RANGE predicates prune statically. Pins: string + integer layouts
  * (incl. negative floors and a null key), planned-dir static pruning
  * for point/range predicates, prefix-granular MERGE copy-on-write,
  * zero-exchange SPJ between two co-truncated tables (proving
  * FunctionCatalog resolution of `truncate`), and the unsupported-type
  * guard rail. */
class TruncateTransformSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_tr")

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_tr")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def hiddenDirs(name: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.list(v).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("_gt_")).toSeq.sorted
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

  /** skus ab0..ab2, cd0..cd2, ef0..ef2 (prefix families of 3). */
  private def skuDf = {
    import spark.implicits._
    (0 until 9).toDF("i")
      .select((lit(1L) + $"i").as("id"),
        concat(element_at(lit(Array("ab", "cd", "ef")),
            ($"i" / 3).cast("int") + 1),
          ($"i" % 3).cast("string")).as("sku"),
        ($"i" * 1.5).as("v"))
  }

  test("string layout: prefix dirs, round-trip incl. a null key") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tr.db")
    spark.sql("""CREATE TABLE graft_tr.db.sk
                | (id BIGINT, sku STRING, v DOUBLE)
                | USING parquet PARTITIONED BY (truncate(2, sku))""".stripMargin)
    skuDf.union(Seq((99L, null.asInstanceOf[String], -1.0))
      .toDF("id", "sku", "v")).writeTo("graft_tr.db.sk").append()
    assert(spark.table("graft_tr.db.sk").columns.toSeq ==
      Seq("id", "sku", "v"))
    assert(hiddenDirs("sk") == Seq("_gt_sku=__HIVE_DEFAULT_PARTITION__",
      "_gt_sku=ab", "_gt_sku=cd", "_gt_sku=ef"), hiddenDirs("sk"))
    val got = spark.table("graft_tr.db.sk").orderBy($"id")
      .select($"id", $"v").as[(Long, Double)].collect().toSeq
    assert(got == (0 until 9).map(i => (i + 1L, i * 1.5)) :+ (99L, -1.0))
  }

  test("integer layout: floors to multiples incl. negatives") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tr.db")
    spark.sql("""CREATE TABLE graft_tr.db.ik (k BIGINT, v DOUBLE)
                | USING parquet PARTITIONED BY (truncate(10, k))""".stripMargin)
    Seq((-15L, 1.0), (-5L, 2.0), (0L, 3.0), (7L, 4.0), (23L, 5.0))
      .toDF("k", "v").writeTo("graft_tr.db.ik").append()
    // floorMod: -15 → -20, -5 → -10, 0/7 → 0, 23 → 20
    assert(hiddenDirs("ik") ==
      Seq("_gt_k=-10", "_gt_k=-20", "_gt_k=0", "_gt_k=20"), hiddenDirs("ik"))
    assert(spark.table("graft_tr.db.ik").count() == 5)
    spark.sql("DROP TABLE graft_tr.db.ik")
  }

  test("static pruning: point and RANGE predicates plan only their prefix dirs") {
    import spark.implicits._
    val q = spark.table("graft_tr.db.sk").where($"sku" === "cd1")
    assert(q.count() == 1)
    assert(plannedDirs(q) == Set("_gt_sku=cd"), plannedDirs(q))
    // the range predicate hash buckets cannot prune: sku >= 'cd'
    // drops the 'ab' prefix AND the null dir
    val q2 = spark.table("graft_tr.db.sk").where($"sku" >= "cd")
    assert(q2.count() == 6)
    assert(plannedDirs(q2) == Set("_gt_sku=cd", "_gt_sku=ef"), plannedDirs(q2))
    // a bounded range keeps exactly the middle prefix
    val q3 = spark.table("graft_tr.db.sk")
      .where($"sku" >= "ca" && $"sku" < "d")
    assert(q3.count() == 3)
    assert(plannedDirs(q3) == Set("_gt_sku=cd"), plannedDirs(q3))
  }

  test("MERGE rewrites only the touched prefix; others hard-link") {
    import spark.implicits._
    val before = Seq("_gt_sku=ab", "_gt_sku=cd", "_gt_sku=ef",
      "_gt_sku=__HIVE_DEFAULT_PARTITION__")
      .map(p => p -> partFiles(currentVersionDir("sk"), p)).toMap
    Seq(("cd2", 777.0)).toDF("sku", "nv").createOrReplaceTempView("tr_src")
    spark.sql("""MERGE INTO graft_tr.db.sk t USING tr_src s
                |ON t.sku = s.sku
                |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    val after = currentVersionDir("sk")
    // the null-key dir is KEPT conservatively by the group filter
    // (same as identity/bucket fields) so it rewrites, not hard-links;
    // the value-keyed untouched prefixes must hard-link
    for (p <- Seq("_gt_sku=ab", "_gt_sku=ef"))
      assert(partFiles(after, p) == before(p),
        s"untouched prefix $p must hard-link")
    assert(partFiles(after, "_gt_sku=cd") != before("_gt_sku=cd"),
      "the touched prefix must be rewritten")
    assert(spark.table("graft_tr.db.sk").where($"sku" === "cd2")
      .select($"v").as[Double].head() == 777.0)
    // and the null-key row survived the rewrite
    assert(spark.table("graft_tr.db.sk").where($"sku".isNull).count() == 1)
    spark.sql("DROP TABLE graft_tr.db.sk")
  }

  test("SPJ: two truncate(2, sku) tables join on sku with zero exchanges") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tr.db")
    spark.sql("""CREATE TABLE graft_tr.db.ta (id BIGINT, sku STRING, v DOUBLE)
                | USING parquet PARTITIONED BY (truncate(2, sku))""".stripMargin)
    spark.sql("""CREATE TABLE graft_tr.db.tb (id BIGINT, sku STRING, w DOUBLE)
                | USING parquet PARTITIONED BY (truncate(2, sku))""".stripMargin)
    skuDf.writeTo("graft_tr.db.ta").append()
    skuDf.select($"id", $"sku", ($"v" * 2).as("w"))
      .writeTo("graft_tr.db.tb").append()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_tr.db.ta")
        .join(spark.table("graft_tr.db.tb"), Seq("sku"))
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = j.collect().head
      assert(row.getLong(0) == 9 &&
        row.getDouble(1) == (0 until 9).map(_ * 4.5).sum)
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"truncate SPJ must plan zero exchanges, found ${shuffles.size}")
    }
    spark.sql("DROP TABLE graft_tr.db.ta")
    spark.sql("DROP TABLE graft_tr.db.tb")
  }

  test("guard rail: truncate over an unsupported type is refused") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_tr.db")
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_tr.db.badt (k DOUBLE, v DOUBLE)
                  | USING parquet
                  | PARTITIONED BY (truncate(10, k))""".stripMargin)
    }
    assert(e.getMessage.contains("truncat"), e.getMessage)
  }
}
