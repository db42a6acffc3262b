package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `bucket(n, col)` partition transforms on the atomic catalog — the
  * HIGH-CARDINALITY-KEY partition strategy: rows land in hidden
  * `_gb_col=<pmod(hash(col), n)>` directories (never a table column),
  * the catalog's FunctionCatalog serves the `bucket` V2 function so
  * Spark can resolve the reported `KeyGroupedPartitioning`, and the
  * suite pins the four behaviors that matter at 100 TB:
  * storage-partitioned joins with ZERO exchanges on a key identity
  * partitioning could never lay out, runtime BUCKET pruning (a dim
  * filter's key values hash to the bucket directories they live in),
  * bucket-granular MERGE copy-on-write (untouched buckets hard-link),
  * and layout survival through compaction. */
class BucketTransformSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_bkt")

  // broadcast OFF inside the block: a BroadcastHashJoin also plans
  // zero ShuffleExchanges, which would make the SPJ asserts vacuous
  private def withBucketing[A](f: => A): A =
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    var n = 0
    df.queryExecution.executedPlan.foreachUp {
      case _: ShuffleExchangeExec => n += 1; case _ => ()
    }
    n
  }

  private def tblDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehouse, "db", name)

  private def currentVersionDir(name: String): java.nio.file.Path = {
    val cat = spark.sessionState.catalogManager.catalog("graft_bkt")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
    tblDir(name).resolve(cat.versionLog(tblDir(name)).head)
  }

  private def bucketDirs(name: String): Seq[String] = {
    val v = currentVersionDir(name)
    java.nio.file.Files.list(v).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("_gb_")).toSeq.sorted
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

  test("bucketed table: hidden layout, schema, round-trip, pushdown read") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    val src = (1L to 500L).map(i => (i, s"n$i", i * 2.0))
      .toDF("k", "name", "v")
    src.writeTo("graft_bkt.db.b1").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    // the bucket id is LAYOUT, not schema
    assert(spark.table("graft_bkt.db.b1").columns.toSeq ==
      Seq("k", "name", "v"))
    val dirs = bucketDirs("b1")
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("_gb_k=")) &&
      dirs.size <= 8, s"unexpected layout $dirs")
    // every row routed by pmod(hash(k), 8): round-trip equality proves
    // no row was lost or duplicated by the routing
    assert(spark.table("graft_bkt.db.b1").orderBy($"k")
      .as[(Long, String, Double)].collect().toSeq ==
      (1L to 500L).map(i => (i, s"n$i", i * 2.0)))
    // a point read stays correct (and the filter pushes into the scan)
    val one = spark.table("graft_bkt.db.b1").where($"k" === 123L)
    assert(one.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((123L, "n123")))
    // DESCRIBE-visible partitioning reports the transform
    val t = spark.sessionState.catalogManager.catalog("graft_bkt")
      .asInstanceOf[graft.sources.AtomicParquetCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("db"), "b1"))
    assert(t.partitioning().map(_.toString).toSeq == Seq("bucket(8, k)"))
  }

  test("SPJ: two bucket(8,k) tables join with zero exchanges") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    // high-cardinality keys: every k distinct — identity partitioning
    // would create one directory per row; bucket(8) caps the layout
    (1L to 400L).map(i => (i, i * 2.0)).toDF("k", "a_v")
      .writeTo("graft_bkt.db.spj_a").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    (201L to 600L).map(i => (i, i * 3.0)).toDF("k", "b_v")
      .writeTo("graft_bkt.db.spj_b").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    withBucketing {
      val j = spark.table("graft_bkt.db.spj_a")
        .join(spark.table("graft_bkt.db.spj_b"), Seq("k"))
        .select($"k", ($"a_v" + $"b_v").as("s"))
      assert(shuffles(j) == 0,
        s"expected ZERO exchanges, plan:\n${j.queryExecution.executedPlan}")
      val got = j.orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == (201L to 400L).map(i => (i, i * 5.0)),
        s"wrong join result (first rows: ${got.take(3)})")
    }
  }

  test("SPJ: a sparse side (missing bucket values) still joins exchange-free") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    // side A fills all 8 buckets; side B holds ONLY the keys of one
    // bucket, so its layout has a single _gb_ dir — the mismatched
    // partition-value sets Spark's pushPartValues handling pads
    // (without it, EnsureRequirements would fall back to a shuffle)
    val oneBucket = (1L to 400L).filter(k =>
      graft.sources.GraftBucketFunction.bucketOf(k,
        org.apache.spark.sql.types.LongType, 8) == 2)
    (1L to 400L).map(i => (i, i * 2.0)).toDF("k", "a_v")
      .writeTo("graft_bkt.db.sps_a").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    oneBucket.map(i => (i, i * 3.0)).toDF("k", "b_v")
      .writeTo("graft_bkt.db.sps_b").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    assert(bucketDirs("sps_b") == Seq("_gb_k=2"), bucketDirs("sps_b"))
    withBucketing {
      val j = spark.table("graft_bkt.db.sps_a")
        .join(spark.table("graft_bkt.db.sps_b"), Seq("k"))
        .select($"k", ($"a_v" + $"b_v").as("s"))
      assert(shuffles(j) == 0,
        s"sparse-side SPJ must plan zero exchanges, plan:\n" +
          j.queryExecution.executedPlan)
      val got = j.orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == oneBucket.map(i => (i, i * 5.0)), got.take(3))
    }
    spark.sql("DROP TABLE graft_bkt.db.sps_a")
    spark.sql("DROP TABLE graft_bkt.db.sps_b")
  }

  test("SPJ: mismatched bucket counts fall back to a correct shuffled join") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    (1L to 100L).map(i => (i, i)).toDF("k", "a_id")
      .writeTo("graft_bkt.db.mmb_a").using("parquet")
      .partitionedBy(bucket(4, $"k")).createOrReplace()
    (1L to 100L).map(i => (i, i)).toDF("k", "b_id")
      .writeTo("graft_bkt.db.mmb_b").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    withBucketing {
      val j = spark.table("graft_bkt.db.mmb_a")
        .join(spark.table("graft_bkt.db.mmb_b"), Seq("k"))
      assert(j.count() == 100) // correctness over plan shape
    }
    spark.sql("DROP TABLE graft_bkt.db.mmb_a")
    spark.sql("DROP TABLE graft_bkt.db.mmb_b")
  }

  test("runtime bucket pruning: a dim filter's keys prune fact buckets") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    (1L to 2000L).map(i => (i, i * 1.0)).toDF("k", "f_v")
      .writeTo("graft_bkt.db.bf").using("parquet")
      .partitionedBy(bucket(16, $"k")).createOrReplace()
    (1L to 2000L by 400).map(k => (k, if (k == 401L) "x" else "y"))
      .toDF("k", "cat")
      .writeTo("graft_bkt.db.bd").using("parquet").createOrReplace()
    val j = spark.table("graft_bkt.db.bf")
      .join(spark.table("graft_bkt.db.bd").where($"cat" === "x"), Seq("k"))
      .agg(count(lit(1)).as("n"), sum($"f_v").as("s"))
    val row = j.collect().head
    assert(row.getLong(0) == 1 && row.getDouble(1) == 401.0)
    // the fact scan must have emitted only the one bucket directory
    // k=401 hashes into (~2000/16 = 125 rows), not the whole table
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
    val factRows = scans(plan).filter(_.output.exists(_.name == "f_v"))
      .map(_.metrics("numOutputRows").value)
    assert(factRows.nonEmpty && factRows.sum <= 300,
      s"fact scan read ${factRows.sum} rows — runtime bucket pruning " +
        "did not fire (whole table = 2000)")
    spark.sql("DROP TABLE graft_bkt.db.bf")
    spark.sql("DROP TABLE graft_bkt.db.bd")
  }

  /** Distinct partition directories the final plan's scan actually
    * planned — the white-box proof of STATIC pruning (which dirs were
    * listed, not just which rows survived parquet row filters). */
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

  test("static pruning: a point lookup plans only its one bucket directory") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    (1L to 1000L).map(i => (i, i * 1.0)).toDF("k", "v")
      .writeTo("graft_bkt.db.bsp").using("parquet")
      .partitionedBy(bucket(16, $"k")).createOrReplace()
    val q = spark.table("graft_bkt.db.bsp").where($"k" === 777L)
    assert(q.collect().map(_.getDouble(1)).toSeq == Seq(777.0))
    val want = graft.sources.GraftBucketFunction.bucketOf(777L,
      org.apache.spark.sql.types.LongType, 16)
    val dirs = plannedDirs(q)
    assert(dirs == Set(s"_gb_k=$want"),
      s"point lookup must plan exactly one bucket dir, planned: $dirs")
    // an IN-list plans exactly the union of its buckets
    val q2 = spark.table("graft_bkt.db.bsp")
      .where($"k".isin(3L, 500L, 999L))
    assert(q2.count() == 3)
    val want2 = Set(3L, 500L, 999L).map(v =>
      s"_gb_k=${graft.sources.GraftBucketFunction.bucketOf(v,
        org.apache.spark.sql.types.LongType, 16)}")
    assert(plannedDirs(q2) == want2, s"IN-list planned ${plannedDirs(q2)}")
    spark.sql("DROP TABLE graft_bkt.db.bsp")
  }

  test("MERGE into a bucketed table rewrites only the touched buckets") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    (1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v")
      .writeTo("graft_bkt.db.bm").using("parquet")
      .partitionedBy(bucket(8, $"k")).createOrReplace()
    val v0 = currentVersionDir("bm")
    val dirs0 = bucketDirs("bm")
    assert(dirs0.nonEmpty)
    // source touches exactly ONE key → one bucket directory
    Seq((7L, 700.0)).toDF("k", "v").createOrReplaceTempView("bm_src")
    spark.sql("""MERGE INTO graft_bkt.db.bm t USING bm_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v1 = currentVersionDir("bm")
    val touched = {
      val dt = org.apache.spark.sql.types.LongType
      val b = graft.sources.GraftBucketFunction.bucketOf(7L, dt, 8)
      s"_gb_k=$b"
    }
    val untouched = dirs0.filterNot(_ == touched)
    assert(untouched.nonEmpty)
    untouched.foreach { d =>
      assert(partFiles(v0, d) == partFiles(v1, d) && partFiles(v1, d).nonEmpty,
        s"untouched bucket $d must ride as hard links through the merge")
    }
    assert(partFiles(v0, touched) != partFiles(v1, touched),
      s"touched bucket $touched must be rewritten")
    assert(spark.table("graft_bkt.db.bm").where($"k" === 7L)
      .collect().map(_.getDouble(1)).toSeq == Seq(700.0))
    assert(spark.table("graft_bkt.db.bm").count() == 400)
    spark.sql("DROP TABLE graft_bkt.db.bm")
  }

  test("compaction preserves the bucket layout") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    (1L to 300L).map(i => (i, s"x$i")).toDF("k", "x")
      .writeTo("graft_bkt.db.bc").using("parquet")
      .partitionedBy(bucket(4, $"k")).createOrReplace()
    val before = spark.table("graft_bkt.db.bc").orderBy($"k")
      .as[(Long, String)].collect().toSeq
    spark.sql("CALL graft_bkt.system.compact('db.bc', 1)").collect()
    assert(bucketDirs("bc").forall(_.startsWith("_gb_k=")) &&
      bucketDirs("bc").nonEmpty, "compaction flattened the bucket layout")
    assert(spark.table("graft_bkt.db.bc").orderBy($"k")
      .as[(Long, String)].collect().toSeq == before)
    spark.sql("DROP TABLE graft_bkt.db.bc")
  }

  test("guard rails: unsupported key type, dropped source column, collisions") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_bkt.db")
    // double keys do not bucket (not a stable cross-writer hash target)
    val e1 = intercept[Exception] {
      Seq((1.5, 1L)).toDF("d", "id")
        .writeTo("graft_bkt.db.bad1").using("parquet")
        .partitionedBy(bucket(4, $"d")).createOrReplace()
    }
    assert(e1.getMessage.contains("not bucketable"), e1.getMessage)
    // the bucket SOURCE column cannot be dropped
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_bkt.db.b1 DROP COLUMN k")
    }
    assert(e2.getMessage.contains("partition column"), e2.getMessage)
    spark.sql("DROP TABLE graft_bkt.db.b1")
    spark.sql("DROP TABLE graft_bkt.db.spj_a")
    spark.sql("DROP TABLE graft_bkt.db.spj_b")
  }
}
