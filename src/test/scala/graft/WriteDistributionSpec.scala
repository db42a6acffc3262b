package graft

import org.apache.spark.sql.functions._

/** Hash-clustered partitioned writes (Iceberg's
  * `write.distribution-mode=hash` posture): with
  * `spark.sql.catalog.graft.write.clusterByPartitions=true` every
  * partition value lands from ONE task, so a P-partition write produces
  * ~P files instead of (tasks x P) — the small-files explosion that
  * dominates write cost and ruins scan/compaction behavior at 100 TB.
  * The default is AUTO (r13): clustering turns itself on exactly where
  * the spec's fineness is statically knowable — an `hours` transform,
  * a bucket product over 100, a days×bucket composite — and stays off
  * for coarse layouts, where the exchange would cost parallelism
  * (PartitionField.clusterWrite holds the measured argument). */
class WriteDistributionSpec extends GraftSuite {
  private val warehouse: String = registerCatalog("graft_wd")

  private def dataFiles(table: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(warehouse, "db", table)
    val current = java.nio.file.Files.readAllLines(dir.resolve("_current"))
      .get(0).trim
    val walk = java.nio.file.Files.walk(dir.resolve(current))
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet")
    }.toSeq
    finally walk.close()
  }

  test("clustered write lands one file per partition value") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wd.db")
    withConf("spark.sql.catalog.graft.write.clusterByPartitions" -> "true") {
      // 4 input tasks x 3 partition values: unclustered this writes up
      // to 12 files; clustered, each value lands from one task = 3
      (1L to 300L).map(i => (i % 3, i)).toDF("k", "v")
        .repartition(4) // force multi-task input
        .writeTo("graft_wd.db.cl1").using("parquet")
        .partitionedBy($"k").createOrReplace()
      val files = dataFiles("cl1")
      assert(files.size == 3,
        s"expected 3 files (one per partition value), got ${files.size}:\n" +
          files.mkString("\n"))
      assert(spark.table("graft_wd.db.cl1").count() == 300)
    }
    spark.sql("DROP TABLE graft_wd.db.cl1")
  }

  test("AUTO: a 720-dir hours layout clusters under pure defaults — " +
      "one file per hour directory") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wd.db")
    assert(spark.conf
      .getOption("spark.sql.catalog.graft.write.clusterByPartitions").isEmpty)
    // 30 days x 24 hours = 720 hourly dirs, 3 rows each, multi-task
    // input: unclustered this would write up to tasks x 720 files; the
    // auto heuristic recognizes `hours` as fine-by-construction
    (0L until 2160L).map(i => (new java.sql.Timestamp(
      1704067200000L + (i / 3) * 3600000L), i)).toDF("ts", "v")
      .repartition(4)
      .writeTo("graft_wd.db.auh").using("parquet")
      .partitionedBy(hours($"ts")).createOrReplace()
    val files = dataFiles("auh")
    assert(files.size == 720,
      s"expected one file per hour directory (720), got ${files.size}")
    assert(spark.table("graft_wd.db.auh").count() == 2160)
    spark.sql("DROP TABLE graft_wd.db.auh")
  }

  test("AUTO: bucket products over 100 cluster; small buckets do not") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wd.db")
    (1L to 2000L).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(4)
      .writeTo("graft_wd.db.aub").using("parquet")
      .partitionedBy(bucket(128, $"k")).createOrReplace()
    val fine = dataFiles("aub")
    val dirs = fine.map(_.getParent.getFileName.toString).distinct.size
    assert(fine.size == dirs,
      s"bucket(128) should auto-cluster to one file per bucket dir: " +
        s"${fine.size} files over $dirs dirs")
    // a small bucket count keeps the exchange-free default
    (1L to 2000L).map(i => (i, i * 2)).toDF("k", "v")
      .repartition(4)
      .writeTo("graft_wd.db.aus").using("parquet")
      .partitionedBy(bucket(4, $"k")).createOrReplace()
    val coarse = dataFiles("aus")
    val cdirs = coarse.map(_.getParent.getFileName.toString).distinct.size
    assert(coarse.size > cdirs,
      s"bucket(4) unexpectedly clustered (${coarse.size} files over " +
        s"$cdirs dirs) — the auto heuristic is over-firing")
    spark.sql("DROP TABLE graft_wd.db.aub")
    spark.sql("DROP TABLE graft_wd.db.aus")
  }

  test("medallion silver: pinned-width exchange, no AQE coalesce, one " +
      "file per directory") {
    import graft.medallion.{MdpConfig, Pipeline}
    val base = tmpDir("graft_wd_mdp").toString
    val cfg = MdpConfig.fromEnv(base).copy(ingestGb = 0.001, payloadKb = 1,
      partitions = 4, silverShufflePartitions = 4)
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = {
        // events arrive asynchronously, so bronze's write can still show
        // up after registration: keep silver's only
        val plan = qe.executedPlan.toString
        val silverPath = cfg.silverFallbackUri.stripSuffix("/")
        if (plan.contains("WriteFiles") && plan.contains(silverPath))
          writePlans.add(plan)
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    Seq(cfg.silverFqn, cfg.goldFqn).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Pipeline.bronze(spark, cfg)
      spark.listenerManager.register(listener)
      val rows = Pipeline.silver(spark, cfg)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writePlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(writePlans.size == 1, s"expected one silver write, got:\n$writePlans")
      val plan = writePlans.peek()
      val exchange = plan.linesIterator.find(_.contains("Exchange hashpartitioning"))
        .getOrElse(fail(s"no hash exchange under the write:\n$plan"))
      assert(exchange.contains("interaction_date") && exchange.contains("channel") &&
        exchange.contains(", 4), REPARTITION_BY_NUM"),
        s"silver's exchange is not pinned at the session width (4):\n$plan")
      assert(!plan.contains("AQEShuffleRead coalesced"),
        s"AQE coalesced silver's write exchange:\n$plan")
      // one file per (interaction_date, channel) directory
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(cfg.silverFallbackUri))
      val perDir = try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .groupBy(_.getParent).values.map(_.size).toSeq
      finally walk.close()
      assert(perDir.nonEmpty && perDir.forall(_ == 1),
        s"files per directory: ${perDir.sorted.reverse.take(10)}")
      assert(rows == spark.table(cfg.silverFqn).count())
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      spark.sql(s"DROP TABLE IF EXISTS ${cfg.silverFqn}")
    }
  }

  test("default write is unclustered (no extra exchange) and correct") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_wd.db")
    (1L to 300L).map(i => (i % 3, i)).toDF("k", "v")
      .repartition(4)
      .writeTo("graft_wd.db.cl2").using("parquet")
      .partitionedBy($"k").createOrReplace()
    assert(dataFiles("cl2").size > 3,
      "default path unexpectedly clustered — the conf gate leaks")
    assert(spark.table("graft_wd.db.cl2").count() == 300)
    spark.sql("DROP TABLE graft_wd.db.cl2")
  }
}
