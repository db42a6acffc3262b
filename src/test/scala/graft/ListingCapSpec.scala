package graft

import graft.medallion.{Maintenance, MdpConfig, Pipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.metrics.source.HiveCatalogMetrics

/** The medallion's reads of a partitioned catalog table list its
  * directories in a Spark job once there are more than
  * `parallelPartitionDiscovery.threshold` (32) of them. Spark sizes that job
  * at one task per directory; the medallion entries cap it at the
  * session's cores for their duration and then restore the session's
  * setting. */
class ListingCapSpec extends GraftSuite {
  private val Key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** Task counts of every stage of every partition-listing job. */
  private class ListingJobs extends SparkListener {
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
      if (desc.exists(d => d != null && d.startsWith("Listing leaf files and directories"))) {
        e.stageInfos.foreach(s => stageTasks.add(s.numTasks))
        jobs += 1
      }
    }
  }

  /** Run a medallion entry under a listener, check that it ran a listing job
    * and that no listing stage ran more than `maxTasks` tasks; returns the
    * entry's row count. */
  private def listsWithin(cfg: MdpConfig, maxTasks: Int)(entry: => Long): Long = {
    import scala.jdk.CollectionConverters._
    // a new read of silver, not the session's cached listing of it
    spark.catalog.refreshTable(cfg.silverFqn)
    val listener = new ListingJobs
    val ran0 = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = entry
      val ran = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - ran0
      assert(ran >= 1, "the entry ran no parallel listing job")
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (listener.jobs < ran && System.nanoTime() < deadline) Thread.sleep(50)
      assert(listener.jobs >= ran, s"saw ${listener.jobs} of $ran listing jobs")
      val tasks = listener.stageTasks.asScala.toSeq
      assert(tasks.forall(_ <= maxTasks),
        s"listing stages ran ${tasks.mkString(",")} tasks; at most $maxTasks expected")
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("gold and silverIncremental list silver's directories in at most " +
      "defaultParallelism tasks and restore the session's listing parallelism") {
    val base = tmpDir("graft_listing").toString
    val cfg = MdpConfig.fromEnv(base).copy(
      ingestGb = 0.001, payloadKb = 1, partitions = 4)
    Seq(cfg.silverFqn, cfg.goldFqn).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val cores = spark.sparkContext.defaultParallelism
    try {
      Pipeline.bronze(spark, cfg)
      Pipeline.silver(spark, cfg)
      // precondition: enough directories for Spark's parallel listing path
      val dirs = spark.sql(s"SHOW PARTITIONS ${cfg.silverFqn}").count()
      val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
      assert(dirs > threshold.toLong, s"silver has $dirs directories, threshold $threshold")
      assert(dirs > cores, s"silver has $dirs directories, $cores cores")

      // unset: capped at the cores during gold, unset again after
      spark.conf.unset(Key)
      val rows = listsWithin(cfg, cores)(Pipeline.gold(spark, cfg))
      assert(!spark.conf.getAll.contains(Key), s"gold left $Key set")
      assert(rows == spark.table(cfg.goldFqn).count())

      // set above the cap: capped during gold, the session's value after
      spark.conf.set(Key, "500")
      listsWithin(cfg, cores)(Pipeline.gold(spark, cfg))
      assert(spark.conf.getAll.get(Key).contains("500"))

      // set below the cap: the session's lower value is kept
      if (cores > 1) {
        val lower = (cores - 1).toString
        spark.conf.set(Key, lower)
        listsWithin(cfg, cores - 1)(Pipeline.gold(spark, cfg))
        assert(spark.conf.getAll.get(Key).contains(lower))
      }

      // silverIncremental reads all of silver for its watermark
      spark.conf.unset(Key)
      listsWithin(cfg, cores)(Maintenance.silverIncremental(spark, cfg))
      assert(!spark.conf.getAll.contains(Key), s"silverIncremental left $Key set")
    } finally {
      spark.conf.unset(Key)
      Seq(cfg.goldFqn, cfg.silverFqn).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
