package graft.medallion

import graft.Writes
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Lakehouse table-maintenance operators: incremental layer builds,
  * key-based upserts, and small-file compaction. These are the operations
  * that keep a medallion deployment healthy once it runs continuously
  * instead of as one-shot backfills (the reference's orchestrator only
  * re-runs full stages; `docs/TUNING.md:50-53` tunes file sizes but ships
  * no compactor).
  *
  * Incremental build and upsert are partition-scoped — they only read and
  * rewrite the partitions that changed. Compaction is by nature a rewrite
  * of the table's files, done to a temp directory with a two-rename swap
  * (see [[compact]]).
  *
  * All three resolve the SAME physical table the Pipeline build stages
  * use: the catalog table (`cfg.silverFqn`) when it exists, else the path
  * fallback — so maintenance output is what gold/validate read next.
  */
object Maintenance {

  /** Set dynamic partition-overwrite for the duration of `f`: an
    * `INSERT OVERWRITE` then replaces only the partitions present in the
    * written frame (idempotent partition re-processing), not the table. */
  private def withDynamicOverwrite[A](spark: SparkSession)(f: => A): A =
    graft.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(f)

  /** Cap the partition-listing job at the session's cores for the duration
    * of `f`: `spark.sql.sources.parallelPartitionDiscovery.parallelism`
    * becomes `min(session value, sparkContext.defaultParallelism)`, the
    * sizing of Spark's own `RepairTableCommand.gatherPartitionStats`. Above
    * `parallelPartitionDiscovery.threshold` (32) paths, Spark lists a
    * partitioned table's directories in a job of `min(paths, parallelism)`
    * tasks, 10,000 by default, and a task's fixed cost (deserializing a
    * Hadoop `Configuration`) then dwarfs its listing: silver's 119
    * directories spent 2.3-3.0 s on it for 0.1-0.2 s of listing. Capped,
    * the listing still runs on every core; a lower session value is kept.
    * Wraps every medallion entry that reads silver or gold through the
    * catalog. */
  private[medallion] def withListingCap[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    val cap = math.min(spark.conf.get(key).toInt, spark.sparkContext.defaultParallelism)
    graft.withConf(spark, key -> cap.toString)(f)
  }

  /** Incremental silver: enrich and write ONLY the bronze rows belonging to
    * partitions at-or-after the silver watermark (max interaction_date
    * already present), overwriting exactly those partitions. Re-running is
    * idempotent; the watermark day itself is always re-processed so late
    * rows of the newest day are picked up. Returns the row count of the
    * overwritten partitions (== rows written, partition-pruned count).
    *
    * Targets the same table as `Pipeline.silver`: when the catalog table
    * exists the slice goes through `INSERT OVERWRITE` (dynamic partition
    * mode, catalog partition metadata maintained); when only the path
    * fallback exists it is overwritten in place; when neither exists this
    * IS the initial build and routes through `Pipeline.writeTable`.
    *
    * Scale shape: one pushed-down timestamp filter on the bronze scan (no
    * full re-read), the same narrow enrichment projection as the full
    * build, and a write that shuffles only the incremental slice. */
  def silverIncremental(spark: SparkSession, cfg: MdpConfig): Long = withListingCap(spark) {
    val bronze = spark.read.parquet(cfg.bronzeUri)
    val clock = (to_date(timestamp_seconds(lit(cfg.baseEpochS))),
      timestamp_seconds(lit(cfg.baseEpochS)), lit(cfg.baseEpochS))
    val catalogExists =
      try spark.catalog.tableExists(cfg.silverFqn)
      catch { case NonFatal(_) => false }
    val existing: Option[DataFrame] =
      if (catalogExists) Some(spark.table(cfg.silverFqn))
      else try Some(spark.read.parquet(cfg.silverFallbackUri))
      catch { case NonFatal(_) => None }
    val watermark = existing.flatMap(df =>
      Option(df.agg(max(col("interaction_date"))).head().getDate(0)))
    // filter the RAW timestamp, not the derived interaction_date: the
    // comparison against a literal reaches the parquet scan as a pushed
    // filter (row-group pruning), which a post-enrichment filter on a
    // computed column never would
    val sliceIn = watermark match {
      case Some(d) =>
        bronze.where(col("event_timestamp") >= to_timestamp(lit(d.toString)))
      case None => bronze
    }
    val slice = Silver.enrich(sliceIn, clock._1, clock._2, clock._3)
    existing match {
      case Some(cur) if catalogExists =>
        // positional insert: align to the table's column order (saveAsTable
        // moved the partition columns to the end of the schema)
        val aligned = Writes.clusterByDirs(
          slice.select(cur.columns.map(col): _*), Seq("interaction_date", "channel"))
        withDynamicOverwrite(spark) {
          aligned.write.mode("overwrite").insertInto(cfg.silverFqn)
        }
      case Some(_) =>
        withDynamicOverwrite(spark) {
          Writes.clusterByDirs(slice, Seq("interaction_date", "channel"))
            .write.mode("overwrite")
            .partitionBy("interaction_date", "channel")
            .parquet(cfg.silverFallbackUri)
        }
      case None =>
        Pipeline.writeTable(spark, slice, cfg, "silver",
          "customer_interactions_enriched", cfg.silverFallbackUri,
          Seq("interaction_date", "channel"))
    }
    // rows written = rows now present in the partitions this run overwrote;
    // the date predicate partition-prunes the scan to exactly those.
    val after = Pipeline.readTable(spark, cfg.silverFqn, cfg.silverFallbackUri)
    watermark match {
      case Some(d) => after.where(col("interaction_date") >= lit(d)).count()
      case None => after.count()
    }
  }

  /** Incremental gold: recompute the daily KPI rows ONLY for
    * interaction_dates at or after the gold watermark (max date already
    * present) and overwrite exactly those date partitions — the gold leg
    * of the incremental chain ([[silverIncremental]] refreshes the silver
    * partitions; this propagates the refresh without re-aggregating
    * history). The recompute is EXACT, not approximate, because gold's
    * grain IS its partition key: every aggregate of the daily KPI frame is
    * a function of that date's silver rows alone, so the partition-scoped
    * re-aggregation equals the full rebuild restricted to those dates.
    * The watermark date itself is always re-processed (late rows of the
    * newest day); re-running is idempotent. With no gold present this IS
    * the initial build and routes through `Pipeline.gold`.
    *
    * Scale shape: the silver read partition-prunes to the affected dates
    * (pushed predicate on the partition column — never a full-history
    * scan), the aggregate shuffles only the slice, and the write touches
    * only the refreshed date partitions (dynamic overwrite).
    * Returns the row count of the refreshed partitions. */
  def goldIncremental(spark: SparkSession, cfg: MdpConfig): Long = withListingCap(spark) {
    val catalogExists =
      try spark.catalog.tableExists(cfg.goldFqn)
      catch { case NonFatal(_) => false }
    val existing: Option[DataFrame] =
      if (catalogExists) Some(spark.table(cfg.goldFqn))
      else try Some(spark.read.parquet(cfg.goldFallbackUri))
      catch { case NonFatal(_) => None }
    val watermark = existing.flatMap(df =>
      Option(df.agg(max(col("interaction_date"))).head().getDate(0)))
    watermark match {
      case None => Pipeline.gold(spark, cfg)
      case Some(d) =>
        val silverDf =
          Pipeline.readTable(spark, cfg.silverFqn, cfg.silverFallbackUri)
        val slice = Gold.kpis(silverDf.where(col("interaction_date") >= lit(d)))
        if (catalogExists) {
          // positional insert: align to the table's column order
          val cur = spark.table(cfg.goldFqn)
          val aligned = slice.select(cur.columns.map(col): _*)
          withDynamicOverwrite(spark) {
            aligned.write.mode("overwrite").insertInto(cfg.goldFqn)
          }
        } else {
          withDynamicOverwrite(spark) {
            slice.write.mode("overwrite")
              .partitionBy("interaction_date").parquet(cfg.goldFallbackUri)
          }
        }
        val after = Pipeline.readTable(spark, cfg.goldFqn, cfg.goldFallbackUri)
        after.where(col("interaction_date") >= lit(d)).count()
    }
  }

  /** Key-based MERGE/upsert into a date-partitioned parquet table: rows of
    * `updates` replace existing rows with the same key, new keys append —
    * but only the partitions that `updates` touches are read, merged and
    * rewritten (classic copy-on-write merge). `updates` must carry the
    * table's schema including `partitionCol`.
    *
    * The merged slice is staged to a durable temp directory next to the
    * table before the partitions it was derived from are overwritten —
    * a failure mid-overwrite can always replay from the staged copy (a
    * localCheckpoint would die with its executors).
    *
    * Returns the merged row count of the touched partitions. */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keyCols: Seq[String], partitionCol: String): Long =
    upsertPartitioned(spark, path, updates, keyCols, Seq(partitionCol))

  /** Multi-partition-column variant of [[upsertPartitioned]] (same staging
    * and dynamic-overwrite discipline; touched partitions are the distinct
    * `partitionCols` tuples of `updates`). */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keyCols: Seq[String], partitionCols: Seq[String]): Long = {
    require(partitionCols.nonEmpty, "upsertPartitioned needs partition columns")
    val touched = updates.select(partitionCols.map(col): _*).distinct()
    val current = spark.read.parquet(path)
    // restrict the existing side to touched partitions (partition-pruned
    // scan via broadcast semi join on the partition columns)
    val affected = current.join(broadcast(touched), partitionCols, "left_semi")
    val keep = affected.join(updates.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    val merged = keep.unionByName(updates.select(current.columns.map(col): _*))
    val stage = path.stripSuffix("/") + "__upsert_stage"
    merged.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
    withDynamicOverwrite(spark) {
      staged.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    }
    val n = staged.count()
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stage), true)
    n
  }

  /** Compact the small files of a (possibly partitioned) parquet table to
    * ~`targetFileMb` files without changing its data: the compacted copy is
    * written to a temp directory (`<path>__compact_tmp`, clustered by the
    * partition columns, `maxRecordsPerFile` derived from measured
    * bytes/row), then swapped in with two renames. The source files are
    * untouched until the compacted copy is fully written — a kill during
    * the write leaves the table as it was; only the two renames
    * (path->bak, tmp->path, metadata-only on a real FS) are a non-atomic
    * window, after which the backup is deleted. Returns
    * (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
              targetFileMb: Int = 128): (Long, Long) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: Path): Seq[Path] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath
      }
      buf.toSeq
    }
    val before = parquetFiles(root)
    val totalBytes = before.map(f => fs.getFileStatus(f).getLen).sum
    val df = spark.read.parquet(path)
    val rows = df.count()
    val bytesPerRow = math.max(1L, totalBytes / math.max(1L, rows))
    val rowsPerFile = math.max(1L, targetFileMb.toLong * 1024 * 1024 / bytesPerRow)
    val clustered =
      if (partitionCols.nonEmpty) Writes.clusterByDirs(df, partitionCols)
      else df.repartition(math.max(1,
        (totalBytes / (targetFileMb.toLong * 1024 * 1024)).toInt + 1))
    val stripped = path.stripSuffix("/")
    val tmp = new Path(stripped + "__compact_tmp")
    val bak = new Path(stripped + "__compact_bak")
    clustered.write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile.toString)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    fs.delete(bak, true)
    require(fs.rename(root, bak), s"compact: could not move $root aside")
    require(fs.rename(tmp, root), s"compact: could not move $tmp into place")
    fs.delete(bak, true)
    (before.size.toLong, parquetFiles(root).size.toLong)
  }

  /** Z-order layout rewrite — the real OPTIMIZE ZORDER BY path (the q53
    * gate's ntile-over-total-order is a deterministic oracle stand-in and
    * must never run at scale; THIS is the operator a table uses): rows
    * range-partition on the interleaved z-value of (x, y)
    * ([[graft.api.Graft.zorderValue]]) and sort by it within partitions,
    * so every written file covers a tight bounding box in BOTH dimensions
    * and a predicate on either column prunes most files via parquet
    * min/max statistics (plus matching rows clustering into few files).
    *
    * Scale shape: `repartitionByRange` samples z-value boundaries (one
    * pass) and shuffles once on the z-value — no global single-partition
    * sort anywhere; `numFiles` and `maxRecordsPerFile` bound file sizes
    * the same way [[compact]] does. Returns the written parquet file
    * count. */
  def zorderLayout(df: DataFrame, outPath: String, x: Column, y: Column,
                   bits: Int = 8, numFiles: Int = 16,
                   maxRecordsPerFile: Long = 0L): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val z = graft.api.Graft.zorderValue(x, y, bits)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(outPath)
    val spark = df.sparkSession
    spark.read.parquet(outPath).inputFiles.length.toLong
  }

  /** Training-shard writer — materialize a packed corpus
    * ([[graft.api.Graft.packSequences]] assignments joined back to the
    * documents) as directory-per-shard parquet, one shard per
    * `seqsPerShard` consecutive sequences, rows inside each shard sorted
    * by (seq_first, id) so a reader streams tokens in stream order.
    * Returns the shard count.
    *
    * Scale shape: the shard id derives arithmetically from `seq_first` —
    * no ranking pass — so the write is one hash-cluster exchange on the
    * shard id plus an in-partition sort; `partitionBy` directories make a
    * shard the unit of distribution (ship shard k to trainer k), and
    * `maxRecordsPerFile` bounds file sizes inside a shard. */
  def writeShards(packed: DataFrame, outPath: String, seqsPerShard: Long,
                  maxRecordsPerFile: Long = 0L): Long = {
    require(seqsPerShard >= 1, s"seqsPerShard must be >= 1, got $seqsPerShard")
    val spark = packed.sparkSession
    packed
      .withColumn("shard", expr(s"seq_first DIV $seqsPerShard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("seq_first"), col("id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("shard")
      .parquet(outPath)
    spark.read.parquet(outPath).select("shard").distinct().count()
  }
}
