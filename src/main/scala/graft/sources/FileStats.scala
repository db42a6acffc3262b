package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.util.{Base64, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StartsWith, Expression => CExpression, Literal => CLiteral}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Shared mechanics of the append-only TSV sidecar stores
  * (`_filestats`, `_bloomidx`): atomic part-file writes, race-tolerant
  * listing/fingerprinting (a commit-side store compaction may delete a
  * part file under a lock-free reader — every reader degrades to "no
  * sidecar this plan", conservative keep, never a failed query; parts
  * are read with [[MetaStore.readIfPresent]]), live-path compaction
  * keyed on the first TSV field, and clone-time link carry. One
  * implementation so the two stores' contracts cannot drift apart. */
private[sources] object SidecarStore {

  def list(store: JPath): Seq[JPath] = {
    if (!Files.isDirectory(store)) return Nil
    val ls =
      try MetaStore.list(store)
      catch { case _: java.io.IOException => return Nil }
    ls.filter(_.getFileName.toString.endsWith(".tsv")).sortBy(_.toString)
  }

  /** Cache fingerprint over the listed parts. A part that vanishes
    * between listing and stat contributes "?" — such a fingerprint can
    * never match the next call's (the vanished part won't be listed
    * again), so a racy read is never served stale from cache. */
  def fingerprint(parts: Seq[JPath]): String =
    parts.map { p =>
      val sz = try Files.size(p).toString
               catch { case _: java.io.IOException => "?" }
      s"${p.getFileName}:$sz"
    }.mkString(",")

  def writeFile(store: JPath, prefix: String, lines: Seq[String]): Unit = {
    MetaStore.mkdirs(store)
    MetaStore.replace(store.resolve(s"$prefix-${UUID.randomUUID()}.tsv"),
      lines.mkString("\n"))
  }

  /** Merge a many-part store into one file and PURGE lines whose
    * first TSV field is not in `live` (vacuumed / relocated files).
    * Runs under the commit lock. Returns true when a compaction
    * actually rewrote the store. ALL parts must read — a transient
    * failure on any one SKIPS the compaction whole (parts stay, next
    * commit retries): merging the readable subset and then deleting
    * every part would silently lose the unreadable part's lines
    * forever (coverage is keyed on the stats store, so nothing would
    * re-harvest them). */
  def maybeCompact(store: JPath, prefix: String, compactAt: Int,
                   live: => Set[String]): Boolean = {
    val parts = list(store)
    if (parts.size <= compactAt) return false
    val contents = parts.map(MetaStore.readIfPresent)
    if (contents.exists(_.isEmpty)) {
      System.err.println(s"[graft-sidecar] WARN: $store compaction " +
        "skipped — a part file failed to read; retrying next commit")
      return false
    }
    val liveSet = live
    val all = contents.flatten.flatMap(_.split("\n"))
      .filter(l => l.nonEmpty && liveSet.contains(l.takeWhile(_ != '\t')))
    writeFile(store, prefix, all)
    parts.foreach(MetaStore.delete)
    true
  }

  /** Clone-time carry: the destination links the same data files
    * under the same relative paths, so the source's sidecar lines are
    * the destination's. */
  def carry(src: JPath, dst: JPath): Unit = {
    if (!Files.isDirectory(src)) return
    MetaStore.mkdirs(dst)
    list(src).foreach(f =>
      MetaStore.linkOrCopy(f, dst.resolve(f.getFileName.toString)))
  }
}

/** FILE-LEVEL column statistics and DATA SKIPPING for the atomic
  * catalog — the scan-planning half of what Iceberg manifests / Delta
  * file stats buy a lakehouse table at 100 TB: per data file, min/max/
  * nullCount per top-level column, collected ONCE from the parquet
  * FOOTERS at commit time (metadata-only — the data pages are never
  * read) and consulted at scan planning so a selective predicate never
  * SCHEDULES a file it provably cannot match. Directory-level pruning
  * (static + DPP) removes partitions; this removes files WITHIN the
  * surviving partitions — on a sorted/z-ordered layout the pair turns a
  * point/range query from "open every footer in the partition" into
  * "read the two files that overlap the range".
  *
  * Store shape: `<tableDir>/_filestats/` TSV files, APPEND-ONLY, keyed
  * by VERSION-RELATIVE PATH — the partition directory plus the part
  * file name. The bare name is NOT unique (one partitioned write lands
  * `part-00000-<jobUUID>` in EVERY partition directory), but the
  * relative path is, and `linkDataFiles` preserves it verbatim across
  * every hard-link commit — so one entry keys one file's stats across
  * every version that links it, with ZERO carry logic on the commit
  * path. A relocation (evolve_layout moving old files under
  * `_spec-<k>/`) changes the key and simply self-heals: the next
  * commit sees the new paths as uncovered and re-records their
  * footers. A commit records footers only for paths not yet covered
  * (the same mechanism backfills pre-stats tables); entries for
  * vacuumed or relocated files are garbage collected against the
  * retained versions' live paths by the periodic store compaction.
  * Stats collection is distributed
  * (a Spark job over the footer paths) above a driver-loop threshold,
  * so a 100 TB commit's stats cost scales with the cluster, and is
  * best-effort BY DESIGN: a failure degrades to "no stats for those
  * files" = no skipping, never a failed commit or a wrong result.
  *
  * Skipping is conservative by construction, the same stance as every
  * pruner in this catalog: a file is dropped only when the captured
  * compile-time filters PROVE no row can match ([[mayMatch]] — an
  * over-approximating interval evaluator over And/Or with comparison,
  * IN, null-test and prefix leaves; unknown shapes, missing stats,
  * cast-wrapped columns all keep the file). Row-level-operation scans
  * never receive compile-time filters (their builder hides pushdown —
  * see PointerTable.newRowLevelOperationBuilder), so a COW rewrite can
  * never lose carried rows to skipping. */
private[sources] object FileStats {

  private val STORE = "_filestats"
  /** Above this many new files the footer pass leaves the sequential
    * driver loop. A footer open+parse costs ~7 ms (OPTIMIZATION_r19.md §5 —
    * parquet-mr's own cost, identical through Hadoop and NIO inputs),
    * not the ~1 ms the r18 band assumed, so the sequential loop's
    * break-even with the pool sits near one pool-submit overhead:
    * a 30-60-file commit read 0.2-0.45 s sequentially vs ~0.05 s
    * pooled (measured on q105's createOrReplace commits). */
  private val DRIVER_LOOP_MAX = 8
  /** Up to this many new files the pass runs on a bounded driver
    * thread pool — footer reads are independent ~ms local I/O, and a
    * Spark job's scheduling overhead (~0.2-0.3 s) costs more than the
    * reads themselves at this scale (measured r18: the 240-file
    * composite-append commit). Above it, the distributed job: task-side
    * bloom-store writes keep a 10k-file backfill's bitsets from
    * funneling through driver memory. */
  private val DRIVER_POOL_MAX = 1024
  /** Store files above this count are compacted into one. */
  private val COMPACT_AT = 24

  /** One column's file-level stats; values are catalyst-internal
    * (Int/Long/Float/Double/Boolean/UTF8String), `None` = unknown.
    * `sum` is the EXACT sum of the column's non-null values (integral
    * and decimal columns — harvested by a churn-sized column-pruned
    * read at commit time, since parquet footers carry no sums) and
    * `absSum` the sum of their absolute values, both carried as
    * UNSCALED BigInt at the column's own scale so 100 TB of values
    * cannot overflow the store. The abs-sum is the read side's
    * exactness proof: Σ|values| bounds every partial sum the scan
    * could form (see KeyGroupedScan.morSum). */
  final case class ColStat(mn: Option[Any], mx: Option[Any],
                           nulls: Option[Long],
                           sum: Option[BigInt] = None,
                           absSum: Option[BigInt] = None)
  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  // ---- commit-time recording ----

  def enabled(s: SparkSession): Boolean =
    s.conf.getOption("spark.sql.catalog.graft.write.fileStats")
      .forall(_ != "false")

  def skippingEnabled(s: SparkSession): Boolean =
    s.conf.getOption("spark.sql.catalog.graft.read.fileSkipping")
      .forall(_ != "false")

  /** Sum harvest is OPT-IN (table property `write.stats.sums`, or the
    * session conf for a blanket enable): unlike the footer pass it
    * costs one Spark job per commit — noise on a real commit, but a
    * tax on single-row commit loops (streaming epochs). Same
    * soak-then-default posture cleanCountPruning took in r17. */
  def sumsEnabled(s: SparkSession, tableDir: JPath): Boolean =
    MetaStore.readProps(tableDir)
      .get("write.stats.sums").contains("true") ||
      s.conf.getOption("spark.sql.catalog.graft.write.fileSums")
        .contains("true")

  /** Append per-file exact column sums (7th TSV field) AND
    * absolute-value sums (8th field) to the stat lines of the
    * just-written `files`: one column-pruned Spark aggregation over
    * integral and decimal top-level columns. The abs-sum is the read
    * side's EXACTNESS proof — Σ|values| bounds the magnitude of every
    * partial sum any execution order can form, so "Σ|values| fits the
    * accumulator" proves the scan's own accumulation (Long for
    * integral SUM, Double for integral AVG, bounded decimal for
    * decimal SUM) cannot overflow or round, and the metadata answer
    * is bit-identical. Decimal sums are stored as the UNSCALED BigInt
    * at the column's own scale (exact by construction; the reader
    * knows the scale from the table schema). A per-column COUNT
    * distinguishes "all null in this file" (sum = 0 exactly) from a
    * NULL produced by cast/sum overflow (no sum claimed — the line
    * keeps 6 fields and the read side refuses). */
  private def appendSums(spark: SparkSession,
      files: Seq[(String, String)], lines: Seq[String]): Seq[String] =
    try {
      val df = spark.read.parquet(files.map(_._1): _*)
      val numCols: Seq[(String, DecimalType)] = df.schema.fields.collect {
        case f if f.dataType == ByteType || f.dataType == ShortType ||
          f.dataType == IntegerType || f.dataType == LongType =>
          f.name -> DecimalType(38, 0)
        case f if f.dataType.isInstanceOf[DecimalType] =>
          f.name -> DecimalType(38,
            f.dataType.asInstanceOf[DecimalType].scale)
      }.toSeq
      if (numCols.isEmpty) return lines
      import org.apache.spark.sql.functions.{abs, col, count, input_file_name, sum}
      val aggs = numCols.flatMap { case (c, dt) => Seq(
        sum(col(c).cast(dt)).as(s"s_$c"),
        sum(abs(col(c).cast(dt))).as(s"a_$c"),
        count(col(c)).as(s"n_$c")) }
      val rows = df.groupBy(input_file_name().as("_f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      // input_file_name is a URI; the store key is the disk path
      // relative to the version dir
      val relOfAbs = files.map { case (abs0, rel) =>
        java.nio.file.Paths.get(abs0).toString -> rel }.toMap
      val sums: Map[(String, String), (BigInt, BigInt)] = rows.flatMap { r =>
        val disk =
          try new java.net.URI(r.getString(0)).getPath
          catch { case _: java.net.URISyntaxException => null }
        relOfAbs.get(if (disk == null) "" else
            java.nio.file.Paths.get(disk).toString).toSeq
          .flatMap { rel =>
            numCols.zipWithIndex.flatMap { case ((c, _), i) =>
              val (si, ai, ni) = (1 + 3 * i, 2 + 3 * i, 3 + 3 * i)
              if (r.getLong(ni) == 0L)
                // all-null file: zero contribution, exactly
                Some((rel, c.toLowerCase) -> (BigInt(0), BigInt(0)))
              else if (r.isNullAt(si) || r.isNullAt(ai))
                None // cast/sum overflow: claim nothing
              else Some((rel, c.toLowerCase) ->
                (BigInt(r.getDecimal(si).unscaledValue()),
                  BigInt(r.getDecimal(ai).unscaledValue())))
            }
          }
      }.toMap
      lines.map { l =>
        val f = l.split("\t", -1)
        if (f.length != 6 || f(2).isEmpty) l
        else sums.get((f(0), f(2).toLowerCase)) match {
          case Some((s0, a0)) => s"$l\t$s0\t$a0"
          case None => l
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[graft-filestats] WARN: sum harvest " +
          s"failed (${e.getMessage}); SUM/AVG stay scan-served for " +
          "these files")
        lines
    }

  /** Record footer stats for every data file of `versionDir` not yet
    * covered by the table's store. Called from the commit path (under
    * the commit lock); best-effort — failures warn and degrade to
    * no-skipping for the uncovered files. */
  def record(tableDir: JPath, versionDir: JPath): Unit = {
    val spark = SparkSession.active
    if (!enabled(spark)) return
    // ONE retained-versions walk per commit, shared by both sidecar
    // compactions (each takes the live set by name — when both
    // compact in the same commit the walk must not run twice)
    lazy val live: Set[String] = livePaths(tableDir, Some(versionDir))
    val ct = AtomicParquetCatalog.ctime[Seq[(String, String)]] _
    val covered = AtomicParquetCatalog.ctime("fs.covered")(
      coveredKeys(tableDir))
    val files = ct("fs.walk")(MetaStore.dataFiles(versionDir)
      .map(p => (p, relOf(versionDir, p)))
      .filter { case (_, rel) => !covered.contains(rel) })
    if (files.isEmpty) {
      maybeCompact(tableDir, live)
      BloomIndex.append(tableDir, Nil, live)
      return
    }
    // one footer pass fills BOTH sidecars: min/max/nullCount lines
    // (prefix S) for `_filestats`, harvested bloom bitsets (prefix B)
    // for `_bloomidx` — a file is opened exactly once. The distributed
    // branch writes bloom lines into the store FROM THE TASKS
    // (BloomIndex.writeStoreFile — append-only store files compose),
    // so only the short stats lines ride the collect(): a 10k-file
    // backfill on a bloomed table must not funnel gigabytes of
    // bitsets through the driver
    val tableDirStr = tableDir.toString
    val tagged: Seq[String] = AtomicParquetCatalog.ctime("fs.statLines")(
      if (files.size <= DRIVER_LOOP_MAX) {
        val conf = spark.sessionState.newHadoopConf()
        files.flatMap { case (p, rel) => statLines(p, rel, conf) }
      } else if (files.size <= DRIVER_POOL_MAX) {
        // bounded driver pool (statLines opens its own reader per file;
        // the shared Configuration is only read). Bloom lines ride the
        // same "B\t" tagging as the sequential branch.
        val conf = spark.sessionState.newHadoopConf()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration._
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          // BOUNDED wait, never Duration.Inf: this runs inside the commit
          // lock, so a single wedged footer read (NFS stall, dying disk)
          // would otherwise hang every subsequent commit on the table with
          // no diagnostic. On timeout the TimeoutException propagates to
          // the caller's best-effort catch (commit proceeds, the version's
          // new files just stay unskippable) and shutdownNow interrupts
          // the stuck readers. 120 s is ~100x the measured pool cost of
          // the largest band this branch serves (1024 footers / 16
          // threads, ~1 ms local reads) — only a genuinely stuck
          // filesystem reaches it.
          Await.result(
            Future.traverse(files.toSeq) { case (p, rel) =>
              Future(statLines(p, rel, conf))
            }, 120.seconds).flatten
        } finally { pool.shutdownNow(); () }
      } else {
        val sconf = new SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        spark.sparkContext
          .parallelize(files, math.min(files.size, 32))
          .mapPartitions { it =>
            val all = it.flatMap { case (p, rel) =>
              statLines(p, rel, sconf.value) }.toSeq
            val (bl, st) = all.partition(_.startsWith("B\t"))
            if (bl.nonEmpty)
              BloomIndex.writeStoreFile(
                java.nio.file.Paths.get(tableDirStr), bl.map(_.substring(2)))
            st.iterator
          }
          .collect().toSeq // bounded: a few short stats lines per footer
      })
    val (bloomTagged, statTagged) = tagged.partition(_.startsWith("B\t"))
    // EXACT per-file column sums for the new files (integral columns):
    // parquet footers carry min/max/nullCount but no sums, so this is
    // the one stat that needs a read — a single column-pruned Spark
    // aggregation over ONLY the uncovered files (churn-sized for
    // appends/merges; for the initial load, a numeric-columns-only
    // second pass). The q100-family SUM/AVG metadata answers hang off
    // it (KeyGroupedScan.morSum). Best-effort: failure leaves the
    // lines sum-less and the read side refuses to the scan.
    val withSums = AtomicParquetCatalog.ctime("fs.sums")(
      if (!sumsEnabled(spark, tableDir)) statTagged.map(_.substring(2))
      else appendSums(spark, files, statTagged.map(_.substring(2))))
    AtomicParquetCatalog.ctime("fs.store")(
      SidecarStore.writeFile(tableDir.resolve(STORE), "fs", withSums))
    cache.remove(tableDir.toString)
    AtomicParquetCatalog.ctime("fs.compact")(maybeCompact(tableDir, live))
    AtomicParquetCatalog.ctime("fs.bloom")(
      BloomIndex.append(tableDir, bloomTagged.map(_.substring(2)), live))
  }

  /** Every retained version's live data files as version-relative
    * paths — the purge set both sidecar compactions run against. */
  private def livePaths(tableDir: JPath, inFlight: Option[JPath]): Set[String] = {
    val logged = MetaStore.readIfPresent(tableDir.resolve("_current"))
      .toSeq.flatMap(MetaStore.splitLines)
    (logged.map(tableDir.resolve) ++ inFlight)
      .flatMap(v => MetaStore.dataFiles(v).map(relOf(v, _)))
      .toSet
  }

  /** The store key: `p`'s path relative to the version directory, in
    * on-disk (hive-escaped) form. */
  private def relOf(versionDir: JPath, p: String): String =
    versionDir.relativize(java.nio.file.Paths.get(p)).toString

  /** Merge a many-small-files store into one TSV and PURGE entries for
    * names no retained version still holds (vacuumed files) — metadata
    * hygiene on the same cadence the commit path already owns. Runs
    * under the commit lock (its only caller is `record`); the in-flight
    * version being committed is passed explicitly because the pointer
    * log does not list it yet. */
  private def maybeCompact(tableDir: JPath, live: => Set[String]): Unit =
    if (SidecarStore.maybeCompact(tableDir.resolve(STORE), "fs", COMPACT_AT,
        live))
      cache.remove(tableDir.toString)

  private[sources] def coveredKeys(tableDir: JPath): Set[String] =
    SidecarStore.list(tableDir.resolve(STORE)).flatMap(f =>
      MetaStore.readIfPresent(f).toSeq.flatMap(_.split("\n").iterator
        .filter(_.nonEmpty).map(_.takeWhile(_ != '\t')))).toSet

  /** Clone-time sidecar carry: the destination links the same data
    * files under the same relative paths, so the source's stats are
    * the destination's. */
  def carryStore(srcTable: JPath, dstTable: JPath): Unit = {
    BloomIndex.carryStore(srcTable, dstTable) // same link-forward contract
    SidecarStore.carry(srcTable.resolve(STORE), dstTable.resolve(STORE))
  }

  // ---- footer → TSV lines ----
  // Line shape: relPath \t rows \t col \t nulls \t min \t max
  //   min/max: "-" = unknown, else tag:value with tag i|l|f|d|b|s
  //   (s carries base64 of the UTF-8 bytes); nulls: "-" = unknown.
  // The `rows` line (col = "") is emitted once per file.
  // Returned lines are PREFIXED with their destination sidecar:
  // "S\t" = this store, "B\t" = BloomIndex lines harvested from the
  // same open footer (see BloomIndex.harvestLines) — the prefix keeps
  // the distributed pass a flat Seq[String].

  private def statLines(path: String, rel: String,
                        conf: Configuration): Seq[String] = {
    try {
      // The ~7 ms/footer open+parse cost here is parquet-mr's own
      // (OPTIMIZATION_r19.md §5: identical via HadoopInputFile and the NIO
      // LocalInputFile, sequential and pooled), so the pool is the
      // right and only lever — measured ~0.2 s per 240-file commit.
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val name = rel
        // aggregate chunk stats per column across row groups; a single
        // invalid chunk poisons that column (conservative)
        val agg = scala.collection.mutable.Map
          .empty[String, (Option[Any], Option[Any], Option[Long], PrimitiveType)]
        var poisoned = Set.empty[String]
        val fileSchema = footer.getFileMetaData.getSchema
        // only TOP-LEVEL primitive columns carry skippable stats; a
        // column-chunk path of length 1 is such a column by construction
        for (b <- blocks; c <- b.getColumns.asScala
             if c.getPath.size == 1) {
          val col = c.getPath.toDotString
          if (!poisoned(col)) {
            val prim = fileSchema
              .getType(fileSchema.getFieldIndex(col)).asPrimitiveType()
            val st = c.getStatistics
            if (st == null) { poisoned += col; agg.remove(col); () }
            else {
              val nn: Option[Long] =
                if (st.isNumNullsSet) Some(st.getNumNulls) else None
              val (mn, mx): (Option[Any], Option[Any]) =
                if (!st.hasNonNullValue) (None, None)
                else (convert(st.genericGetMin, prim),
                      convert(st.genericGetMax, prim))
              agg.get(col) match {
                case None => agg(col) = (mn, mx, nn, prim)
                case Some((m0, x0, n0, p0)) =>
                  val m = for (a <- m0; b2 <- mn) yield
                    if (cmpValues(a, b2) <= 0) a else b2
                  val x = for (a <- x0; b2 <- mx) yield
                    if (cmpValues(a, b2) >= 0) a else b2
                  val n = for (a <- n0; b2 <- nn) yield a + b2
                  agg(col) = (m, x, n, p0)
              }
            }
          }
        }
        val head = s"S\t$name\t$rows\t\t-\t-\t-"
        val stats = head +: agg.toSeq.collect {
          case (col, (mn, mx, nn, prim))
              if !poisoned(col) && (mn.isDefined || nn.isDefined) =>
            s"S\t$name\t$rows\t$col\t${nn.map(_.toString).getOrElse("-")}\t" +
              s"${mn.map(enc(_, prim)).getOrElse("-")}\t" +
              s"${mx.map(enc(_, prim)).getOrElse("-")}"
        }
        stats ++ BloomIndex.harvestLines(reader, rel).map("B\t" + _)
      } finally reader.close()
    } catch {
      case e: Exception =>
        System.err.println(s"[graft-filestats] WARN: footer read failed " +
          s"for $path (${e.getMessage}); file stays unskippable")
        Nil
    }
  }

  /** Parquet footer value → catalyst-internal value, or None when the
    * physical/logical type has no sound mapping (INT96 timestamps,
    * decimals, nanos — all conservatively unskippable). */
  private def convert(v: Any, prim: PrimitiveType): Option[Any] = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    val ann = prim.getLogicalTypeAnnotation
    (prim.getPrimitiveTypeName, ann) match {
      case (_, _: DecimalLogicalTypeAnnotation) => None
      case (INT32, _) => Some(v.asInstanceOf[Number].intValue())
      case (INT64, t: TimestampLogicalTypeAnnotation) =>
        t.getUnit match {
          case TimeUnit.MICROS => Some(v.asInstanceOf[Number].longValue())
          // floor() keeps both bounds valid: floor is monotone, so
          // floor(min) <= floor(v) <= floor(max) for every row value v
          case TimeUnit.MILLIS =>
            Some(Math.multiplyExact(v.asInstanceOf[Number].longValue(), 1000L))
          case TimeUnit.NANOS =>
            Some(Math.floorDiv(v.asInstanceOf[Number].longValue(), 1000L))
        }
      case (INT64, _) => Some(v.asInstanceOf[Number].longValue())
      case (FLOAT, _) => Some(v.asInstanceOf[Float])
      case (DOUBLE, _) => Some(v.asInstanceOf[Double])
      case (BOOLEAN, _) => Some(v.asInstanceOf[Boolean])
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        Some(UTF8String.fromBytes(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
      case _ => None
    }
  }

  private def enc(v: Any, prim: PrimitiveType): String = v match {
    case i: Int => s"i:$i"
    case l: Long => s"l:$l"
    case f: Float => s"f:$f"
    case d: Double => s"d:$d"
    case b: Boolean => s"b:$b"
    case s: UTF8String =>
      s"s:${Base64.getEncoder.encodeToString(s.getBytes)}"
    case _ => "-"
  }

  private def dec(s: String): Option[Any] =
    if (s == "-" || s.length < 2) None
    else (s.charAt(0), s.substring(2)) match {
      case ('i', v) => v.toIntOption
      case ('l', v) => v.toLongOption
      case ('f', v) => v.toFloatOption
      case ('d', v) => v.toDoubleOption
      case ('b', v) => v.toBooleanOption
      case ('s', v) =>
        try Some(UTF8String.fromBytes(Base64.getDecoder.decode(v)))
        catch { case _: IllegalArgumentException => None }
      case _ => None
    }

  /** Total order over same-shaped catalyst values (the only pairs the
    * evaluator ever forms: a stored stat against a literal whose type
    * already matched the column — a cast-wrapped column never reaches
    * a leaf). */
  private def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case _ => 0 // shape mismatch: callers guard with sameShape
  }

  private def sameShape(a: Any, b: Any): Boolean = (a, b) match {
    case (_: Int, _: Int) | (_: Long, _: Long) | (_: Float, _: Float) |
         (_: Double, _: Double) | (_: Boolean, _: Boolean) |
         (_: UTF8String, _: UTF8String) => true
    case _ => false
  }

  /** Literal value in the stat store's shape for column type `dt` —
    * Short/Byte literals promote to Int (stored as INT32). None =
    * incomparable (skipping keeps the file). */
  private def litValue(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (i: Int, IntegerType | DateType) => Some(i)
    case (s: Short, ShortType) => Some(s.toInt)
    case (b: Byte, ByteType) => Some(b.toInt)
    case (l: Long, LongType | TimestampType | TimestampNTZType) => Some(l)
    case (f: Float, FloatType) =>
      if (f.isNaN) None else Some(f) // parquet stats don't order NaN
    case (d: Double, DoubleType) => if (d.isNaN) None else Some(d)
    case (b: Boolean, BooleanType) => Some(b)
    case (u: UTF8String, StringType) => Some(u)
    case _ => None
  }

  // ---- scan-time loading (cached per store fingerprint) ----

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Map[String, FileStat])]()

  def load(tableDir: JPath): Map[String, FileStat] = {
    val parts = SidecarStore.list(tableDir.resolve(STORE))
    if (parts.isEmpty) return Map.empty
    val fp = SidecarStore.fingerprint(parts)
    val hit = cache.get(tableDir.toString)
    if (hit != null && hit._1 == fp) return hit._2
    val byFile = scala.collection.mutable.Map.empty[String, (Long,
      scala.collection.mutable.Map[String, ColStat])]
    for (p <- parts;
         // a commit-side store compaction may delete a part file
         // between listing and read (the reader takes no lock): lose
         // those stats this plan — conservative keep — not the query
         content <- MetaStore.readIfPresent(p).toSeq;
         line <- content.split("\n")
         if line.nonEmpty) {
      val f = line.split("\t", -1)
      // 6 fields = the r17 format; a 7th carries the exact column sum
      if (f.length >= 6 && f.length <= 8) {
        f(1).toLongOption.foreach { rows =>
          val e = byFile.getOrElseUpdate(f(0),
            (rows, scala.collection.mutable.Map.empty[String, ColStat]))
          if (f(2).nonEmpty) {
            def big(i: Int): Option[BigInt] =
              if (f.length <= i || f(i) == "-") None
              else try Some(BigInt(f(i)))
              catch { case _: NumberFormatException => None }
            e._2(f(2)) = ColStat(dec(f(4)), dec(f(5)), f(3).toLongOption,
              big(6), big(7))
          }
        }
      }
    }
    val out = byFile.map { case (n, (r, m)) => n -> FileStat(r, m.toMap) }.toMap
    cache.put(tableDir.toString, (fp, out))
    out
  }

  // ---- the may-match evaluator ----

  /** Can a file with stats `st` possibly hold a row satisfying every
    * filter? Over-approximating: `true` whenever the answer cannot be
    * PROVEN `false`. */
  def mayMatch(filters: Seq[CExpression], st: FileStat,
               schema: StructType): Boolean =
    filters.forall(may(_, st, schema))

  /** The subset of `files` whose footer stats CANNOT rule out holding
    * at least one of `keys` in column `colName` — write-time scope
    * narrowing for equality-delete entries: a MoR delete of k keys
    * then scopes (and later CDC-reads, stream-re-emits, rewrites) only
    * the files whose [min,max] range intersects the key set, never the
    * whole snapshot. Keys are CATALYST-INTERNAL values of the column's
    * type; files without stats (or stats of another shape) stay in
    * scope — may-match semantics, the [[mayMatch]] contract. An empty
    * file (0 rows) leaves scope: it holds no rows an entry could
    * delete; so does a file whose key column is entirely null (keys
    * are non-null by the equality-entry encode check).
    * O(|files| log |keys|) — never keys×files. */
  def filesMayContainKeys(stats: Map[String, FileStat], files: Set[String],
      colName: String, dt: DataType, keys: Seq[Any]): Set[String] = {
    if (stats.isEmpty || keys.isEmpty) return files
    val conv = keys.map(litValue(_, dt))
    if (conv.exists(_.isEmpty)) return files
    val sorted = conv.flatten.toArray.sortWith(cmpValues(_, _) < 0)
    files.filter { f =>
      stats.get(f) match {
        case None => true
        case Some(fs) if fs.rows == 0L => false
        case Some(fs) =>
          fs.cols.find(_._1.equalsIgnoreCase(colName)).map(_._2) match {
            case None => true
            case Some(cs) =>
              if (cs.nulls.contains(fs.rows)) false // all-null column
              else (cs.mn, cs.mx) match {
                case (Some(mn), Some(mx)) if sameShape(mn, sorted.head) &&
                    sameShape(mx, sorted.head) =>
                  // smallest key >= mn, then in range iff it is <= mx
                  var lo = 0; var hi = sorted.length
                  while (lo < hi) {
                    val mid = (lo + hi) >>> 1
                    if (cmpValues(sorted(mid), mn) < 0) lo = mid + 1
                    else hi = mid
                  }
                  lo < sorted.length && cmpValues(sorted(lo), mx) <= 0
                case _ => true
              }
          }
      }
    }
  }

  // ---- the must-match evaluator ----

  /** Does EVERY row of a file with stats `st` provably satisfy every
    * filter? Under-approximating, the dual of [[mayMatch]]: `false`
    * whenever the answer cannot be PROVEN `true`. Proofs lean on
    * min/max EXACTNESS, so they are attempted only on exact-stat
    * shapes — integral/date/timestamp/boolean columns with a known
    * null count; strings (writer-truncatable stats) and floats (NaN
    * rows fall outside footer ordering) never prove. Together with
    * [[mayMatch]] this splits a file set three ways per predicate:
    * all-rows-match / no-row-matches / undecided — the all-or-nothing
    * split the pruned metadata COUNT(*) path needs before it may
    * consume a filter. */
  def mustMatch(filters: Seq[CExpression], st: FileStat,
                schema: StructType): Boolean =
    filters.forall(must(_, st, schema))

  private def must(e: CExpression, st: FileStat,
      schema: StructType): Boolean = {
    def colType(a: AttributeReference): Option[DataType] =
      schema.fields.find(_.name.equalsIgnoreCase(a.name)).map(_.dataType)
    def stat(a: AttributeReference): Option[ColStat] =
      st.cols.find(_._1.equalsIgnoreCase(a.name)).map(_._2)
    def exactShape(x: Any): Boolean = x match {
      case _: Int | _: Long | _: Boolean => true
      case _ => false
    }
    /** A proof over every row needs: zero nulls (a null row fails any
      * value predicate), both bounds known, and the literal in an
      * exact-stat shape matching them. */
    def valueProof(a: AttributeReference, v: Any)(
        test: (Any, Any, Any) => Boolean): Boolean =
      (stat(a), colType(a)) match {
        case (Some(cs), Some(dt)) =>
          st.rows > 0L && cs.nulls.contains(0L) &&
            (for {
              lv <- litValue(v, dt)
              mn <- cs.mn
              mx <- cs.mx
              if exactShape(lv) && sameShape(mn, lv) && sameShape(mx, lv)
            } yield test(mn, mx, lv)).getOrElse(false)
        case _ => false
      }
    def eqMust(a: AttributeReference, v: Any): Boolean =
      valueProof(a, v)((mn, mx, lv) =>
        cmpValues(mn, lv) == 0 && cmpValues(mx, lv) == 0)
    e match {
      case And(l, r) => must(l, st, schema) && must(r, st, schema)
      case Or(l, r) => must(l, st, schema) || must(r, st, schema)
      case IsNotNull(a: AttributeReference) =>
        st.rows > 0L && stat(a).exists(_.nulls.contains(0L))
      case IsNull(a: AttributeReference) =>
        st.rows > 0L && stat(a).exists(_.nulls.contains(st.rows))
      case EqualTo(a: AttributeReference, CLiteral(v, _)) => eqMust(a, v)
      case EqualTo(CLiteral(v, _), a: AttributeReference) => eqMust(a, v)
      case EqualNullSafe(a: AttributeReference, CLiteral(v, _)) if v != null =>
        eqMust(a, v)
      case EqualNullSafe(CLiteral(v, _), a: AttributeReference) if v != null =>
        eqMust(a, v)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[CLiteral]) =>
        vs.exists(l => eqMust(a, l.asInstanceOf[CLiteral].value))
      case InSet(a: AttributeReference, vs) => vs.exists(eqMust(a, _))
      case GreaterThan(a: AttributeReference, CLiteral(v, _)) =>
        valueProof(a, v)((mn, _, lv) => cmpValues(mn, lv) > 0)
      case GreaterThanOrEqual(a: AttributeReference, CLiteral(v, _)) =>
        valueProof(a, v)((mn, _, lv) => cmpValues(mn, lv) >= 0)
      case LessThan(a: AttributeReference, CLiteral(v, _)) =>
        valueProof(a, v)((_, mx, lv) => cmpValues(mx, lv) < 0)
      case LessThanOrEqual(a: AttributeReference, CLiteral(v, _)) =>
        valueProof(a, v)((_, mx, lv) => cmpValues(mx, lv) <= 0)
      case GreaterThan(CLiteral(v, _), a: AttributeReference) => // lit > a
        valueProof(a, v)((_, mx, lv) => cmpValues(mx, lv) < 0)
      case GreaterThanOrEqual(CLiteral(v, _), a: AttributeReference) =>
        valueProof(a, v)((_, mx, lv) => cmpValues(mx, lv) <= 0)
      case LessThan(CLiteral(v, _), a: AttributeReference) => // lit < a
        valueProof(a, v)((mn, _, lv) => cmpValues(mn, lv) > 0)
      case LessThanOrEqual(CLiteral(v, _), a: AttributeReference) =>
        valueProof(a, v)((mn, _, lv) => cmpValues(mn, lv) >= 0)
      case _ => false
    }
  }

  private def may(e: CExpression, st: FileStat, schema: StructType): Boolean = {
    def colType(a: AttributeReference): Option[DataType] =
      schema.fields.find(_.name.equalsIgnoreCase(a.name)).map(_.dataType)
    def stat(a: AttributeReference): Option[ColStat] =
      st.cols.find(_._1.equalsIgnoreCase(a.name)).map(_._2)
    // a value predicate can never match when every row is null
    def allNull(cs: ColStat): Boolean = cs.nulls.contains(st.rows)
    def valuePred(a: AttributeReference)(
        test: (ColStat, DataType) => Boolean): Boolean =
      (stat(a), colType(a)) match {
        case (Some(cs), Some(dt)) => !allNull(cs) && test(cs, dt)
        case _ => true // no stats / unknown column: keep
      }
    def eqMay(a: AttributeReference, v: Any): Boolean =
      valuePred(a) { (cs, dt) =>
        litValue(v, dt) match {
          case Some(lv) =>
            cs.mn.forall(m => !sameShape(m, lv) || cmpValues(m, lv) <= 0) &&
              cs.mx.forall(m => !sameShape(m, lv) || cmpValues(m, lv) >= 0)
          case None => true
        }
      }

    /** lower=true tests `a <(=) v` (file needs min under the bound);
      * lower=false tests `a >(=) v` (file needs max over the bound). */
    def boundMay(a: AttributeReference, v: Any, lower: Boolean,
                 strict: Boolean): Boolean =
      valuePred(a) { (cs, dt) =>
        litValue(v, dt) match {
          case Some(lv) =>
            val rel = if (lower) cs.mn else cs.mx
            rel.forall { m =>
              if (!sameShape(m, lv)) true
              else {
                val c = if (lower) cmpValues(m, lv) else cmpValues(lv, m)
                c < 0 || (c == 0 && !strict)
              }
            }
          case None => true
        }
      }

    e match {
      case And(l, r) => may(l, st, schema) && may(r, st, schema)
      case Or(l, r) => may(l, st, schema) || may(r, st, schema)
      case Not(IsNull(a: AttributeReference)) =>
        may(IsNotNull(a), st, schema)
      case Not(IsNotNull(a: AttributeReference)) =>
        may(IsNull(a), st, schema)
      case IsNull(a: AttributeReference) =>
        stat(a).forall(!_.nulls.contains(0L))
      case IsNotNull(a: AttributeReference) =>
        stat(a).forall(cs => !allNull(cs))
      case EqualTo(a: AttributeReference, CLiteral(v, _)) => eqMay(a, v)
      case EqualTo(CLiteral(v, _), a: AttributeReference) => eqMay(a, v)
      case EqualNullSafe(a: AttributeReference, CLiteral(v, _)) if v != null =>
        eqMay(a, v)
      case EqualNullSafe(CLiteral(v, _), a: AttributeReference) if v != null =>
        eqMay(a, v)
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[CLiteral]) =>
        vs.exists(l => eqMay(a, l.asInstanceOf[CLiteral].value))
      case InSet(a: AttributeReference, vs) => vs.exists(eqMay(a, _))
      case GreaterThan(a: AttributeReference, CLiteral(v, _)) =>
        boundMay(a, v, lower = false, strict = true)
      case GreaterThanOrEqual(a: AttributeReference, CLiteral(v, _)) =>
        boundMay(a, v, lower = false, strict = false)
      case LessThan(a: AttributeReference, CLiteral(v, _)) =>
        boundMay(a, v, lower = true, strict = true)
      case LessThanOrEqual(a: AttributeReference, CLiteral(v, _)) =>
        boundMay(a, v, lower = true, strict = false)
      case GreaterThan(CLiteral(v, _), a: AttributeReference) => // lit > a
        boundMay(a, v, lower = true, strict = true)
      case GreaterThanOrEqual(CLiteral(v, _), a: AttributeReference) =>
        boundMay(a, v, lower = true, strict = false)
      case LessThan(CLiteral(v, _), a: AttributeReference) => // lit < a
        boundMay(a, v, lower = false, strict = true)
      case LessThanOrEqual(CLiteral(v, _), a: AttributeReference) =>
        boundMay(a, v, lower = false, strict = false)
      case StartsWith(a: AttributeReference, CLiteral(p: UTF8String, _)) =>
        // rows live in [p, p∞): skip when max < p, or when min can't
        // be <= some p-prefixed value (min > p AND min has no p prefix)
        valuePred(a) { (cs, dt) =>
          litValue(p, dt) match {
            case Some(pv) =>
              val okHi = cs.mx.forall(m =>
                !sameShape(m, pv) || cmpValues(m, pv) >= 0)
              val okLo = cs.mn.forall {
                case m: UTF8String =>
                  m.compareTo(p) <= 0 || m.startsWith(p)
                case _ => true
              }
              okHi && okLo
            case None => true
          }
        }
      case _ => true // unknown shape: keep
    }
  }
}

/** The scan wrapper that applies [[FileStats]] skipping at batch
  * planning: every planned [[FilePartition]] keeps only files the
  * may-match evaluator cannot rule out (partition STRUCTURE survives —
  * a [[KeyedFilePartition]]'s key and a [[DispatchedPartition]]'s
  * embedded factory ride through untouched, so SPJ grouping and
  * mixed-spec dispatch still work). Forwards the runtime-filtering /
  * partitioning / statistics handshakes like every wrapper in this
  * file's family. Planned/kept counts are published per scan name for
  * the white-box specs. */
private[sources] final class FileSkippingScan(
    private[sources] val inner: Scan, scanName: String, tableDir: JPath,
    private[sources] val versionDir: JPath,
    tableSchema: StructType,
    private[sources] val dataFilters: Seq[CExpression],
    session: SparkSession)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    s"graft-file-skipping ${inner.description()}"

  // the scan IS its batch (ParquetScan's own shape), with STRUCTURAL
  // equality below — BatchScanExec.equals compares `batch` objects, and
  // that equality is what DPP's broadcast reuse (and with it the whole
  // dynamic-pruning plan) hangs off; an anonymous per-call Batch here
  // silently downgraded every DPP to dynamicpruningexpression(true)
  override def toBatch: Batch = this

  override def equals(o: Any): Boolean = o match {
    case f: FileSkippingScan =>
      inner == f.inner && versionDir == f.versionDir &&
        dataFilters.length == f.dataFilters.length &&
        dataFilters.zip(f.dataFilters).forall {
          case (a, b) => a.semanticEquals(b)
        }
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(inner, versionDir)

  override def planInputPartitions(): Array[InputPartition] = {
    // inner.toBatch resolved per call, not captured — a runtime-pruned
    // delegate swapped in by filter() must be what plans here
    val ib = inner.toBatch
    val stats = FileStats.load(tableDir)
    val blooms = BloomIndex.loadIfEnabled(tableDir, session)
    if (stats.isEmpty && blooms.isEmpty) return ib.planInputPartitions()
    val vPrefix = versionDir.toString + "/"
    def keepFile(urlEncoded: String): Boolean = {
      // store keys are version-relative DISK paths; the planned
      // file is a url-encoded URI — decode once (the same move
      // HiddenKeyGroupedParquetScan's path parser makes), then
      // strip the version prefix. A path outside the version dir
      // cannot be keyed: keep (conservative).
      val disk =
        try new java.net.URI(urlEncoded).getPath
        catch { case _: java.net.URISyntaxException => return true }
      if (disk == null || !disk.startsWith(vPrefix)) return true
      val rel = disk.substring(vPrefix.length)
      stats.get(rel)
        .forall(FileStats.mayMatch(dataFilters, _, tableSchema)) &&
        blooms.get(rel).forall(BloomIndex.mayMatch(dataFilters, _))
    }
    var total = 0
    var kept = 0
    def filt(p: InputPartition): InputPartition = p match {
      case k: KeyedFilePartition =>
        val fs = k.files.filter(f => keepFile(f.urlEncodedPath))
        total += k.files.length; kept += fs.length
        new KeyedFilePartition(k.index, fs, k.partitionKey())
      case f: FilePartition =>
        val fs = f.files.filter(x => keepFile(x.urlEncodedPath))
        total += f.files.length; kept += fs.length
        FilePartition(f.index, fs)
      case d: DispatchedPartition => d.copy(inner = filt(d.inner))
      case other => other
    }
    val out = ib.planInputPartitions().map(filt)
    FileSkippingScan.counts.put(scanName, (kept, total))
    out
  }
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case f: SupportsRuntimeV2Filtering => f.filterAttributes()
      case _ => Array.empty
    }
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    inner match {
      case f: SupportsRuntimeV2Filtering => f.filter(predicates)
      case _ => ()
    }
  override def outputPartitioning(): Partitioning = inner match {
    case p: SupportsReportPartitioning => p.outputPartitioning()
    case _ => new UnknownPartitioning(0)
  }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
}

private[graft] object FileSkippingScan {
  /** scanName → (files kept, files planned) of the last planned batch —
    * the white-box handle FileSkippingSpec pins. */
  val counts = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}
