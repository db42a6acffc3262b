package graft.sources

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal TRANSACTIONAL table catalog over plain parquet — the piece
  * that makes `df.writeTo(t).createOrReplace()` (replace-table-as-select,
  * the API the reference drives against Iceberg:
  * k8s/spark/41-spark-job-scripts-configmap.yaml:327-329,
  * k8s/spark/43-silver-build.yaml:54,79) genuinely ATOMIC without
  * Iceberg/Delta on the classpath.
  *
  * Commit protocol — the reduced essence of a lakehouse format's metadata
  * pointer: every write lands in a fresh immutable version directory
  * `v-<uuid>/` under the table path, and becomes visible only when the
  * single `_current` pointer file is swapped to name it via a same-
  * directory `ATOMIC_MOVE` rename. Readers resolve `_current` once at
  * table-load and then read an immutable directory, so a reader sees the
  * OLD table or the NEW table, never a partial mix — and a writer that
  * dies mid-RTAS leaves only an orphaned staging directory, with the
  * committed table untouched (`abortStagedChanges` cleans it eagerly;
  * crash leftovers are swept by the next `dropTable`). This is exactly
  * the old-or-new contract `Pipeline.writeTable`'s session-catalog
  * path cannot give (V1 `saveAsTable(Overwrite)` drops then
  * recreates — a reader in between sees NO table).
  *
  * Snapshot history — `_current` is the whole snapshot LOG (version dir
  * names, newest first), swapped atomically as one file, so history and
  * currency can never disagree. `SELECT ... VERSION AS OF k` (k commits
  * back, or an exact `v-<uuid>`) serves any version still inside the
  * retention window; each commit prunes versions beyond the
  * `spark.sql.catalog.<name>.history` window (default 3 previous) AFTER
  * its pointer swap — Iceberg's expire-snapshots semantics in one file.
  * Historical reads are immutable (writes through them are refused).
  *
  * Concurrent writers — optimistic concurrency, Iceberg's conflict
  * contract: a staged replace records the version that was current at
  * stage time, and its commit FAILS with a ConcurrentModificationException
  * if another writer committed in between (last-wins silently loses the
  * other writer's table); sequential writers are unaffected. The
  * check-then-swap runs under an atomically-created `_commit.lock`, with
  * a stale-lock breaker (`lockStaleMs`, default 10 min) so a writer that
  * dies holding it cannot wedge the table.
  *
  * Spark wiring: [[StagingTableCatalog]] makes Spark plan RTAS through
  * `AtomicReplaceTableAsSelectExec` (stage → write → commit) instead of
  * the non-atomic drop-then-create fallback. Reads delegate to Spark's
  * own parquet V2 `ParquetTable` (full pushdown/pruning/vectorization on
  * the version directory); writes bridge through [[V1Write]], whose
  * DataFrame lands in the staging directory with classic partitioned
  * parquet layout — so `partitionedBy(...)` is honored and partition
  * pruning works on read via directory inference. Appends
  * (`insertInto`) are Iceberg-style fast-appends: the new files land in
  * a FRESH version directory, the current version's data files are
  * hard-linked beside them (no data copy), and the pointer swaps with
  * the same CAS as a replace — so an append racing a replace surfaces
  * as a commit conflict instead of silently mutating a snapshot, and a
  * concurrent reader sees the table before or after the append, never
  * files appearing mid-scan. `INSERT OVERWRITE` stages a fresh version
  * and swaps — atomic too.
  *
  * At 100 TB this is the posture the engine assumes a real deployment
  * gets from Iceberg/Delta; locally it lets every atomic-replace claim in
  * the medallion pipeline be EXERCISED rather than asserted (see
  * AtomicCatalogSpec). Register with:
  * {{{
  *   spark.sql.catalog.<name> = graft.sources.AtomicParquetCatalog
  *   spark.sql.catalog.<name>.warehouse = /path/to/warehouse
  * }}}
  */
object AtomicParquetCatalog {
  /** Commit-path stopwatch, env-gated (SPARK_GRAFT_COMMIT_TIMING=1):
    * prints per-phase seconds of every catalog commit to stderr. Off by
    * default and zero-cost when off — the profiling hook behind the r18
    * commit-overhead numbers in OPTIMIZATION_r18.md. */
  private[sources] val commitTiming: Boolean =
    sys.env.contains("SPARK_GRAFT_COMMIT_TIMING")
  private[sources] def ctime[A](label: String)(f: => A): A =
    if (!commitTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[graft-commit] $label%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

  /** The main pointer log's file name; branch logs are `_branch_<b>`. */
  private[sources] val MainRef = "_current"
  /** Marker file a content-preserving maintenance commit carries in its
    * version directory (see `markContentPreserving`). */
  private[graft] val ContentPreservingMarker = "_content_preserving"

  /** `t@branch` identifier convention: split a table name into
    * (table, branch). A name without `@` is (name, None) = main. */
  private[sources] def splitBranch(name: String): (String, Option[String]) =
    name.indexOf('@') match {
      case -1 => (name, None)
      case i => (name.substring(0, i), Some(name.substring(i + 1)))
    }

  /** Register catalog `name` on the session with a fresh temp warehouse
    * if absent — the shared idempotent setup the catalog-backed gates
    * and specs use (one place to change registration, not one copy per
    * gate). The warehouse is deleted when the JVM exits. Returns the
    * catalog's warehouse path. */
  def ensureRegistered(s: SparkSession, name: String): String = {
    if (s.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$name",
        classOf[AtomicParquetCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$name.warehouse",
        graft.TempDirs.create(s"graft_${name}_wh").toString)
    }
    s.conf.get(s"spark.sql.catalog.$name.warehouse")
  }

  /** Hard-link (fall back: copy) a committed version directory's DATA
    * files to `dst`, preserving the partition layout — the export half
    * of second-engine validation (q76): the exported tree holds exactly
    * the parquet files the catalog serves, no catalog metadata, so any
    * engine that reads hive-partitioned parquet can read it. */
  def exportVersionDir(src: JPath, dst: JPath): Unit = {
    if (MorDeletes.hasLive(src)) throw new IllegalStateException(
      s"$src has live merge-on-read delete entries — an exported raw " +
        "tree would resurrect the deleted rows; use " +
        "exportVersionDirMaterialized (or run CALL system." +
        "rewrite_deletes / compact first)")
    linkExportTree(src, dst, _ => true)
  }

  private def linkExportTree(src: JPath, dst: JPath,
      keep: String => Boolean): Unit =
    MetaStore.walkData(src)(_.foreach { f =>
      if (keep(src.relativize(f).toString)) {
        val out = dst.resolve(src.relativize(f))
        MetaStore.mkdirs(out.getParent)
        MetaStore.linkOrCopy(f, out)
      }
    })

  /** [[exportVersionDir]] for a version carrying LIVE merge-on-read
    * delete entries: the deletes MATERIALIZE ON THE WAY OUT. Files no
    * entry touches hard-link byte-for-byte (the common 100 TB bulk);
    * each affected file's SURVIVOR rows are rewritten into the export
    * tree under the same hive layout — the exact per-cohort split the
    * batch reader applies ([[MorDeletes.readFiles]]), so a second
    * engine (q76's DuckDB-in-the-Trino-role shape) reads the logical
    * table without the table itself paying an in-place
    * rewrite_deletes. The table's own version directory is untouched
    * — its sidecars stay live for the engine's readers. Affected-file
    * selection reuses rewrite_deletes' footer-stats may-match
    * narrowing, so a targeted delete exports with a targeted rewrite. */
  def exportVersionDirMaterialized(spark: SparkSession, src: JPath,
      dst: JPath): Unit = {
    val (schema, fields) = readMeta(src)
    exportVersionDirMaterialized(spark, src, dst, schema, fields)
  }

  /** A version's schema and partition spec. */
  private[sources] def readMeta(versionDir: JPath)
      : (StructType, Seq[PartitionField]) =
    (DataType.fromJson(MetaStore.read(versionDir.resolve("_schema.json")))
      .asInstanceOf[StructType],
      MetaStore.lines(versionDir.resolve("_partitions.txt"))
        .map(PartitionField.parseLine))

  private[sources] def exportVersionDirMaterialized(spark: SparkSession,
      src: JPath, dst: JPath, schema: StructType,
      fields: Seq[PartitionField]): Unit = {
    val es = MorDeletes.entries(src)
    val pes = MorDeletes.posEntries(src)
    if (es.isEmpty && pes.isEmpty) { linkExportTree(src, dst, _ => true); return }
    val liveRels = MetaStore.dataFiles(src)
      .map(p => src.relativize(Paths.get(p)).toString).toSet
    val stats = FileStats.load(src.getParent)
    val blooms = BloomIndex.loadIfEnabled(src.getParent, spark)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    val affected = es.flatMap { e =>
      val expr = MorDeletes.toCatalyst(e.node, attrs)
      (e.files intersect liveRels).filter(f =>
        stats.get(f).forall(FileStats.mayMatch(Seq(expr), _, schema)) &&
          blooms.get(f).forall(BloomIndex.mayMatch(Seq(expr), _)))
    }.toSet ++ pes.flatMap(_.files intersect liveRels)
    require(affected.forall(!_.startsWith("_spec-")),
      s"$src: delete entries touch legacy-spec subtrees — CALL " +
        "system.compact to materialize and unify before exporting")
    linkExportTree(src, dst, rel => !affected.contains(rel))
    if (affected.nonEmpty) {
      val df = MorDeletes.readFiles(spark, src, affected, schema)
      PartitionField.materializeDirCols(df, fields).write
        .mode("append").partitionBy(fields.map(_.dirName): _*)
        .parquet(dst.toString)
    }
  }

  /** Write `df` into `target` as a hive-partitioned parquet layout
    * under `fields` — the one write-time router shared by every path
    * that lays table rows out (batch appends/merges via
    * [[VersionedTable.writeInto]], the streaming sink's per-epoch
    * commits, which must follow the head's CURRENT spec rather than a
    * table object pinned at query start). Bucket/time-transform fields
    * materialize their hidden directory columns; fine layouts are
    * hash-clustered per [[PartitionField.clusterWrite]]; the
    * `write.target-file-size-rows` TBLPROPERTY of `tableDir` caps file
    * size. */
  private[sources] def writeLayout(spark: SparkSession, tableDir: JPath,
      target: JPath, df: org.apache.spark.sql.DataFrame,
      fields: Seq[PartitionField], mode: String,
      numFiles: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val parts = fields.map(_.dirName)
    val routed = PartitionField.materializeDirCols(df, fields)
    // `write.sort-cols` (Iceberg's write.sort-order posture): keep the
    // table's files SORTED on the named columns at write time, so the
    // commit-time footer stats (FileStats) stay tight and q94-style
    // file skipping bites on every read without a later cluster_by.
    // Unpartitioned tables RANGE-distribute first (disjoint per-file
    // ranges — the file-skipping win needs cross-file disjointness);
    // partitioned tables keep their partition clustering and sort
    // WITHIN it (partition dirs already split the space — a range
    // exchange would re-scatter dir values into tasks x dirs files).
    val props = MetaStore.readProps(tableDir) // one sidecar read per write
    val sortCols = props.get("write.sort-cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    sortCols.foreach(_.foreach { c =>
      require(routed.columns.exists(_.equalsIgnoreCase(c)),
        s"write.sort-cols column $c does not exist in the write schema " +
          s"(${df.columns.mkString(", ")})")
    })
    // numFiles (compact's target_files) pins the exchange's partition
    // count; composed with sort-cols the range exchange keeps the
    // table sorted AT the requested file count instead of compaction
    // dulling the skip index (the r14 verdict's composition ask)
    val distributed = sortCols match {
      case Some(sc) if parts.isEmpty =>
        numFiles.map(n => routed.repartitionByRange(n, sc.map(col): _*))
          .getOrElse(routed.repartitionByRange(sc.map(col): _*))
      case _ if numFiles.isDefined =>
        // partitioned: RANGE-distribute the pinned-width exchange on
        // (dir cols ++ sort cols). A bare repartition(n) scatters
        // every dir across every task (the tasks x dirs small-files
        // cliff: n x dirs files) and on a sorted table overlaps the
        // per-dir key ranges; hash-clustering on the dirs fixes that
        // but collapses parallelism to one task per dir when
        // dirs < target. The range exchange covers both ends: small
        // dirs share a task (files ~ dirs when dirs >> target), a big
        // dir spans contiguous tasks (width ~ target when
        // dirs << target) — file count <= dirs + target - 1, and the
        // within-partition sort below keeps each slice's key range
        // tight
        if (parts.isEmpty) routed.repartition(numFiles.get)
        else routed.repartitionByRange(numFiles.get,
          (parts ++ sortCols.getOrElse(Nil).filterNot(c =>
            parts.exists(_.equalsIgnoreCase(c)))).map(col): _*)
      case _ =>
        if (parts.nonEmpty && PartitionField.clusterWrite(spark, fields))
          graft.Writes.clusterByDirs(routed, parts)
        else routed
    }
    // sort by (partition dirs ++ sort cols): the writer's own required
    // ordering (partition columns first) is then already satisfied, so
    // it PRESERVES the secondary order instead of re-sorting it away
    val sorted = sortCols match {
      case Some(sc) =>
        distributed.sortWithinPartitions(
          (parts ++ sc.filterNot(c =>
            parts.exists(_.equalsIgnoreCase(c)))).map(col): _*)
      case None => distributed
    }
    val w = props.get("write.target-file-size-rows")
      .flatMap(_.toLongOption).filter(_ > 0L)
      .foldLeft(sorted.write.mode(mode)) { (wr, n) =>
        wr.option("maxRecordsPerFile", n.toString)
      }
    // `write.bloom-cols` (Iceberg's puffin-blob posture, via parquet's
    // NATIVE column bloom filters): the writer embeds a split-block
    // bloom per row group for the named columns; the commit-time
    // footer pass harvests the bitsets into `_bloomidx` so scan
    // planning can skip files on point lookups where min/max cannot
    // (uniform high-cardinality keys) — see BloomIndex.scala.
    val wb = BloomIndex.writerOptions(props, routed.schema)
      .foldLeft(w) { case (wr, (k, v)) => wr.option(k, v) }
    wb.partitionBy(parts: _*).parquet(target.toString)
  }

  /** Row-level CHANGE FEED between two snapshots — Delta's
    * `table_changes`, derived from the commit chain: for each commit
    * step the reader loads ONLY the files that commit added or
    * removed and anti-joins them both ways (`exceptAll` — exact
    * multiset semantics), so rows a rewritten file merely CARRIED
    * cancel out and the result is true row-level CDC: net inserts
    * tagged `insert`, net removals `delete` (an UPDATE appears as its
    * delete+insert pair — the contract Delta documents when no change
    * files exist). Cost prices the CHURN, not the table: a commit
    * that rewrote one bucket reads that bucket twice, never the 100
    * TB around it. Columns: the table's latest schema (older commits
    * null-fill evolved columns) + `_change_type`, `_commit_step`
    * (1 = the first commit after `fromCommitsBack`), `_commit_version`.
    * Every version in the window must still be retained — an expired
    * chain fails with the usual pointed error. */
  def tableChanges(s: SparkSession, table: String,
                   fromCommitsBack: Int, toCommitsBack: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val parts = table.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.length >= 3,
      s"table must be catalog.namespace.table, got '$table'")
    val plugin = s.sessionState.catalogManager.catalog(parts.head) match {
      case c: AtomicParquetCatalog => c
      case other => throw new IllegalArgumentException(
        s"catalog ${parts.head} is ${other.getClass.getName}, not an " +
          "AtomicParquetCatalog")
    }
    // `cat.db.tbl@branch` serves the BRANCH's change feed — the audit
    // half of write-audit-publish: table_changes over the commits a
    // branch accumulated since the fork is exactly what a fast_forward
    // would publish, reviewable before the swap
    val (baseName, branch) = AtomicParquetCatalog.splitBranch(parts.last)
    // same path-shape gate as every branch-resolving entry point: a
    // name like 'x/../_current' would otherwise normalize onto the
    // main pointer and silently serve MAIN's feed labeled as a branch
    branch.foreach(plugin.requireBranchNameShape)
    val dir = (parts.tail.dropRight(1) :+ baseName)
      .foldLeft(plugin.warehouseDir)(_.resolve(_))
    val ref = branch.map(b => s"_branch_$b")
      .getOrElse(AtomicParquetCatalog.MainRef)
    val log = plugin.versionLog(dir, ref) // newest first
    require(branch.isEmpty || log.nonEmpty,
      s"$table: no such branch '${branch.get}'")
    require(fromCommitsBack > toCommitsBack && toCommitsBack >= 0,
      s"need fromCommitsBack > toCommitsBack >= 0, got " +
        s"$fromCommitsBack > $toCommitsBack")
    require(fromCommitsBack < log.size,
      s"$table keeps ${log.size} snapshots — $fromCommitsBack commits " +
        "back is outside the retention window")
    // oldest-first chain fromCommitsBack → toCommitsBack
    val chain = log.slice(toCommitsBack, fromCommitsBack + 1).reverse
    val (latestSchema, _) = readMeta(dir.resolve(log(toCommitsBack)))
    val outCols = latestSchema.fieldNames.toSeq.map(col) ++
      Seq(col("_change_type"), col("_commit_step"), col("_commit_version"))

    /** All rows of `files` (relative paths) under `versionDir`, read
      * per layout root (the version's own layout and each `_spec-<k>`
      * legacy subtree get their own basePath), projected to the latest
      * schema with evolved columns null-filled. */
    def rowsOf(versionDir: JPath, files: Set[String]): DataFrame =
      // reads apply the VERSION'S OWN live delete entries (exact
      // per-cohort split), so a later COW rewrite does not re-report
      // rows a merge-on-read delete already removed
      MorDeletes.readFiles(s, versionDir, files, latestSchema)

    def filesOf(v: String): Set[String] = {
      val vd = dir.resolve(v)
      if (!Files.isDirectory(vd)) throw new IllegalStateException(
        s"$table: version $v is no longer retained — the change window " +
          "spans an expired snapshot")
      MetaStore.dataFiles(vd).map(f => vd.relativize(Paths.get(f)).toString).toSet
    }

    val steps = chain.sliding(2).zipWithIndex.collect {
      case (Seq(prev, next), i) =>
        val pf = filesOf(prev); val nf = filesOf(next)
        // a typed-update commit (`write.cdf.typed-updates` tables,
        // DeltaRowLevel's `_cdc_types` marker) named its preimage
        // entry and postimage files at commit time — the SQL surface
        // serves the same four-way typing as the `.changes` relation
        val (preEntries, postRels) =
          DeltaRowLevel.readCdcTypes(dir.resolve(next))
        val addedAll = rowsOf(dir.resolve(next), nf -- pf)
        val removed = rowsOf(dir.resolve(prev), pf -- nf)
        // a MERGE-ON-READ delete commit moves no files; its removed
        // rows are the PREV version's survivors matching the new
        // entry's predicate, scoped to the entry's file manifest —
        // or, for a POSITIONAL entry, exactly the rows at its ordinals
        val prevIds = MorDeletes.entries(dir.resolve(prev)).map(_.id).toSet
        val newEntries = MorDeletes.entries(dir.resolve(next))
          .filterNot(e => prevIds.contains(e.id))
        val prevPosIds =
          MorDeletes.posEntries(dir.resolve(prev)).map(_.id).toSet
        val newPos = MorDeletes.posEntries(dir.resolve(next))
          .filterNot(e => prevPosIds.contains(e.id))
        val morTyped: Seq[(DataFrame, String)] = (newEntries.map { e =>
          (rowsOf(dir.resolve(prev), e.files intersect pf)
            .where(MorDeletes.toColumn(e.node, latestSchema)),
            if (preEntries.contains(e.id)) "update_preimage" else "delete")
        } ++ newPos.map { e =>
          (MorDeletes.readDeletedRows(s, dir.resolve(prev),
            e.copy(ords = e.ords.filter(kv => pf.contains(kv._1))),
            latestSchema),
            if (preEntries.contains(e.id)) "update_preimage" else "delete")
        })
        val morDel = morTyped.collect { case (df, "delete") => df }
          .reduceOption(_ unionByName _)
        val ins = rowsOf(dir.resolve(next), (nf -- pf) -- postRels)
          .exceptAll(removed)
          .withColumn("_change_type", lit("insert"))
        val del = morDel.foldLeft(removed.exceptAll(addedAll))(_ unionByName _)
          .withColumn("_change_type", lit("delete"))
        val typedSlices =
          morTyped.collect { case (df, "update_preimage") => df }
            .reduceOption(_ unionByName _)
            .map(_.withColumn("_change_type", lit("update_preimage")))
            .toSeq ++
          (if ((nf -- pf).intersect(postRels).isEmpty) Nil
           else Seq(rowsOf(dir.resolve(next), (nf -- pf) intersect postRels)
             .withColumn("_change_type", lit("update_postimage"))))
        typedSlices.foldLeft(ins.unionByName(del))(_ unionByName _)
          .withColumn("_commit_step", lit(i + 1))
          .withColumn("_commit_version", lit(next))
          .select(outCols: _*)
    }.toSeq
    steps.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(latestSchema.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_step", IntegerType),
          StructField("_commit_version", StringType))))
    }
  }

  /** Write-audit-publish (Iceberg's WAP workflow): stage `df` as a
    * NOT-YET-VISIBLE replacement snapshot of `table`
    * (`catalog.db.tbl`), run `audit` against a reader of the staged
    * data, and only on audit success swap the pointer — with the same
    * optimistic CAS as any commit, so a writer that raced in conflicts
    * instead of being clobbered. A failing audit (or write) aborts the
    * staging directory and the committed table is NEVER touched; readers
    * at no point see unaudited rows. This is the quality-gated publish a
    * production pipeline puts in front of every curated-table swap —
    * e.g. `audit = require(df.count() > floor)` or an oracle/row-count
    * validation — expressed through the catalog's own staging machinery
    * rather than a side table + rename. */
  def writeAudited(s: SparkSession, table: String, df: DataFrame,
                   partitionedBy: Seq[String] = Nil)
                  (audit: DataFrame => Unit): Unit = {
    val parts = table.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.length >= 3,
      s"table must be catalog.namespace.table, got '$table'")
    val plugin = s.sessionState.catalogManager.catalog(parts.head) match {
      case c: AtomicParquetCatalog => c
      case other => throw new IllegalArgumentException(
        s"catalog ${parts.head} is ${other.getClass.getName}, not an " +
          "AtomicParquetCatalog")
    }
    val ident = Identifier.of(parts.tail.init.toArray, parts.last)
    val staged = plugin.stageCreateOrReplace(ident, df.schema,
      partitionedBy.map(Expressions.identity).toArray,
      java.util.Collections.emptyMap[String, String]())
      .asInstanceOf[StagedPointerTable]
    try {
      staged.writeStaged(df)
      audit(s.read.schema(df.schema).parquet(staged.stagingDir.toString))
      staged.commitStagedChanges()
    } catch {
      case e: Throwable => staged.abortStagedChanges(); throw e
    }
  }
}

class AtomicParquetCatalog extends TableCatalog with StagingTableCatalog
    with SupportsNamespaces with ProcedureCatalog with FunctionCatalog {
  import AtomicParquetCatalog.readMeta

  private var catalogName: String = _
  private var warehouse: JPath = _
  private var historyKeep: Int = 3

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null, s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(w)
    // snapshot retention: how many PREVIOUS versions stay readable via
    // `VERSION AS OF` after each commit (the current one is always kept).
    // Versions that fall off the tail are vacuumed at commit time —
    // standard lakehouse retention semantics: a reader pinned more than
    // `history` commits behind can lose its directory, exactly like an
    // expired Iceberg snapshot.
    historyKeep = Option(options.get("history")).map(_.toInt).getOrElse(3)
    require(historyKeep >= 0, s"catalog $name: history must be >= 0")
    lockStaleMs = Option(options.get("lockStaleMs")).map(_.toLong)
      .getOrElse(600000L)
    MetaStore.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  /** DEFAULT column values (`CREATE/ALTER ... DEFAULT v`) and TABLE
    * CONSTRAINTS (`ALTER TABLE ADD CONSTRAINT ... CHECK`) are
    * supported — without these declarations Spark's DDL refuses the
    * syntax before the catalog ever sees it. See the AddColumn /
    * AddConstraint handling in alterTable and [[TableConstraints]]. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private[sources] def warehouseDir: JPath = warehouse

  private def spark: SparkSession = SparkSession.active

  private def nsDir(ns: Array[String]): JPath = ns.foldLeft(warehouse)(_.resolve(_))
  private def tableDir(ident: Identifier): JPath =
    nsDir(ident.namespace).resolve(ident.name)
  private def pointer(dir: JPath): JPath = dir.resolve("_current")

  /** The pointer file IS the snapshot log: newline-separated version dir
    * names, newest first. The whole file swaps atomically at commit, so
    * history and currency can never disagree — an orphaned staging dir
    * (writer died pre-commit) never enters it.
    *
    * BRANCHES are parallel pointer logs (`_branch_<name>`, identical
    * format): a branch-bound table commits against ITS log with the
    * same CAS + retention machinery, main never moves — git semantics
    * re-expressed in the pointer-log model. Every ref's versions are
    * vacuum-protected from every OTHER ref's retention sweep, so a
    * branch can hold history main has expired and vice versa. */
  private[graft] def versionLog(dir: JPath): Seq[String] =
    versionLog(dir, AtomicParquetCatalog.MainRef)

  private[sources] def versionLog(dir: JPath, ref: String): Seq[String] =
    MetaStore.lines(dir.resolve(ref))

  /** Branch-name charset gate shared by every procedure that resolves
    * `_branch_<name>` as a path: [A-Za-z0-9_-]+ only, so a crafted
    * name ('x/../_current') can never traverse out of the branch
    * namespace. Shape-only — existence is each caller's own check. */
  private[sources] def requireBranchNameShape(b: String): Unit =
    require(b.nonEmpty && b.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-') && !b.forall(_.isDigit) &&
      !b.startsWith("v-") && b != "main",
      s"branch name '$b' must be [A-Za-z0-9_-]+, not all-digit, " +
        "not v-<uuid>-shaped, not 'main'")

  /** Live branch names of `dir` (without the `_branch_` prefix). */
  private[sources] def listBranches(dir: JPath): Seq[String] = {
    if (!Files.isDirectory(dir)) return Nil
    MetaStore.list(dir).map(_.getFileName.toString)
      .filter(n => n.startsWith("_branch_") && !n.contains(".tmp-"))
      .map(_.stripPrefix("_branch_")).sorted
  }

  /** Versions referenced by tags or by any pointer log OTHER than
    * `ref` — the set a retention sweep of `ref` must never vacuum. */
  private def protectedVersions(dir: JPath, ref: String): Set[String] = {
    val refs = (AtomicParquetCatalog.MainRef +:
      listBranches(dir).map(b => s"_branch_$b")).filterNot(_ == ref)
    readRefs(dir).values.toSet ++ refs.flatMap(versionLog(dir, _))
  }

  private def currentVersion(dir: JPath): Option[JPath] =
    versionLog(dir).headOption.map(dir.resolve)

  /** The atomic commit: prepend the new version to the snapshot log,
    * truncate to the retention window, write beside `_current`, then
    * rename onto it — same-directory POSIX rename, readers see the old
    * log or the new one, never a torn write. Versions that fell off the
    * window are deleted AFTER the swap (no new reader can resolve them).
    *
    * `expectedBase`: optimistic concurrency (Iceberg's commit-conflict
    * contract). EVERY commit carries the version that was the log head
    * when the writer loaded/staged the table (`None` = the table must
    * still not exist) — if another writer committed in between, the
    * commit FAILS with a conflict naming both versions instead of
    * silently overwriting the other writer's table (last-wins is how
    * lost updates happen). There is no unchecked path: creates assert
    * no-table, replaces and fast-appends assert their loaded version.
    *
    * The check-then-swap pair runs under `_commit.lock`, taken with
    * atomic create-if-absent and stamped with this writer's owner token.
    * A writer that dies holding the lock leaves a stale lock the next
    * committer breaks after `lockStaleMs` (default 10 min — crash
    * recovery, not contention tuning). Breaking is an atomic RENAME to a
    * unique tombstone — of N concurrent breakers exactly one wins the
    * move, so two writers can never both conclude they broke the same
    * lock and race the critical section. Release deletes the lock only
    * if it still carries OUR token, so a breaker that (wrongly, e.g. a
    * paused-but-live writer past lockStaleMs) removed our lock cannot
    * make our release delete the NEXT writer's lock and cascade the
    * race. The residual exposure — a live writer paused longer than
    * lockStaleMs inside the critical section loses mutual exclusion —
    * is inherent to lease-style crash recovery; tune lockStaleMs to the
    * deployment's pause ceiling. */
  private def commitPointer(dir: JPath, version: String,
                            expectedBase: Option[String],
                            ref: String = AtomicParquetCatalog.MainRef): Unit =
    withCommitLock(dir) {
      val old = AtomicParquetCatalog.ctime("versionLog")(versionLog(dir, ref))
      if (old.headOption != expectedBase)
        throw new java.util.ConcurrentModificationException(
          s"$dir: concurrent update detected — this write staged from " +
            s"base ${expectedBase.getOrElse("<no table>")} but the table " +
            s"is now at ${old.headOption.getOrElse("<no table>")}; re-run " +
            "the write against the current version (nothing was overwritten)")
      // carry the streaming sink's epoch ledger from the outgoing head
      // into any commit that did not write its own — a batch append
      // landing between two stream epochs must not erase the stream's
      // high watermark (the crash-replay guard) — see StreamEpochs
      old.headOption.foreach { h =>
        try AtomicParquetCatalog.ctime("epochCarry")(
          StreamEpochs.carry(dir.resolve(h), dir.resolve(version)))
        catch {
          case e: java.io.IOException =>
            // FAIL the commit, never commit without the ledger: the CAS
            // has not swapped yet, so the writer can safely retry — but
            // a commit that dropped the stream's epoch high-watermark
            // would let a crash-replayed epoch double-apply, silently
            // degrading the exactly-once sink to at-least-once
            throw new IllegalStateException(
              s"$dir: failed to carry the streaming epoch ledger from " +
                s"$h into $version — refusing to commit without it " +
                "(a dropped ledger breaks the sink's exactly-once " +
                "crash-replay guard); retry the write", e)
        }
      }
      // file-level column stats for the version's NEW data files —
      // recorded before the pointer swap so a committed version is
      // born skippable; best-effort (a failure degrades to no-skipping
      // for those files, never a failed commit)
      try AtomicParquetCatalog.ctime("fileStats")(
        FileStats.record(dir, dir.resolve(version)))
      catch {
        case e: Exception =>
          System.err.println(s"[graft-filestats] WARN: stats collection " +
            s"for $dir/$version failed (${e.getMessage}); its new files " +
            "stay unskippable")
      }
      // commit-instant marker for TIMESTAMP AS OF — written under the
      // lock so marker order always matches log order; tables from older
      // layouts fall back to the version dir's mtime on read.
      // STRICTLY monotonic per ref (max(now, prev+1)): `_commit_timestamp`
      // is what a CDC consumer orders multi-commit batches by and what
      // timestamp windows resolve against, so two commits landing in one
      // clock millisecond must never tie
      try {
        val prevMs = old.headOption
          .flatMap(h => MetaStore.committedAt(dir.resolve(h))).getOrElse(0L)
        MetaStore.write(dir.resolve(version).resolve("_committed_at"),
          String.valueOf(math.max(System.currentTimeMillis(), prevMs + 1)))
      }
      catch {
        case e: java.io.IOException =>
          // commit availability wins over marker fidelity, but say so:
          // TIMESTAMP AS OF will fall back to this version's dir mtime
          // (its staging time, EARLIER than the commit instant)
          System.err.println(s"[graft-atomic] WARN: commit-instant marker " +
            s"for $dir/$version failed (${e.getMessage}); TIMESTAMP AS OF " +
            "will approximate this snapshot by directory mtime")
      }
      AtomicParquetCatalog.ctime("swapLog")(
        swapLog(dir, version +: old, ref = ref))
      ()
    }

  /** Swap the snapshot log to `entries` truncated to the retention
    * window, then vacuum what fell off — MUST run under the commit
    * lock. The shared tail of every commit and of the maintenance
    * procedures that rewrite the log. TAGGED versions (see `_refs`) are
    * retention-exempt, Iceberg's ref semantics: they stay in the log's
    * tail (still ordinal-addressable, still listed by `.history`) and
    * are never vacuumed while the tag lives; dropping the tag leaves
    * them to the NEXT log swap's sweep. Versions referenced by ANY
    * OTHER pointer log (main from a branch sweep, every branch from
    * main's) are equally exempt — a ref can never vacuum another ref's
    * history. Returns `(deleted, kept)` — the versions actually
    * vacuumed and actually retained (exempt survivors included), so
    * callers report reality, not arithmetic. */
  private def swapLog(dir: JPath, entries: Seq[String],
                      keep: Int = historyKeep,
                      ref: String = AtomicParquetCatalog.MainRef,
                      keepNewerThanMs: Option[Long] = None)
      : (Seq[String], Seq[String]) = {
    val pinned = protectedVersions(dir, ref)
    val (window, tail) = entries.splitAt(keep + 1)
    // `older_than` (Iceberg's expire_snapshots semantics): age shields
    // a version beyond the count window — only snapshots committed
    // strictly before the cutoff expire
    def youngEnough(v: String): Boolean =
      keepNewerThanMs.exists(_ <= versionCommitMs(dir, v))
    val kept = window ++ tail.filter(v => pinned(v) || youngEnough(v))
    MetaStore.replace(dir.resolve(ref), kept.mkString("\n"))
    val deleted = tail.filterNot(v => pinned(v) || youngEnough(v))
    deleted.foreach(v => MetaStore.deleteTree(dir.resolve(v)))
    (deleted, kept)
  }

  /** A version's commit time in epoch millis; an unknowable one keeps
    * the version. */
  private def versionCommitMs(dir: JPath, v: String): Long =
    MetaStore.committedAt(dir.resolve(v)).getOrElse(Long.MaxValue)

  /** Named snapshot refs (tags): `_refs` holds `name<TAB>version` lines,
    * swapped atomically like the pointer; tag writes happen under the
    * commit lock. Tag names resolve in `VERSION AS OF '<name>'` and
    * shield their version from retention vacuum. */
  private[graft] def readRefs(dir: JPath): Map[String, String] =
    MetaStore.tsvMap(dir.resolve("_refs"))

  /** Persisted TABLE PROPERTIES ([[MetaStore.readProps]]): the
    * `TBLPROPERTIES` surface a lakehouse table owes its operators
    * (`write.delete.mode = merge-on-read` is the load-bearing one —
    * see MorDeletes). Reserved catalog keys (provider/location/owner)
    * are never persisted. */
  private def writeProps(dir: JPath, props: Map[String, String]): Unit = {
    MetaStore.mkdirs(dir)
    MetaStore.replace(dir.resolve("_props"),
      props.toSeq.sorted.map { case (n, v) => s"$n\t$v" }.mkString("\n"))
  }

  private val reservedProps =
    Set("provider", "location", "owner", "external", "path")

  private def persistableProps(
      properties: java.util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.filter { case (k, _) =>
      !reservedProps.contains(k.toLowerCase) &&
        !k.toLowerCase.startsWith("option.")
    }

  private def writeRefs(dir: JPath, refs: Map[String, String]): Unit =
    MetaStore.replace(dir.resolve("_refs"),
      refs.toSeq.sorted.map { case (n, v) => s"$n\t$v" }.mkString("\n"))

  private def withCommitLock[A](dir: JPath)(body: => A): A = {
    val lock = dir.resolve("_commit.lock")
    val owner = UUID.randomUUID().toString
    def acquire(retriesLeft: Int): Unit = {
      if (!MetaStore.createNew(lock, owner)) {
        val age = try System.currentTimeMillis() -
          Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.io.IOException => 0L } // lock just released
        if (age > lockStaleMs) {
          // atomic break-by-rename: exactly one of N concurrent breakers
          // wins the move and proceeds; the losers find the lock gone and
          // simply re-race on createFile
          val tomb = dir.resolve(s"_commit.lock.broken-${UUID.randomUUID()}")
          try { MetaStore.move(lock, tomb, StandardCopyOption.ATOMIC_MOVE)
                MetaStore.delete(tomb); () }
          catch { case _: java.io.IOException => () }
          if (retriesLeft > 0) acquire(retriesLeft - 1)
          else throw new java.util.ConcurrentModificationException(
            s"$dir: could not break stale commit lock $lock")
        } else if (retriesLeft > 0) {
          Thread.sleep(50); acquire(retriesLeft - 1)
        } else throw new java.util.ConcurrentModificationException(
          s"$dir: another writer holds $lock; retry the commit")
      }
    }
    acquire(200) // ~10 s of 50 ms waits before giving up on a live lock
    try body
    finally {
      // delete only OUR lock: if a breaker removed it and another writer
      // acquired, the token no longer matches and we must not cascade
      try {
        if (Files.exists(lock) && MetaStore.read(lock) == owner)
          MetaStore.delete(lock)
      } catch { case _: java.io.IOException => () }
      ()
    }
  }

  /** Stale-lock breaker age; overridable per catalog via the
    * `lockStaleMs` option for tests. */
  private var lockStaleMs: Long = 600000L

  private def writeMeta(versionDir: JPath, schema: StructType,
                        fields: Seq[PartitionField]): Unit = {
    MetaStore.mkdirs(versionDir)
    MetaStore.write(versionDir.resolve("_schema.json"), schema.json)
    MetaStore.write(versionDir.resolve("_partitions.txt"),
      PartitionField.serialize(fields))
  }

  /** Legacy partition specs of a MIXED-SPEC version — the sidecar
    * metadata-only spec evolution leaves behind: `_legacy_specs.txt`
    * holds one `subtree<TAB>spec` line per prior layout whose files
    * still live (hard-linked, never rewritten) under the version's
    * `_spec-<k>/` subtree. Absent file = single-spec version (every
    * pre-evolution table), zero behavior change. */
  private[sources] def readLegacySpecs(versionDir: JPath)
      : Seq[(String, Seq[PartitionField])] = {
    MetaStore.lines(versionDir.resolve("_legacy_specs.txt")).map { l =>
        // an UNPARTITIONED legacy layout serializes as `sub<TAB>` —
        // the trim above eats the trailing tab, so a tab-less line is
        // that spec (empty field list), not a malformed file
        l.indexOf('\t') match {
          case -1 => l -> Seq.empty[PartitionField]
          case i => l.substring(0, i) ->
            PartitionField.parseSpecString(l.substring(i + 1))
        }
      }
  }

  private def writeLegacySpecs(versionDir: JPath,
      specs: Seq[(String, Seq[PartitionField])]): Unit =
    if (specs.nonEmpty)
      MetaStore.write(versionDir.resolve("_legacy_specs.txt"),
        specs.map { case (sub, fs) =>
          s"$sub\t${fs.map(PartitionField.show).mkString(", ")}"
        }.mkString("\n"))

  /** Carry a version's legacy-spec sidecar into a successor version
    * whose data files were hard-linked from it — every metadata-only
    * commit path (fast-append, schema evolution, rollback, clone) owes
    * this, or the successor's reads would silently drop the legacy
    * subtrees' rows. */
  private[sources] def carryLegacySpecs(from: JPath, to: JPath): Unit = {
    val f = from.resolve("_legacy_specs.txt")
    if (Files.exists(f))
      MetaStore.copy(f, to.resolve("_legacy_specs.txt"),
        StandardCopyOption.REPLACE_EXISTING)
  }


  /** Partition transforms a parquet directory layout can express:
    * `identity(col)` (a directory level per value) and `bucket(n, col)`
    * (a HIDDEN `_gb_col=<pmod(hash(col), n)>` directory level — the
    * high-cardinality-key strategy; see [[GraftBucketFunction]]).
    * Validated against `schema`: every source column must exist, bucket
    * keys must be hashable scalars, and a schema column may not collide
    * with a bucket's hidden directory name. */
  private def parsePartitionTransforms(transforms: Array[Transform],
                                       schema: StructType): Seq[PartitionField] = {
    val fields = transforms.toSeq.map { t =>
      t.name match {
        case "identity" =>
          IdentityPart(t.references()(0).fieldNames().mkString("."))
        case "bucket" =>
          require(t.references().length == 1,
            s"bucket over multiple columns is not supported, got $t")
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Int] => l.value().asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform carries no INT bucket count: $t"))
          BucketPart(n, t.references()(0).fieldNames().mkString("."))
        case "truncate" =>
          require(t.references().length == 1,
            s"truncate over multiple columns is not supported, got $t")
          val w = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Int] => l.value().asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"truncate transform carries no INT width: $t"))
          TruncatePart(w, t.references()(0).fieldNames().mkString("."))
        case u @ ("days" | "hours" | "months" | "years") =>
          PartitionField.timePart(u, t.references()(0).fieldNames().mkString("."))
        case other => throw new IllegalArgumentException(
          s"AtomicParquetCatalog supports identity, bucket, truncate and " +
            s"the years/months/days/hours time transforms only, got $other in $t")
      }
    }
    validatePartitionFields(fields, schema)
    fields
  }

  /** Spec-vs-schema validation shared by CREATE/REPLACE and the
    * `rewrite_layout` procedure: every source column exists, transform
    * key types are supported, hidden directory names don't collide. */
  private def validatePartitionFields(fields: Seq[PartitionField],
                                      schema: StructType): Unit = {
    fields.foreach { f =>
      val col = schema.fields.find(_.name.equalsIgnoreCase(f.srcCol))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column ${f.srcCol} is not in the table schema"))
      f match {
        case b: BucketPart =>
          require(GraftBucketFunction.supports(col.dataType),
            s"bucket(${b.numBuckets}, ${b.col}): ${col.dataType.simpleString} " +
              "keys are not bucketable (supported: tinyint/smallint/int/" +
              "bigint/string/date/timestamp)")
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(b.dirName)),
            s"schema column ${b.dirName} collides with bucket(${b.col})'s " +
              "hidden directory column")
        case tr: TruncatePart =>
          require(GraftTruncateFunction.supports(col.dataType),
            s"truncate(${tr.width}, ${tr.col}): ${col.dataType.simpleString} " +
              "keys are not truncatable (supported: tinyint/smallint/int/" +
              "bigint/string)")
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(tr.dirName)),
            s"schema column ${tr.dirName} collides with " +
              s"truncate(${tr.col})'s hidden directory column")
        case t: TimeTransformPart =>
          require(t.fn.supports(col.dataType),
            s"${t.unit}(${t.col}): ${col.dataType.simpleString} has no " +
              s"${t.unit.dropRight(1)} — " +
              (if (t.unit == "hours") "timestamp only"
               else "timestamp or date only"))
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(t.dirName)),
            s"schema column ${t.dirName} collides with ${t.unit}(${t.col})'s " +
              "hidden directory column")
        case _ => ()
      }
    }
  }

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    MetaStore.list(d)
      .filter(p => Files.exists(pointer(p)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // `t@branch` binds the table to a BRANCH pointer log: reads serve
    // the branch head, writes (appends, MERGE/UPDATE/DELETE, overwrite)
    // CAS the branch log — main never moves. Iceberg/Delta's branch
    // workflow in this catalog's model; `CALL system.fast_forward`
    // publishes a branch back to main.
    val (baseName, branch) = AtomicParquetCatalog.splitBranch(ident.name)
    branch.foreach { b =>
      val baseIdent = Identifier.of(ident.namespace, baseName)
      val dir = tableDir(baseIdent)
      val ref = s"_branch_$b"
      val head = versionLog(dir, ref).headOption.getOrElse {
        if (Files.exists(pointer(dir))) throw new IllegalArgumentException(
          s"$baseIdent has no branch '$b' — create it with " +
            s"CALL $catalogName.system.create_branch('" +
            s"${(ident.namespace :+ baseName).mkString(".")}', '$b')")
        else throw new NoSuchTableException(baseIdent)
      }
      val versionDir = dir.resolve(head)
      val (schema, parts) = readMeta(versionDir)
      return new PointerTable(this, ident, dir, versionDir, schema, parts,
        readLegacySpecs(versionDir), ref = ref)
    }
    val dir = tableDir(ident)
    currentVersion(dir) match {
      case Some(version) =>
        val (schema, parts) = readMeta(version)
        new PointerTable(this, ident, dir, version, schema, parts,
          readLegacySpecs(version))
      case None =>
        metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Iceberg-style metadata tables: `SELECT * FROM cat.db.tbl.history`
    * (the snapshot log — ordinal 0 = current, matching `VERSION AS OF`'s
    * commits-back numbering, commit instant, file count/bytes),
    * `cat.db.tbl.files` (the current snapshot's data files with their
    * partition paths), `cat.db.tbl.partitions` (per-partition
    * file/row/byte totals from parquet footers), `cat.db.tbl.refs`
    * (tags) and `cat.db.tbl.stats` (ANALYZE sidecar). A multipart
    * identifier whose LAST part is the
    * metadata name resolves here only when no real table shadows it and
    * the prefix names a committed table — same resolution rule Iceberg
    * uses. Both are driver-materialized [[LocalScanTable]]s: the snapshot
    * log is bounded by the retention window and a file listing of one
    * version directory, never a data scan. */
  private def metadataTable(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
    // a branch-ref parent (`db.\`t@branch\`.changes`) is honored for
    // the CHANGE FEED only — the audit tail of WAP wants the branch's
    // typed commits; every other metadata table stays main-bound
    // rather than silently serving main's data under a branch label
    val (pBase, pBranch) = AtomicParquetCatalog.splitBranch(parent.name)
    if (pBranch.isDefined && ident.name.toLowerCase != "changes")
      return None
    pBranch.foreach(requireBranchNameShape)
    val pdir = nsDir(ident.namespace.init).resolve(pBase)
    if (!Files.exists(pointer(pdir))) return None

    def dataFiles(v: JPath): Seq[JPath] = MetaStore.walkData(v)(_.toList)

    def commitMs(v: String): Long =
      MetaStore.committedAt(pdir.resolve(v)).getOrElse(0L)

    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    ident.name.toLowerCase match {
      case "history" =>
        val schema = StructType(Seq(
          StructField("ordinal", IntegerType, nullable = false),
          StructField("version", StringType, nullable = false),
          StructField("committed_at", TimestampType, nullable = false),
          StructField("is_current", BooleanType, nullable = false),
          StructField("n_data_files", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false)))
        Some(new LocalScanTable(s"$parent.history", schema, () =>
          versionLog(pdir).zipWithIndex.map { case (v, i) =>
            val fs = dataFiles(pdir.resolve(v))
            org.apache.spark.sql.catalyst.InternalRow(
              i, UTF8String.fromString(v), commitMs(v) * 1000L, i == 0,
              fs.size.toLong, fs.map(Files.size).sum)
          }))
      case "branches" =>
        val schema = StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("head", StringType, nullable = false),
          StructField("n_commits_ahead", IntegerType, nullable = false)))
        Some(new LocalScanTable(s"$parent.branches", schema, () => {
          val main = versionLog(pdir).toSet
          listBranches(pdir).map { b =>
            val bl = versionLog(pdir, s"_branch_$b")
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(b),
              UTF8String.fromString(bl.headOption.getOrElse("")),
              bl.takeWhile(!main.contains(_)).size)
          }
        }))
      case "refs" =>
        val schema = StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", StringType, nullable = false),
          StructField("ordinal", IntegerType, nullable = true)))
        Some(new LocalScanTable(s"$parent.refs", schema, () => {
          val log = versionLog(pdir)
          readRefs(pdir).toSeq.sortBy(_._1).map { case (n, v) =>
            val ord = log.indexOf(v)
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(n), UTF8String.fromString(v),
              if (ord < 0) null else ord)
          }
        }))
      case "changes" =>
        // the row-level change feed as a readable AND streamable
        // relation (ChangelogRead.scala): batch = the retained
        // window's typed changes, readStream = the admission-
        // controlled changelog tail; a branch-ref parent tails the
        // BRANCH's pointer log (the audit half of WAP, streaming form)
        val ref = pBranch.map(b => s"_branch_$b")
          .getOrElse(AtomicParquetCatalog.MainRef)
        val blog = versionLog(pdir, ref)
        require(pBranch.isEmpty || blog.nonEmpty,
          s"$parent: no such branch '${pBranch.get}'")
        val cur = pdir.resolve(blog.headOption.getOrElse(
          return None)) // empty main log: no committed table yet
        val (tblSchema, _) = readMeta(cur)
        Some(new ChangelogTable(s"$parent.changes", pdir, tblSchema,
          () => versionLog(pdir, ref)))
      case "deletes" =>
        // live merge-on-read delete entries of the CURRENT snapshot —
        // the operator's view of what rewrite_deletes would materialize
        // n_matched: the entry's exact removed-row count when known
        // (positional ordinals; the funnel-persisted equality count) —
        // null for count-less entries, i.e. exactly the entries that
        // refuse the pushed COUNT(*) fast path (the operator's signal
        // that a rewrite_deletes would restore it)
        val schema = StructType(Seq(
          StructField("id", StringType, nullable = false),
          StructField("predicate", StringType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("n_matched", LongType, nullable = true)))
        Some(new LocalScanTable(s"$parent.deletes", schema, () => {
          val cur = currentVersion(pdir).get
          val (tblSchema, _) = readMeta(cur)
          MorDeletes.entries(cur).map { e =>
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(e.id),
              UTF8String.fromString(MorDeletes.show(e.node, tblSchema)),
              e.files.size.toLong,
              e.matched.map(Long.box).orNull)
          } ++ MorDeletes.posEntries(cur).map { e =>
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(e.id),
              UTF8String.fromString(
                s"POSITIONAL (${e.nRows} rows in ${e.files.size} files)"),
              e.files.size.toLong,
              Long.box(e.nRows))
          }
        }))
      case "stats" =>
        // the current snapshot's ANALYZE sidecar (empty until
        // `CALL system.analyze` runs on it — stats are per-snapshot, so
        // a new commit starts statless rather than serving stale ones)
        val schema = StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("n_nulls", LongType, nullable = false),
          StructField("n_distinct", LongType, nullable = false),
          StructField("min_value", StringType, nullable = true),
          StructField("max_value", StringType, nullable = true)))
        Some(new LocalScanTable(s"$parent.stats", schema, () => {
          val f = currentVersion(pdir).get.resolve("_stats")
          if (!Files.exists(f)) Nil
          else {
            val all = MetaStore.read(f).split("\n").toSeq
            val nRows = all.head.trim.toLong
            def dec(s: String): UTF8String =
              if (s == "n") null
              else UTF8String.fromString(new String(
                java.util.Base64.getDecoder.decode(s.substring(1)), "UTF-8"))
            all.tail.map { l =>
              val p = l.split("\t", 5)
              org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(p(0)), nRows, p(1).toLong,
                p(2).toLong, dec(p(3)), dec(p(4)))
            }
          }
        }))
      case "partitions" =>
        // Iceberg's `tbl.partitions`: per-partition file/row/byte totals
        // of the CURRENT snapshot. Row counts come from parquet FOOTERS
        // (metadata pages), never a data scan — the partition-health
        // check (skew, small files) a maintenance job runs before
        // choosing what to compact, priced at one footer read per file.
        val schema = StructType(Seq(
          StructField("partition_path", StringType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false)))
        Some(new LocalScanTable(s"$parent.partitions", schema, () => {
          val v = currentVersion(pdir).get
          // an unreadable footer PROPAGATES (with the file named): this
          // is a maintenance surface meant to DETECT problems — a
          // corrupt file reading as "0 rows" would hide exactly what
          // the partition-health check exists to find
          def rowsOf(f: JPath): Long =
            try {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(f.toUri),
                  new org.apache.hadoop.conf.Configuration())
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            } catch {
              case e: Exception => throw new RuntimeException(
                s"$parent.partitions: unreadable parquet footer $f", e)
            }
          dataFiles(v).groupBy(f =>
            Option(v.relativize(f).getParent).map(_.toString).getOrElse(""))
            .toSeq.sortBy(_._1).map { case (p, fs) =>
              org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(p), fs.size.toLong,
                fs.map(rowsOf).sum, fs.map(Files.size).sum)
            }
        }))
      case "files" =>
        val schema = StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("partition_path", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("row_count", LongType, nullable = true),
          StructField("skipping_stats", StringType, nullable = true),
          StructField("bloom_cols", StringType, nullable = true)))
        Some(new LocalScanTable(s"$parent.files", schema, () => {
          val v = currentVersion(pdir).get
          // footer-stats + bloom sidecars joined in for observability:
          // the operator sees per-file row counts, which columns carry
          // skippable min/max and which carry a harvested bloom filter
          // without opening a single footer
          val fstats = FileStats.load(pdir)
          val blooms = BloomIndex.load(pdir)
          dataFiles(v).map { f =>
            val rel = v.relativize(f)
            val st = fstats.get(rel.toString)
            val bf = blooms.get(rel.toString)
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(rel.toString),
              UTF8String.fromString(
                Option(rel.getParent).map(_.toString).getOrElse("")),
              Files.size(f),
              st.map(s => java.lang.Long.valueOf(s.rows)).orNull,
              st.map(s => UTF8String.fromString(
                s.cols.keys.toSeq.sorted.mkString(","))).orNull,
              bf.map(b => UTF8String.fromString(
                b.keys.toSeq.sorted.mkString(","))).orNull)
          }
        }))
      case _ => None
    }
  }

  /** Time travel (`SELECT ... FROM t VERSION AS OF k`): `k` counts
    * commits BACK from the current snapshot (0 = current, 1 = previous,
    * ...), or names an exact `v-<uuid>` directory from the snapshot log.
    * Only versions still inside the retention window resolve; a pruned
    * (vacuumed) version raises the same missing-version error an expired
    * lakehouse snapshot would. Reads of a prior version serve its pinned
    * immutable directory with the same pushdown/pruning as current. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // time travel within a branch: `t@b VERSION AS OF k` resolves the
    // ordinal/uuid against the BRANCH's own log
    val (baseName, branch) = AtomicParquetCatalog.splitBranch(ident.name)
    val dir = tableDir(branch.fold(ident)(_ =>
      Identifier.of(ident.namespace, baseName)))
    val log = branch.fold(versionLog(dir))(b =>
      versionLog(dir, s"_branch_$b"))
    if (log.isEmpty) throw new NoSuchTableException(ident)
    val v = version.trim
    // tags resolve first (their names are barred from the v-/digit forms
    // at creation, so the spaces cannot collide); a tagged version is
    // retention-exempt and therefore always still in the log
    val refs = readRefs(dir)
    val resolved =
      if (refs.contains(v)) refs.get(v).filter(log.contains)
      // a live BRANCH name resolves to its head (Iceberg's
      // `VERSION AS OF 'branch'` read) — the head dir is protected by
      // the branch log, so it exists even when main expired it
      else if (listBranches(dir).contains(v))
        versionLog(dir, s"_branch_$v").headOption
      else if (v.startsWith("v-")) log.find(_ == v)
      else scala.util.Try(v.toInt).toOption.filter(_ >= 0).flatMap(log.lift)
    val versionDir = resolved.map(dir.resolve).getOrElse(
      throw new IllegalArgumentException(
        s"$ident has no snapshot '$version' in its retention window " +
          s"(${log.size} snapshots kept: ${log.mkString(", ")}; tags: " +
          s"${refs.keys.toSeq.sorted.mkString(", ")}; branches: " +
          s"${listBranches(dir).mkString(", ")}); pass 0..n commits " +
          "back, an exact v-<uuid> from the log, a tag or a branch name"))
    val (schema, parts) = readMeta(versionDir)
    // a historical read serves the pinned immutable directory; writes
    // through it would silently rewrite history, so they are refused
    new PointerTable(this, ident, dir, versionDir, schema, parts,
      readLegacySpecs(versionDir), historical = true)
  }

  /** Time travel (`SELECT ... FROM t TIMESTAMP AS OF ts`): Spark hands
    * the instant as MICROseconds since epoch; resolve the NEWEST snapshot
    * whose commit instant (the `_committed_at` marker written under the
    * commit lock; version-dir mtime for pre-marker layouts) is at or
    * before it — Iceberg's timestamp-travel rule. Same retention-window
    * boundary as `VERSION AS OF`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    val log = versionLog(dir)
    if (log.isEmpty) throw new NoSuchTableException(ident)
    val tsMs = timestamp / 1000L
    def commitMs(v: String): Long =
      MetaStore.committedAt(dir.resolve(v)).getOrElse(Long.MaxValue)
    // log is newest-first: the first entry at or before ts is the answer
    val resolved = log.find(v => commitMs(v) <= tsMs).getOrElse(
      throw new IllegalArgumentException(
        s"$ident has no snapshot committed at or before epoch-ms $tsMs " +
          s"in its retention window (${log.size} snapshots kept; oldest " +
          s"commit ${log.lastOption.map(commitMs).getOrElse(-1L)} ms)"))
    val versionDir = dir.resolve(resolved)
    val (schema, parts) = readMeta(versionDir)
    new PointerTable(this, ident, dir, versionDir, schema, parts,
      readLegacySpecs(versionDir), historical = true)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (baseName, branch) = AtomicParquetCatalog.splitBranch(ident.name)
    branch match {
      case Some(b) => versionLog(
        tableDir(Identifier.of(ident.namespace, baseName)),
        s"_branch_$b").nonEmpty
      case None => Files.exists(pointer(tableDir(ident)))
    }
  }

  /** The Column[] create path: Spark's DEFAULT implementation of this
    * variant converts columns to a StructType and DROPS the identity
    * spec on the floor — overridden so IDENTITY (and comment/DEFAULT)
    * metadata survives into `_schema.json`. See [[IdentityColumns]]. */

  /** DDL (create/alter/drop/rename/stage) targets the TABLE — a
    * branch-bound `t@b` identifier is a read/write binding, and
    * letting it through would silently create a table literally named
    * "t@b". Refused pointedly. */
  private def refuseBranchIdent(ident: Identifier, op: String): Unit =
    if (ident.name.contains('@')) throw new UnsupportedOperationException(
      s"$ident: $op cannot target a branch-bound identifier — metadata " +
        "is table-level; strip the '@branch' suffix")

  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    createTable(ident, StructType(columns.map(IdentityColumns.toField)),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    refuseBranchIdent(ident, "CREATE TABLE")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = tableDir(ident)
    val version = s"v-${UUID.randomUUID()}"
    writeMeta(dir.resolve(version), schema,
      parsePartitionTransforms(partitions, schema))
    val props = persistableProps(properties)
    if (props.nonEmpty) writeProps(dir, props)
    commitPointer(dir, version, expectedBase = None)
    loadTable(ident)
  }

  /** Schema evolution as a METADATA-ONLY snapshot: `ALTER TABLE ... ADD
    * COLUMN / DROP COLUMN` commits a fresh version whose data files are
    * the prior version's HARD LINKS (no data copy — the fast-append
    * mechanism) under an evolved `_schema.json`, CAS'd like any commit.
    * Reads resolve schema-on-read: an added column is absent from the
    * linked parquet files and surfaces as null for pre-evolution rows; a
    * dropped column simply leaves the read schema. Prior snapshots keep
    * their own `_schema.json`, so `VERSION AS OF` across the evolution
    * boundary serves each version under the schema it was written with.
    *
    * Honest boundaries, refused with pointed errors: RENAME (parquet
    * binds columns by NAME — without Iceberg-style field ids a rename
    * would silently null the old data), type changes (the reader would
    * have to rewrite pages), NOT NULL adds (linked files cannot satisfy
    * the constraint), nested fields, and dropping a partition column
    * (the directory layout embeds it). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    refuseBranchIdent(ident, "ALTER TABLE")
    val dir = tableDir(ident)
    val cur = currentVersion(dir)
      .getOrElse(throw new NoSuchTableException(ident))
    // SET / UNSET TBLPROPERTIES and ADD/DROP CONSTRAINT: table-level
    // sidecar swaps under the commit lock, no new snapshot (see
    // readProps / TableConstraints) — split out before the schema
    // fold, which owns the remaining change kinds
    val (tableLevel, schemaChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    val (constraintChanges, propChanges) = tableLevel.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    // PRIMARY KEY validation BEFORE the sidecar write: a failed require
    // after TableConstraints.write would leave a phantom constraint
    // behind the failed ALTER. Column existence always; for a PK added
    // WITHOUT RELY additionally a NULL-count scan — the non-null flip
    // below feeds the optimizer and the merge-on-read row-id path, so
    // flipping over pre-existing NULLs would silently corrupt reads.
    // RELY skips the scan (the user asserts the trust — Iceberg's
    // identifier-field posture). The scan runs OUTSIDE the commit lock
    // (a table-sized scan must not block every writer), so the persist
    // step below re-checks the head under the lock and RE-VALIDATES if
    // a write landed in between — the scan proved nothing about rows
    // it never saw.
    // the fold itself — caller must HOLD the commit lock
    def persistConstraintChangesLocked(): Unit = {
      val next = constraintChanges.foldLeft(
        TableConstraints.read(dir).toSeq) { (cs, c) =>
        c match {
          case a: TableChange.AddConstraint =>
            val con = a.constraint()
            require(!cs.exists(_.name().equalsIgnoreCase(con.name())),
              s"$ident: constraint ${con.name()} already exists")
            // enforced UNIQUE/PK would need a global shuffle per write;
            // Spark's own DDL only produces them NOT ENFORCED — refuse
            // anything else pointedly rather than silently not enforcing
            con match {
              case _: org.apache.spark.sql.connector.catalog.constraints.Check =>
              case other => require(!other.enforced(),
                s"$ident: ${other.toDDL} ENFORCED is not supported — " +
                  "PRIMARY KEY / UNIQUE are informational (NOT ENFORCED)")
            }
            cs :+ con
          case d: TableChange.DropConstraint =>
            if (!cs.exists(_.name().equalsIgnoreCase(d.name()))) {
              if (d.ifExists) cs
              else throw new IllegalArgumentException(
                s"$ident: no such constraint ${d.name()}")
            } else cs.filterNot(_.name().equalsIgnoreCase(d.name()))
          case _ => cs
        }
      }
      TableConstraints.write(dir, next)
    }
    if (constraintChanges.nonEmpty) {
      val addedPks = constraintChanges.collect {
        case a: TableChange.AddConstraint => a.constraint()
      }.collect {
        case pk: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey => pk
      }
      if (addedPks.isEmpty)
        withCommitLock(dir)(persistConstraintChangesLocked())
      else {
        val cols = addedPks.flatMap(_.columns().toSeq
          .map(_.fieldNames().mkString(".")))
        var persisted = false
        var attempts = 0
        while (!persisted) {
          attempts += 1
          val scanHead = currentVersion(dir)
            .getOrElse(throw new NoSuchTableException(ident))
          val (schemaNow, _) = readMeta(scanHead)
          cols.foreach { c => require(
            schemaNow.fieldNames.exists(_.equalsIgnoreCase(c)),
            s"$ident: PRIMARY KEY column $c does not exist") }
          if (addedPks.exists(!_.rely())) {
            import org.apache.spark.sql.functions.{col => fcol}
            val nulls = readVersionDf(scanHead, schemaNow)
              .where(cols.map(fcol(_).isNull).reduce(_ || _))
              .limit(1).count()
            require(nulls == 0L,
              s"$ident: PRIMARY KEY (${cols.mkString(", ")}) declared " +
                "over existing NULL key values — clean the data first, " +
                "or add the constraint with RELY to assert the data is " +
                "clean without a scan")
          }
          persisted = withCommitLock(dir) {
            if (currentVersion(dir).map(_.getFileName.toString) !=
                Some(scanHead.getFileName.toString)) false // re-scan
            else {
              persistConstraintChangesLocked(); true
            }
          }
          if (!persisted && attempts >= 5) throw new IllegalStateException(
            s"$ident: could not validate the PRIMARY KEY — a racing " +
              "writer advanced the table on every attempt; retry the " +
              "ALTER when the write load settles")
        }
      }
    }
    // PRIMARY KEY implies NOT NULL (RELY semantics — the same trust
    // Iceberg places in identifier fields): flip the declared columns
    // non-nullable in a METADATA-ONLY snapshot, so the optimizer and
    // the merge-on-read row-level path (Spark refuses nullable row ids
    // outright, NULLABLE_ROW_ID_ATTRIBUTES) can lean on the key.
    // Outside the constraint lock — commitVersion takes it itself.
    val pkCols = constraintChanges.collect {
      case a: TableChange.AddConstraint => a.constraint()
    }.collect {
      case pk: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
        pk.columns().toSeq.map(_.fieldNames().mkString("."))
    }.flatten
    if (pkCols.nonEmpty) {
      var flipped = false
      var attempts = 0
      while (!flipped) {
        attempts += 1
        val base = currentVersion(dir).getOrElse(
          throw new NoSuchTableException(ident))
        val (schema0, flds) = readMeta(base)
        pkCols.foreach { c => require(
          schema0.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"$ident: PRIMARY KEY column $c does not exist") }
        val evolvedPk = StructType(schema0.fields.map { f =>
          if (pkCols.exists(_.equalsIgnoreCase(f.name))) f.copy(nullable = false)
          else f
        })
        if (evolvedPk == schema0) flipped = true // already non-null
        else {
          val v = s"v-${UUID.randomUUID()}"
          val nv = dir.resolve(v)
          writeMeta(nv, evolvedPk, flds)
          linkDataFiles(base, nv)
          carryLegacySpecs(base, nv)
          MorDeletes.carry(base, nv)
          try {
            commitVersion(dir, v,
              expectedBase = Some(base.getFileName.toString))
            flipped = true
          } catch {
            case e: java.util.ConcurrentModificationException =>
              dropOrphan(nv)
              if (attempts >= 5) throw e // a racing commit each round
            case e: Throwable => dropOrphan(nv); throw e
          }
        }
      }
    }
    if (propChanges.nonEmpty) withCommitLock(dir) {
      val next = propChanges.foldLeft(MetaStore.readProps(dir)) { (ps, c) =>
        c match {
          case s: TableChange.SetProperty =>
            require(!reservedProps.contains(s.property.toLowerCase),
              s"$ident: property ${s.property} is reserved")
            ps + (s.property -> s.value)
          case r: TableChange.RemoveProperty => ps - r.property
          case _ => ps
        }
      }
      writeProps(dir, next)
    }
    if (schemaChanges.isEmpty) return loadTable(ident)
    val (schema0, fields) = readMeta(cur)
    val evolved = schemaChanges.foldLeft(schema0) { (s, change) =>
      change match {
        case a: TableChange.AddColumn =>
          require(a.fieldNames.length == 1, s"$ident: nested ADD COLUMN " +
            s"(${a.fieldNames.mkString(".")}) is not supported")
          val name = a.fieldNames()(0)
          require(a.isNullable, s"$ident: ADD COLUMN $name NOT NULL is " +
            "unsatisfiable — existing snapshots have no values for it; " +
            "add it nullable, backfill, then enforce in a rewrite")
          require(!s.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"$ident: column $name already exists")
          // ADD COLUMN ... DEFAULT <v>: METADATA-ONLY — the default
          // rides in the field's metadata under Spark's own keys:
          // CURRENT_DEFAULT (the declared SQL, for future inserts that
          // omit the column) and EXISTS_DEFAULT (the value FOLDED AT
          // ADD TIME, which Spark's parquet readers serve for the
          // column's absence in files that predate it). A 100 TB table
          // gains a defaulted column with zero rewrite — the
          // Iceberg/Delta default-value semantics.
          val field = Option(a.defaultValue()) match {
            case Some(dv) =>
              import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              val folded = org.apache.spark.sql.catalyst.expressions
                .Literal(dv.getValue.value, dv.getValue.dataType).sql
              val md = new org.apache.spark.sql.types.MetadataBuilder()
                .putString(
                  ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
                  Option(dv.getSql).getOrElse(folded))
                .putString(
                  ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
                  folded)
                .build()
              org.apache.spark.sql.types.StructField(name, a.dataType,
                nullable = true, metadata = md)
            case None => org.apache.spark.sql.types.StructField(name,
              a.dataType, nullable = true)
          }
          // honor FIRST / AFTER x — appending silently would bind later
          // positional INSERTs to the wrong columns
          import org.apache.spark.sql.connector.catalog.TableChange._
          val idx = a.position() match {
            case null => s.fields.length
            case _: First => 0
            case after: After =>
              val i = s.fieldNames.indexWhere(_.equalsIgnoreCase(after.column()))
              require(i >= 0, s"$ident: ADD COLUMN $name AFTER " +
                s"${after.column()} — no such column")
              i + 1
            case other => throw new UnsupportedOperationException(
              s"$ident: unsupported column position $other")
          }
          StructType((s.fields.take(idx) :+ field) ++ s.fields.drop(idx))
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1, s"$ident: nested DROP COLUMN " +
            s"(${d.fieldNames.mkString(".")}) is not supported")
          val name = d.fieldNames()(0)
          if (!s.fieldNames.exists(_.equalsIgnoreCase(name))) {
            if (d.ifExists) s
            else throw new IllegalArgumentException(
              s"$ident: no such column $name")
          } else {
            require(!fields.exists(_.srcCol.equalsIgnoreCase(name)),
              s"$ident: cannot drop partition column $name — the " +
                "directory layout embeds it (or its bucket ids derive " +
                "from it); re-partition with RTAS")
            StructType(s.fields.filterNot(_.name.equalsIgnoreCase(name)))
          }
        case u: TableChange.UpdateColumnType =>
          // metadata-only TYPE WIDENING: Spark 4's parquet reader
          // widens each file's physical type to the read schema
          // (int32 files serve a bigint column), so the lossless
          // ladder needs no rewrite — old files keep int32, new
          // appends write int64, reads mix freely. Anything lossy or
          // physical-layout-changing is refused toward a rewrite.
          require(u.fieldNames.length == 1, s"$ident: nested ALTER COLUMN " +
            s"(${u.fieldNames.mkString(".")}) is not supported")
          val name = u.fieldNames()(0)
          val i = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          require(i >= 0, s"$ident: no such column $name")
          val from = s.fields(i).dataType
          val to = u.newDataType()
          import org.apache.spark.sql.types._
          val lossless = (from, to) match {
            case (ByteType, ShortType | IntegerType | LongType) => true
            case (ShortType, IntegerType | LongType) => true
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          require(lossless, s"$ident: ALTER COLUMN $name TYPE " +
            s"${to.simpleString} from ${from.simpleString} is not a " +
            "lossless parquet widening (tinyint<smallint<int<bigint, " +
            "float<double) — rewrite the table instead")
          // hidden-transform ids are TYPE-QUALIFIED (a bigint hashes /
          // floors differently than an int): widening the source column
          // would silently re-route future writes away from the
          // existing directories — and mis-prune LEGACY subtrees whose
          // old-spec ids were computed under the old type. Identity
          // layouts are safe — dir values re-parse under the widened
          // type.
          val allSpecs = fields ++ readLegacySpecs(cur).flatMap(_._2)
          require(!allSpecs.exists(f => f.srcCol.equalsIgnoreCase(name) &&
              !f.isInstanceOf[IdentityPart]),
            s"$ident: cannot widen $name — a hidden partition transform " +
              "(current or legacy spec) derives from it and its ids are " +
              "type-qualified; re-partition with rewrite_layout first")
          StructType(s.fields.updated(i, s.fields(i).copy(dataType = to)))
        case u: TableChange.UpdateColumnDefaultValue =>
          // SET / DROP DEFAULT: rewrites CURRENT_DEFAULT only — future
          // inserts pick up the new default; EXISTS_DEFAULT stays
          // frozen at the value the column was ADDED with, because
          // that is what rows in pre-column files must keep reading as
          // (changing it would retroactively rewrite history's
          // semantics without touching a file — Spark's own contract)
          require(u.fieldNames.length == 1, s"$ident: nested ALTER COLUMN " +
            s"(${u.fieldNames.mkString(".")}) is not supported")
          val name = u.fieldNames()(0)
          val i = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          require(i >= 0, s"$ident: no such column $name")
          val f = s.fields(i)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY
          val sql = Option(u.newCurrentDefault()).map(_.getSql).getOrElse("")
          if (sql.isEmpty) mb.remove(key) else mb.putString(key, sql)
          StructType(s.fields.updated(i, f.copy(metadata = mb.build())))
        case _: TableChange.RenameColumn =>
          throw new UnsupportedOperationException(
            s"$ident: RENAME COLUMN needs field-id column binding " +
              "(parquet binds by name; a rename would silently null the " +
              "existing data) — use RTAS with an aliased select")
        case other =>
          throw new UnsupportedOperationException(
            s"$ident: unsupported table change $other — supported: " +
              "ADD COLUMN (nullable, top-level), DROP COLUMN, " +
              "ALTER COLUMN TYPE (lossless widening)")
      }
    }
    val v = s"v-${UUID.randomUUID()}"
    val nv = dir.resolve(v)
    writeMeta(nv, evolved, fields)
    linkDataFiles(cur, nv)
    carryLegacySpecs(cur, nv)
    MorDeletes.carry(cur, nv)
    try commitVersion(dir, v, expectedBase = Some(cur.getFileName.toString))
    catch { case e: Throwable => dropOrphan(nv); throw e }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    refuseBranchIdent(ident, "DROP TABLE")
    val dir = tableDir(ident)
    val existed = Files.exists(pointer(dir))
    MetaStore.deleteTree(dir)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    refuseBranchIdent(oldIdent, "RENAME TABLE")
    refuseBranchIdent(newIdent, "RENAME TABLE")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    MetaStore.mkdirs(tableDir(newIdent).getParent)
    MetaStore.move(tableDir(oldIdent), tableDir(newIdent))
  }

  // ---- StagingTableCatalog: stage into a fresh version dir; visibility
  // happens only at commitStagedChanges' pointer swap ----

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: java.util.Map[String, String]): StagedTable = {
    refuseBranchIdent(ident, "REPLACE TABLE") // RTAS targets the table
    val dir = tableDir(ident)
    val version = s"v-${UUID.randomUUID()}"
    val fields = parsePartitionTransforms(partitions, schema)
    writeMeta(dir.resolve(version), schema, fields)
    val props = persistableProps(properties)
    if (props.nonEmpty) writeProps(dir, props)
    // the optimistic-concurrency base: whatever is current AT STAGE TIME
    // must still be current at commit, or the commit conflicts
    new StagedPointerTable(this, ident, dir, version, schema, fields,
      base = versionLog(dir).headOption)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    refuseBranchIdent(ident, "CREATE TABLE AS SELECT")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties)

  private[sources] def commitVersion(dir: JPath, version: String,
      expectedBase: Option[String],
      ref: String = AtomicParquetCatalog.MainRef): Unit =
    commitPointer(dir, version, expectedBase, ref)

  private[sources] def dropOrphan(p: JPath): Unit = MetaStore.deleteTree(p)

  /** Hard-link (fall back: copy) every data file of `from` into `to`,
    * preserving the partition-directory layout — the no-data-copy half of
    * a fast-append. Metadata files (`_schema.json`, `_partitions.txt`,
    * `_SUCCESS`, hidden `.crc`s) are skipped: the new version wrote its
    * own. Parquet part-file names embed the write's job UUID, so names
    * from two different writes cannot collide. */
  private[sources] def linkDataFiles(from: JPath, to: JPath,
      keepPartition: String => Boolean = _ => true,
      keepFile: String => Boolean = _ => true): Unit =
    MetaStore.walkData(from)(_.foreach { src =>
      val rel = from.relativize(src)
      val partDir = Option(rel.getParent).map(_.toString).getOrElse("")
      if (keepPartition(partDir) && keepFile(rel.toString)) {
        val dst = to.resolve(rel)
        MetaStore.mkdirs(dst.getParent)
        MetaStore.linkOrCopy(src, dst)
      }
    })

  /** The distinct partition directories holding data files under a
    * version dir ("" for unpartitioned files at the root), excluding
    * non-layout subtrees (legacy specs / staging) — the same rule as
    * [[PartitionRuntimeFilters.dataFilePartitionsOf]]. */
  private[sources] def dataFilePartitions(v: JPath): Set[String] =
    PartitionRuntimeFilters.dataFilePartitionsOf(v)

  // ---- SupportsNamespaces (directories) ----

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] =
    MetaStore.list(warehouse).filter(Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    MetaStore.list(d)
      .filter(p => Files.isDirectory(p) && !Files.exists(pointer(p)))
      .map(p => namespace :+ p.getFileName.toString).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(nsDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    MetaStore.mkdirs(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespaces carry no metadata here")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) return false
    if (!cascade && MetaStore.list(d).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    MetaStore.deleteTree(d)
    true
  }

  // ---- FunctionCatalog: the partition-transform functions. Spark's
  // V2ExpressionUtils resolves a scan's reported
  // `KeyGroupedPartitioning(bucket(n, col))` by loading `bucket` from
  // the RELATION'S catalog (Identifier.of(Array.empty, "bucket")) and
  // binding it — without this, bucket-partitioned scans could never
  // plan storage-partitioned joins. ----

  private val transformFunctions
      : Map[String, org.apache.spark.sql.connector.catalog.functions.UnboundFunction] =
    Map("bucket" -> GraftBucketFunction, "truncate" -> GraftTruncateFunction,
      "days" -> GraftDaysFunction, "hours" -> GraftHoursFunction,
      "months" -> GraftMonthsFunction, "years" -> GraftYearsFunction)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      transformFunctions.keysIterator.toArray.sorted
        .map(Identifier.of(Array.empty, _))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty)
      transformFunctions.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- ProcedureCatalog: `CALL cat.system.<proc>(...)` maintenance ----
  // The Iceberg-procedure surface a lakehouse operator reaches for:
  // expire_snapshots (shrink the retention window NOW), rollback_to
  // (make a prior snapshot current again, as a NEW conflict-checked
  // commit — history is never rewritten), compact (rewrite the current
  // snapshot's files into `target_files` without changing its rows).
  // Every mutation goes through the same commit lock + snapshot-log swap
  // as a write; each returns a one-row summary result set.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
  import org.apache.spark.unsafe.types.UTF8String

  /** Resolve a procedure's `table` argument ("db.tbl" relative to this
    * catalog) to its directory, requiring it to exist. */
  private def procTableDir(table: String): JPath = {
    val parts = table.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table name")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val dir = tableDir(ident)
    if (!Files.exists(pointer(dir))) throw new NoSuchTableException(ident)
    dir
  }

  /** Every row of one committed version as a DataFrame — the whole-
    * version read the maintenance procedures transform: the version
    * root PLUS each legacy `_spec-<k>` subtree (a mixed version after
    * metadata-only spec evolution; the root parquet read skips the
    * underscore subtrees on its own), projected to the table schema so
    * layouts with different hidden directory columns union cleanly.
    * Identity partition values ride in the schema; hidden dir columns
    * are recomputed by the write-side router — which is also why
    * compact / rewrite_layout over this read UNIFY a mixed table into
    * its target spec. */
  private def readVersionDf(versionDir: JPath, schema: StructType): DataFrame = {
    // live merge-on-read deletes: the exact per-file-cohort read — a
    // maintenance rewrite over this DataFrame MATERIALIZES the deletes
    // (which is why compact/rewrite_layout clear the sidecar: their
    // output files are new and already clean)
    if (MorDeletes.hasLive(versionDir)) {
      val rels = MetaStore.dataFiles(versionDir)
        .map(p => versionDir.relativize(java.nio.file.Paths.get(p)).toString)
        .toSet
      return MorDeletes.readFiles(spark, versionDir, rels, schema)
    }
    val cols = schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
    val root = spark.read.schema(schema).parquet(versionDir.toString)
      .select(cols: _*)
    readLegacySpecs(versionDir).foldLeft(root) { case (df, (sub, _)) =>
      // the `_spec-<k>` subtree root itself would be dropped by the
      // hidden-path listing filter, so the read gets the LEAF files
      // explicitly, with basePath at the subtree so identity partition
      // values still parse out of the directory names
      val subDir = versionDir.resolve(sub)
      val files = MetaStore.dataFiles(subDir)
      if (files.isEmpty) df
      else df.unionByName(
        spark.read.option("basePath", subDir.toString).schema(schema)
          .parquet(files: _*).select(cols: _*))
    }
  }

  /** Tag a staged maintenance version as CONTENT-PRESERVING before its
    * commit: live rows are identical before and after (compaction, a
    * delete materialization, a re-layout), so a row-level change feed's
    * correct representation of the commit is ZERO changes — the marker
    * is what lets `.changes` consumers survive routine maintenance
    * instead of dying to a "removed data files" refusal (Delta CDF
    * skips non-CDC commits; Iceberg's changelog skips replace
    * snapshots). Written only by the catalog's own procedures, which
    * are the only writers that KNOW the rewrite preserved content —
    * a genuine COW DELETE/MERGE keeps failing the feed pointedly. */
  private def markContentPreserving(nv: JPath, kind: String): Unit =
    MetaStore.write(nv.resolve(AtomicParquetCatalog.ContentPreservingMarker),
      kind)

  private def summaryScan(schema: StructType, row: InternalRow) =
    java.util.Collections.singletonList(
      new LocalScanTable("summary", schema, () => Seq(row))
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    ).iterator()

  private abstract class GraftProcedure(procName: String,
      params: Seq[ProcedureParameter]) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("expire_snapshots", "rollback_to", "compact", "rewrite_layout",
        "rewrite_deletes", "cluster_by",
        "evolve_layout", "unify_layout", "tag", "drop_tag", "analyze",
        "clone",
        "remove_orphans", "create_branch", "drop_branch", "fast_forward",
        "create_changelog_view", "mark_content_preserving")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace.mkString(".")}; " +
        "procedures live under `system`")
    ident.name.toLowerCase match {
      case "expire_snapshots" =>
        // CALL cat.system.expire_snapshots('db.tbl', keep[, older_than])
        // — truncate the snapshot log to the current version + `keep`
        // previous ones and vacuum the expired directories, immediately
        // (the per-commit retention window does this lazily at commit
        // time). The optional `older_than` TIMESTAMP is Iceberg's age
        // guard: only snapshots committed strictly before it expire, so
        // `keep = 0, older_than = now() - 7 days` is the standard
        // "keep a week of history" maintenance call.
        new GraftProcedure("expire_snapshots", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep", IntegerType).build(),
          ProcedureParameter.in("older_than", TimestampType)
            .defaultValue("NULL").build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val keep = input.getInt(1)
            require(keep >= 0, s"keep must be >= 0, got $keep")
            val cutoffMs = // TimestampType rides as epoch micros
              if (input.numFields > 2 && !input.isNullAt(2))
                Some(Math.floorDiv(input.getLong(2), 1000L))
              else None
            val (expired, kept) = withCommitLock(dir) {
              val (deleted, retained) = swapLog(dir, versionLog(dir),
                keep = keep, keepNewerThanMs = cutoffMs)
              (deleted.size, retained.size)
            }
            summaryScan(StructType(Seq(
              StructField("expired_snapshots", IntegerType, nullable = false),
              StructField("kept_snapshots", IntegerType, nullable = false))),
              InternalRow(expired, kept))
          }
        }
      case "create_changelog_view" =>
        // CALL cat.system.create_changelog_view('db.tbl', 'view', back)
        // — Iceberg's SQL surface for the change feed: register the
        // row-level changes of the last `back` commits (the Scala
        // tableChanges API, branches via 'db.tbl@branch' included) as
        // a TEMP VIEW and return its name. The view's plan is the
        // DISTRIBUTED per-commit diff — the procedure moves no rows
        // through the driver; a SQL-only user then reads
        // `SELECT ... FROM <view>` like any table.
        new GraftProcedure("create_changelog_view", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("from_commits_back", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val view = input.getUTF8String(1).toString
            val back = input.getInt(2)
            require(view.nonEmpty && view.forall(c =>
              c.isLetterOrDigit || c == '_'),
              s"view name must be [A-Za-z0-9_]+, got '$view'")
            val df = AtomicParquetCatalog.tableChanges(
              spark, s"$catalogName.$tbl", fromCommitsBack = back)
            df.createOrReplaceTempView(view)
            summaryScan(StructType(Seq(
              StructField("changelog_view", StringType, nullable = false),
              StructField("from_commits_back", IntegerType,
                nullable = false))),
              InternalRow(UTF8String.fromString(view), back))
          }
        }
      case "rollback_to" =>
        // CALL cat.system.rollback_to('db.tbl', ordinal) — make the
        // snapshot `ordinal` commits back current again by committing a
        // NEW version whose files hard-link the target's (history is
        // append-only: the bad head stays time-travelable at ordinal+1,
        // and the rollback CASes on the head like any commit).
        new GraftProcedure("rollback_to", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("ordinal", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val ordinal = input.getInt(1)
            val log = versionLog(dir)
            require(ordinal >= 1 && ordinal < log.size,
              s"ordinal must be 1..${log.size - 1} (commits back from " +
                s"current), got $ordinal")
            val target = dir.resolve(log(ordinal))
            val (schema, parts) = readMeta(target)
            val v = s"v-${UUID.randomUUID()}"
            writeMeta(dir.resolve(v), schema, parts)
            linkDataFiles(target, dir.resolve(v))
            carryLegacySpecs(target, dir.resolve(v))
            MorDeletes.carry(target, dir.resolve(v))
            try commitPointer(dir, v, expectedBase = log.headOption)
            catch { case e: Throwable => dropOrphan(dir.resolve(v)); throw e }
            summaryScan(StructType(Seq(
              StructField("rolled_back_from", StringType, nullable = false),
              StructField("restored_snapshot", StringType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(log.head),
                UTF8String.fromString(log(ordinal)), UTF8String.fromString(v)))
          }
        }
      case "mark_content_preserving" =>
        // CALL cat.system.mark_content_preserving('db.tbl', version) —
        // BACKFILL the content-preserving marker onto a maintenance
        // commit an OLDER build created (markers are written at commit
        // time from r17 on): a changelog stream whose window spans an
        // untagged compaction dies pointedly, and without this repair
        // the only way past was a checkpoint reset + full re-snapshot.
        // The CALL refuses to tag a version that is NOT actually
        // content-preserving: it diffs the version's live rows against
        // the prior snapshot's (exact multiset, the table_changes
        // machinery) BEFORE writing the marker — a wrong marker would
        // silently drop real changes from every change feed, the one
        // failure mode worse than the refusal it repairs. Cost: two
        // snapshot reads, once, for a long-retention table that then
        // keeps its checkpoints.
        new GraftProcedure("mark_content_preserving", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val vArg = input.getUTF8String(1).toString.trim
            val log = versionLog(dir)
            val idx =
              if (vArg.startsWith("v-")) log.indexOf(vArg)
              else vArg.toIntOption.filter(k => k >= 0 && k < log.size)
                .getOrElse(-1)
            require(idx >= 0,
              s"version '$vArg' is not in the retention window " +
                s"(${log.size} snapshots kept) — pass 0..n commits back " +
                "or an exact v-<uuid>")
            require(idx + 1 < log.size,
              s"'$vArg' is the OLDEST retained snapshot — there is no " +
                "prior snapshot to prove content preservation against")
            val next = dir.resolve(log(idx))
            val already = Files.exists(
              next.resolve(AtomicParquetCatalog.ContentPreservingMarker))
            if (!already) {
              val prev = dir.resolve(log(idx + 1))
              val (schema, _) = readMeta(next)
              def liveDf(vd: JPath) = MorDeletes.readFiles(spark, vd,
                MetaStore.dataFiles(vd)
                  .map(f => vd.relativize(Paths.get(f)).toString).toSet,
                schema)
              val n = liveDf(next)
              val p = liveDf(prev)
              require(n.exceptAll(p).isEmpty && p.exceptAll(n).isEmpty,
                s"version ${log(idx)} is NOT content-preserving — its " +
                  "live rows differ from the prior snapshot's; refusing " +
                  "to tag (a wrong marker would silently drop real " +
                  "changes from every change feed)")
              markContentPreserving(next, "backfill")
            }
            summaryScan(StructType(Seq(
              StructField("marked_version", StringType, nullable = false),
              StructField("already_marked", BooleanType, nullable = false))),
              InternalRow(UTF8String.fromString(log(idx)), already))
          }
        }
      case "compact" =>
        // CALL cat.system.compact('db.tbl', target_files) — rewrite the
        // current snapshot into `target_files` files per partition as a
        // new conflict-checked snapshot; rows and schema are unchanged
        // (the small-files problem, solved through the same commit path
        // as every other write so a racing writer conflicts cleanly).
        new GraftProcedure("compact", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_files", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val target = input.getInt(1)
            require(target >= 1, s"target_files must be >= 1, got $target")
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, fields) = readMeta(cur)
            val df = readVersionDf(cur, schema)
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, fields)
            // the shared layout router (bucket ids recompute to the
            // values the directories already encode — same hash;
            // identity columns ride in the schema): target_files pins
            // the exchange width, and a `write.sort-cols` table keeps
            // its sort through the compaction instead of dulling the
            // skip index
            AtomicParquetCatalog.writeLayout(spark, dir, nv, df, fields,
              "append", numFiles = Some(target))
            markContentPreserving(nv, "compact")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            def nFiles(p: JPath): Long =
              MetaStore.walkData(p)(_.size.toLong)
            summaryScan(StructType(Seq(
              StructField("files_before", LongType, nullable = false),
              StructField("files_after", LongType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(nFiles(cur), nFiles(nv), UTF8String.fromString(v)))
          }
        }
      case "cluster_by" =>
        // CALL cat.system.cluster_by('db.tbl', 'c1[,c2]', target_files)
        // — OPTIMIZE ZORDER for catalog tables: rewrite the current
        // snapshot range-clustered on one column (total-order
        // clustering) or on the interleaved z-value of two numeric
        // columns, so every written file covers a tight value range
        // and [[FileStats]] data skipping (recorded at this commit,
        // like any other) turns selective predicates into
        // few-files-planned scans. One sampled range exchange + an
        // in-partition sort — never a global single-partition sort.
        // Unpartitioned tables only: a directory layout and a global
        // range clustering fight over file placement; re-layout first
        // (rewrite_layout) if directories are no longer wanted.
        // Reads through the delete-applying version read, so live
        // merge-on-read deletes MATERIALIZE here (sidecar cleared),
        // same as compact.
        new GraftProcedure("cluster_by", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("columns", StringType).build(),
          ProcedureParameter.in("target_files", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val colNames = input.getUTF8String(1).toString
              .split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val target = input.getInt(2)
            require(target >= 1, s"target_files must be >= 1, got $target")
            require(colNames.nonEmpty && colNames.size <= 2,
              s"cluster_by takes 1 (range) or 2 (z-order) columns, " +
                s"got ${colNames.size}")
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, fields) = readMeta(cur)
            require(fields.isEmpty,
              s"$tbl is partitioned — cluster_by rewrites a GLOBAL file " +
                "order, which a directory layout would shred into " +
                "per-task small files; rewrite_layout to an " +
                "unpartitioned spec first if clustering should replace " +
                "the directories")
            colNames.foreach(c => require(
              schema.fieldNames.exists(_.equalsIgnoreCase(c)),
              s"$tbl has no column $c"))
            import org.apache.spark.sql.functions.col
            val sortKey = colNames match {
              case Seq(c) => col(c)
              case Seq(a, b) => graft.api.Graft.zorderValue(col(a), col(b), 16)
            }
            val df = readVersionDf(cur, schema)
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, fields)
            df.repartitionByRange(target, sortKey)
              .sortWithinPartitions(sortKey)
              .write.mode("append").parquet(nv.toString)
            markContentPreserving(nv, "cluster_by")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            def nFiles(p: JPath): Long =
              MetaStore.walkData(p)(_.size.toLong)
            summaryScan(StructType(Seq(
              StructField("clustered_by", StringType, nullable = false),
              StructField("files_written", LongType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(colNames.mkString(", ")),
                nFiles(nv), UTF8String.fromString(v)))
          }
        }
      case "rewrite_deletes" =>
        // CALL cat.system.rewrite_deletes('db.tbl') — MATERIALIZE the
        // live merge-on-read delete entries: ONLY the files a delete
        // entry names are rewritten (their survivors re-laid into the
        // current spec); every untouched file hard-links forward, and
        // the new version starts with a clean sidecar. This is
        // Iceberg's minor compaction: delete cost stays O(metadata) at
        // write time, and this procedure amortizes the read-side
        // filter away on the operator's schedule — priced by the files
        // the deletes touched, never the 100 TB around them.
        new GraftProcedure("rewrite_deletes", Seq(
          ProcedureParameter.in("table", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, fields) = readMeta(cur)
            val es = MorDeletes.entries(cur)
            val pes = MorDeletes.posEntries(cur)
            val summarySchema = StructType(Seq(
              StructField("entries_removed", LongType, nullable = false),
              StructField("files_rewritten", LongType, nullable = false),
              StructField("new_version", StringType, nullable = false)))
            if (es.isEmpty && pes.isEmpty)
              return summaryScan(summarySchema,
                InternalRow(0L, 0L, UTF8String.fromString(base)))
            val liveRels = MetaStore.dataFiles(cur)
              .map(p => cur.relativize(Paths.get(p)).toString).toSet
            // a manifest file whose footer stats PROVE the entry's
            // predicate matches nothing needs no rewrite — the same
            // may-match pruning the read side uses, here saving write
            // amplification: a targeted delete rewrites the files it
            // touched, not every file that existed at delete time.
            // POSITIONAL entries name their rows outright: every named
            // file rewrites, no stats question to ask.
            val stats = FileStats.load(dir)
            val blooms = BloomIndex.loadIfEnabled(dir, spark)
            val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(schema)
            val affected = es.flatMap { e =>
              val expr = MorDeletes.toCatalyst(e.node, attrs)
              (e.files intersect liveRels).filter(f =>
                stats.get(f).forall(
                  FileStats.mayMatch(Seq(expr), _, schema)) &&
                  blooms.get(f).forall(BloomIndex.mayMatch(Seq(expr), _)))
            }.toSet ++ pes.flatMap(_.files intersect liveRels)
            require(affected.forall(!_.startsWith("_spec-")),
              s"$tbl: delete entries touch legacy-spec subtrees — run " +
                "CALL system.compact to materialize and unify instead")
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, fields)
            if (affected.nonEmpty) {
              val df = MorDeletes.readFiles(spark, cur, affected, schema)
              // shared layout router: survivors of a sorted table land
              // re-sorted (write.sort-cols), file size capped — the
              // materialized files stay as sharp as a fresh append
              AtomicParquetCatalog.writeLayout(spark, dir, nv, df,
                fields, "append")
            }
            linkDataFiles(cur, nv, keepFile = r => !affected.contains(r))
            carryLegacySpecs(cur, nv)
            // _deletes deliberately NOT carried: materialized
            markContentPreserving(nv, "rewrite_deletes")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            summaryScan(summarySchema, InternalRow((es.size + pes.size).toLong,
              affected.size.toLong, UTF8String.fromString(v)))
          }
        }
      case "rewrite_layout" =>
        // CALL cat.system.rewrite_layout('db.tbl', 'bucket(16,k), days(ts)')
        // — PARTITION SPEC EVOLUTION: rewrite the current snapshot under
        // a new partition spec (any mix of identity / bucket / truncate /
        // time transforms, or '' to flatten) as a new conflict-checked
        // snapshot. Rows and schema are unchanged; history keeps the old
        // layout time-travelable. The operational answer when a table's
        // query pattern outgrows its layout — daily dirs that should be
        // monthly, an identity key that should be bucketed — without
        // Iceberg's mixed-spec scan complexity: one rewrite, one commit,
        // every file in the new layout (at 100 TB this is a full rewrite;
        // that cost is the explicit price of spec change here, vs. Iceberg
        // amortizing it into every future scan).
        new GraftProcedure("rewrite_layout", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("spec", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val specStr = input.getUTF8String(1).toString
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, oldFields) = readMeta(cur)
            val newFields = PartitionField.parseSpecString(specStr)
            validatePartitionFields(newFields, schema)
            val df = readVersionDf(cur, schema)
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, newFields)
            // the shared layout router: same clustering policy as
            // every catalog write (a re-layout INTO a fine-grained
            // spec is exactly where the tasks × dirs small-files
            // cliff would land hardest), plus write.sort-cols /
            // write.target-file-size-rows so the rewritten table
            // keeps its sort posture
            AtomicParquetCatalog.writeLayout(spark, dir, nv, df,
              newFields, "append")
            markContentPreserving(nv, "rewrite_layout")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            summaryScan(StructType(Seq(
              StructField("old_spec", StringType, nullable = false),
              StructField("new_spec", StringType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(
                UTF8String.fromString(PartitionField.serialize(oldFields)
                  .replace("\n", ", ")),
                UTF8String.fromString(PartitionField.serialize(newFields)
                  .replace("\n", ", ")),
                UTF8String.fromString(v)))
          }
        }
      case "evolve_layout" =>
        // CALL cat.system.evolve_layout('db.tbl', 'days(ts), bucket(8,u)')
        // — METADATA-ONLY partition spec evolution, Iceberg's actual
        // contract (the capability the reference's stack advertises as
        // "schema evolution" on its Iceberg catalog): the new spec
        // applies to FUTURE writes only; every existing data file stays
        // in the layout that wrote it, hard-linked into the new version
        // under a `_spec-<k>` legacy subtree recorded in
        // `_legacy_specs.txt`. ZERO data rewrite — evolving a 100 TB
        // table costs one link pass over file metadata, not a day of
        // cluster rewrite. Reads plan a union of per-spec pruned scans
        // ([[SpecUnionScan]]: static + runtime pruning per spec);
        // `compact` / `rewrite_layout` remain the OPTIONAL migration
        // that unifies the layout when the mixed state has outlived its
        // value (exactly Iceberg's amortize-vs-rewrite tradeoff, now
        // offered as the pair of procedures instead of rewrite-only).
        new GraftProcedure("evolve_layout", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("spec", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val specStr = input.getUTF8String(1).toString
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, oldFields) = readMeta(cur)
            val newFields = PartitionField.parseSpecString(specStr)
            validatePartitionFields(newFields, schema)
            require(newFields != oldFields, s"$tbl already has spec '" +
              oldFields.map(PartitionField.show).mkString(", ") +
              "' — nothing to evolve")
            val oldLegacy = readLegacySpecs(cur)
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, newFields)
            // prior legacy subtrees ride forward verbatim (hard links);
            // the old ROOT layout becomes the next legacy subtree —
            // only if it actually holds data files
            oldLegacy.foreach { case (sub, _) =>
              linkDataFiles(cur.resolve(sub), nv.resolve(sub))
            }
            var entries = oldLegacy
            if (dataFilePartitions(cur).nonEmpty) {
              val used = oldLegacy.map(_._1).toSet
              val sub = Iterator.from(0).map(i => s"_spec-$i")
                .find(!used.contains(_)).get
              linkDataFiles(cur, nv.resolve(sub),
                keepPartition = PartitionRuntimeFilters.isLayoutDir)
              entries = entries :+ (sub -> oldFields)
              // live delete entries follow their files: root-layout
              // paths relocate under the new legacy subtree
              MorDeletes.carry(cur, nv, rebasePrefix = Some(sub))
            }
            if (entries == oldLegacy && dataFilePartitions(cur).isEmpty)
              MorDeletes.carry(cur, nv)
            writeLegacySpecs(nv, entries)
            markContentPreserving(nv, "evolve_layout")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            summaryScan(StructType(Seq(
              StructField("old_spec", StringType, nullable = false),
              StructField("new_spec", StringType, nullable = false),
              StructField("n_legacy_specs", IntegerType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(
                UTF8String.fromString(oldFields.map(PartitionField.show)
                  .mkString(", ")),
                UTF8String.fromString(newFields.map(PartitionField.show)
                  .mkString(", ")),
                entries.size, UTF8String.fromString(v)))
          }
        }
      case "unify_layout" =>
        // CALL cat.system.unify_layout('db.tbl') — PARTIAL spec-
        // unification compaction, the missing middle between
        // evolve_layout (O(metadata), but reads stay mixed-spec) and
        // rewrite_layout (single-spec again, but O(table)): rewrite
        // ONLY the legacy `_spec-<k>` subtrees into the table's
        // CURRENT spec and hard-link every current-layout file forward
        // untouched. Cost ∝ the legacy fraction — at 100 TB, evolving
        // then unifying after the old third has aged out of hot reads
        // pays a third of the table instead of all of it, and the
        // table exits the mixed-spec state (SPJ / aggregate pushdown /
        // key-grouped reporting eligibility come back — SpecUnionScan
        // declines them on purpose while two specs coexist). Delete
        // entries over the rewritten legacy files are MATERIALIZED by
        // the rewrite; entries over the linked current-layout files
        // ride forward restricted to those files.
        new GraftProcedure("unify_layout", Seq(
          ProcedureParameter.in("table", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val tbl = input.getUTF8String(0).toString
            val dir = procTableDir(tbl)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, fields) = readMeta(cur)
            val legacy = readLegacySpecs(cur)
            require(legacy.nonEmpty,
              s"$tbl has no legacy spec subtrees — nothing to unify " +
                "(metadata-only evolve_layout creates them; " +
                "rewrite_layout/compact already unify whole tables)")
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            writeMeta(nv, schema, fields)
            // current-layout files ride forward as hard links — the
            // whole point: the current fraction is never rewritten
            linkDataFiles(cur, nv,
              keepPartition = PartitionRuntimeFilters.isLayoutDir)
            // delete entries restricted to the surviving linked files;
            // the legacy files' deletes are materialized by the read
            MorDeletes.carryRestricted(cur, nv,
              f => !f.startsWith("_spec-"))
            // the rewrite's input: ONLY the legacy subtrees' rows, each
            // read under its own layout with its delete entries applied
            // exactly (per-cohort), landed under the CURRENT spec
            val legacyRels = MetaStore.dataFiles(cur)
              .map(p => cur.relativize(java.nio.file.Paths.get(p)).toString)
              .filter(_.startsWith("_spec-")).toSet
            var rewritten = 0L
            if (legacyRels.nonEmpty) {
              val df = MorDeletes.readFiles(spark, cur, legacyRels, schema)
              // the shared layout router: same clustering policy as any
              // write, plus write.sort-cols / write.target-file-size-
              // rows — the rewritten legacy rows must land as sharp as
              // a fresh append, not dull the table's skip index
              AtomicParquetCatalog.writeLayout(spark, dir, nv, df,
                fields, "append")
              rewritten = legacyRels.size.toLong
            }
            // no _legacy_specs.txt in the new version: single-spec again
            markContentPreserving(nv, "unify_layout")
            try commitPointer(dir, v, expectedBase = Some(base))
            catch { case e: Throwable => dropOrphan(nv); throw e }
            summaryScan(StructType(Seq(
              StructField("unified_spec", StringType, nullable = false),
              StructField("n_legacy_specs", IntegerType, nullable = false),
              StructField("n_legacy_files_rewritten", LongType,
                nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(
                UTF8String.fromString(fields.map(PartitionField.show)
                  .mkString(", ")),
                legacy.size, rewritten, UTF8String.fromString(v)))
          }
        }
      case "create_branch" =>
        // CALL cat.system.create_branch('db.tbl', 'name') — fork a
        // writable BRANCH at the current head: a parallel pointer log
        // (`_branch_<name>`, same format/CAS/retention machinery as
        // `_current`). Reads/writes bind via the `t@name` identifier
        // (`SELECT ... FROM cat.db.\`tbl@name\``, MERGE INTO the same);
        // main never moves until `fast_forward` publishes the branch.
        // The branch starts with main's whole retained history, so
        // branch-side `VERSION AS OF` works from commit zero.
        new GraftProcedure("create_branch", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val b = input.getUTF8String(1).toString
            requireBranchNameShape(b)
            val head = withCommitLock(dir) {
              require(listBranches(dir).forall(_ != b),
                s"branch '$b' already exists; drop_branch it first")
              require(!readRefs(dir).contains(b),
                s"a tag named '$b' already exists — names are shared " +
                  "between tags and branches (both resolve in VERSION AS OF)")
              val log = versionLog(dir)
              require(log.nonEmpty, "cannot branch an uncommitted table")
              MetaStore.replace(dir.resolve(s"_branch_$b"), log.mkString("\n"))
              log.head
            }
            summaryScan(StructType(Seq(
              StructField("branch", StringType, nullable = false),
              StructField("forked_at", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(b),
                UTF8String.fromString(head)))
          }
        }
      case "drop_branch" =>
        // CALL cat.system.drop_branch('db.tbl', 'name') — delete the
        // branch log; versions only it referenced become orphans for
        // remove_orphans / the next retention sweep.
        new GraftProcedure("drop_branch", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val b = input.getUTF8String(1).toString
            // same charset gate as create_branch BEFORE any path
            // resolution: without it a name like 'x/../_current'
            // normalizes dir.resolve("_branch_" + b) onto the table's
            // main pointer file and the delete below would orphan the
            // whole table head
            requireBranchNameShape(b)
            val existed = withCommitLock(dir) {
              MetaStore.delete(dir.resolve(s"_branch_$b"))
            }
            require(existed, s"no such branch '$b' (live: " +
              s"${listBranches(dir).mkString(", ")})")
            summaryScan(StructType(Seq(
              StructField("dropped_branch", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(b)))
          }
        }
      case "fast_forward" =>
        // CALL cat.system.fast_forward('db.tbl', 'name') — publish a
        // branch: require main's head is an ANCESTOR of the branch head
        // (present in the branch log — the git fast-forward condition,
        // so no main commit can be silently discarded), then swap
        // `_current` to the branch's log. Snapshots main accumulated
        // past the fork would be lost — that case fails with the
        // pointed error; resolve by re-running the branch work on a
        // fresh branch (this catalog does not merge diverged lineages).
        new GraftProcedure("fast_forward", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val b = input.getUTF8String(1).toString
            requireBranchNameShape(b) // path-shape gate, see drop_branch
            val (from, to) = withCommitLock(dir) {
              val bLog = versionLog(dir, s"_branch_$b")
              require(bLog.nonEmpty, s"no such branch '$b' (live: " +
                s"${listBranches(dir).mkString(", ")})")
              val cur = versionLog(dir)
              val head = cur.headOption.getOrElse(
                throw new IllegalStateException("table has no snapshots"))
              require(bLog.contains(head),
                s"cannot fast-forward: main's head $head is not an " +
                  s"ancestor of branch '$b' — main advanced past the " +
                  "fork point; the branch is stale (re-branch and re-run)")
              swapLog(dir, bLog, ref = AtomicParquetCatalog.MainRef)
              (head, bLog.head)
            }
            summaryScan(StructType(Seq(
              StructField("from_version", StringType, nullable = false),
              StructField("to_version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(from),
                UTF8String.fromString(to)))
          }
        }
      case "tag" =>
        // CALL cat.system.tag('db.tbl', 'name', ordinal) — pin the
        // snapshot `ordinal` commits back under a stable name: it
        // resolves via `VERSION AS OF '<name>'` and is exempt from
        // retention vacuum until the tag is dropped (Iceberg's tag
        // refs). Names must not look like ordinals or v-<uuid> dirs.
        new GraftProcedure("tag", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("ordinal", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val tagName = input.getUTF8String(1).toString
            val ordinal = input.getInt(2)
            require(tagName.nonEmpty && !tagName.startsWith("v-") &&
              !tagName.forall(_.isDigit),
              s"tag name '$tagName' must be non-empty and must not look " +
                "like an ordinal or a v-<uuid> version")
            val version = withCommitLock(dir) {
              val log = versionLog(dir)
              require(ordinal >= 0 && ordinal < log.size,
                s"ordinal must be 0..${log.size - 1}, got $ordinal")
              val refs = readRefs(dir)
              require(!refs.contains(tagName),
                s"tag '$tagName' already exists (-> ${refs(tagName)}); " +
                  "drop_tag it first")
              // mirror of create_branch's tag check: tags resolve FIRST
              // in VERSION AS OF, so a tag named after a live branch
              // would silently shadow the branch for time-travel reads
              require(!listBranches(dir).contains(tagName),
                s"a branch named '$tagName' already exists — names are " +
                  "shared between tags and branches (both resolve in " +
                  "VERSION AS OF)")
              writeRefs(dir, refs + (tagName -> log(ordinal)))
              log(ordinal)
            }
            summaryScan(StructType(Seq(
              StructField("tag", StringType, nullable = false),
              StructField("version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(tagName),
                UTF8String.fromString(version)))
          }
        }
      case "drop_tag" =>
        // CALL cat.system.drop_tag('db.tbl', 'name') — remove the ref;
        // if its version has already fallen outside the retention
        // window, the NEXT commit's log swap vacuums it.
        new GraftProcedure("drop_tag", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val tagName = input.getUTF8String(1).toString
            val version = withCommitLock(dir) {
              val refs = readRefs(dir)
              require(refs.contains(tagName), s"no such tag '$tagName' " +
                s"(tags: ${refs.keys.toSeq.sorted.mkString(", ")})")
              writeRefs(dir, refs - tagName)
              refs(tagName)
            }
            summaryScan(StructType(Seq(
              StructField("dropped_tag", StringType, nullable = false),
              StructField("was_version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(tagName),
                UTF8String.fromString(version)))
          }
        }
      case "analyze" =>
        // CALL cat.system.analyze('db.tbl') — one-pass per-column table
        // statistics of the CURRENT snapshot: row count, null count,
        // distinct count (exact below the KMV sketch's k = 8192, ~1%
        // beyond — the scale path; an exact NDV would shuffle every
        // distinct value), and min/max rendered as strings. Stored as a
        // `_stats` sidecar INSIDE the version directory (metadata
        // sidecar, Iceberg's stats-file shape: data files stay
        // immutable; re-analyzing the same snapshot overwrites its
        // sidecar idempotently) and served by the `tbl.stats` metadata
        // table. Returns (analyzed_version, n_rows, n_columns).
        new GraftProcedure("analyze", Seq(
          ProcedureParameter.in("table", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val base = versionLog(dir).head
            val cur = dir.resolve(base)
            val (schema, _) = readMeta(cur)
            val df = readVersionDf(cur, schema)
            import org.apache.spark.sql.functions.{col => c, count, count_if, lit, min, max}
            val aggs = c("*") +: schema.fields.flatMap { f =>
              val n = f.name
              Seq(count_if(c(n).isNull).as(s"__nn_$n"),
                graft.functions.KmvCountDistinct
                  .kmvCountDistinct(c(n)).as(s"__nd_$n"),
                min(c(n)).cast(StringType).as(s"__mn_$n"),
                max(c(n)).cast(StringType).as(s"__mx_$n"))
            }.toSeq
            val row = df.agg(count(aggs.head).as("__rows"),
              aggs.tail: _*).head()
            val nRows = row.getAs[Long]("__rows")
            // min/max values are base64-wrapped ("v<b64>" / "n" for
            // null): a raw value could contain the tab/newline the
            // sidecar format delimits with, or equal any bare sentinel
            def enc(v: String): String =
              if (v == null) "n"
              else "v" + java.util.Base64.getEncoder
                .encodeToString(v.getBytes("UTF-8"))
            val lines = schema.fields.map { f =>
              val n = f.name
              Seq(n, row.getAs[Long](s"__nn_$n").toString,
                row.getAs[Long](s"__nd_$n").toString,
                enc(row.getAs[String](s"__mn_$n")),
                enc(row.getAs[String](s"__mx_$n")))
                .mkString("\t")
            }
            MetaStore.replace(cur.resolve("_stats"),
              (s"$nRows" +: lines.toSeq).mkString("\n"))
            summaryScan(StructType(Seq(
              StructField("analyzed_version", StringType, nullable = false),
              StructField("n_rows", LongType, nullable = false),
              StructField("n_columns", IntegerType, nullable = false))),
              InternalRow(UTF8String.fromString(base), nRows,
                schema.fields.length))
          }
        }
      case "clone" =>
        // CALL cat.system.clone('db.src', 'db.dst') — ZERO-COPY table
        // clone (Delta's shallow clone / Iceberg snapshot-table shape):
        // the destination's first snapshot hard-links the source's
        // current data files, so cloning a 100 TB table moves no data;
        // the two tables then evolve independently (each commit writes
        // its own fresh version dir, and vacuum only ever deletes dirs
        // from its own log, so shared files persist until BOTH sides
        // have let go — the hard-link refcount is the ownership model).
        new GraftProcedure("clone", Seq(
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("destination", StringType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val srcDir = procTableDir(input.getUTF8String(0).toString)
            val dstName = input.getUTF8String(1).toString
            val dstParts = dstName.split("\\.").toSeq.filter(_.nonEmpty)
            val dstIdent = Identifier.of(dstParts.init.toArray, dstParts.last)
            if (tableExists(dstIdent))
              throw new TableAlreadyExistsException(dstIdent)
            val dstDir = tableDir(dstIdent)
            val srcVersion = versionLog(srcDir).head
            val (schema, parts) = readMeta(srcDir.resolve(srcVersion))
            val v = s"v-${UUID.randomUUID()}"
            writeMeta(dstDir.resolve(v), schema, parts)
            linkDataFiles(srcDir.resolve(srcVersion), dstDir.resolve(v))
            carryLegacySpecs(srcDir.resolve(srcVersion), dstDir.resolve(v))
            MorDeletes.carry(srcDir.resolve(srcVersion), dstDir.resolve(v))
            // the clone links the same data files BY NAME, so the
            // source's file-stats store is the destination's — carried
            // as links too, or the clone commit would re-read every
            // footer the source already priced
            FileStats.carryStore(srcDir, dstDir)
            if (Files.exists(srcDir.resolve("_props")))
              MetaStore.copy(srcDir.resolve("_props"), dstDir.resolve("_props"),
                StandardCopyOption.REPLACE_EXISTING)
            commitPointer(dstDir, v, expectedBase = None)
            summaryScan(StructType(Seq(
              StructField("cloned_from", StringType, nullable = false),
              StructField("source_version", StringType, nullable = false),
              StructField("new_version", StringType, nullable = false))),
              InternalRow(UTF8String.fromString(input.getUTF8String(0).toString),
                UTF8String.fromString(srcVersion), UTF8String.fromString(v)))
          }
        }
      case "remove_orphans" =>
        // CALL cat.system.remove_orphans('db.tbl', min_age_s) — sweep
        // version directories that are in NO log (neither current, nor
        // retained history, nor tag-pinned): the leftovers of writers
        // that died between staging and commit, or of CAS losers whose
        // cleanup was itself interrupted. Age-gated so an IN-FLIGHT
        // staged write (its dir exists, its commit hasn't happened yet)
        // is never swept — the same reasoning as the stale-lock breaker.
        // Runs under the commit lock so the log cannot advance mid-sweep.
        new GraftProcedure("remove_orphans", Seq(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("min_age_s", IntegerType).build())) {
          override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val dir = procTableDir(input.getUTF8String(0).toString)
            val minAgeS = input.getInt(1)
            require(minAgeS >= 0, s"min_age_s must be >= 0, got $minAgeS")
            val removed = withCommitLock(dir) {
              // live = main log + every branch log + tags: a branch-only
              // version is NOT an orphan
              val live = versionLog(dir).toSet ++ readRefs(dir).values ++
                listBranches(dir).flatMap(b => versionLog(dir, s"_branch_$b"))
              val cutoff = System.currentTimeMillis() - minAgeS * 1000L
              val candidates = MetaStore.list(dir).filter { p =>
                val n = p.getFileName.toString
                n.startsWith("v-") && !live.contains(n) &&
                  Files.isDirectory(p) &&
                  (try Files.getLastModifiedTime(p).toMillis < cutoff
                   catch { case _: java.io.IOException => false })
              }
              candidates.map { p =>
                MetaStore.deleteTree(p); p.getFileName.toString
              }
            }
            summaryScan(StructType(Seq(
              StructField("removed_orphans", IntegerType, nullable = false))),
              InternalRow(removed.size))
          }
        }
      case other =>
        throw new RuntimeException(
          s"unknown procedure system.$other — available: " +
            "expire_snapshots(table, keep), rollback_to(table, ordinal), " +
            "compact(table, target_files), rewrite_layout(table, spec), " +
            "evolve_layout(table, spec), unify_layout(table), " +
            "tag(table, name, ordinal), " +
            "drop_tag(table, name), create_branch(table, name), " +
            "drop_branch(table, name), fast_forward(table, name), " +
            "analyze(table), " +
            "clone(source, destination), remove_orphans(table, min_age_s)")
    }
  }
}

/** A read-only driver-materialized table: rows are computed at scan-build
  * time (fresh on every query — a metadata table must reflect the commit
  * that just happened) and served through Spark's [[org.apache.spark.sql.
  * connector.read.LocalScan]], which plans as a LocalTableScan. Row
  * volume is bounded by construction (snapshot log / one directory
  * listing), so driver materialization is the right shape. */
private[sources] final class LocalScanTable(
    tableName: String, tableSchema: StructType,
    rowsFn: () => Seq[org.apache.spark.sql.catalyst.InternalRow])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          private val materialized = rowsFn().toArray
          override def readSchema(): StructType = tableSchema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            materialized
          override def description(): String = tableName
        }
    }
}

/** Shared read/write plumbing of committed and staged tables: reads
  * delegate to Spark's parquet V2 table over the version directory,
  * writes bridge through V1Write into a target directory. */
private[sources] abstract class VersionedTable(
    ident: Identifier, versionDir: JPath,
    tableSchema: StructType, fields: Seq[PartitionField])
    extends Table with SupportsRead with SupportsWrite {

  protected def spark: SparkSession = SparkSession.active

  /** Prior-layout subtrees of a MIXED-SPEC version (metadata-only spec
    * evolution); empty for every single-spec version and every staged
    * table. Overridden by [[PointerTable]]. */
  protected def legacySpecs: Seq[(String, Seq[PartitionField])] = Nil

  /** The pointer log a streaming read of this table tails — main for
    * every table except a `t@branch`-bound [[PointerTable]], which
    * overrides with its branch log so the stream follows the branch's
    * commits (write-audit-publish for streams). */
  protected def streamRef: String = AtomicParquetCatalog.MainRef

  /** Directory-level column names of the hive layout — identity columns
    * verbatim, hidden `_gb_<col>` ids for bucket fields. All the
    * directory-walking machinery (hard links, partition pruning,
    * metadata tables, dynamic overwrite) keys on these. */
  protected final val parts: Seq[String] = fields.map(_.dirName)

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    fields.map(PartitionField.v2Transform).toArray
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.singletonMap(TableCatalog.PROP_LOCATION,
      versionDir.toString)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the inner table carries the reserved row-index field so any
    // scan can request per-file row ordinals (positional deletes,
    // the `_pos` metadata column); never part of query output
    val inner = ParquetTable(name(), spark, options,
      Seq(versionDir.toString), Some(MorDeletes.withRowIndex(tableSchema)),
      classOf[ParquetFileFormat]).newScanBuilder(options)
    inner match {
      // every table routes through the graft builder: partitioned
      // tables get the runtime handshakes a lakehouse scan owes Spark —
      // KeyGroupedPartitioning (storage-partitioned joins, when the
      // session opted into v2 bucketing) or SupportsRuntimeV2Filtering
      // over the partition columns (dynamic partition pruning) — and
      // EVERY layout (unpartitioned included) gets the streaming-read
      // wrap; the SAME builder state, all pushdown intact
      // (see KeyGroupedScan.scala)
      case psb: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
        new KeyGroupedParquetScanBuilder(psb, spark, name(), versionDir,
          tableSchema, fields,
          StreamReadOptions.fromOptions(options).copy(ref = streamRef),
          legacySpecs)
      case _ => inner
    }
  }

  /** Write `df` as partitioned parquet into `target`. With
    * `spark.sql.catalog.graft.write.clusterByPartitions` (Iceberg's
    * `write.distribution-mode=hash` posture) the rows are hash-clustered
    * on the partition columns first, so each partition value lands from
    * ONE task and the layout gets ~one file per partition instead of
    * (tasks x partitions) small files — the small-files explosion that
    * dominates write cost and ruins later scan/compaction behavior at
    * 100 TB. Default is AUTO: on exactly where the spec's fineness is
    * statically knowable (see [[PartitionField.clusterWrite]] — hours,
    * big bucket products, days×bucket composites), off for coarse
    * layouts where the exchange would cost parallelism for nothing;
    * WriteDistributionSpec pins the clustered file count. */
  protected def writeInto(target: JPath, df: DataFrame, mode: String): Unit =
    AtomicParquetCatalog.writeLayout(spark, versionDir.getParent, target,
      df, fields, mode)
}

/** A committed table: reads serve the pinned version directory (immutable
  * — concurrent replaces cannot tear this reader); appends are CAS'd
  * fast-appends into a fresh version (prior data files hard-linked, no
  * copy), INSERT OVERWRITE stages a fresh version and swaps the pointer
  * atomically.
  *
  * Row-level operations (`MERGE INTO`, and through the same rewrite
  * `UPDATE`/`DELETE`): [[SupportsRowLevelOperations]] in group-based
  * COPY-ON-WRITE mode at PARTITION granularity — the group is a
  * partition directory, Iceberg's COW unit scaled to this catalog's
  * layout. Spark's rewrite (`RewriteMergeIntoTable` and friends) reads
  * the pinned version through this table's own scan; that scan
  * implements [[SupportsRuntimeV2Filtering]] over the partition
  * columns, so the optimizer's `RowLevelOperationRuntimeGroupFiltering`
  * first computes the partitions that contain matching rows (a dynamic
  * IN-subquery over the join/condition keys) and the scan then serves
  * ONLY those partition directories. The operation's write receives the
  * merged rows of exactly the touched partitions, re-lays them out as
  * partition directories in a fresh version, HARD-LINKS every untouched
  * partition's files from the base version (no data copy — the
  * fast-append machinery), and swaps the pointer with the SAME CAS as a
  * replace — a merge racing any other commit conflicts instead of
  * losing the other writer's update, and the pre-merge snapshot stays
  * time-travelable. Merge cost is therefore proportional to the touched
  * partitions, not the table (AtomicCatalogSpec pins the inode equality
  * of linked partitions, including DATE-typed partition values). When
  * group filtering cannot fire — an unpartitioned table, a merge with
  * NOT-MATCHED-BY-SOURCE clauses (every partition is potentially
  * affected), a MULTI-column partition spec (Spark's runtime-filter V2
  * translation pushes single-column IN predicates only; the multi-key
  * pruning subquery's struct child does not translate), or the group
  * filter disabled — the scan serves the whole table and the rewrite
  * degrades to whole-table COW, written unpartitioned with metadata
  * recording that: correct at any scale, just without the partition
  * shortcut.
  * Group filtering is best-effort BY CONTRACT (returning more rows than
  * the matched groups is always sound — the rewrite carries survivors
  * through), which is what makes the conservative keeps below (null
  * partitions, unparseable predicates) safe. */
private[sources] final class PointerTable(
    catalog: AtomicParquetCatalog, ident: Identifier, dir: JPath,
    versionDir: JPath, tableSchema: StructType, fields: Seq[PartitionField],
    legacy: Seq[(String, Seq[PartitionField])] = Nil,
    historical: Boolean = false,
    // the pointer log this table's commits CAS: `_current` (main) or a
    // `_branch_<name>` log for a `t@name`-bound table — every write
    // path below routes through it, so branch isolation needs no
    // per-path logic
    ref: String = "_current")
    extends VersionedTable(ident, versionDir, tableSchema, fields)
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  override protected def streamRef: String = ref

  /** `_file` / `_pos` row lineage (see [[GraftMetadataColumns]]) — and
    * the row id of the POSITIONAL merge-on-read path for tables with
    * no usable PRIMARY KEY. A (pathological) data column with the same
    * name wins: the metadata column is hidden rather than shadowing
    * user data. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMetadataColumns.columns.filterNot(m =>
      tableSchema.fieldNames.exists(_.equalsIgnoreCase(m.name())))

  /** MERGE-ON-READ DELETE (MorDeletes.scala): with
    * `spark.sql.catalog.graft.write.deleteMode = merge-on-read`, a
    * DELETE whose condition fully translates commits METADATA ONLY —
    * Spark's `OptimizeMetadataOnlyDeleteFromTable` swaps the COW
    * rewrite for `deleteWhere` exactly when `canDeleteWhere` accepts.
    * Anything untranslatable (expressions over functions, decimals,
    * nested fields) answers false and keeps the COW path — correct at
    * any scale, just not O(metadata). */
  private def morDeleteMode: Boolean =
    MorDeletes.morEnabled(spark) ||
      MetaStore.readProps(dir).get("write.delete.mode")
        .contains("merge-on-read")

  override def canDeleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    morDeleteMode && !historical && predicates.nonEmpty &&
      predicates.forall(p => MorDeletes.translate(p, tableSchema).isDefined)

  override def deleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // the EXECUTING session, captured once at entry — loadIfEnabled's
    // contract (its kill-switch must see the session that runs this
    // DELETE, never whatever a different thread left active)
    val spark = org.apache.spark.sql.SparkSession.active
    val node = predicates.toSeq
      .map(p => MorDeletes.translate(p, tableSchema).getOrElse(
        throw new UnsupportedOperationException(
          s"$ident: deleteWhere received an untranslatable predicate $p " +
            "that canDeleteWhere would have refused")))
      .reduce(MorDeletes.AndN(_, _))
    val v = s"v-${UUID.randomUUID()}"
    val nv = dir.resolve(v)
    MetaStore.carrySpec(versionDir, nv)
    catalog.linkDataFiles(versionDir, nv)
    catalog.carryLegacySpecs(versionDir, nv)
    MorDeletes.carry(versionDir, nv)
    // the entry scopes to the files present NOW: rows appended later
    // that happen to match the predicate are untouched (snapshot
    // semantics, the Iceberg sequence-number rule) — NARROWED by the
    // footer-stats store to the files the predicate can possibly
    // match, so every later consumer of the scope (CDC reads, stream
    // re-emission, rewrite_deletes, the read-side cohort split) prices
    // the files the delete touched, not the snapshot
    val files = MetaStore.dataFiles(versionDir)
      .map(p => versionDir.relativize(java.nio.file.Paths.get(p)).toString)
      .toSet
    val scoped = {
      val stats = FileStats.load(dir)
      val blooms = BloomIndex.loadIfEnabled(dir, spark)
      if (stats.isEmpty && blooms.isEmpty) files
      else {
        val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(tableSchema)
        val expr = MorDeletes.toCatalyst(node, attrs)
        files.filter(f => stats.get(f).forall(
          FileStats.mayMatch(Seq(expr), _, tableSchema)) &&
          blooms.get(f).forall(BloomIndex.mayMatch(Seq(expr), _)))
      }
    }
    if (scoped.nonEmpty) { MorDeletes.writeEntry(nv, node, scoped); () }
    try catalog.commitVersion(dir, v,
      expectedBase = Some(versionDir.getFileName.toString), ref = ref)
    catch { case e: Throwable => catalog.dropOrphan(nv); throw e }
  }

  /** TRUNCATE (SupportsDeleteV2's parent contract): an empty fresh
    * version under the same schema/spec — whole-table semantics, so no
    * links, no sidecars. */
  override def truncateTable(): Boolean = {
    val v = s"v-${UUID.randomUUID()}"
    val nv = dir.resolve(v)
    MetaStore.carrySpec(versionDir, nv)
    try catalog.commitVersion(dir, v,
      expectedBase = Some(versionDir.getFileName.toString), ref = ref)
    catch { case e: Throwable => catalog.dropOrphan(nv); throw e }
    true
  }

  override protected def legacySpecs: Seq[(String, Seq[PartitionField])] =
    legacy

  /** Persisted table constraints (see [[TableConstraints]]): the
    * analyzer reads these off the table and injects ENFORCED CHECK
    * validation into every write's own query plan — a violating row
    * fails the write inside its projection, no extra pass. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    TableConstraints.read(dir)

  // persisted TBLPROPERTIES + the location every catalog table reports
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    MetaStore.readProps(dir).foreach { case (k, v) => m.put(k, v) }
    m.put(TableCatalog.PROP_LOCATION, versionDir.toString)
    m
  }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer widens the target via
      // this catalog's alterTable (a metadata-only snapshot) before the
      // row-level rewrite; old files null-fill the added columns on read
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    // streaming reads tail the pointer log, streaming writes append
    // epoch snapshots to it — meaningful only on the CURRENT table (a
    // pinned historical snapshot never advances). Branch-bound tables
    // (`t@branch`) stream too: the ref threads through the stream
    // read's log tail and the sink's rebase/commit loop, so a stream
    // can land on an audit branch (write-audit-publish) and
    // `fast_forward` publishes it — main readers never see a half-done
    // state. The epoch ledger rides inside the branch's versions, so
    // exactly-once survives the publish swap unchanged.
    if (!historical) {
      caps.add(TableCapability.MICRO_BATCH_READ)
      caps.add(TableCapability.STREAMING_WRITE)
    }
    caps
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (historical) throw new UnsupportedOperationException(
      s"$ident: cannot MERGE/UPDATE/DELETE through a VERSION AS OF read — " +
        "historical snapshots are immutable; target the current table")
    // MERGE-ON-READ delta path (DeltaRowLevel.scala): when the table
    // requests it, the operation commits O(changed rows) — a delete
    // sidecar + appended files, every base file hard-linked — instead
    // of any rewrite. Row id: the declared PRIMARY KEY (equality
    // deletes), or the (_file, _pos) metadata pair when no usable PK
    // exists (POSITIONAL deletes — Iceberg v2's second format).
    // Ineligible tables fall through to group-based COW silently.
    locally {
      val eqRowIds = DeltaRowLevel.eligibleRowId(catalog, dir, tableSchema,
        info.command(), spark)
      val rowIds = eqRowIds
        .orElse(if (DeltaRowLevel.eligiblePositional(catalog, dir,
            tableSchema, info.command(), spark))
          Some(DeltaRowLevel.PositionalRowId) else None)
      rowIds.foreach { rowIdCols =>
        // the positional flag is EXPLICIT (not inferred from row-id
        // column names at commit): a table with real data columns
        // named _file/_pos and a PK on them routes equality, never
        // positional
        return () => new DeltaRowLevelOperation(catalog, ident, dir,
          versionDir, fields, info.command(), rowIdCols,
          eqRowIds.isEmpty, tableSchema, ref,
          opts => {
            val b = PointerTable.this.newScanBuilder(opts)
            // same schema pin as the COW scan: a hidden-transform
            // layout's inner table appends its `_gb_col`; the rewrite's
            // relation output is the table schema (Spark re-prunes with
            // the rowId metadata columns for the positional path)
            b match {
              case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                p.pruneColumns(tableSchema)
              case _ => ()
            }
            b
          })
      }
    }
    // multi-column partition specs: Spark's runtime-filter translation
    // drops the multi-key pruning subquery (struct child), so the split
    // rule below rewrites it into per-column subqueries that DO
    // translate. Registered here — analysis time, strictly before the
    // optimizer batch the rule runs in — and idempotently, on the
    // session that will execute this operation.
    locally {
      val ex = spark.experimental
      ex.synchronized {
        if (!ex.extraOptimizations
            .contains(graft.plans.SplitMultiColumnRuntimeGroupFilter))
          ex.extraOptimizations = ex.extraOptimizations :+
            graft.plans.SplitMultiColumnRuntimeGroupFilter
      }
    }
    () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()

      /** The partition directories the row-level scan ACTUALLY served,
        * set by the scan's runtime group filter. The write's commit
        * reads it strictly after every scan task finished (commit runs
        * last), so the handshake needs no further synchronization:
        * `Some(S)` means the merged output covers exactly the
        * partitions in S and every other base partition must ride along
        * as hard links; `None` means the scan served the whole table
        * (group filtering never fired) and the output IS the table. */
      @volatile private[sources] var scannedPartitions: Option[Set[String]] = None

      // the rewrite reads the SAME pinned version this table resolved —
      // the merge's base for both the join and the commit-time CAS.
      // CRITICAL: refuse COMPILE-TIME filter pushdown here. Spark pushes
      // the DELETE/UPDATE condition (or MERGE join keys) into this scan
      // as GROUP-pruning — "return every row of the groups that contain
      // a match" — but the underlying parquet scan would honor the
      // pushed predicate at ROW granularity, starving the copy-on-write
      // rewrite of the surviving rows (a pushable `WHERE id = 2` delete
      // would rewrite the table to just-the-matching-rows' survivors =
      // empty). A plain ScanBuilder keeps the condition in the query
      // plan's own Filter, where the rewrite's survivor logic needs it.
      // RUNTIME group filtering (SupportsRuntimeV2Filtering, partitioned
      // tables only) is the sound counterpart: it prunes whole PARTITION
      // DIRECTORIES — every row of a kept partition is still served, so
      // survivors of touched partitions always reach the rewrite.
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val inner = PointerTable.this.newScanBuilder(options)
        // pin the scan to EXACTLY the table schema: a hidden-bucket
        // layout's inner parquet table APPENDS the inferred `_gb_col`
        // partition column to its own schema, and an unpruned scan
        // would serve it — but the rewrite's relation output is the
        // table schema, so the extra field crashes scan planning
        // (toOutputAttrs) or, worse, shifts row layout under the write
        inner match {
          case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
            p.pruneColumns(tableSchema)
          case _ => ()
        }
        new ScanBuilder {
          override def build(): org.apache.spark.sql.connector.read.Scan =
            // a MIXED-SPEC version (legacy subtrees after metadata-only
            // spec evolution) disables partition-level group filtering:
            // its partition paths span two layouts, so the rewrite runs
            // whole-table COW — which also re-lays every row under the
            // CURRENT spec, unifying the table as a side effect (the
            // same implicit migration Iceberg's row-level ops perform).
            // The scan must HIDE the runtime-filtering capability here:
            // without the GroupFilteringScan handshake the commit
            // assumes the staged output IS the whole table, so letting
            // the optimizer's group filter prune the union scan would
            // silently drop every unmatched partition's rows.
            if (legacy.nonEmpty) new WholeTableCowScan(inner.build())
            else if (parts.isEmpty) inner.build()
            else new GroupFilteringScan(inner.build())
        }
      }

      /** The mixed-spec row-level read: forwards the batch interface
        * ONLY — no SupportsRuntimeV2Filtering, so the group-filtering
        * optimizer rule never plants a pruning subquery on it (see
        * newScanBuilder above). */
      final class WholeTableCowScan(
          inner: org.apache.spark.sql.connector.read.Scan)
          extends org.apache.spark.sql.connector.read.Scan {
        override def readSchema(): StructType = inner.readSchema()
        override def description(): String =
          s"graft-atomic-cow-full $ident"
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          inner.toBatch
      }

      /** Partition-pruning scan for the row-level rewrite: serves the
        * base version in full until the runtime group filter names the
        * partitions containing matches, then rebuilds the inner parquet
        * scan over just those partition directories (`basePath` keeps
        * the partition columns in the rows). Conservative by contract:
        * any predicate shape it cannot prove prunable — and the null
        * partition — stays IN the read set, which only widens the
        * rewrite, never corrupts it. */
      final class GroupFilteringScan(
          fullScan: org.apache.spark.sql.connector.read.Scan)
          extends org.apache.spark.sql.connector.read.Scan
          with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
          with graft.plans.MultiColumnRuntimeGroupFilterable {
        import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
        import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

        @volatile private var delegate = fullScan

        override def readSchema(): StructType = fullScan.readSchema()
        override def description(): String = s"graft-atomic-cow-scan $ident"
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          delegate.toBatch

        // SOURCE columns, not directory names: for identity fields they
        // coincide; for bucket fields the hidden `_gb_col` is not a scan
        // output column (Spark could never build a subquery over it), so
        // the filter arrives on the bucket's SOURCE key and the keep
        // test hashes each value to its bucket directory — MERGE into a
        // bucket-partitioned table rewrites only the buckets its keys
        // hash into, with every other bucket hard-linked
        override def filterAttributes(): Array[NamedReference] =
          fields.map(f => Expressions.column(f.srcCol)
            .asInstanceOf[NamedReference]).toArray

        override def filter(predicates: Array[V2Predicate]): Unit = {
          // one IN/= per partition column, values in catalyst internal
          // form (that is what DataSourceV2Strategy.translateRuntimeFilterV2
          // builds from the group-filter subquery result); parse/keep
          // arithmetic shared with the normal-read DPP scan
          // (PartitionRuntimeFilters, RuntimePrunedScan.scala)
          val parsed = PartitionRuntimeFilters.parse(predicates)
          if (parsed.nonEmpty) {
            val all = catalog.dataFilePartitions(versionDir)
            val kept = all.filter(PartitionRuntimeFilters.keepPartitionDir(
              _, parsed, tableSchema, fields))
            scannedPartitions = Some(kept)
            val options = new CaseInsensitiveStringMap(
              java.util.Collections.singletonMap("basePath", versionDir.toString))
            // live MOR deletes must re-apply on the rebuilt scan (it
            // BYPASSES the table's own builder) or the COW rewrite
            // would resurrect deleted rows; positional entries need the
            // row-index column in the rebuilt read, projected away after
            val live = MorDeletes.entries(versionDir)
            val livePos = MorDeletes.posEntries(versionDir)
            val pinSchema =
              if (livePos.isEmpty) tableSchema
              else MorDeletes.withRowIndex(tableSchema)
            val prunedBuilder = ParquetTable(s"$ident-cow-pruned", spark,
              options,
              kept.toSeq.sorted.map(p => versionDir.resolve(p).toString),
              Some(pinSchema), classOf[ParquetFileFormat])
              .newScanBuilder(options)
            prunedBuilder match {
              // same schema pin as the outer builder: the rebuilt
              // delegate must serve rows of exactly the table schema,
              // never an appended hidden `_gb_col`
              case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
                p.pruneColumns(pinSchema)
              case _ => ()
            }
            val rebuilt = prunedBuilder.build()
            delegate =
              if (live.isEmpty && livePos.isEmpty) rebuilt
              else new DeleteApplyingScan(rebuilt, s"$ident-cow-pruned",
                versionDir, live, livePos,
                if (livePos.isEmpty) Nil else Seq(MorDeletes.RowIndexCol))
          }
        }
      }

      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder = {
        val op = this
        new WriteBuilder {
          override def build(): Write = {
          val v = s"v-${UUID.randomUUID()}"
          val nv = dir.resolve(v)
          val staging = nv.resolve("_staging")
          // nothing touches disk until the write EXECUTES (toBatch):
          // an EXPLAIN'd or abandoned plan leaves no orphan version dir
          val inner = ParquetTable(s"$ident-merge-staging", spark,
            CaseInsensitiveStringMap.empty(), Seq(staging.toString),
            Some(winfo.schema()), classOf[ParquetFileFormat])
            .newWriteBuilder(winfo).build()
          new Write {
            override def description(): String = s"graft-atomic-merge $ident"
            override def toBatch: BatchWrite = new BatchWrite {
              private val delegate = inner.toBatch
              override def createBatchWriterFactory(
                  pi: PhysicalWriteInfo): DataWriterFactory =
                new ShiftProjectWriterFactory(
                  delegate.createBatchWriterFactory(pi), winfo.schema())
              override def useCommitCoordinator(): Boolean =
                delegate.useCommitCoordinator()
              override def onDataWriterCommit(m: WriterCommitMessage): Unit =
                delegate.onDataWriterCommit(m)
              override def commit(msgs: Array[WriterCommitMessage]): Unit = {
                delegate.commit(msgs) // merged rows land flat in _staging
                MetaStore.mkdirs(nv)
                MetaStore.write(nv.resolve("_schema.json"),
                  winfo.schema().json)
                op.scannedPartitions match {
                  case Some(rewritten) if parts.nonEmpty =>
                    // PARTITION-LEVEL COW: the scan served only the
                    // partitions in `rewritten`, so the staged output is
                    // their complete merged row set (plus any inserted
                    // rows, wherever they land). Re-lay it out as
                    // partition directories — one extra pass over the
                    // TOUCHED rows only — and hard-link every base
                    // partition the scan did not read.
                    MetaStore.write(nv.resolve("_partitions.txt"),
                      PartitionField.serialize(fields))
                    val staged = IdentityColumns.refuseNulls(
                      spark.read.schema(winfo.schema())
                        .parquet(staging.toString),
                      tableSchema, "a row-level MERGE/UPDATE")
                    writeInto(nv, staged, "append")
                    catalog.dropOrphan(staging)
                    catalog.linkDataFiles(versionDir, nv,
                      keepPartition = p => !rewritten.contains(p))
                    // linked (untouched) partitions keep their live
                    // delete entries; the rewritten partitions' fresh
                    // files appear in no manifest, so the carried
                    // entries are inert for them
                    MorDeletes.carry(versionDir, nv)
                  case _ if parts.nonEmpty =>
                    // whole-table COW on a PARTITIONED table (group
                    // filtering never fired — e.g. a merge with
                    // NOT-MATCHED-BY-SOURCE clauses, or the group filter
                    // disabled): the staged flat files are the complete
                    // new table, but hoisting them flat would silently
                    // DESTROY the partition layout — and with it every
                    // future prune, the next merge's partition-level COW
                    // and the `partitions` metadata table. Re-lay the
                    // staged rows out as partition directories: the same
                    // one-extra-pass the pruned path pays, here over the
                    // whole table because the whole table was rewritten
                    // anyway (AtomicCatalogSpec pins layout survival).
                    MetaStore.write(nv.resolve("_partitions.txt"),
                      PartitionField.serialize(fields))
                    val staged = IdentityColumns.refuseNulls(
                      spark.read.schema(winfo.schema())
                        .parquet(staging.toString),
                      tableSchema, "a row-level MERGE/UPDATE")
                    writeInto(nv, staged, "append")
                    catalog.dropOrphan(staging)
                  case _ if IdentityColumns.has(tableSchema) || {
                      val p = MetaStore.readProps(dir)
                      p.contains("write.sort-cols") ||
                        p.contains("write.bloom-cols")
                    } =>
                    // whole-table COW on an UNPARTITIONED identity,
                    // sort-ordered or bloom-indexed table: the raw-move
                    // shortcut below would let a merge-inserted row
                    // slip a NULL identity value into the table, land
                    // the merged rows unsorted (dulling the skip
                    // index), or write files with no native bloom
                    // filters (permanently unskippable) — take the
                    // one-extra-pass re-read so the refusal guard /
                    // the layout router's sort + bloom options see
                    // every row
                    MetaStore.write(nv.resolve("_partitions.txt"), "")
                    val staged = IdentityColumns.refuseNulls(
                      spark.read.schema(winfo.schema())
                        .parquet(staging.toString),
                      tableSchema, "a row-level MERGE/UPDATE")
                    writeInto(nv, staged, "append")
                    catalog.dropOrphan(staging)
                  case _ =>
                    // whole-table COW on an UNPARTITIONED table: the
                    // staged flat files ARE the new table — hoist them
                    // out of _staging
                    MetaStore.write(nv.resolve("_partitions.txt"), "")
                    if (Files.isDirectory(staging)) {
                      MetaStore.list(staging).foreach { f =>
                        val n = f.getFileName.toString
                        if (Files.isRegularFile(f) && !n.startsWith("_") &&
                            !n.startsWith("."))
                          MetaStore.move(f, nv.resolve(n))
                      }
                      catalog.dropOrphan(staging)
                    }
                }
                try catalog.commitVersion(dir, v,
                  expectedBase = Some(versionDir.getFileName.toString), ref = ref)
                catch { // CAS conflict: the staged version is unreachable
                  case e: Throwable => catalog.dropOrphan(nv); throw e
                }
              }
              override def abort(msgs: Array[WriterCommitMessage]): Unit = {
                try delegate.abort(msgs)
                finally catalog.dropOrphan(nv)
              }
            }
          }
          }
        }
      }
    }
  }

  /** DYNAMIC partition overwrite (partitionOverwriteMode=dynamic, the
    * daily-partition-refresh pattern): Spark plans it as a pure V2 batch
    * write (`OverwritePartitionsDynamicExec` has no V1 bridge), so the
    * new rows land through Spark's V2 parquet writer in a `_staging`
    * subdirectory, and commit (a) re-lays them out into partition
    * directories (one extra pass over the REFRESHED partitions only —
    * the V2 file writer does not produce a partition layout, and reads /
    * pruning need it), (b) hard-links every prior partition the write
    * did NOT touch, and (c) swaps the pointer with the same CAS as any
    * commit. Refreshing one day of a year-partitioned table therefore
    * rewrites one day and links the rest. */
  private def dynamicOverwriteWrite(winfo: LogicalWriteInfo): Write = {
    require(parts.nonEmpty,
      s"$ident: dynamic partition overwrite needs a partitioned table")
    // a mixed-spec version cannot refresh partitions by link-and-swap:
    // an old-spec file's rows may belong to a refreshed partition of
    // the NEW spec, and linking it wholesale would resurrect them.
    // Refused toward the unify-first paths, never silently wrong.
    if (legacy.nonEmpty) throw new UnsupportedOperationException(
      s"$ident: dynamic partition overwrite on a mixed-spec table (after " +
        "metadata-only spec evolution) — unify the layout first with " +
        "CALL system.compact or CALL system.rewrite_layout, or use a " +
        "full REPLACE/MERGE")
    val v = s"v-${UUID.randomUUID()}"
    val nv = dir.resolve(v)
    val staging = nv.resolve("_staging")
    // nothing touches disk until the write EXECUTES (the delegate's job
    // setup creates _staging): an EXPLAIN'd or abandoned plan leaves no
    // orphan version dir; metadata is written at commit time
    val inner = ParquetTable(s"$ident-dyn-staging", spark,
      CaseInsensitiveStringMap.empty(), Seq(staging.toString),
      Some(winfo.schema()), classOf[ParquetFileFormat])
      .newWriteBuilder(winfo).build()
    new Write {
      override def description(): String = s"graft-atomic-dynamic $ident"
      override def toBatch: BatchWrite = new BatchWrite {
        private val delegate = inner.toBatch
        override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
          delegate.createBatchWriterFactory(pi)
        override def useCommitCoordinator(): Boolean =
          delegate.useCommitCoordinator()
        override def onDataWriterCommit(m: WriterCommitMessage): Unit =
          delegate.onDataWriterCommit(m)
        override def commit(msgs: Array[WriterCommitMessage]): Unit = {
          delegate.commit(msgs) // staged flat files land under _staging
          MetaStore.carrySpec(versionDir, nv)
          val staged = IdentityColumns.refuseNulls(
            spark.read.schema(winfo.schema()).parquet(staging.toString),
            tableSchema, "a dynamic partition overwrite")
          writeInto(nv, staged, "append")
          catalog.dropOrphan(staging)
          val written = catalog.dataFilePartitions(nv)
          MorDeletes.carry(versionDir, nv)
          catalog.linkDataFiles(versionDir, nv,
            keepPartition = p => !written.contains(p))
          try catalog.commitVersion(dir, v,
            expectedBase = Some(versionDir.getFileName.toString), ref = ref)
          catch { // CAS conflict: the staged version is unreachable
            case e: Throwable => catalog.dropOrphan(nv); throw e
          }
        }
        override def abort(msgs: Array[WriterCommitMessage]): Unit = {
          try delegate.abort(msgs)
          finally catalog.dropOrphan(nv)
        }
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (historical) throw new UnsupportedOperationException(
      s"$ident: cannot write through a VERSION AS OF read — historical " +
        "snapshots are immutable; write to the current table instead")
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var mode: String = "append"
      override def truncate(): WriteBuilder = { mode = "static"; this }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }
      override def build(): Write =
        if (mode == "dynamic") dynamicOverwriteWrite(info)
        else new V1Write {
        /** The NATIVE streaming sink (`df.writeStream.toTable(...)`):
          * per-epoch fast-append snapshots with an exactly-once epoch
          * ledger — see [[GraftStreamingWrite]]. Append output mode
          * only: Complete would truncate the table every epoch, which
          * a versioned catalog expresses better as foreachBatch +
          * replace (st09's posture). */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          if (mode != "append") throw new UnsupportedOperationException(
            s"$ident: streaming writes support the Append output mode " +
              "only; use foreachBatch with a replace for Complete")
          if (IdentityColumns.has(tableSchema))
            throw new UnsupportedOperationException(
              s"$ident: streaming writes into an IDENTITY-column table " +
                "are not supported — per-epoch identity allocation would " +
                "race the stream's own commits; generate the values in " +
                "the stream (or use foreachBatch with a batch append)")
          new GraftStreamingWrite(catalog, ident, dir, info.schema(),
            info.queryId(), ref)
        }
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            // both paths: fresh version dir + CAS'd pointer swap on the
            // version this writer loaded — a replace that landed since
            // then must surface as a conflict, not be silently clobbered
            val v = s"v-${UUID.randomUUID()}"
            val nv = dir.resolve(v)
            MetaStore.carrySpec(versionDir, nv)
            // identity columns: allocate values for omitted (null) ids,
            // continuing from the base version's footer-stats watermark
            val hasIdentity = IdentityColumns.has(tableSchema)
            val routed =
              if (hasIdentity) IdentityColumns.fillGenerated(spark, data,
                tableSchema, dir, versionDir)
              else data
            AtomicParquetCatalog.ctime("writeInto")(
              writeInto(nv, routed, "append"))
            // the files THIS write produced, before any links ride in —
            // exactly what a conflict rebase must replay onto a new head
            val newFiles = MetaStore.dataFiles(nv)
              .map(p => nv.relativize(Paths.get(p)).toString)
            // fast-append: the prior version's data files ride along as
            // hard links (no data copy) — legacy `_spec-<k>` subtrees
            // keep their relative layout, so their sidecar rides too; a
            // STATIC overwrite (the truncate() path, whole-table
            // semantics) starts empty AND single-spec
            try {
              if (mode == "append") AtomicParquetCatalog.ctime("linkCarry") {
                catalog.linkDataFiles(versionDir, nv)
                catalog.carryLegacySpecs(versionDir, nv)
                MorDeletes.carry(versionDir, nv)
              }
              AtomicParquetCatalog.ctime("commitVersion")(
                catalog.commitVersion(dir, v,
                  expectedBase = Some(versionDir.getFileName.toString),
                  ref = ref))
            } catch {
              case e: java.io.IOException
                  if mode == "append" && !hasIdentity =>
                // the PINNED base vanished mid-link (racing commits
                // pushed it past retention and vacuumed it): the
                // rebase loop re-reads the live head and re-stages the
                // new files — stale partial links in nv never ride (the
                // rebase links ONLY this write's own files out of it)
                commitAppendRebasing(nv, newFiles,
                  new java.util.ConcurrentModificationException(
                    s"$ident: append base was vacuumed mid-commit " +
                      s"(${e.getMessage})"))
              case e: java.util.ConcurrentModificationException
                  if mode == "append" && !hasIdentity =>
                // fast-append REBASE (Iceberg's retry semantics): an
                // append validates nothing about concurrent commits, so
                // a CAS conflict re-stages the same new files onto the
                // new head instead of failing the writer — at 1000
                // executors many jobs append concurrently and
                // one-writer-at-a-time is not a posture. OVERWRITEs
                // (static/dynamic) still conflict: they asserted a
                // table state a concurrent commit falsified — and so
                // do IDENTITY-table appends, whose racing allocations
                // drew overlapping value ranges from one watermark
                // (Delta's identity conflict rule).
                commitAppendRebasing(nv, newFiles, e)
              case e: Throwable => // non-conflict failure, or overwrite
                catalog.dropOrphan(nv); throw e
            }
          }
      }
    }
  }

  /** Rebase-and-retry for a conflicted fast-append: re-stage `newFiles`
    * (this append's own data files, hard-linked — no data copy) onto
    * the CURRENT head and CAS again, bounded. Rebase is sound exactly
    * when the new head kept the schema and partition spec the files
    * were laid out under; a concurrent replace/evolve that changed
    * either surfaces as the original conflict (the append's rows would
    * land with a stale shape). Each retry prices O(this append's
    * files + head's files) link work — never a data copy, never an
    * O(history) walk. */
  private def commitAppendRebasing(staged: JPath, newFiles: Seq[String],
      conflict: java.util.ConcurrentModificationException): Unit = {
    var cur = staged
    var attempts = 0
    // N writers racing one head resolve one per round, so the last
    // needs ~N rounds: 12 attempts serves a dozen simultaneous
    // appenders, and the growing backoff keeps the retry herd from
    // re-colliding on every CAS (Iceberg's commit.retry posture —
    // measured: 8 barrier-released writers exhaust a backoff-less
    // bound of 5). A head VANISHING mid-rebase (racing commits pushed
    // it past the retention window and vacuumed it — measured under 8
    // writers with history=3) is the same event as losing the CAS:
    // back off and re-read the log, never a crash.
    def backoffOrGiveUp(e: Throwable): Unit =
      if (attempts >= 12) {
        catalog.dropOrphan(cur)
        throw new java.util.ConcurrentModificationException(
          s"$ident: append could not rebase after $attempts attempts " +
            s"(${e.getMessage}); re-run the append")
      } else Thread.sleep(15L * attempts)
    while (true) {
      attempts += 1
      val head = catalog.versionLog(dir, ref).headOption.getOrElse {
        catalog.dropOrphan(cur); throw conflict // table dropped: real conflict
      }
      val headDir = dir.resolve(head)
      val sameShape =
        try Some(
          MetaStore.read(headDir.resolve("_schema.json")) ==
            MetaStore.read(cur.resolve("_schema.json")) &&
          MetaStore.read(headDir.resolve("_partitions.txt")) ==
            MetaStore.read(cur.resolve("_partitions.txt")) &&
          Files.exists(headDir.resolve("_legacy_specs.txt")) ==
            Files.exists(cur.resolve("_legacy_specs.txt")))
        catch { case e: java.io.IOException => None } // head vacuumed: re-read
      sameShape match {
        case None => backoffOrGiveUp(conflict)
        case Some(false) =>
          catalog.dropOrphan(cur)
          throw new java.util.ConcurrentModificationException(
            s"$ident: append raced a commit that changed the table's " +
              s"schema or partition spec (now at $head) — the staged " +
              "rows' layout is stale; re-run the append against the " +
              "current table")
        case Some(true) =>
          val v2 = s"v-${UUID.randomUUID()}"
          val nv2 = dir.resolve(v2)
          val stagedOk =
            try {
              MetaStore.carrySpec(headDir, nv2)
              newFiles.foreach { rel =>
                MetaStore.mkdirs(nv2.resolve(rel).getParent)
                MetaStore.linkOrCopy(cur.resolve(rel), nv2.resolve(rel))
              }
              catalog.linkDataFiles(headDir, nv2)
              catalog.carryLegacySpecs(headDir, nv2)
              MorDeletes.carry(headDir, nv2)
              true
            } catch { // head vacuumed mid-link: cur is intact, retry
              case e: java.io.IOException =>
                catalog.dropOrphan(nv2); backoffOrGiveUp(e); false
            }
          if (stagedOk) {
            catalog.dropOrphan(cur) // hard links outlive the staging dir
            try {
              catalog.commitVersion(dir, v2, expectedBase = Some(head), ref = ref)
              return
            } catch {
              case e: java.util.ConcurrentModificationException =>
                if (attempts >= 12) { catalog.dropOrphan(nv2); throw e }
                Thread.sleep(15L * attempts)
                cur = nv2 // lost the race again: rebase onto the newer head
              case e: Throwable =>
                catalog.dropOrphan(nv2); throw e
            }
          }
      }
    }
  }
}

/** Spark's group-based row-level rewrite keeps its rewrite-internal
  * leading column (`__row_operation`) in the physical rows whenever the
  * operation requests no metadata columns: `ReplaceDataExec.writingTask`
  * applies its row projection only TOGETHER with a metadata projection,
  * so a connector like this one (whole-table copy-on-write, no `_file`
  * granularity) receives rows of shape [rewrite cols ++ write schema].
  * This factory wraps the parquet writer factory with a codegen'd
  * shift projection so the writer sees exactly the declared write
  * schema; offset 0 (already-projected rows, e.g. a future Spark fixing
  * the quirk) passes rows through untouched. */
private[sources] final class ShiftProjectWriterFactory(
    delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      private var offset = -1
      private var proj: UnsafeProjection = _
      override def write(row: InternalRow): Unit = {
        if (offset < 0) {
          offset = row.numFields - dataSchema.length
          require(offset >= 0,
            s"row-level write rows carry ${row.numFields} fields for a " +
              s"${dataSchema.length}-column write schema")
          if (offset > 0)
            proj = UnsafeProjection.create(
              dataSchema.fields.zipWithIndex.map { case (f, i) =>
                BoundReference(i + offset, f.dataType, f.nullable)
              }.toIndexedSeq)
        }
        inner.write(if (offset == 0) row else proj(row))
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
        inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

/** A staged table (CTAS/RTAS): the query writes into the not-yet-visible
  * version directory; `commitStagedChanges` performs the single atomic
  * pointer swap, `abortStagedChanges` deletes the orphan. */
private[sources] final class StagedPointerTable(
    catalog: AtomicParquetCatalog, ident: Identifier, dir: JPath,
    version: String, tableSchema: StructType, fields: Seq[PartitionField],
    base: Option[String])
    extends VersionedTable(ident, dir.resolve(version), tableSchema, fields)
    with StagedTable {

  /** The not-yet-visible staging directory (WAP audits read it). */
  private[sources] def stagingDir: JPath = dir.resolve(version)

  /** Land `df` in the staging directory directly — the WAP write path
    * (the SQL path arrives through newWriteBuilder instead). */
  private[sources] def writeStaged(df: DataFrame): Unit =
    writeInto(stagingDir, df, "append")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // staging dir is born empty
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) =>
            writeInto(dir.resolve(version), data, "append")
      }
    }

  override def commitStagedChanges(): Unit =
    catalog.commitVersion(dir, version, expectedBase = base)

  override def abortStagedChanges(): Unit =
    MetaStore.deleteTree(dir.resolve(version))
}
