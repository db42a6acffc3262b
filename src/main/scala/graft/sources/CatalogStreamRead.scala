package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `readStream.table` option surface, parsed once at scan-build
  * time: admission control (`maxFilesPerTrigger`), change semantics
  * (`skipChangeCommits`), and the starting position
  * (`startingVersion` = "latest" | v-<uuid> | ordinal-commits-back,
  * or `startingTimestamp` — Delta's options: serve changes FROM that
  * point instead of the full current snapshot; consulted only when
  * the checkpoint is fresh, exactly like Delta). */
private[sources] final case class StreamReadOptions(
    maxFilesPerTrigger: Option[Int], skipChangeCommits: Boolean,
    startingVersion: Option[String], startingTimestamp: Option[String],
    maxBytesPerTrigger: Option[Long] = None,
    // the pointer log this stream tails — `_current` (main) or a
    // `_branch_<name>` log for a branch-bound stream (`t@branch`);
    // set by the catalog's scan builder, never by a user option
    ref: String = "_current") {
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "set startingVersion OR startingTimestamp, not both")
}

private[sources] object StreamReadOptions {
  def fromOptions(options: CaseInsensitiveStringMap): StreamReadOptions =
    StreamReadOptions(
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      Option(options.get("startingVersion")).map(_.trim).filter(_.nonEmpty),
      Option(options.get("startingTimestamp")).map(_.trim).filter(_.nonEmpty),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
}

/** STREAMING READS of catalog tables — `spark.readStream.table(t)`,
  * the Delta/Iceberg capability that turns the lakehouse table into a
  * source: the first micro-batch serves the full snapshot current at
  * stream start (or the tail the `startingVersion`/
  * `startingTimestamp` option names), then each commit's ADDED data
  * files become a batch (offsets are immutable version-directory
  * names, resolved through the same pointer log as time travel — one
  * pointer-file read per trigger, with the per-version FILE SETS
  * cached against the immutable directories so catch-up over a deep
  * backlog prices the batches it serves, not the history it walks).
  *
  * Change semantics are a documented two-option choice, same as
  * Iceberg/Delta: by default APPEND-DRIVEN re-emission (a
  * copy-on-write commit re-emits the rows of every file it rewrote —
  * never misses data; downstream must be idempotent on replays, the
  * st12 batch-id guard's consumer shape), or
  * `.option("skipChangeCommits", true)` for pure-append consumption
  * (change commits are skipped whole — updated rows never replay, at
  * the price that a change commit's own inserts are skipped with it).
  * MERGE-ON-READ delete commits follow the same two semantics (where
  * Iceberg's incremental scan simply refuses live delete files): in
  * default mode an entry-adding commit is the logical rewrite it is —
  * every file whose applicable-entry signature changed re-emits its
  * SURVIVOR rows (the batch reader's exact DeleteApplyingScan split,
  * so deleted rows are never served), with the re-emission set priced
  * by the entry's stats-narrowed file scope; in skipChangeCommits
  * mode an entry-adding commit is a change commit and skips whole.
  * The engine's flagship composition — MoR CDC upserts tailed by
  * `readStream.table` — therefore works with no manual
  * rewrite_deletes between writer and reader.
  * A version vacuumed out of the retention window before the stream
  * consumed it fails with a pointed error — the stream must restart
  * from a fresh checkpoint (same contract as an expired Iceberg
  * snapshot).
  *
  * Each planned batch serves every file from the immutable version
  * that holds it, THROUGH A READER FACTORY BUILT FOR THAT VERSION'S
  * OWN LAYOUT ([[DispatchedPartition]] embeds it): a backlog spanning
  * a partition-spec change (a `rewrite_layout`, or the `_spec-<k>`
  * subtrees metadata-only evolution leaves behind) reads every file
  * under the directory layout that wrote it, instead of null-filling
  * partition columns against the head version's layout. */
private[sources] final class CatalogMicroBatchStream(
    session: SparkSession, name: String, tableDir: JPath,
    tableSchema: StructType, readSchema: StructType,
    opts: StreamReadOptions)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit, ReadMaxFiles}

  // Trigger.AvailableNow: pin the run's end at prepare time so the
  // admission-controlled latestOffset still CHUNKS its way there
  // (without this, Spark's wrapper would take everything in one batch)
  @volatile private var availableNowCap: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val l = log()
    availableNowCap = Some(if (l.isEmpty) "" else l.head)
  }

  private def log(): Seq[String] = MetaStore.lines(tableDir.resolve(opts.ref))

  /** Relative data-file paths of one committed version. Version
    * directories are IMMUTABLE once committed, so the walked file set
    * is cached (bounded): admission-controlled catch-up calls
    * [[addedFiles]] every trigger, and without the cache each trigger
    * would re-walk two full version directories — O(table files) per
    * trigger instead of O(batch). */
  private val fileCache =
    new java.util.LinkedHashMap[String, Set[String]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Set[String]]): Boolean = size() > 16
    }

  private def dataFiles(version: String): Set[String] = fileCache.synchronized {
    val cached = fileCache.get(version)
    if (cached != null) return cached
    val v = tableDir.resolve(version)
    if (!Files.isDirectory(v)) throw new IllegalStateException(
      s"$name: stream offset $version is no longer in the retention " +
        "window (vacuumed) — restart the stream from a fresh checkpoint")
    val files =
      MetaStore.walkData(v)(_.map(p => v.relativize(p).toString).toSet)
    fileCache.put(version, files)
    files
  }

  /** Per-file APPLICABLE-DELETE signature of a committed version: the
    * sorted ids of the merge-on-read entries (equality and positional)
    * whose scope names the file. Entry ids are identity across carries
    * ([[MorDeletes.carryRestricted]] preserves them), so a signature
    * CHANGE between two versions means a delete commit logically
    * rewrote the file. Cached like [[dataFiles]] — version dirs are
    * immutable. */
  private val sigCache =
    new java.util.LinkedHashMap[String, Map[String, String]](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, String]]): Boolean =
        size() > 16
    }

  private def deleteSigs(version: String): Map[String, String] =
    sigCache.synchronized {
      val cached = sigCache.get(version)
      if (cached != null) return cached
      val v = tableDir.resolve(version)
      val byFile = scala.collection.mutable.Map.empty[String, List[String]]
      MorDeletes.entries(v).foreach(e =>
        e.files.foreach(f => byFile(f) = e.id :: byFile.getOrElse(f, Nil)))
      MorDeletes.posEntries(v).foreach(e =>
        e.files.foreach(f => byFile(f) = e.id :: byFile.getOrElse(f, Nil)))
      val sigs = byFile.map { case (f, ids) =>
        f -> ids.sorted.mkString(",")
      }.toMap
      sigCache.put(version, sigs)
      sigs
    }

  /** All live entry ids of a version — the skip-mode change-commit
    * test (a commit that ADDED a delete entry removed rows, whether or
    * not it moved files). */
  private def deleteIds(version: String): Set[String] =
    deleteSigs(version).valuesIterator
      .flatMap(_.split(",").iterator.filter(_.nonEmpty)).toSet

  /** A scan over explicit file paths of ONE layout root (a version
    * dir, or one `_spec-<k>` legacy subtree inside it), constructed
    * with `basePath` at that root so partition-column inference
    * matches the layout that wrote the files. */
  private def scanOver(baseDir: JPath, paths: Seq[String],
      pruneTo: StructType = readSchema,
      needRowIndex: Boolean = false): Scan = {
    val options = new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("basePath", baseDir.toString))
    // only a positional-delete group declares the parquet row-index
    // column (its ordinals must be probed); plain scans keep the bare
    // table schema — the reserved column changes the vectorized
    // reader's batch shape and must never ride along uninvited
    val declared =
      if (needRowIndex) MorDeletes.withRowIndex(tableSchema) else tableSchema
    val b = ParquetTable(s"$name-stream", session, options,
      paths.map(p => baseDir.resolve(p).toString),
      Some(declared), classOf[ParquetFileFormat])
      .newScanBuilder(options)
    b match {
      case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        fb.pruneColumns(pruneTo)
      case _ => ()
    }
    b.build()
  }

  /** The scan for one (version, layout-root) group of a planned batch:
    * when live merge-on-read entries of the SERVING version apply to
    * any of the group's files, the plain scan extends its read schema
    * by the predicate columns (and the row-index column for positional
    * ordinals) and wraps in a [[DeleteApplyingScan]] — the same exact
    * per-signature split and row filter every batch read runs; files
    * without applicable entries pass through it untouched. */
  private def scanGroup(version: String, baseDir: JPath,
      rels: Seq[String], fullRels: Seq[String]): Scan = {
    val vd = tableDir.resolve(version)
    val fullSet = fullRels.toSet
    val es = MorDeletes.entries(vd)
      .filter(_.files.exists(fullSet.contains))
    val pos = MorDeletes.posEntries(vd)
      .filter(_.files.exists(fullSet.contains))
    if (es.isEmpty && pos.isEmpty) return scanOver(baseDir, rels)
    val needed = es.flatMap(e => MorDeletes.colsOf(e.node)).toSet
    val have = readSchema.fieldNames.map(_.toLowerCase).toSet
    val extra = tableSchema.fields.filter(f =>
      needed.contains(f.name.toLowerCase) &&
        !have.contains(f.name.toLowerCase)).toSeq
    val extended0 = StructType(readSchema.fields ++ extra)
    val extended =
      if (pos.isEmpty) extended0 else MorDeletes.withRowIndex(extended0)
    val extraCols = extra.map(_.name) ++
      (if (pos.isEmpty) Nil else Seq(MorDeletes.RowIndexCol))
    new DeleteApplyingScan(
      scanOver(baseDir, rels, extended, needRowIndex = pos.nonEmpty),
      s"$name-stream-mor", vd, es, pos, extraCols)
  }

  /** The (sourceVersion, relativePath) file list a consumer owes for
    * the `base → upto` advance, deterministic given the retained log.
    *
    * Default (re-emission) mode: the plain set diff — every emitted
    * file exists in `upto`, so it serves from there. With
    * `skipChangeCommits` (Iceberg's option of the same name) the walk
    * goes COMMIT BY COMMIT and drops any version that REMOVED files (a
    * COW merge/update/delete, a compaction, a re-layout) — pure-append
    * consumption: updated rows are never replayed, at the documented
    * price that a change commit's own inserts are skipped with it.
    * Files added by a kept commit but later rewritten no longer exist
    * in `upto`, so each file is served from the immutable version that
    * ADDED it — which is also why this mode needs the intermediate
    * versions retained (an expired chain fails with the same pointed
    * restart-fresh error as any vacuumed offset). */
  private def addedFiles(base: String, upto: String): Seq[(String, String)] = {
    // LIVE merge-on-read delete entries are SERVED, not refused: the
    // planner wraps each batch's scans in a DeleteApplyingScan for the
    // serving version, so the engine's flagship composition (MoR CDC
    // upsert -> downstream readStream.table) works without a manual
    // rewrite_deletes. Default mode treats a delete commit as the
    // LOGICAL rewrite it is: every file whose applicable-entry
    // signature changed re-emits (survivor rows only — deletes applied
    // at read), the exact analogue of COW re-emission, with the
    // re-emission set priced by the entry's stats-narrowed file scope
    // rather than the snapshot.
    if (!opts.skipChangeCommits) {
      val uf = dataFiles(upto)
      val bf = if (base.isEmpty) Set.empty[String] else dataFiles(base)
      val us = deleteSigs(upto)
      val bs = if (base.isEmpty) Map.empty[String, String]
        else deleteSigs(base)
      val changed = (uf intersect bf).filter(f =>
        us.getOrElse(f, "") != bs.getOrElse(f, ""))
      ((uf -- bf) ++ changed).toSeq.sorted.map(upto -> _)
    } else {
      val l = log() // newest first
      val ui = l.indexOf(upto)
      val bi = if (base.isEmpty) l.size else l.indexOf(base)
      if (ui < 0 || bi < 0 || ui > bi) throw new IllegalStateException(
        s"$name: skipChangeCommits needs the $base → $upto commit chain " +
          "in the retention window — part of it is expired; restart the " +
          "stream from a fresh checkpoint")
      val chain = l.slice(ui, bi).reverse // oldest → upto
      var prev = if (base.isEmpty) Set.empty[String] else dataFiles(base)
      var prevIds = if (base.isEmpty) Set.empty[String] else deleteIds(base)
      var first = true
      val out = Seq.newBuilder[(String, String)]
      for (v <- chain) {
        val cur = dataFiles(v)
        // a change commit either MOVED files (COW/compaction) or ADDED
        // a delete entry (merge-on-read — no file moves, rows removed);
        // both skip whole. The chain's first element under base=""
        // is the initial SNAPSHOT, not a commit: it serves regardless
        // (its own live entries apply at read).
        val isSnapshot = first && base.isEmpty
        if (isSnapshot ||
            ((prev -- cur).isEmpty && (deleteIds(v) -- prevIds).isEmpty))
          out ++= (cur -- prev).toSeq.sorted.map(v -> _)
        prev = cur
        prevIds = deleteIds(v)
        first = false
      }
      out.result()
    }
  }

  private def commitMs(v: String): Long =
    MetaStore.committedAt(tableDir.resolve(v)).getOrElse(Long.MaxValue)

  /** The starting position: with no option, "before everything" (the
    * first batch is the full snapshot). `startingVersion` serves
    * changes FROM the named version INCLUSIVE (its base is the next
    * older retained version), `latest` serves only future commits;
    * `startingTimestamp` starts at the OLDEST version committed at or
    * after the instant (Delta's rule). Consulted only on a fresh
    * checkpoint — a resumed stream continues from its offset. */
  override def initialOffset(): Offset = {
    def consumedThrough(v: String): Offset = VersionOffset(v, v, 0)
    (opts.startingVersion, opts.startingTimestamp) match {
      case (None, None) => VersionOffset("", "", 0)
      case (Some("latest"), _) =>
        val l = log()
        consumedThrough(if (l.isEmpty) "" else l.head)
      case (Some(sv), _) =>
        val l = log()
        val i =
          if (sv.startsWith("v-")) l.indexOf(sv)
          else sv.toIntOption.filter(k => k >= 0 && k < l.size).getOrElse(-1)
        if (i < 0) throw new IllegalArgumentException(
          s"$name: startingVersion '$sv' is not in the retention window " +
            s"(${l.size} snapshots kept: ${l.mkString(", ")}); pass " +
            "'latest', 0..n commits back, or an exact v-<uuid> from the log")
        consumedThrough(if (i + 1 < l.size) l(i + 1) else "")
      case (None, Some(raw)) =>
        val ms = raw.toLongOption.getOrElse {
          try java.sql.Timestamp.valueOf(raw.replace('T', ' ')).getTime
          catch {
            case _: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"$name: startingTimestamp '$raw' — pass epoch millis or " +
                  "'yyyy-MM-dd HH:mm:ss'")
          }
        }
        val l = log() // newest first; oldest version committed >= ms:
        val i = l.lastIndexWhere(v => commitMs(v) >= ms)
        if (i < 0) consumedThrough(if (l.isEmpty) "" else l.head) // future
        else consumedThrough(if (i + 1 < l.size) l(i + 1) else "")
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled path")

  override def getDefaultReadLimit: ReadLimit = {
    val limits = opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** ADMISSION CONTROL — the 100 TB restart story: a stream started
    * (or restarted from an old offset) against a huge table must not
    * take the whole snapshot in one micro-batch. With
    * `maxFilesPerTrigger` the offset advances at FILE granularity
    * through each version's sorted added-file list — `k` files into
    * the `base → upto` diff — and a fully-consumed version normalizes
    * to the next `base`; `maxBytesPerTrigger` (Delta's other rate
    * limit) bounds the same advance by cumulative file size instead
    * of count — the right dial when file sizes are skewed. Both
    * compose (whichever binds first). Unbounded reads consume whole
    * versions. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset]
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.toSeq
      case other => Seq(other)
    }
    val limits = flatten(limit)
    val maxF = limits.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
      .getOrElse(Int.MaxValue)
    val maxB = limits.collectFirst {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        m.maxBytes()
    }.getOrElse(Long.MaxValue)
    /** Advance through the `base → upto` diff from `startK`: admit up
      * to maxF files and (when a byte budget is set) stop before the
      * cumulative size exceeds maxB — always at least one file, or a
      * single oversized file could wedge the stream. Sizes are stat'd
      * only for the admitted prefix, never the whole diff. Long
      * arithmetic throughout: a checkpoint written under
      * maxFilesPerTrigger resumed WITHOUT the option advances by
      * Int.MaxValue — k + maxF in Int would wrap negative and
      * re-serve already-emitted files. */
    def admit(base: String, upto: String, startK: Int): VersionOffset = {
      val diff = addedFiles(base, upto)
      val total = diff.size
      var end = math.min(startK.toLong + maxF, total.toLong).toInt
      if (maxB != Long.MaxValue) {
        var acc = 0L
        var i = startK
        while (i < end) {
          val (v, rel) = diff(i)
          val sz = try Files.size(tableDir.resolve(v).resolve(rel))
          catch { case _: java.io.IOException => 0L }
          if (i > startK && acc + sz > maxB) { end = i }
          else { acc += sz; i += 1 }
        }
      }
      if (end >= total) VersionOffset(upto, upto, 0)
      else VersionOffset(base, upto, end)
    }
    if (s.upto.nonEmpty && s.base != s.upto) {
      // mid-version: keep consuming this diff before looking for more
      admit(s.base, s.upto, s.k)
    } else {
      val cur = availableNowCap.getOrElse {
        val l = log(); if (l.isEmpty) "" else l.head
      }
      val base = s.upto // "" initially, else the last fully-consumed
      if (cur.isEmpty || cur == base) s
      else admit(base, cur, 0)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    if (json.isEmpty) VersionOffset("", "", 0)
    else json.split(";", -1) match {
      case Array(b, u, k) => VersionOffset(b, u, k.toInt)
      case _ => // pre-admission-control checkpoint: a bare version name
        VersionOffset(json, json, 0)
    }
  }

  /** The leading `_spec-<k>` legacy-subtree segment of a relative file
    * path, or "" for files in the version root's own layout — the
    * layout-root key the per-batch scans group by. */
  private def layoutRoot(rel: String): String = {
    val first = rel.takeWhile(c => c != '/' && c != '\\')
    if (first != rel && first.startsWith("_") && !first.contains("=")) first
    else ""
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset]
    val e = end.asInstanceOf[VersionOffset]
    if (e.upto.isEmpty || s == e) return Array.empty
    // sequential contract: `end` was derived from `start` by
    // latestOffset, so the pair is one of four adjacent shapes
    val files =
      if (s.base == e.base && s.upto == e.upto)
        // advancing within one diff: files [s.k, e.k)
        addedFiles(e.base, e.upto).slice(s.k, e.k)
      else if (s.upto == e.upto && e.base == e.upto)
        // completing s's diff (end normalized): the remainder
        addedFiles(s.base, s.upto).drop(s.k)
      else if (s.base == s.upto && e.base == e.upto)
        // a whole new diff consumed in one step
        addedFiles(s.upto, e.upto)
      else if (s.base == s.upto && e.base == s.upto)
        // entering a new diff part-way: its first e.k files
        addedFiles(e.base, e.upto).take(e.k)
      else throw new IllegalStateException(
        s"$name: non-adjacent stream offsets $s -> $e")
    if (files.isEmpty) return Array.empty
    // serve each file from the immutable version that holds it, under
    // the LAYOUT that wrote it (the version root, or one legacy
    // `_spec-<k>` subtree), each group through its own reader factory
    // — then re-index the concatenated partitions densely (RDD
    // positions)
    val groups = files.groupBy { case (v, rel) => (v, layoutRoot(rel)) }
      .toSeq.sortBy { case ((v, g), _) => s"$v/$g" }
    val planned = groups.map { case ((v, g), fs) =>
      val baseDir =
        if (g.isEmpty) tableDir.resolve(v) else tableDir.resolve(v).resolve(g)
      val rels = fs.map { case (_, rel) =>
        if (g.isEmpty) rel else rel.stripPrefix(g).stripPrefix("/")
      }
      val scan = scanGroup(v, baseDir, rels, fs.map(_._2))
      val batch = scan.toBatch
      (batch.planInputPartitions(), batch.createReaderFactory(),
        scan.readSchema())
    }
    val columnarOk = planned.forall { case (ps, f, sch) =>
      sch == readSchema && ps.forall(f.supportColumnarReads)
    }
    var idx = -1
    planned.flatMap { case (ps, f, sch) =>
      ps.map { p =>
        idx += 1
        val inner = p match {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            org.apache.spark.sql.execution.datasources.FilePartition(idx, fp.files)
          case other => other
        }
        DispatchedPartition(inner, f, sch, columnarOk): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DispatchReaderFactory(readSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Stream position: every data file of committed version `base`, plus
  * the first `k` of the sorted added-file diff `base → upto`. A fully
  * consumed diff normalizes to `(upto, upto, 0)`; the initial offset
  * is `("", "", 0)` (before any data). Version names are immutable
  * v-UUID directory names, so an offset survives any pointer-log
  * growth — only vacuum can invalidate it, and that fails pointedly. */
private[sources] final case class VersionOffset(base: String, upto: String,
    k: Int) extends Offset {
  override def json(): String =
    if (upto.isEmpty) "" else s"$base;$upto;$k"
}

/** Forwarding wrapper giving any catalog batch scan a
  * [[MicroBatchStream]] — applied as the LAST step of the catalog's
  * scan builder so `readStream.table` works on every layout. The
  * batch interfaces forward conditionally: a capability the inner
  * scan lacks degrades to the interface's neutral answer, never an
  * error, so wrapping is behavior-preserving for batch plans
  * (pushdown lives on the BUILDER and is untouched). */
private[sources] final class StreamCapableScan(
    inner: Scan, session: SparkSession, name: String, tableDir: JPath,
    tableSchema: StructType, opts: StreamReadOptions)
    extends Scan with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: Batch = inner.toBatch

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // the stream's declared read schema must follow the RELATION's
    // column order (table-schema order), not the file scan's
    // data-columns-then-partition-columns order: Spark binds the
    // exec's output attributes positionally against the served
    // batches, so an identity-partitioned table (whose partition
    // column sits mid-schema) would otherwise read a double vector as
    // a string (latent until r15 — every earlier stream gate was
    // bucket-partitioned or unpartitioned, where the two orders
    // coincide). Groups whose scans still serve scan order fall off
    // the columnar path (sch != readSchema) and re-align row-by-row
    // through DispatchReaderFactory's by-name projection.
    // ...and it must carry TABLE columns only: the batch scan's
    // readSchema may have been extended by delete-internal fields
    // (the reserved row-index column, predicate-only columns) that a
    // stream never serves — the per-batch scans re-derive what they
    // need from the serving version's own entries.
    val scanned = inner.readSchema()
    val inTableOrder = tableSchema.fields.flatMap(tf =>
      scanned.fields.find(_.name.equalsIgnoreCase(tf.name)))
    new CatalogMicroBatchStream(session, name, tableDir, tableSchema,
      StructType(inTableOrder), opts)
  }

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
