package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal => CLiteral, Predicate => CPredicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `cat.db.tbl.changes` metadata table — the ROW-LEVEL CHANGE
  * FEED as a readable (and streamable) relation, Iceberg's changelog
  * table / Delta's `readChangeFeed` posture: table columns plus
  * `_change_type` ('insert' | 'delete', plus 'update_preimage' |
  * 'update_postimage' on `write.cdf.typed-updates` tables whose MoR
  * commit proved every matched row an update) and `_commit_version`,
  * one row per changed row per commit. Batch reads serve the whole
  * retained window; `spark.readStream.table("cat.db.tbl.changes")`
  * tails it with the same per-file admission control as the plain
  * stream source (`maxFilesPerTrigger`), so a CDC consumer gets TYPED
  * changes instead of re-diffing the current-state stream.
  *
  * What a commit contributes (exactly `tableChanges`' per-step rows,
  * which is the oracle the st20 gate hash-matches):
  *  - files ADDED → their rows typed `insert`, read under the adding
  *    version with that version's own applicable delete entries
  *    applied (the exact DeleteApplyingScan split);
  *  - a NEW equality delete entry → the PREVIOUS version's survivors
  *    matching the entry's predicate within its stats-narrowed file
  *    scope, typed `delete` (survivors: the prior version's own
  *    entries apply first, so a row deleted twice never re-reports);
  *  - a NEW positional entry → exactly the rows at its ordinals,
  *    typed `delete`.
  * A commit the catalog's own maintenance procedures tagged
  * CONTENT-PRESERVING (compact, rewrite_deletes, cluster_by,
  * rewrite_layout, evolve_layout, unify_layout) serves as ZERO
  * changes — live rows are identical before and after, so routine
  * maintenance advances a running stream instead of killing it
  * (Delta CDF skips non-CDC commits; Iceberg's changelog skips
  * replace snapshots). Any OTHER commit that removed files (a
  * genuine COW DELETE/MERGE rewrite) cannot be represented row-level
  * without the batch exceptAll diff — the feed fails POINTEDLY there
  * and names `table_changes` / a fresh checkpoint as the way past
  * (Delta's CDF takes the same posture on non-CDC commits). Cost
  * prices the CHURN: every unit is one changed file or one entry's
  * narrowed scope — never the 100 TB around it. */
private[sources] object ChangelogRead {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  def cdcSchema(t: StructType): StructType =
    StructType(t.fields ++ Seq(
      StructField(TypeCol, StringType, nullable = false),
      StructField(VersionCol, StringType, nullable = false),
      // commit instant (Delta CDF's column of the same name): version
      // names are UUIDs, so THIS is what a consumer orders by when one
      // batch spans commits — commits serialize under the table lock,
      // so the instant is monotonic per table
      StructField(TimestampCol, org.apache.spark.sql.types.TimestampType,
        nullable = false)))

  /** One typed per-file work unit — the admission-control granule. */
  final case class ChangeUnit(
      serveVersion: String, commitVersion: String, rel: String,
      changeType: String, keepNode: Option[String],
      keepOrds: Option[Array[Long]], commitMs: Long = 0L)

  /** Commit instant of a version directory (epoch millis). */
  def commitMs(tableDir: JPath, v: String): Long =
    MetaStore.committedAt(tableDir.resolve(v)).getOrElse(0L)

  /** The deterministic unit list for a `base → upto` advance.
    * `base == ""` is the initial snapshot: every file of `upto` as
    * inserts (that version's own entries applying at read). Otherwise
    * the pointer-log chain walks commit by commit, so EVERY
    * intermediate version must still be retained.
    *
    * `fileSets`, when non-null, caches each version's data-file walk
    * across calls — sound because a committed version directory is
    * immutable (only retention EXPIRY deletes it whole, and a cached
    * entry only exists for a walk that already succeeded). The
    * micro-batch stream passes its own map so a rate-limited drain of
    * a deep backlog walks each version once, not once per trigger. */
  def changeUnits(tableDir: JPath, log: Seq[String], tableName: String,
      base: String, upto: String,
      fileSets: java.util.concurrent.ConcurrentHashMap[String, Set[String]] = null)
      : Seq[ChangeUnit] = {
    // even without a caller cache, one CALL must not walk a version
    // twice — the sliding window reads every chain version as `next`
    // of one pair and `prev` of the following one
    val local = new java.util.HashMap[String, Set[String]]()
    def filesOf(v: String): Set[String] = {
      val cached = if (fileSets == null) local.get(v) else fileSets.get(v)
      if (cached != null) return cached
      val vd = tableDir.resolve(v)
      if (!Files.isDirectory(vd)) throw new IllegalStateException(
        s"$tableName: version $v is no longer retained — the change " +
          "window spans an expired snapshot; restart the stream from a " +
          "fresh checkpoint")
      val set = MetaStore.dataFiles(vd)
        .map(f => vd.relativize(Paths.get(f)).toString).toSet
      if (fileSets != null) fileSets.put(v, set) else local.put(v, set)
      set
    }
    if (upto.isEmpty) return Nil
    if (base.isEmpty) {
      val ms = commitMs(tableDir, upto)
      return filesOf(upto).toSeq.sorted.map(r =>
        ChangeUnit(upto, upto, r, "insert", None, None, ms))
    }
    if (base == upto) return Nil
    val ui = log.indexOf(upto)
    val bi = log.indexOf(base)
    if (ui < 0 || bi < 0 || ui > bi) throw new IllegalStateException(
      s"$tableName: the $base → $upto commit chain is not in the " +
        "retention window; restart the stream from a fresh checkpoint")
    val chain = log.slice(ui, bi + 1).reverse // oldest → upto
    chain.sliding(2).flatMap {
      case Seq(prev, next)
          if Files.exists(tableDir.resolve(next)
            .resolve(AtomicParquetCatalog.ContentPreservingMarker)) =>
        // a CONTENT-PRESERVING maintenance commit (compact /
        // rewrite_deletes / cluster_by / rewrite_layout / evolve_layout
        // / unify_layout — tagged at commit time by the catalog's own
        // procedures): live rows are identical before and after, so the
        // row-level feed's correct representation is ZERO changes. The
        // commit advances the stream instead of killing it — Delta CDF
        // skips non-CDC commits, Iceberg's changelog skips replace
        // snapshots; before the marker, a routine compaction forced
        // every running changelog consumer to a fresh checkpoint + full
        // re-snapshot. Genuine COW rewrites carry no marker and keep
        // failing pointedly below.
        Nil
      case Seq(prev, next) =>
        val pf = filesOf(prev); val nf = filesOf(next)
        val added0 = nf -- pf
        // metadata-only spec evolution RELOCATES root files under a
        // fresh `_spec-<k>/` subtree (hard links — same bytes, new
        // path): a relocated pair is not a row-level change, so the
        // evolving commit stays TRANSPARENT to a running stream
        // instead of killing it. Only exact `_spec-<k>/<old path>`
        // pairs cancel; anything else removed is a real rewrite.
        val relocatedTargets = (pf -- nf).flatMap { r =>
          added0.find(a => a.startsWith("_spec-") &&
            a.substring(a.indexOf('/') + 1) == r && a.indexOf('/') > 0)
        }
        val relocatedSources = (pf -- nf).filter { r =>
          relocatedTargets.exists(a =>
            a.substring(a.indexOf('/') + 1) == r)
        }
        val removed = pf -- nf -- relocatedSources
        if (removed.nonEmpty) throw new IllegalStateException(
          s"$tableName: commit $next removed ${removed.size} data " +
            "files (a copy-on-write rewrite / compaction) — a row-level " +
            "change feed cannot represent it; read the window with " +
            "table_changes (its exceptAll diff can) or restart the " +
            "changelog stream from a checkpoint past the commit")
        val pd = tableDir.resolve(prev); val nd = tableDir.resolve(next)
        val prevIds = MorDeletes.entries(pd).map(_.id).toSet
        val newEq = MorDeletes.entries(nd)
          .filterNot(e => prevIds.contains(e.id)).sortBy(_.id)
        val prevPosIds = MorDeletes.posEntries(pd).map(_.id).toSet
        val newPos = MorDeletes.posEntries(nd)
          .filterNot(e => prevPosIds.contains(e.id)).sortBy(_.id)
        val ms = commitMs(tableDir, next)
        // a `write.cdf.typed-updates` commit whose matched rows were
        // ALL updates persisted which entry is the preimage half and
        // which files hold the postimage rows (`_cdc_types`, written
        // by the MoR commit funnel) — its units serve Delta CDF's
        // update_preimage/update_postimage types instead of
        // delete/insert, so consumers stop re-pairing updates by key
        val (preEntries, postRels) = DeltaRowLevel.readCdcTypes(nd)
        val ins = (added0 -- relocatedTargets).toSeq.sorted.map(r =>
          ChangeUnit(next, next, r,
            if (postRels.contains(r)) "update_postimage" else "insert",
            None, None, ms))
        val delEq = newEq.flatMap { e =>
          val ser = MorDeletes.serialize(e.node)
          val ct = if (preEntries.contains(e.id)) "update_preimage"
            else "delete"
          (e.files intersect pf).toSeq.sorted.map(r =>
            ChangeUnit(prev, next, r, ct, Some(ser), None, ms))
        }
        val delPos = newPos.flatMap { e =>
          val ct = if (preEntries.contains(e.id)) "update_preimage"
            else "delete"
          e.ords.toSeq.sortBy(_._1).collect {
            case (f, os) if pf.contains(f) =>
              ChangeUnit(prev, next, f, ct, None, Some(os.sorted), ms)
          }
        }
        ins ++ delEq ++ delPos
      case _ => Nil
    }.toSeq
  }

  private def layoutRoot(rel: String): String = {
    val first = rel.takeWhile(c => c != '/' && c != '\\')
    if (first != rel && first.startsWith("_") && !first.contains("=")) first
    else ""
  }

  /** Plan the admitted units: one scan per (serving version, commit,
    * type, keep-predicate, layout root) group — positional units plan
    * per FILE (each binds its own ordinal set). Insert and
    * equality-delete groups read through the batch reader's own
    * [[DeleteApplyingScan]] for the SERVING version, so prior deletes
    * apply exactly; positional units read the raw file with the
    * row-index column (the entry's ordinals name live rows by
    * construction — a dead row can never have been matched). */
  def planUnits(session: SparkSession, name: String, tableDir: JPath,
      tableSchema: StructType, units: Seq[ChangeUnit])
      : Array[InputPartition] = {
    def scanOver(baseDir: JPath, paths: Seq[String], declared: StructType,
        pruneTo: StructType): Scan = {
      val options = new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", baseDir.toString))
      val b = ParquetTable(s"$name-changes", session, options,
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
    // the serving version's own entries, applied exactly (per-file
    // applicability, predicate columns extended in then projected away)
    def servingScan(version: String, root: String, rels: Seq[String],
        fullRels: Seq[String]): Scan = {
      val vd = tableDir.resolve(version)
      val baseDir = if (root.isEmpty) vd else vd.resolve(root)
      val fullSet = fullRels.toSet
      val es = MorDeletes.entries(vd).filter(_.files.exists(fullSet.contains))
      val pos = MorDeletes.posEntries(vd)
        .filter(_.files.exists(fullSet.contains))
      if (es.isEmpty && pos.isEmpty)
        return scanOver(baseDir, rels, tableSchema, tableSchema)
      val extended =
        if (pos.isEmpty) tableSchema
        else MorDeletes.withRowIndex(tableSchema)
      val extraCols =
        if (pos.isEmpty) Nil else Seq(MorDeletes.RowIndexCol)
      new DeleteApplyingScan(
        scanOver(baseDir, rels, extended, extended),
        s"$name-changes-mor", vd, es, pos, extraCols)
    }
    val out = Seq.newBuilder[InputPartition]
    // positional units: one scan per file, row-index requested, raw
    val (posUnits, plainUnits) = units.partition(_.keepOrds.isDefined)
    val plainGroups = plainUnits.groupBy(u =>
      (u.serveVersion, u.commitVersion, u.changeType, u.keepNode,
        layoutRoot(u.rel), u.commitMs)).toSeq.sortBy(_._1.toString)
    for (((v, cv, ct, keep, root, ms), us) <- plainGroups) {
      val rels = us.map(u =>
        if (root.isEmpty) u.rel else u.rel.stripPrefix(root).stripPrefix("/"))
      val scan = servingScan(v, root, rels, us.map(_.rel))
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      val sch = scan.readSchema()
      batch.planInputPartitions().foreach { p =>
        out += ChangelogPartition(p, factory, sch, ct, cv, keep, None, ms)
      }
    }
    for (u <- posUnits.sortBy(x => (x.commitVersion, x.rel))) {
      val vd = tableDir.resolve(u.serveVersion)
      val root = layoutRoot(u.rel)
      val baseDir = if (root.isEmpty) vd else vd.resolve(root)
      val rel = if (root.isEmpty) u.rel
        else u.rel.stripPrefix(root).stripPrefix("/")
      val declared = MorDeletes.withRowIndex(tableSchema)
      val scan = scanOver(baseDir, Seq(rel), declared, declared)
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      val sch = scan.readSchema()
      batch.planInputPartitions().foreach { p =>
        out += ChangelogPartition(p, factory, sch, u.changeType,
          u.commitVersion, None, u.keepOrds, u.commitMs)
      }
    }
    // dense re-index for RDD positions
    out.result().zipWithIndex.map { case (p, i) =>
      p match {
        case c @ ChangelogPartition(fp: org.apache.spark.sql.execution.datasources.FilePartition, _, _, _, _, _, _, _) =>
          c.copy(inner =
            org.apache.spark.sql.execution.datasources.FilePartition(i, fp.files))
        case other => other
      }
    }.toArray
  }
}

/** A planned file partition plus the typed-change context its reader
  * applies: the keep filter (equality predicate or positional ordinal
  * set — None = keep all) and the `_change_type`/`_commit_version`
  * constants appended to every surviving row. */
private[sources] final case class ChangelogPartition(
    inner: InputPartition, factory: PartitionReaderFactory,
    innerSchema: StructType, changeType: String, commitVersion: String,
    keepNode: Option[String], keepOrds: Option[Array[Long]],
    commitMs: Long) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Row-only (a keep filter inside a ColumnarBatch would mean
  * rewriting the batch; changelog batches are churn-sized). */
private[sources] final class ChangelogReaderFactory(target: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ChangelogPartition(inner, f, innerSchema, ct, cv, keepNode,
          keepOrds, commitMs) =>
        val r = f.createReader(inner)
        val attrs = DataTypeUtils.toAttributes(innerSchema)
        val keepPred = keepNode.map(ser => CPredicate.create(
          MorDeletes.toCatalyst(MorDeletes.parse(ser), attrs), attrs))
        val ords = keepOrds.orNull
        val rixIdx =
          if (ords == null) -1
          else {
            val i = innerSchema.fieldNames.indexWhere(
              _.equalsIgnoreCase(MorDeletes.RowIndexCol))
            if (i < 0) throw new IllegalStateException(
              "positional changelog unit without a row-index column")
            i
          }
        // project the table columns by name, then the three constants
        val dataFields = target.fields.dropRight(3)
        val exprs = dataFields.toSeq.map { tf =>
          val si = innerSchema.fieldNames.indexWhere(
            _.equalsIgnoreCase(tf.name))
          require(si >= 0, s"changelog part serves no column ${tf.name}")
          BoundReference(si, innerSchema.fields(si).dataType,
            innerSchema.fields(si).nullable)
        } ++ Seq(
          CLiteral(UTF8String.fromString(ct), StringType),
          CLiteral(UTF8String.fromString(cv), StringType),
          CLiteral(commitMs * 1000L,
            org.apache.spark.sql.types.TimestampType))
        val proj = UnsafeProjection.create(exprs.toIndexedSeq)
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (r.next()) {
              val row = r.get()
              val keep =
                (ords == null || java.util.Arrays.binarySearch(
                  ords, row.getLong(rixIdx)) >= 0) &&
                keepPred.forall(_.eval(row))
              if (keep) { cur = proj(row); return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = r.close()
        }
      case other => throw new IllegalStateException(
        s"ChangelogReaderFactory got a non-changelog partition $other")
    }
}

/** The `.changes` metadata table itself — batch- and stream-readable. */
private[sources] final class ChangelogTable(
    tableName: String, tableDir: JPath, tableSchema: StructType,
    log: () => Seq[String]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = ChangelogRead.cdcSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangelogScan(
        SparkSession.active, tableName, tableDir, tableSchema, log,
        StreamReadOptions.fromOptions(options),
        // batch-only window cap (Delta's endingVersion): inclusive,
        // commits-back ordinal or exact v-<uuid>
        Option(options.get("endingVersion")).map(_.trim).filter(_.nonEmpty),
        // the timestamp form (Delta's endingTimestamp): inclusive,
        // resolved against the per-version commit instants
        Option(options.get("endingTimestamp")).map(_.trim).filter(_.nonEmpty))
    }
}

private[sources] final class ChangelogScan(
    session: SparkSession, name: String, tableDir: JPath,
    tableSchema: StructType, log: () => Seq[String],
    opts: StreamReadOptions, endingVersion: Option[String] = None,
    endingTimestamp: Option[String] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = ChangelogRead.cdcSchema(tableSchema)
  override def description(): String = s"graft-changelog($name)"
  override def toBatch: Batch = this

  /** Parse a timestamp option: epoch millis, `yyyy-MM-dd`, or
    * `yyyy-MM-dd HH:mm:ss[.fff]` — date forms read as UTC (the
    * engine's session timezone posture), never the JVM default. */
  private def parseTsMs(opt: String, v: String): Long =
    v.toLongOption.getOrElse {
      val s = v.trim
      try {
        if (s.length == 10)
          java.time.LocalDate.parse(s)
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
        else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"$name: $opt '$v' is not epoch millis, 'yyyy-MM-dd', or " +
              "'yyyy-MM-dd HH:mm:ss[.fff]' (UTC)")
      }
    }

  /** Timestamp → log index. Commit instants are strictly monotonic per
    * ref (the commit path enforces max(now, prev+1)), so the newest-
    * first log's instants strictly decrease with index. `starting`
    * resolves to the OLDEST commit at-or-after the instant (Delta's
    * startingTimestamp contract: every change committed at or after it);
    * `ending` to the NEWEST commit at-or-before it. Both refuse
    * pointedly when no retained commit qualifies. */
  private def resolveTs(l: Seq[String], opt: String, ms: Long,
      starting: Boolean): Int = {
    val instants = l.map(v => ChangelogRead.commitMs(tableDir, v))
    val i =
      if (starting) instants.lastIndexWhere(_ >= ms)
      else instants.indexWhere(_ <= ms)
    if (i < 0) throw new IllegalArgumentException(
      if (starting)
        s"$name: $opt ($ms) is after the NEWEST retained commit " +
          s"(${instants.headOption.getOrElse(0L)}) — there are no " +
          "changes at or after it to serve"
      else
        s"$name: $opt ($ms) precedes the OLDEST retained commit " +
          s"(${instants.lastOption.getOrElse(0L)}) — every change at " +
          "or before it has been expired")
    i
  }

  /** Resolve a version option against the newest-first log: an exact
    * `v-<uuid>` or a commits-back ordinal, refused pointedly outside
    * the retention window. */
  private def resolve(l: Seq[String], opt: String, v: String): Int = {
    val i =
      if (v.startsWith("v-")) l.indexOf(v)
      else v.toIntOption.filter(k => k >= 0 && k < l.size).getOrElse(-1)
    if (i < 0) throw new IllegalArgumentException(
      s"$name: $opt '$v' is not in the retention window " +
        s"(${l.size} snapshots kept) — pass 0..n commits back or an " +
        "exact v-<uuid> from the log")
    i
  }

  /** Batch read: the retained window's changes by default (the oldest
    * retained version is the base snapshot — its own rows are not
    * changes; Iceberg's changelog table reads the same way), windowed
    * by Delta's batch-CDF options when set: `startingVersion` serves
    * changes FROM that version inclusive, `endingVersion` caps the
    * window inclusive. */
  override def planInputPartitions(): Array[InputPartition] = {
    val l = log()
    if (l.size < 2) return Array.empty
    require(endingVersion.isEmpty || endingTimestamp.isEmpty,
      s"$name: set endingVersion OR endingTimestamp, not both")
    val ei = endingVersion.map(v => resolve(l, "endingVersion", v))
      .orElse(endingTimestamp.map(ts => resolveTs(l, "endingTimestamp",
        parseTsMs("endingTimestamp", ts), starting = false)))
    val si = opts.startingVersion match {
      case Some("latest") => throw new IllegalArgumentException(
        s"$name: startingVersion 'latest' is a streaming option — a " +
          "batch window needs a version or commits-back ordinal")
      case Some(sv) => Some(resolve(l, "startingVersion", sv))
      case None => opts.startingTimestamp.map(ts =>
        resolveTs(l, "startingTimestamp",
          parseTsMs("startingTimestamp", ts), starting = true))
    }
    // inverted windows fail on the RESOLVED indices, BEFORE any base
    // derivation: (startingVersion=head, endingVersion=1) would
    // otherwise resolve base == upto and return silently empty instead
    // of the pointed error such mistakes deserve
    for (s <- si; e <- ei) if (e > s) throw new IllegalArgumentException(
      s"$name: endingVersion precedes startingVersion — an empty window " +
        "is a mistake worth failing on")
    // a bound resolving to the OLDEST retained snapshot cannot serve
    // that snapshot's own changes (the prior snapshot has expired —
    // there is nothing to diff against); serving fewer changes than the
    // 'FROM that version inclusive' contract promises is a silent lie,
    // so refuse pointedly instead of demoting it to the base snapshot
    def refuseOldest(opt: String): Nothing = throw new IllegalArgumentException(
      s"$name: $opt resolves to the OLDEST retained snapshot — its own " +
        "changes cannot be derived (the snapshot before it is expired). " +
        "Pass a newer version, or omit the option to read the retained " +
        "window (the oldest snapshot serves as the base)")
    if (si.contains(l.size - 1)) refuseOldest(
      if (opts.startingVersion.isDefined) "startingVersion"
      else "startingTimestamp")
    if (ei.contains(l.size - 1)) refuseOldest(
      if (endingVersion.isDefined) "endingVersion" else "endingTimestamp")
    val upto = ei.map(l(_)).getOrElse(l.head)
    val base = si.map(i => l(i + 1)).getOrElse(l.last)
    if (base == upto) return Array.empty
    ChangelogRead.planUnits(session, name, tableDir, tableSchema,
      ChangelogRead.changeUnits(tableDir, l, name, base, upto))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(readSchema())

  override def toMicroBatchStream(checkpoint: String): MicroBatchStream = {
    require(!opts.skipChangeCommits,
      s"$name: skipChangeCommits makes no sense on a changelog stream " +
        "(delete commits ARE the feed) — drop the option")
    // silently ignoring a cap would serve UNBOUNDED changes against the
    // caller's stated window — same posture as the refusals above
    require(endingVersion.isEmpty,
      s"$name: endingVersion is a batch-window option — a stream has no " +
        "end; drop it (read the window with a batch `.changes`, or stop " +
        "the stream once caught up)")
    require(endingTimestamp.isEmpty,
      s"$name: endingTimestamp is a batch-window option — a stream has " +
        "no end; drop it (read the window with a batch `.changes`, or " +
        "stop the stream once caught up)")
    new ChangelogMicroBatchStream(session, name, tableDir, tableSchema,
      log, opts)
  }
}

/** The admission-controlled changelog stream: offsets are the same
  * `(base, upto, k)` shape as the plain table stream, `k` counting
  * TYPED UNITS into the deterministic `changeUnits` list instead of
  * added files — `maxFilesPerTrigger` caps units and
  * `maxBytesPerTrigger` caps cumulative serving-file size per
  * micro-batch (both Delta dials, composing), so a restart against a
  * deep backlog drains commit by commit. */
private[sources] final class ChangelogMicroBatchStream(
    session: SparkSession, name: String, tableDir: JPath,
    tableSchema: StructType, log: () => Seq[String],
    opts: StreamReadOptions)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowCap: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val l = log()
    availableNowCap = Some(if (l.isEmpty) "" else l.head)
  }

  // the unit list of a (base, upto) advance is deterministic by
  // construction and a committed version directory is immutable, so
  // BOTH caches need no invalidation story — without them, every
  // trigger of a rate-limited drain rebuilt the list twice
  // (latestOffset sizes it, planInputPartitions slices it), each
  // rebuild re-walking every version in the commit chain: O(triggers ×
  // chain × files) driver metadata work against a deep backlog, where
  // one walk per version is enough for the whole drain
  private val fileSets =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  private val unitLists =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ChangelogRead.ChangeUnit]]()

  private def units(base: String, upto: String) =
    unitLists.computeIfAbsent(s"$base;$upto", _ =>
      ChangelogRead.changeUnits(tableDir, log(), name, base, upto, fileSets))

  /** (version file-sets cached, advance unit-lists cached) — the
    * eviction spec's observability hook. */
  private[sources] def cacheSizes: (Int, Int) =
    (fileSets.size, unitLists.size)

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
          s"$name: startingVersion '$sv' is not in the retention window")
        // the OLDEST retained snapshot's own changes cannot be derived
        // (nothing older to diff against) — refuse pointedly rather
        // than silently demote to the full-snapshot start and serve a
        // DIFFERENT set of rows than the version the caller named
        if (i + 1 >= l.size) throw new IllegalArgumentException(
          s"$name: startingVersion '$sv' resolves to the OLDEST " +
            "retained snapshot — its own changes cannot be derived " +
            "(the snapshot before it is expired). Pass a newer version, " +
            "or omit startingVersion to start from the current snapshot")
        consumedThrough(l(i + 1))
      case (None, Some(ts)) =>
        // Delta's startingTimestamp: every change committed at or
        // after the instant. Commit instants are strictly monotonic
        // per ref, so the newest-first instants strictly decrease.
        val ms = ts.toLongOption.getOrElse {
          val s = ts.trim
          try {
            if (s.length == 10)
              java.time.LocalDate.parse(s)
                .atStartOfDay(java.time.ZoneOffset.UTC)
                .toInstant.toEpochMilli
            else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          } catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"$name: startingTimestamp '$ts' is not epoch millis, " +
                  "'yyyy-MM-dd', or 'yyyy-MM-dd HH:mm:ss[.fff]' (UTC)")
          }
        }
        val l = log()
        val i = l.lastIndexWhere(v =>
          ChangelogRead.commitMs(tableDir, v) >= ms)
        // an instant after the newest commit tails from NOW — the
        // stream's natural reading of "changes at or after ts" when ts
        // is the present (a batch window refuses instead: it would
        // serve nothing)
        if (i < 0) consumedThrough(if (l.isEmpty) "" else l.head)
        else if (i + 1 >= l.size) throw new IllegalArgumentException(
          s"$name: startingTimestamp ($ms) resolves to the OLDEST " +
            "retained snapshot — its own changes cannot be derived " +
            "(the snapshot before it is expired). Pass a newer instant, " +
            "or omit the option to start from the current snapshot")
        else consumedThrough(l(i + 1))
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

  /** Admission by unit count AND/OR cumulative serving-file size —
    * both Delta rate limits, composing (whichever binds first). A
    * unit's cost is the file the reader opens for it (the added file
    * for inserts/postimages, the SERVING version's file for
    * delete/preimage re-reads), stat'd only for the considered
    * prefix; always at least one unit, or a single oversized file
    * would wedge the stream. Long arithmetic: a checkpoint written
    * under maxFilesPerTrigger resumed without it advances by
    * Int.MaxValue — Int would wrap negative and re-serve units. */
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
    def admit(base: String, upto: String, startK: Int): VersionOffset = {
      val us = units(base, upto)
      val total = us.size
      var end = math.min(startK.toLong + maxF, total.toLong).toInt
      if (maxB != Long.MaxValue) {
        var acc = 0L
        var i = startK
        while (i < end) {
          val u = us(i)
          val sz = try Files.size(
            tableDir.resolve(u.serveVersion).resolve(u.rel))
          catch { case _: java.io.IOException => 0L }
          if (i > startK && acc + sz > maxB) { end = i }
          else { acc += sz; i += 1 }
        }
      }
      if (end >= total) VersionOffset(upto, upto, 0)
      else VersionOffset(base, upto, end)
    }
    if (s.upto.nonEmpty && s.base != s.upto) admit(s.base, s.upto, s.k)
    else {
      val cur = availableNowCap.getOrElse {
        val l = log(); if (l.isEmpty) "" else l.head
      }
      val base = s.upto
      if (cur.isEmpty || cur == base) s
      else admit(base, cur, 0)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    if (json.isEmpty) VersionOffset("", "", 0)
    else json.split(";", -1) match {
      case Array(b, u, k) => VersionOffset(b, u, k.toInt)
      case _ => VersionOffset(json, json, 0)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset]
    val e = end.asInstanceOf[VersionOffset]
    if (e.upto.isEmpty || s == e) return Array.empty
    val us =
      if (s.base == e.base && s.upto == e.upto)
        units(e.base, e.upto).slice(s.k, e.k)
      else if (s.upto == e.upto && e.base == e.upto)
        units(s.base, s.upto).drop(s.k)
      else if (s.base == s.upto && e.base == e.upto)
        units(s.upto, e.upto)
      else if (s.base == s.upto && e.base == s.upto)
        units(e.base, e.upto).take(e.k)
      else throw new IllegalStateException(
        s"$name: non-adjacent changelog offsets $s -> $e")
    if (us.isEmpty) return Array.empty
    ChangelogRead.planUnits(session, name, tableDir, tableSchema, us)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(ChangelogRead.cdcSchema(tableSchema))

  /** Evict what a committed offset can never need again — without
    * this, a long-running stream accumulates one file set per version
    * ever seen and one unit list per advance, unbounded driver memory
    * over the stream's lifetime. A mid-drain commit keeps exactly its
    * in-flight advance's unit list (subsequent triggers slice it); a
    * fully-consumed advance (base == upto) keeps none. File sets keep
    * only versions at-or-newer than the committed base — every future
    * advance chains from the base FORWARD, so strictly-older versions
    * are never walked again. */
  override def commit(end: Offset): Unit = end match {
    case e: VersionOffset =>
      val inFlight = s"${e.base};${e.upto}"
      unitLists.keySet.removeIf(k => k != inFlight)
      if (e.base.nonEmpty) {
        val l = log()
        val bi = l.indexOf(e.base) // newest-first: larger index = older
        if (bi >= 0) {
          val stale = l.drop(bi + 1).toSet
          fileSets.keySet.removeIf(stale.contains)
        }
      }
    case _ => ()
  }
  override def stop(): Unit = ()
}
