package graft.sources

import java.nio.file.{Path => JPath, Paths}
import java.util.UUID

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.constraints.PrimaryKey
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** MERGE-ON-READ row-level writes — Iceberg v2's equality-delete
  * posture through Spark's native delta plumbing ([[SupportsDelta]]):
  * with `write.merge.mode` / `write.update.mode` / `write.delete.mode`
  * = `merge-on-read` (table property, or the session-wide
  * `spark.sql.catalog.graft.write.rowLevelMode`) and a PRIMARY KEY —
  * single- OR multi-column — declared on the table, a
  * MERGE/UPDATE/DELETE commits
  * **O(changed rows), never a rewrite**:
  *
  *  - every base data file HARD-LINKS forward untouched;
  *  - rows the operation deletes (or replaces — updates arrive as
  *    delete+reinsert, `representUpdateAsDeleteAndInsert`) land as one
  *    EQUALITY-DELETE entry (`pk IN (ids…)`, or `(k1,…,kN) IN
  *    ((t…),…)` for a composite key) in the `_deletes/`
  *    sidecar, scoped to exactly the files present at operation time
  *    (snapshot semantics — the same Iceberg sequence-number rule the
  *    predicate-delete path follows);
  *  - inserted/updated rows stream from the executors through Spark's
  *    own parquet [[OutputWriterFactory]] (codegen'd write path) into
  *    a staging area and fold into the snapshot like a fast-append —
  *    partitioned tables re-lay ONLY those rows under the current
  *    spec, the streaming sink's exact posture.
  *
  * Why this matters at 100 TB: group-based copy-on-write prices a
  * merge at the TOUCHED PARTITIONS, which is the right call when keys
  * cluster — but a CDC upsert whose 10k keys scatter across every
  * partition rewrites the whole table. This path prices the same merge
  * at ~10k rows + one sidecar entry. The read-side debt is one
  * hash-set probe per row ([[MorDeletes.toCatalyst]] renders large key
  * lists as `InSet`) until `CALL system.rewrite_deletes` (or compact /
  * rewrite_layout) materializes the deletes away — the standard
  * amortize-vs-rewrite dial, both ends measured in PERF.md.
  *
  * The row id is the declared PRIMARY KEY (informational constraints
  * carry real weight here — exactly how Iceberg uses identifier
  * fields for equality deletes). The source must actually keep it
  * unique; this engine does not re-validate per write (no lakehouse
  * does — enforcement would cost a global shuffle).
  *
  * Tables with NO usable PRIMARY KEY (none declared, or a key with a
  * nested / non-encodable / delimiter-carrying column) take the
  * POSITIONAL path instead (Iceberg v2's second delete format): the
  * row id is the `(_file, _pos)` metadata pair served by the catalog
  * scan ([[GraftMetadataColumns]]), matched rows land as a per-file
  * ordinal sidecar ([[MorDeletes.PosEntry]]), and the read side drops
  * them by probing the parquet row index — no key column, type, or
  * uniqueness discipline asked of the table, and duplicate rows
  * delete individually (the case no key can express).
  *
  * IDENTITY-columned tables are MoR-eligible too — exactly the
  * surrogate-keyed dimension tables CDC upserts target. The COW
  * path's allocation/null-refusal guard moves onto the delta write:
  * Spark's delta plumbing distinguishes REINSERTS (the row half of an
  * update — [[DeltaWriter.reinsert]]) from genuine inserts, so at
  * commit the reinserted rows keep their identity values (nulls
  * refused pointedly) while fresh inserts allocate from the pinned
  * base version's watermark, GENERATED ALWAYS refusing explicit
  * values — the same [[IdentityColumns]] policy as an append.
  *
  * Scale bound, explicit: the matched-key set of ONE commit funnels
  * through the driver into the sidecar entry (distinct + collect),
  * capped by `write.mor.max-delete-keys` (default 1M ≈ tens of MB).
  * Beyond the cap the operation FAILS with a pointed error naming the
  * copy-on-write fallback — a merge replacing more than a million
  * scattered rows is bulk maintenance, where the rewrite is the right
  * price anyway. The equality entry's file scope is NARROWED at
  * commit by the footer-stats store ([[FileStats
  * .filesMayContainKeys]]): a clustered-key delete scopes to the
  * files whose key range it intersects, not the whole snapshot — the
  * scope prices every later consumer (CDC reads, stream re-emission,
  * rewrite_deletes). */
private[sources] object DeltaRowLevel {

  val MaxKeysProp = "write.mor.max-delete-keys"
  /** Marker file a typed-update MoR commit writes in its version dir
    * (`write.cdf.typed-updates` tables): `preimage\t<entry id>` +
    * `postimage\t<data file rel>` lines — the change feed types the
    * commit's delete units `update_preimage` and those files' rows
    * `update_postimage` instead of delete/insert. */
  val CdcTypesMarker = "_cdc_types"

  /** A version's [[CdcTypesMarker]] as (preimage entry ids, postimage
    * file rels); both empty when the version has none. */
  def readCdcTypes(versionDir: JPath): (Set[String], Set[String]) = {
    val ls = MetaStore.lines(versionDir.resolve(CdcTypesMarker))
    def tagged(tag: String) = ls.collect {
      case l if l.startsWith(tag) => l.substring(tag.length) }.toSet
    (tagged("preimage\t"), tagged("postimage\t"))
  }
  val SessionModeConf = "spark.sql.catalog.graft.write.rowLevelMode"

  private def propFor(cmd: RowLevelOperation.Command): String =
    cmd match {
      case RowLevelOperation.Command.DELETE => "write.delete.mode"
      case RowLevelOperation.Command.UPDATE => "write.update.mode"
      case RowLevelOperation.Command.MERGE => "write.merge.mode"
    }

  /** The row-id columns when this operation should run merge-on-read:
    * mode requested (per-command table property or session conf) AND a
    * PRIMARY KEY — single- or multi-column (Iceberg's identifier-field
    * posture), every key column a top-level field of a type the delete
    * sidecar can encode. None → positional MoR or group-based COW.
    * Identity columns do NOT disqualify: their allocation/null-refusal
    * guard runs on the delta commit ([[GraftDeltaWrite]]). */
  def eligibleRowId(catalog: AtomicParquetCatalog, dir: JPath,
      schema: StructType, cmd: RowLevelOperation.Command,
      spark: SparkSession): Option[Seq[String]] = {
    val mode = MetaStore.readProps(dir).get(propFor(cmd))
      .orElse(spark.conf.getOption(SessionModeConf))
    if (!mode.contains("merge-on-read")) return None
    TableConstraints.read(dir).collectFirst {
      case pk: PrimaryKey => pk.columns().toSeq.map(_.fieldNames().toSeq)
    }.flatMap { parts =>
      if (parts.isEmpty || parts.exists(_.length != 1)) None // nested: COW
      else {
        // resolve to the SCHEMA's casing — the sidecar entry's column
        // names must match what the read side resolves. A column name
        // carrying a sidecar delimiter (, | tab newline) would corrupt
        // the serialized tuple entry, so such keys are INELIGIBLE here
        // (planning-time COW fallback) rather than a commit-time
        // failure inside inTupleNode's backstop.
        val resolved = parts.map(_.head).map(c =>
          schema.fields.find(f => f.name.equalsIgnoreCase(c) &&
            MorDeletes.encodableType(f.dataType) &&
            !f.name.exists(ch => ch == ',' || ch == '|' ||
              ch == '\t' || ch == '\n')).map(_.name))
        if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
      }
    }
  }

  def maxDeleteKeys(catalog: AtomicParquetCatalog, dir: JPath): Int =
    MetaStore.readProps(dir).get(MaxKeysProp)
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(1000000)

  /** Should this operation run POSITIONAL merge-on-read — Iceberg v2's
    * second delete format, for tables [[eligibleRowId]] declined (no
    * usable PRIMARY KEY): the row id is the `(_file, _pos)` metadata
    * pair, so NO key column, type, or uniqueness discipline is asked
    * of the table — matched rows are addressed by where they sit.
    * Identity tables qualify too (guard on the delta commit). */
  def eligiblePositional(catalog: AtomicParquetCatalog, dir: JPath,
      schema: StructType, cmd: RowLevelOperation.Command,
      spark: SparkSession): Boolean = {
    val mode = MetaStore.readProps(dir).get(propFor(cmd))
      .orElse(spark.conf.getOption(SessionModeConf))
    mode.contains("merge-on-read") &&
      // the metadata pair must not be shadowed by data columns
      GraftMetadataColumns.columns.forall(m =>
        !schema.fieldNames.exists(_.equalsIgnoreCase(m.name())))
  }

  /** The metadata-pair row id of the positional path. */
  val PositionalRowId: Seq[String] =
    Seq(GraftMetadataColumns.FileName, GraftMetadataColumns.PosName)
}

/** One task's delta contribution: its insert-rows file, its
  * REINSERT-rows file (the row half of updates — kept apart so the
  * identity guard can treat carried values and fresh rows
  * differently), and/or its deleted-row-ids file (any may be absent —
  * a pure-insert or pure-delete task writes one file, an untouched
  * task none). */
private[sources] final case class DeltaFilesMessage(
    dataPath: Option[String], reinsertPath: Option[String],
    idPath: Option[String],
    inserted: Long, reinserted: Long, deleted: Long)
    extends WriterCommitMessage

private[sources] final class DeltaRowLevelOperation(
    catalog: AtomicParquetCatalog, ident: Identifier, dir: JPath,
    versionDir: JPath, fields: Seq[PartitionField],
    cmd: RowLevelOperation.Command, rowIdCols: Seq[String],
    positional: Boolean, tableSchema: StructType, ref: String,
    scanBuilderFn: CaseInsensitiveStringMap => ScanBuilder)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-atomic-mor $ident"
  override def rowId(): Array[NamedReference] =
    rowIdCols.map(c =>
      Expressions.column(c).asInstanceOf[NamedReference]).toArray
  // updates arrive as delete + reinsert: one sidecar entry + one data
  // file per task covers all three commands (the reinserted row rides
  // through DeltaWriter.reinsert, still distinguishable from inserts)
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  // the table's NORMAL scan (exact MoR application, pushdown allowed):
  // unlike the COW path, delta rewrites need no survivor rows — only
  // the matched ones — so compile-time filter pushdown is sound here
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    scanBuilderFn(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(
        catalog, ident, dir, versionDir, fields, positional, tableSchema,
        ref, info.schema(),
        info.rowIdSchema().orElseThrow(() => new IllegalStateException(
          s"$ident: delta write planned without a row-id schema")))
    }
}

private[sources] final class GraftDeltaWrite(
    catalog: AtomicParquetCatalog, ident: Identifier, dir: JPath,
    versionDir: JPath, fields: Seq[PartitionField],
    positional: Boolean, tableSchema: StructType,
    ref: String, writeSchema: StructType,
    rowIdSchema: StructType) extends DeltaWrite {

  override def description(): String = s"graft-atomic-mor-write $ident"

  // the id sidecar file is written/read FULLY NULLABLE regardless of
  // the table's declared key nullability: a corrupt NULL key component
  // (PK added with RELY over dirty data) must round-trip as null so the
  // commit-time encode check can refuse it pointedly — under a
  // non-nullable schema the parquet round-trip silently turns the null
  // into the type's zero value and the delete entry deletes wrong rows
  private val idFileSchema =
    StructType(rowIdSchema.fields.map(_.copy(nullable = true)))

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val staging =
      dir.resolve("_rowdelta_staging").resolve(s"w-${UUID.randomUUID()}")

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory = {
      val spark = SparkSession.active
      def prepared(schema: StructType): (SerializableConfiguration, OutputWriterFactory) = {
        val job = Job.getInstance(spark.sessionState.newHadoopConf())
        val owf = new ParquetFileFormat()
          .prepareWrite(spark, job, Map.empty, schema)
        (new SerializableConfiguration(job.getConfiguration), owf)
      }
      val (dataConf, dataOwf) = prepared(writeSchema)
      val (idConf, idOwf) = prepared(idFileSchema)
      new GraftDeltaWriterFactory(dataConf, dataOwf, writeSchema,
        idConf, idOwf, idFileSchema, staging.toString)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val msgs = messages.collect { case m: DeltaFilesMessage => m }
      val dataFiles = msgs.flatMap(m => m.dataPath.filter(_ => m.inserted > 0L))
      val rinsFiles = msgs.flatMap(m =>
        m.reinsertPath.filter(_ => m.reinserted > 0L))
      val idFiles = msgs.flatMap(m => m.idPath.filter(_ => m.deleted > 0L))
      val hasIdentity = IdentityColumns.has(tableSchema)
      try {
        if (dataFiles.isEmpty && rinsFiles.isEmpty && idFiles.isEmpty)
          return // no-op operation
        val v = s"v-${UUID.randomUUID()}"
        val nv = dir.resolve(v)
        val committed =
          try {
            MetaStore.carrySpec(versionDir, nv)
            catalog.linkDataFiles(versionDir, nv)
            catalog.carryLegacySpecs(versionDir, nv)
            MorDeletes.carry(versionDir, nv)
            // the base file set BEFORE the new files land — the
            // equality deletes scope to it, so rows this same commit
            // inserts (and rows of later appends) are never touched
            val baseFiles = MetaStore.dataFiles(versionDir)
              .map(p => versionDir.relativize(Paths.get(p)).toString).toSet
            // CDF TYPED UPDATES (`write.cdf.typed-updates`): the commit
            // KNOWS which matched rows were UPDATES — their key
            // reappears among the REINSERTED rows — and which took a
            // DELETE arm. That knowledge exists only HERE, at commit
            // time: after the reinserted rows land next to fresh
            // inserts it is gone, so it persists as a `_cdc_types`
            // marker the change feed types its units by (Delta CDF's
            // update_preimage/update_postimage contract). A MIXED merge
            // (UPDATE and DELETE arms in one commit) SPLITS its
            // equality entry into an update half and a delete half,
            // each with its own matched count and stats-narrowed scope
            // — the feed then types per entry, so one DELETE arm no
            // longer degrades the whole commit to untyped
            // delete+insert. The split pairs by KEY, so it applies
            // only when every reinserted row's key is among the
            // matched ids (key-preserving updates — the CDC norm); a
            // key-mutating all-update merge still types whole by the
            // deleted == reinserted count, and anything else stays
            // honestly untyped.
            val typedUpdatesOn =
              MetaStore.readProps(dir).get("write.cdf.typed-updates")
                .contains("true")
            val deletedTotal = msgs.map(_.deleted).sum
            val reinsertedTotal = msgs.map(_.reinserted).sum
            // every matched row provably an update by COUNT alone —
            // the positional path's gate, and the equality path's
            // fallback when key-pairing cannot apply
            val allUpdates = typedUpdatesOn && deletedTotal > 0L &&
              deletedTotal == reinsertedTotal
            var typedCommit = false
            var preimageEntry: Option[String] = None
            var postimageRels: Seq[String] = Nil
            def newRels(): Set[String] =
              MetaStore.dataFiles(nv)
                .map(p => nv.relativize(Paths.get(p)).toString).toSet
            if (idFiles.nonEmpty && baseFiles.nonEmpty) {
              val cap = DeltaRowLevel.maxDeleteKeys(catalog, dir)
              def capError(): Nothing = throw new IllegalStateException(
                s"$ident: merge-on-read ${ident.name()} matched more than " +
                  s"$cap distinct row ids in one commit — a change this " +
                  "bulk should pay the rewrite: set " +
                  "write.merge.mode/write.update.mode/write.delete.mode " +
                  s"to copy-on-write for it (or raise " +
                  s"${DeltaRowLevel.MaxKeysProp})")
              // the path is the one the PLANNER chose (threaded as an
              // explicit flag), never inferred from row-id column
              // names — a table with real data columns named
              // _file/_pos must not be misrouted into the positional
              // branch
              if (positional) {
                val ids = spark.read.schema(idFileSchema)
                  .parquet(idFiles.toSeq: _*).distinct()
                  .limit(cap + 1).collect()
                if (ids.length > cap) capError()
                // POSITIONAL row id: group the matched (_file, _pos)
                // pairs per file into one positional delete entry —
                // inherently scoped (an ordinal addresses a row of one
                // immutable base file)
                val byFile = ids.toSeq
                  .map(r => (r.getString(0), r.getLong(1)))
                  .groupBy(_._1).map { case (f, xs) =>
                    f -> xs.map(_._2).distinct.sorted.toArray
                  }
                val unknown = byFile.keySet -- baseFiles
                require(unknown.isEmpty,
                  s"$ident: positional delete references files outside " +
                    s"the pinned base version: ${unknown.take(3)}")
                preimageEntry = Some(MorDeletes.writePosEntry(nv, byFile))
                // ordinals are value-blind: key-pairing cannot apply,
                // so only an all-update commit (by count) types
                typedCommit = allUpdates
              } else {
                val dts = rowIdSchema.fields.map(_.dataType)
                val convs =
                  dts.map(CatalystTypeConverters.createToCatalystConverter)
                val nId = rowIdSchema.length
                // typing is possible only on an opted-in table with
                // reinserts to pair against — every OTHER merge keeps
                // the r17 read shape (distinct ids, one entry, matched
                // = the physical total) and pays nothing new
                val typingPossible = typedUpdatesOn &&
                  reinsertedTotal > 0L && rinsFiles.nonEmpty
                // per-distinct-id PHYSICAL match counts when a SPLIT
                // may need per-half sums (duplicate key rows each took
                // one delete() call); plain distinct otherwise
                val grouped: Array[org.apache.spark.sql.Row] =
                  if (typingPossible)
                    spark.read.schema(idFileSchema)
                      .parquet(idFiles.toSeq: _*)
                      .groupBy(idFileSchema.fieldNames.head,
                        idFileSchema.fieldNames.tail.toSeq: _*)
                      .count()
                      .limit(cap + 1).collect()
                  else spark.read.schema(idFileSchema)
                    .parquet(idFiles.toSeq: _*).distinct()
                    .limit(cap + 1).collect()
                if (grouped.length > cap) capError()
                def keyOf(r: org.apache.spark.sql.Row): Seq[Any] =
                  (0 until nId).map(r.get)
                // which matched ids were UPDATES? exactly the ones
                // whose key reappears among the reinserted rows (the
                // reinsert carries the full row, key columns included)
                val rinsKeys: Set[Seq[Any]] =
                  if (typingPossible)
                    spark.read.schema(writeSchema)
                      .parquet(rinsFiles.toSeq: _*)
                      .selectExpr(rowIdSchema.fieldNames
                        .map(n => s"`$n`").toSeq: _*)
                      .distinct().limit(cap + 1).collect()
                      .map(keyOf).toSet
                  else Set.empty
                // split only when EVERY reinserted row pairs with a
                // matched id — a key-mutating UPDATE breaks pairing
                // and the commit stays untyped. KNOWN LIMIT of the
                // commit-time reconstruction: pairing is BY KEY, so a
                // key-mutating UPDATE whose new key happens to equal a
                // same-commit-DELETED matched id's key is
                // indistinguishable from the key-preserving reading —
                // the funnel sees identical (ids, reinserted keys,
                // counts) for both. The feed then swaps the TYPE tags
                // between those two rows (the row VALUES, and any
                // replica applying postimage-wins + deletes, stay
                // exactly right — only preimage attribution is
                // affected). Delta CDF avoids this corner only by
                // typing per row DURING merge execution, which the
                // delete/reinsert funnel never observes; typed-updates
                // is opt-in and documents key-preserving updates (the
                // CDC norm) as its contract.
                val split = rinsKeys.nonEmpty && {
                  val idKeys = grouped.map(keyOf).toSet
                  rinsKeys.subsetOf(idKeys)
                }
                val (updRows, delRows) =
                  if (split) grouped.partition(r => rinsKeys.contains(keyOf(r)))
                  else if (allUpdates) (grouped, Array.empty[org.apache.spark.sql.Row])
                  else (Array.empty[org.apache.spark.sql.Row], grouped)
                // one equality entry per half: IN-node over the half's
                // keys, file scope NARROWED by the footer-stats store
                // (+ bloom) to the files whose key range the HALF
                // intersects — every later consumer (CDC, stream
                // re-emission, rewrite_deletes) then prices the files
                // this half touched, not the snapshot. Composite keys
                // narrow on their FIRST component (per-column ranges
                // cannot see tuples; still a sound over-approximation).
                // The matched count is the half's physical row sum
                // (the commit's physical total on the untyped path,
                // whose rows carry no count column), so COUNT(*)
                // pushdown stays exact: base rows − Σ matched.
                def writeHalf(rows: Array[org.apache.spark.sql.Row])
                    : Option[String] = {
                  if (rows.isEmpty) return None
                  val node = (if (dts.length == 1)
                      MorDeletes.inNode(rowIdSchema.fields(0).name, dts(0),
                        rows.toSeq.map(r => convs(0)(r.get(0))))
                    else
                      // composite PRIMARY KEY: one tuple per matched
                      // row id (Iceberg's multi-field identifier
                      // posture)
                      MorDeletes.inTupleNode(rowIdSchema.fieldNames.toSeq,
                        dts.toSeq, rows.toSeq.map(r =>
                          dts.indices.map(i => convs(i)(r.get(i))))))
                    .getOrElse(throw new IllegalStateException(
                      s"$ident: a matched row id failed to encode (null " +
                        "key component?) — every PRIMARY KEY column must " +
                        "be non-null for merge-on-read row-level " +
                        "operations"))
                  val scoped = {
                    val keyCol = rowIdSchema.fields(0).name
                    val keys = rows.toSeq.map(r => convs(0)(r.get(0)))
                    val byStats = FileStats.filesMayContainKeys(
                      FileStats.load(dir), baseFiles, keyCol, dts(0), keys)
                    // bloom half: on a hash-shaped key every file's
                    // [min,max] spans the space, but the bitsets still
                    // prove absence per file (BloomIndex.scala)
                    BloomIndex.filesMayContainKeys(
                      BloomIndex.loadIfEnabled(dir, spark),
                      byStats, keyCol, keys)
                  }
                  val matchedRows =
                    if (typingPossible) rows.map(_.getLong(nId)).sum
                    else deletedTotal
                  if (scoped.isEmpty) None
                  else Some(MorDeletes.writeEntry(nv, node, scoped,
                    matched = Some(matchedRows)))
                }
                writeHalf(delRows) // genuine deletes: untyped entry
                preimageEntry = writeHalf(updRows)
                typedCommit = (split || allUpdates) && preimageEntry.isDefined
              }
            }
            if (dataFiles.nonEmpty || rinsFiles.nonEmpty) {
              val routed = {
                val p = MetaStore.readProps(dir)
                p.contains("write.sort-cols") || p.contains("write.bloom-cols")
              }
              if (!hasIdentity && !routed && fields.isEmpty) {
                // unpartitioned: the staged files ARE the layout
                // (sort-ordered and bloom-indexed tables skip the
                // shortcut — their delta rows land through the layout
                // router so the sort / native bloom options apply).
                // Reinserted rows were staged APART ("rins-" files), so
                // the postimage file identities survive the move for free
                (dataFiles ++ rinsFiles).foreach { f =>
                  val src = Paths.get(f)
                  MetaStore.move(src, nv.resolve(src.getFileName.toString))
                }
                if (typedCommit) postimageRels = rinsFiles.toSeq
                  .map(f => Paths.get(f).getFileName.toString)
              } else {
                // one extra pass over the CHANGED rows only, laid out
                // under the current spec (the streaming sink's exact
                // posture — never a table-sized pass). Identity
                // tables apply the allocation guard here: REINSERTED
                // rows keep the values they carried (null refused
                // pointedly — an update cannot lose its surrogate
                // key), fresh INSERTS allocate from the pinned base's
                // watermark with GENERATED ALWAYS refusing explicit
                // values — the same IdentityColumns policy an append
                // runs, on the delta batch instead of the table.
                def readStaged(paths: Seq[String]) =
                  spark.read.schema(writeSchema).parquet(paths: _*)
                val fresh =
                  if (dataFiles.isEmpty) None
                  else Some(if (hasIdentity)
                    IdentityColumns.fillGenerated(spark,
                      readStaged(dataFiles.toSeq), tableSchema, dir,
                      versionDir)
                  else readStaged(dataFiles.toSeq))
                val reins =
                  if (rinsFiles.isEmpty) None
                  else Some(if (hasIdentity)
                    IdentityColumns.refuseNulls(
                      readStaged(rinsFiles.toSeq), tableSchema,
                      s"the merge-on-read update path of $ident")
                  else readStaged(rinsFiles.toSeq))
                if (typedCommit && fresh.isDefined && reins.isDefined) {
                  // typed updates need the postimage FILE identities,
                  // and the layout router unioning both kinds into one
                  // write would blend them — two churn-sized writes
                  // (never table-sized) keep the halves apart; the
                  // router appends, so the second write adds files
                  // next to the first's instead of replacing them
                  AtomicParquetCatalog.writeLayout(spark, dir, nv,
                    fresh.get, fields, "append")
                  val afterFresh = newRels()
                  AtomicParquetCatalog.writeLayout(spark, dir, nv,
                    reins.get, fields, "append")
                  postimageRels = (newRels() -- afterFresh).toSeq
                } else {
                  val before = if (typedCommit) newRels() else Set.empty[String]
                  val staged = (fresh.toSeq ++ reins.toSeq)
                    .reduce(_ unionByName _)
                  AtomicParquetCatalog.writeLayout(spark, dir, nv, staged,
                    fields, "append")
                  // reinserts only (a pure-update MERGE with no
                  // NOT-MATCHED inserts fired): every new file is a
                  // postimage file
                  if (typedCommit && fresh.isEmpty)
                    postimageRels = (newRels() -- before).toSeq
                }
              }
            }
            if (typedCommit && preimageEntry.isDefined &&
                postimageRels.nonEmpty) {
              val lines =
                preimageEntry.map(id => s"preimage\t$id").toSeq ++
                  postimageRels.sorted.map(r => s"postimage\t$r")
              MetaStore.write(nv.resolve(DeltaRowLevel.CdcTypesMarker),
                lines.mkString("\n"))
            }
            true
          } catch {
            case e: Throwable => catalog.dropOrphan(nv); throw e
          }
        if (committed) {
          // a conflict here is a real conflict (another commit moved the
          // head past the pinned base): row-level semantics refuse to
          // blindly rebase — the other writer may have changed the rows
          // this operation read
          try catalog.commitVersion(dir, v,
            expectedBase = Some(versionDir.getFileName.toString), ref = ref)
          catch { case e: Throwable => catalog.dropOrphan(nv); throw e }
        }
      // only THIS write's staging dir — the shared `_rowdelta_staging`
      // root stays (a list-then-delete of the root would race a
      // concurrent delta write creating its own staging under it; the
      // empty root is metadata-invisible, `_`-prefixed)
      } finally catalog.dropOrphan(staging)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      catalog.dropOrphan(staging)
  }
}

/** Executor side: one lazily-opened parquet file per task for the
  * inserted rows, one for the deleted row ids — both through Spark's
  * codegen'd parquet write path, both absent when the task contributed
  * nothing of that kind. */
private[sources] final class GraftDeltaWriterFactory(
    dataConf: SerializableConfiguration, dataOwf: OutputWriterFactory,
    dataSchema: StructType,
    idConf: SerializableConfiguration, idOwf: OutputWriterFactory,
    idSchema: StructType, stagingRoot: String)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] = {
    val stagingDir = Paths.get(stagingRoot)
    MetaStore.mkdirs(stagingDir)

    def open(owf: OutputWriterFactory, conf: SerializableConfiguration,
        schema: StructType, kind: String) = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-delta", partitionId), TaskType.MAP,
          partitionId),
        (taskId & 0x7fffffff).toInt)
      val ctx = new TaskAttemptContextImpl(conf.value, attempt)
      val path = stagingDir.resolve(
        s"$kind-$partitionId-$taskId-${UUID.randomUUID()}" +
          owf.getFileExtension(ctx)).toString
      (owf.newInstance(path, schema, ctx), path)
    }

    new DeltaWriter[InternalRow] {
      private var dataWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var dataPath: String = _
      private var rinsWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var rinsPath: String = _
      private var idWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var idPath: String = _
      private var inserted = 0L
      private var reinserted = 0L
      private var deleted = 0L

      override def insert(row: InternalRow): Unit = {
        if (dataWriter == null) {
          val (w, p) = open(dataOwf, dataConf, dataSchema, "data")
          dataWriter = w; dataPath = p
        }
        dataWriter.write(row); inserted += 1
      }

      // the row half of an update (representUpdateAsDeleteAndInsert):
      // staged APART from genuine inserts so the commit-time identity
      // guard can keep carried values while fresh rows allocate
      override def reinsert(metadata: InternalRow, row: InternalRow): Unit = {
        if (rinsWriter == null) {
          val (w, p) = open(dataOwf, dataConf, dataSchema, "rins")
          rinsWriter = w; rinsPath = p
        }
        rinsWriter.write(row); reinserted += 1
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        if (idWriter == null) {
          val (w, p) = open(idOwf, idConf, idSchema, "ids")
          idWriter = w; idPath = p
        }
        idWriter.write(id); deleted += 1
      }

      // representUpdateAsDeleteAndInsert routes updates through
      // delete+reinsert; keep the direct form correct anyway
      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        delete(metadata, id); reinsert(metadata, row)
      }

      override def commit(): WriterCommitMessage = {
        if (dataWriter != null) dataWriter.close()
        if (rinsWriter != null) rinsWriter.close()
        if (idWriter != null) idWriter.close()
        DeltaFilesMessage(Option(dataPath), Option(rinsPath),
          Option(idPath), inserted, reinserted, deleted)
      }

      override def abort(): Unit = {
        if (dataWriter != null) { dataWriter.close()
          MetaStore.delete(Paths.get(dataPath)) }
        if (rinsWriter != null) { rinsWriter.close()
          MetaStore.delete(Paths.get(rinsPath)) }
        if (idWriter != null) { idWriter.close()
          MetaStore.delete(Paths.get(idPath)) }
        ()
      }

      override def close(): Unit = ()
    }
  }
}
