package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types.StructType

/** A [[FilePartition]] that also names the partition-column values all
  * of its files share — the [[HasPartitionKey]] handshake Spark's
  * storage-partitioned join machinery groups tasks by. Subclassing (not
  * wrapping) keeps the inner parquet reader factory working unchanged:
  * it sees the FilePartition it expects. */
private[sources] final class KeyedFilePartition(
    index: Int, files: Array[PartitionedFile], key: InternalRow)
    extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** STORAGE-PARTITIONED JOIN support for the atomic catalog — the
  * co-located-join path a lakehouse format's tables get from reporting
  * their partition layout to Spark (SPARK-37375; what Iceberg tables do
  * at scale): when BOTH sides of an equi-join are partitioned on the
  * join keys, Spark plans the join with ZERO shuffle — each task joins
  * one partition-value group read straight from both tables' files.
  * At 100 TB this removes the dominant cost of fact-to-fact joins
  * between co-partitioned tables (two full-table exchanges).
  *
  * Mechanics: wraps the delegated parquet [[Scan]] and (a) reports
  * `KeyGroupedPartitioning(identity(partCols), nDistinctKeys)` through
  * [[SupportsReportPartitioning]], (b) re-plans the inner scan's input
  * partitions so every task holds files of exactly ONE partition value,
  * tagged with [[HasPartitionKey]] — Spark's `BatchScanExec` then
  * groups same-key tasks (`spark.sql.sources.v2.bucketing.enabled`) and
  * `EnsureRequirements` recognizes the two sides as co-partitioned.
  * Within one partition value the inner scan's task packing is kept, so
  * a non-join read of a wrapped scan parallelizes exactly as before up
  * to partition-boundary splits.
  *
  * The wrap is applied by [[PointerTable]]'s scan builder ONLY when
  * `spark.sql.sources.v2.bucketing.enabled` is true in the building
  * session AND the scan still carries every partition column (a scan
  * that pruned them away has no per-file key to report) — so the
  * default read path keeps its task packing, and sessions that opt
  * into v2 bucketing get the exchange-free plan.
  * StoragePartitionedJoinSpec pins both the plan shape (no shuffle
  * exchange under the join) and the joined rows. */
/** The full parquet pushdown protocol — filters, column pruning,
  * aggregates, variant extraction — forwarded verbatim to the real
  * [[ParquetScanBuilder]], with a `build()` that wraps the resulting
  * scan for the table's runtime behaviors: [[KeyGroupedParquetScan]]
  * (storage-partitioned joins) when the building session has v2
  * bucketing enabled, else [[RuntimePrunedParquetScan]] (dynamic
  * partition pruning for star-schema joins) — both only while the scan
  * still carries every partition column. The planner feature-tests the
  * builder's interfaces, so every interface the parquet builder
  * implements must be declared here or its pushdown silently turns off
  * (PlanQualitySpec's pushdown asserts guard that). A subclass override
  * of `build()` is impossible — the parent narrows the return type to
  * ParquetScan. The pruneColumns/pushFilters arguments are CAPTURED so
  * the DPP scan can replay the original pushdown onto its pruned
  * delegate. */
private[sources] final class KeyGroupedParquetScanBuilder(
    inner: ParquetScanBuilder, session: SparkSession, scanName: String,
    versionDir: java.nio.file.Path, tableSchema: StructType,
    fields: Seq[PartitionField],
    streamOpts: StreamReadOptions = StreamReadOptions(None, false, None, None),
    legacy: Seq[(String, Seq[PartitionField])] = Nil)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {
  import org.apache.spark.sql.catalyst.expressions.{Expression => CExpression}
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.connector.read.VariantExtraction

  private var requiredSchema: Option[StructType] = None
  private var dataFilters: Seq[CExpression] = Nil
  private var aggPushed = false
  // columns read ONLY for live delete predicates / positional ordinal
  // checks (projected away by the DeleteApplyingScan after the filter)
  private var deleteExtraCols: Seq[String] = Nil
  // the full output schema when `_file`/`_pos` metadata columns were
  // requested — the MetadataColumnsScan wrapper serves them
  private var metaOutput: Option[StructType] = None
  private lazy val liveDeletes: Seq[MorDeletes.DeleteEntry] =
    MorDeletes.entries(versionDir)
  private lazy val livePosDeletes: Seq[MorDeletes.PosEntry] =
    MorDeletes.posEntries(versionDir)

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // a completely-pushed MoR COUNT(*) serves a LocalScan: the schema
    // Spark prunes to is the AGGREGATE's (no table column in it), so
    // the delete-predicate/row-index extension below must not run
    if (morCount.isDefined) { this.requiredSchema = Some(requiredSchema); return }
    // `_file`/`_pos` metadata columns surface through the
    // MetadataColumnsScan wrapper — the parquet builder sees data
    // columns only, plus the reserved row-index column whenever row
    // ordinals are needed (a requested `_pos`, or live POSITIONAL
    // delete entries to apply)
    val (metaFields, dataFields) = requiredSchema.fields.partition(f =>
      GraftMetadataColumns.isMeta(f.name) &&
        !tableSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    metaOutput = if (metaFields.isEmpty) None else Some(requiredSchema)
    val posRequested = metaFields.exists(
      _.name.equalsIgnoreCase(GraftMetadataColumns.PosName))
    val requested = StructType(dataFields)
    // live merge-on-read deletes: the row filter needs its predicate
    // columns IN the row, whatever the query selected — extend the
    // pruned schema (table order) and remember what to project away
    var predExtras: Seq[String] = Nil
    val extended =
      if (liveDeletes.isEmpty) requested
      else {
        val needed = liveDeletes.flatMap(e => MorDeletes.colsOf(e.node)).toSet
        val have = requested.fieldNames.map(_.toLowerCase).toSet
        val extra = tableSchema.fields.filter(f =>
          needed.contains(f.name.toLowerCase) &&
            !have.contains(f.name.toLowerCase))
        predExtras = extra.map(_.name).toSeq
        if (extra.isEmpty) requested
        else StructType(requested.fields ++ extra)
      }
    val needRix = posRequested || livePosDeletes.nonEmpty
    val withRix =
      if (!needRix || extended.fieldNames.exists(
          _.equalsIgnoreCase(MorDeletes.RowIndexCol))) extended
      else StructType(extended.fields :+
        org.apache.spark.sql.types.StructField(MorDeletes.RowIndexCol,
          org.apache.spark.sql.types.LongType))
    // the row-index column is delete-internal unless `_pos` needs it
    // downstream in the metadata wrapper
    deleteExtraCols = predExtras ++
      (if (needRix && !posRequested) Seq(MorDeletes.RowIndexCol) else Nil)
    this.requiredSchema = Some(withRix)
    inner.pruneColumns(withRix)
  }
  // filters CONSUMED by the all-or-nothing stats split (see
  // consumePrunable), filters ACCOUNTED for by the pruned file scope
  // (consumed ones plus identity-partition filters the inner builder
  // already handled), and the live files every accounted conjunct
  // proved all-rows-match on — the pruned metadata COUNT(*) scope
  private var consumed: Seq[CExpression] = Nil
  private var accounted: Seq[CExpression] = Nil
  private var prunedKeep: Option[Set[String]] = None
  // the filters actually forwarded to the inner parquet builder —
  // dataFilters minus the consumed conjuncts. Every pushdown REPLAY
  // onto a rebuilt FileScanBuilder (DPP delegate, static hidden
  // pruning) must use THIS set: replaying a consumed conjunct would
  // re-introduce the pruned-column parquet filter the withholding in
  // pushFilters exists to prevent.
  private var innerFilters: Seq[CExpression] = Nil

  /** A directory value string as the catalyst-internal stat shape of
    * `dt` — only the exact-stat types the must-match evaluator proves
    * on. None = unparseable (null partition dirs, exotic types). */
  private def dirStatValue(raw: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType | ShortType | ByteType => raw.toIntOption
      case LongType => raw.toLongOption
      case BooleanType => raw.toBooleanOption
      case DateType =>
        try Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        catch { case _: java.time.format.DateTimeParseException => None }
      case _ => None
    }
  }

  /** A file's footer stats EXTENDED with its identity-partition column
    * values synthesized from the directory path — min == max == the
    * dir value with zero nulls, the one case where derived stats are
    * EXACT by construction (the value never sits in the file, so the
    * footer cannot carry it). This is what lets
    * `COUNT(*) WHERE part_col = X` on an identity-partitioned MoR
    * table keep the metadata fast path. */
  private def statsWithIdentity(stats: Map[String, FileStats.FileStat],
      f: String): Option[FileStats.FileStat] =
    stats.get(f).map { st =>
      val segs = f.split('/').dropRight(1)
      val extra = fields.collect { case IdentityPart(col) => col }
        .flatMap { col =>
          val pre = col + "="
          val have = st.cols.keys.exists(_.equalsIgnoreCase(col))
          if (have) None
          else segs.find(_.startsWith(pre)).flatMap { seg =>
            tableSchema.fields.find(_.name.equalsIgnoreCase(col))
              .flatMap(tf => dirStatValue(seg.substring(pre.length),
                tf.dataType))
              .map(v => col -> FileStats.ColStat(Some(v), Some(v), Some(0L)))
          }
        }
      if (extra.isEmpty) st else st.copy(cols = st.cols ++ extra)
    }

  override def pushFilters(filters: Seq[CExpression]): Seq[CExpression] = {
    dataFilters = filters
    // Raw-consumability is decided BEFORE delegating, and a consumed
    // conjunct is WITHHELD from the inner parquet builder: once the
    // Filter node is gone Spark prunes the conjunct's column out of
    // the read schema, and a parquet-side pushed filter on a column
    // absent from that schema evaluates it as null and drops EVERY
    // row (`SELECT v WHERE ok = 2` on a two-file table returned zero
    // rows). Withholding costs nothing: the conjunct is
    // all-or-nothing per file, FileSkippingScan (which keeps the FULL
    // dataFilters) plans away the none-match files, and every kept
    // file matches whole — no partial row group exists for the
    // parquet filter to prune.
    val removable = rawConsumable(filters)
    innerFilters = filters.filterNot(removable.contains)
    consumePrunable(removable, inner.pushFilters(innerFilters))
  }

  // the (stats, files, included) triple every metadata-answer path
  // walks — computed once per builder: Spark consults
  // supportCompletePushDown and pushAggregation in the same planning
  // pass (filters, and with them prunedKeep, are final by then), and
  // each morCountCol/morMinMax term would otherwise re-run the
  // FileStats load plus a full version walk per call
  private lazy val metaStats: Map[String, FileStats.FileStat] =
    FileStats.load(versionDir.getParent)
  private lazy val metaFiles: Seq[String] =
    MetaStore.dataFiles(versionDir)
      .map(p => versionDir.relativize(java.nio.file.Paths.get(p)).toString)
  private lazy val metaIncluded: Seq[String] = prunedKeep match {
    case Some(keep) => metaFiles.filter(keep.contains)
    case None => metaFiles
  }

  /** The filter half of the PRUNED delete-aware COUNT(*): a residual
    * conjunct whose footer stats decide EVERY live file all-or-nothing
    * (every row matches, or provably none does — `FileStats.mustMatch`
    * / `!mayMatch`) is consumed here instead of returned to Spark,
    * because Spark refuses aggregate pushdown under ANY post-scan
    * filter — and `COUNT(*) WHERE date_col >= X` on a hidden-transform
    * partitioned CDC table is the most common count shape at scale.
    * Consuming is sound for every read, not just counts, ONLY when the
    * conjunct is decided on RAW footer stats: build()'s
    * [[FileSkippingScan]] re-derives skipping from the raw stats (no
    * identity synthesis) and plans away the none-match files, and the
    * files it keeps hold only matching rows by the raw must-match
    * proof, so dropping the Filter node loses nothing. A conjunct
    * decided only through SYNTHESIZED identity-partition stats (the
    * value never sits in the file, so the footer carries no stat the
    * skipper could see — e.g. `part = 5 OR c < 3`) must therefore STAY
    * in the residual; synthesized stats fold filters into
    * `accounted`/`prunedKeep` for the metadata-count answer ONLY
    * (where the pruned file scope itself is the proof). Undecidable
    * conjuncts (a partial file, a file missing stats, a string/float
    * column) stay residual and everything behaves as before. Gated
    * behind the aggregate-pushdown session conf plus the skipping
    * kill-switch; applies to MoR-live AND clean versions (the inner
    * footer path only serves UNfiltered aggregates — any data filter
    * makes it refuse). */
  private def consumptionGated: Boolean = {
    if (dataFilters.isEmpty || legacy.nonEmpty ||
        !aggPushEnabled || !FileStats.skippingEnabled(session))
      return false
    // clean (no-deletes) versions consume by DEFAULT (opt-out conf):
    // the clean table is the common case at 100 TB, and
    // `COUNT(*) WHERE date >= X` on it deserves the same zero-scan
    // metadata answer a CDC table gets — the asymmetry the r17 opt-in
    // soak protected against is now the backwards one. Consumption
    // still engages only under the aggregatePushdown session conf
    // (checked above), so default sessions see no plan change; within
    // such sessions the Filter node legitimately disappears on
    // raw-decided conjuncts (all-or-nothing proof + FileSkippingScan).
    if (liveDeletes.isEmpty && livePosDeletes.isEmpty &&
        session.conf.get("spark.sql.catalog.graft.read.cleanCountPruning",
          "true") == "false")
      return false
    java.nio.file.Files.isDirectory(
      versionDir.getParent.resolve("_filestats")) && metaFiles.nonEmpty
  }

  // decided on the RAW footer stats alone — the proof Filter-node
  // removal needs: FileSkippingScan re-decides from raw stats, so a
  // conjunct it cannot re-decide (identity-synthesis-only) would
  // leave its none-match files planned with the Filter node gone.
  // An empty file is decided by construction: zero rows match and
  // zero rows fail, so it contributes nothing either way.
  private def decidedRaw(c: CExpression, f: String): Boolean =
    metaStats.get(f).exists(st => st.rows == 0L ||
      FileStats.mustMatch(Seq(c), st, tableSchema) ||
      !FileStats.mayMatch(Seq(c), st, tableSchema))

  /** The conjuncts whose RAW footer stats decide every file of the
    * version all-or-nothing — safe to consume from the residual AND
    * (equivalently: REQUIRED to be) withheld from the inner parquet
    * builder. Raw-decided implies synthesized-decided, so these always
    * land in `accounted` too. */
  private def rawConsumable(filters: Seq[CExpression]): Seq[CExpression] =
    if (!consumptionGated) Nil
    else filters.filter(c => metaFiles.forall(f => decidedRaw(c, f)))

  private def consumePrunable(removable: Seq[CExpression],
      residual: Seq[CExpression]): Seq[CExpression] = {
    if (!consumptionGated) return residual
    val stats = metaStats
    val files = metaFiles
    // decide over the FULL pushed set, not just the residual: an
    // identity-partition filter never reaches the residual (the inner
    // builder consumed it against its file index), but the metadata
    // count walks ALL the version's files itself, so the filter must
    // fold into the pruned scope too — its per-file truth synthesizes
    // exactly from the directory values (statsWithIdentity)
    val candidates = dataFilters
    def decided(c: CExpression, f: String): Boolean =
      statsWithIdentity(stats, f).exists(st => st.rows == 0L ||
        FileStats.mustMatch(Seq(c), st, tableSchema) ||
        !FileStats.mayMatch(Seq(c), st, tableSchema))
    val use = candidates.filter(c => files.forall(f => decided(c, f)))
    if (use.isEmpty) return residual
    val keep = files.filter { f =>
      val st = statsWithIdentity(stats, f).get
      st.rows > 0L &&
        use.forall(c => FileStats.mustMatch(Seq(c), st, tableSchema))
    }.toSet
    accounted = use
    consumed = removable
    prunedKeep = Some(keep)
    // the removable conjuncts were never forwarded to the inner
    // builder (pushFilters withheld them), so the residual it returned
    // cannot contain them — returning it as-is IS the consumption
    residual
  }
  override def pushedFilters: Array[V2Predicate] = inner.pushedFilters
  // a MIXED-SPEC version (legacy subtrees after metadata-only spec
  // evolution) must refuse aggregate / variant pushdown: the inner
  // builder sees only the version root's files, so a pushed aggregate
  // would silently aggregate a SUBSET of the table. Live MOR deletes
  // refuse MIN/MAX unconditionally (a delete can remove the extremum)
  // — but COUNT(*) survives them when every live entry's removed-row
  // count is known exactly: positional entries carry their ordinals
  // outright and equality entries persist the matched-row count the
  // commit funnel measured, so the answer is Σ footer row counts −
  // Σ sidecar counts, computed from metadata the driver already holds
  // (the footer-stats store). A table one CDC merge touched keeps
  // q100's no-scan fast path instead of paying a full read until
  // rewrite_deletes.
  // the pushed-aggregate answer row (one value per aggregate term —
  // COUNT(*)s, plus MIN/MAX values whose SURVIVAL the live delete
  // entries' own predicates prove, see morMinMax) and its schema
  private var morCount: Option[(Array[Any], StructType)] = None

  /** Session gate shared with the inner parquet builder's rule, plus
    * this path's own kill-switch. */
  private def aggPushEnabled: Boolean =
    session.conf.get("spark.sql.parquet.aggregatePushdown",
      "false") == "true" &&
      session.conf.get("spark.sql.catalog.graft.read.morAggPushdown",
        "true") != "false"

  private def isServableAgg(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall {
        case _: CountStar | _: Min | _: Max => true
        case c: Count => !c.isDistinct
        case s: Sum => !s.isDistinct
        case a: Avg => !a.isDistinct
        case _ => false
      }
  }

  /** Does the aggregation carry a SUM or AVG term — the two the
    * parquet footer util cannot schema (footers have no sums), so the
    * pushed-aggregate schema is built by hand and the answer comes
    * from the store's harvested exact per-file sums. */
  private def hasSumAvg(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Sum}
    aggregation.aggregateExpressions.exists {
      case _: Sum | _: Avg => true
      case _ => false
    }
  }

  /** The exact SUM (or AVG) of an integral or decimal column from the
    * store's harvested per-file sums — clean versions only: any live
    * delete entry refuses (a deleted row's contribution is unknowable
    * from metadata), as does any included file or column without a
    * harvested sum + known null count, or an unsupported column type.
    * `Some(null)` = zero non-null values anywhere (SQL's answer).
    *
    * The metadata answer must be BIT-IDENTICAL to what the row scan
    * would produce, which constrains more than total ranges:
    * catalyst's Sum accumulates integrals in Long (a PARTIAL sum can
    * overflow even when the total fits — ANSI errors, legacy wraps),
    * Average accumulates them in Double (a partial can exceed 2^53
    * and round), and decimal Sum accumulates in
    * DecimalType(p+10, s). The store's harvested Σ|values| (absSum)
    * bounds the MAGNITUDE of every partial sum any execution order
    * can form, so "Σ|values| fits the accumulator" is a complete
    * exactness proof for all three — sign-mixed data included.
    * Legacy 7-field store lines (sum without absSum) fall back to a
    * footer-stat sign-homogeneity proof for integrals: one-signed
    * partials are bounded by the total itself. Anything unprovable
    * refuses to the scan rather than return an answer the
    * kill-switch could contradict at the ULP. A direct decimal AVG
    * term refuses here — and still serves in practice, because
    * Spark's pushdown rule rewrites AVG into SUM+COUNT (both exact
    * from this path) and keeps the decimal division in the Project,
    * so the rounding lattice stays catalyst's own. */
  private def morSum(col: String, avg: Boolean): Option[Any] = {
    import org.apache.spark.sql.types.{ByteType, Decimal, DecimalType, IntegerType, LongType, ShortType}
    // a live entry refuses ONLY when its stats-narrowed file scope
    // intersects the included (pruned) set: an entry scoped wholly
    // outside it cannot have deleted a row of an included file, so a
    // pruned SUM over partition A survives a CDC merge that touched
    // partition B. Unfiltered reads include every file, where any
    // live entry intersects — the r18 blanket refusal, unchanged.
    if (liveDeletes.nonEmpty || livePosDeletes.nonEmpty) {
      val included = metaIncluded.toSet
      if (liveDeletes.exists(_.files.exists(included.contains)) ||
          livePosDeletes.exists(_.files.exists(included.contains)))
        return None
    }
    val field = tableSchema.fields.find(_.name.equalsIgnoreCase(col))
      .getOrElse(return None)
    val decType: Option[DecimalType] = field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => None
      case d: DecimalType => if (avg) return None else Some(d)
      case _ => return None
    }
    def asLong(v: Any): Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s0: Short => Some(s0.toLong)
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case _ => None
    }
    val stats = metaStats
    var total = BigInt(0)
    var totalAbs = Option(BigInt(0)) // None once any file lacks absSum
    var nonNull = 0L
    var allNonNeg = true
    var allNonPos = true
    for (f <- metaIncluded) stats.get(f) match {
      case None => return None
      case Some(st) if st.rows == 0L => ()
      case Some(st) =>
        st.cols.find(_._1.equalsIgnoreCase(col)).map(_._2) match {
          case None => return None
          case Some(cs) => (cs.sum, cs.nulls) match {
            case (Some(s0), Some(n)) =>
              total += s0
              totalAbs = for (t <- totalAbs; a <- cs.absSum) yield t + a
              nonNull += st.rows - n
              if (st.rows - n > 0L) {
                allNonNeg &&= cs.mn.flatMap(asLong).exists(_ >= 0L)
                allNonPos &&= cs.mx.flatMap(asLong).exists(_ <= 0L)
              }
            case _ => return None
          }
        }
    }
    if (nonNull == 0L) return Some(null)
    // the partial-sum magnitude bound: Σ|values| when harvested, else
    // |total| itself under the sign-homogeneity proof
    val bound: BigInt = totalAbs match {
      case Some(a) => a
      case None if allNonNeg || allNonPos => total.abs
      case None => return None
    }
    decType match {
      case Some(d) =>
        // catalyst sums DecimalType(p, s) in DecimalType.bounded(p+10, s):
        // exact iff no partial needs more than that precision
        val resPrec = math.min(38, d.precision + 10)
        if (bound >= BigInt(10).pow(resPrec)) None
        else Some(Decimal(BigDecimal(new java.math.BigDecimal(
          total.bigInteger, d.scale)), resPrec, d.scale))
      case None if avg =>
        if (bound > BigInt(1L << 53)) None
        else Some(total.toLong.toDouble / nonNull.toDouble)
      case None =>
        if (!bound.isValidLong) None else Some(total.toLong)
    }
  }

  /** The exact live COUNT(col) — non-null count — from metadata:
    * Σ (footer rows − footer null count) over the included files,
    * minus the matched counts of live equality entries that reference
    * ONLY `col`: a matched row provably has `col` non-null (a null
    * never satisfies the entry's predicate — the delete-apply keep
    * filter passes null-predicate rows through), so each persisted
    * count subtracts exactly. Entries over other columns refuse (the
    * deleted rows' nullness in `col` is unknowable from footers), as
    * do positional entries and any file with unknown null counts. */
  private def morCountCol(col: String): Option[Any] = {
    if (livePosDeletes.nonEmpty) return None
    val stats = metaStats
    val files = metaFiles
    val included = metaIncluded
    var nonNull = 0L
    for (f <- included) stats.get(f) match {
      case None => return None
      case Some(st) if st.rows == 0L => ()
      case Some(st) =>
        st.cols.find(_._1.equalsIgnoreCase(col)).map(_._2) match {
          case None => return None
          case Some(cs) => cs.nulls match {
            case Some(n) => nonNull += st.rows - n
            case None => return None
          }
        }
    }
    val inc = included.toSet
    val all = files.toSet
    var deleted = 0L
    for (e <- liveDeletes) {
      if (MorDeletes.colsOf(e.node) != Set(col.toLowerCase)) return None
      // LOCAL null-guard: the subtraction claims "a matched row
      // provably has col non-null", which a null-matching node (e.g. a
      // counted `DELETE WHERE col IS NULL` entry) breaks — its matched
      // rows belong to the NULL count, not the non-null one. Refusing
      // here keeps the proof local instead of resting on "only the
      // null-refusing MERGE funnel persists counts".
      if (MorDeletes.matchesNulls(e.node)) return None
      val m = e.matched.getOrElse(return None)
      if (prunedKeep.isEmpty) deleted += m
      else {
        val live = e.files.filter(all.contains)
        if (live.forall(inc.contains)) deleted += m
        else if (live.exists(inc.contains)) return None
      }
    }
    val n = nonNull - deleted
    if (n < 0) None else Some(n)
  }

  /** The exact live MIN or MAX of `col`, when SURVIVAL is provable
    * from metadata: the candidate extremum is the best per-file
    * footer bound over the included files (exact-stat shapes only —
    * integral/date/timestamp/boolean), and every live equality
    * entry's predicate must (a) reference ONLY `col` and (b) evaluate
    * FALSE at the candidate — the predicate depends on nothing else,
    * so no row holding the extremum value was deleted and the footer
    * answer is the live answer. The common CDC shape passes: a
    * PK-keyed MERGE/DELETE entry lists the touched keys, and
    * MIN(pk)/MAX(pk) survive whenever the extremum key is not among
    * them. Refuses (None) on positional entries (their rows are
    * ordinals — value-blind), entries over other columns, uncovered
    * files, or a candidate the predicate might have removed (a
    * deleted extremum makes the next-best unknowable from footers).
    * `Some(null)` = a provably all-null/empty column (the SQL
    * answer). */
  private def morMinMax(col: String, isMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    if (livePosDeletes.nonEmpty) return None
    val idx = tableSchema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
    if (idx < 0) return None
    def exactShape(x: Any): Boolean = x match {
      case _: Int | _: Long | _: Boolean => true
      case _ => false
    }
    val stats = metaStats
    val included = metaIncluded
    var best: Any = null
    for (f <- included) stats.get(f) match {
      case None => return None
      case Some(st) if st.rows == 0L => ()
      case Some(st) =>
        st.cols.find(_._1.equalsIgnoreCase(col)).map(_._2) match {
          case None => return None
          case Some(cs) =>
            if (cs.nulls.contains(st.rows)) () // all-null: no values
            else {
              val b = (if (isMin) cs.mn else cs.mx)
                .getOrElse(return None)
              if (!exactShape(b)) return None
              def cmpLt(a: Any, c: Any): Option[Boolean] = (a, c) match {
                case (x: Int, y: Int) => Some(x < y)
                case (x: Long, y: Long) => Some(x < y)
                case (x: Boolean, y: Boolean) => Some(!x && y)
                case _ => None // mixed shapes across files: refuse
              }
              if (best == null) best = b
              else cmpLt(if (isMin) b else best,
                  if (isMin) best else b) match {
                case Some(true) => best = b
                case Some(false) => ()
                case None => return None
              }
            }
        }
    }
    if (best == null) return Some(null) // zero non-null values anywhere
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(tableSchema)
    for (e <- liveDeletes) {
      if (MorDeletes.colsOf(e.node) != Set(col.toLowerCase)) return None
      val pred = org.apache.spark.sql.catalyst.expressions.Predicate
        .create(MorDeletes.toCatalyst(e.node, attrs), attrs)
      val row = new GenericInternalRow(tableSchema.length)
      row.update(idx, best)
      if (pred.eval(row)) return None
    }
    Some(best)
  }

  /** The exact live row count, when every term is known from
    * metadata: refuses (None) on pushed data filters, any equality
    * entry without a persisted matched count (the O(metadata)
    * deleteWhere path, or a count dropped by a restricted carry), or
    * any live data file missing from the footer-stats store. */
  // computed once per builder: Spark consults supportCompletePushDown
  // and pushAggregation in the same planning pass (filters are already
  // final by then), and the answer walks the version's file list
  private lazy val morCountCached: Option[Long] = {
    if (liveDeletes.exists(_.matched.isEmpty)) None
    else {
      val stats = metaStats
      val files = metaFiles
      // the PRUNED count: consumed filters restrict the answer to the
      // files they proved all-rows-match on (everything else holds
      // zero qualifying rows by the none-match proof)
      val included = metaIncluded
      var base = 0L
      var covered = true
      for (f <- included) stats.get(f) match {
        case Some(st) => base += st.rows
        case None => covered = false
      }
      if (!covered) None
      else {
        val inc = included.toSet
        // per-file UNION of positional ordinals — two entries naming
        // the same (file, ordinal) must not double-subtract; under
        // pruning only ordinals of INCLUDED files were counted in base
        val posDeleted = MorDeletes.posOrdinalsByFile(livePosDeletes)
          .filter { case (f, _) => prunedKeep.isEmpty || inc.contains(f) }
          .valuesIterator.map(_.length.toLong).sum
        // equality entries: a per-entry matched count is exact for a
        // pruned answer only when the entry's live file scope does not
        // STRADDLE the pruned boundary — fully inside subtracts fully
        // (every matched row sits in a counted file), fully outside
        // subtracts nothing, straddling refuses to the scan
        var eqDeleted = 0L
        var exact = true
        if (prunedKeep.isEmpty) eqDeleted = liveDeletes.flatMap(_.matched).sum
        else {
          val all = files.toSet
          for (e <- liveDeletes) {
            val live = e.files.filter(all.contains)
            if (live.forall(inc.contains)) eqDeleted += e.matched.get
            else if (live.exists(inc.contains)) exact = false
          }
        }
        if (!exact) None
        else {
          val n = base - posDeleted - eqDeleted
          // a negative answer means a corrupt sidecar — refuse to the
          // scan path rather than serve an impossible count
          if (n < 0) None else Some(n)
        }
      }
    }
  }

  private def morCountAnswer(): Option[Long] =
    // every pushed filter must be accounted for: folded into the
    // pruned file scope above (consumed from the residual, or an
    // identity-partition filter decided from the directory values) —
    // otherwise the answer is the scan's
    if ((dataFilters.toSet -- accounted.toSet).nonEmpty) None
    else morCountCached

  private def tryMorCount(aggregation: Aggregation): Option[(Array[Any], StructType)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType, StructField}
    if (legacy.nonEmpty || !aggPushEnabled ||
      !isServableAgg(aggregation)) return None
    if ((dataFilters.toSet -- accounted.toSet).nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression) =
      colOf(e).flatMap(c =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(c)))
    val schema =
      if (!hasSumAvg(aggregation))
        org.apache.spark.sql.execution.datasources
          .AggregatePushDownUtils.getSchemaForPushedAggregation(
            aggregation, tableSchema, parts.toSet,
            // accounted filters are already folded into the pruned file
            // scope; the util refuses on any data filter it can see
            dataFilters.filterNot(accounted.contains))
          .getOrElse(return None)
      else {
        // the util cannot schema SUM/AVG (footers carry no sums) —
        // build the one-row schema by hand, mirroring catalyst result
        // types exactly: SUM(integral) is LongType, AVG is DoubleType
        val fields = aggregation.aggregateExpressions.map {
          case _: CountStar => StructField("count(*)", LongType)
          case c: Count if !c.isDistinct =>
            val f = fieldOf(c.column).getOrElse(return None)
            StructField(s"count(${f.name})", LongType)
          case m: Min =>
            val f = fieldOf(m.column).getOrElse(return None)
            StructField(s"min(${f.name})", f.dataType)
          case m: Max =>
            val f = fieldOf(m.column).getOrElse(return None)
            StructField(s"max(${f.name})", f.dataType)
          case s0: Sum if !s0.isDistinct =>
            val f = fieldOf(s0.column).getOrElse(return None)
            f.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                StructField(s"sum(${f.name})", LongType)
              case d: org.apache.spark.sql.types.DecimalType =>
                // catalyst's Sum result type for decimals
                StructField(s"sum(${f.name})",
                  org.apache.spark.sql.types.DecimalType(
                    math.min(38, d.precision + 10), d.scale))
              case _ => return None
            }
          case a: Avg if !a.isDistinct =>
            val f = fieldOf(a.column).getOrElse(return None)
            f.dataType match {
              case ByteType | ShortType | IntegerType | LongType =>
                StructField(s"avg(${f.name})", DoubleType)
              case _ => return None
            }
          case _ => return None
        }
        StructType(fields.toArray)
      }
    val values = aggregation.aggregateExpressions.map {
      case _: CountStar =>
        morCountAnswer().getOrElse(return None): Any
      case c: Count if !c.isDistinct =>
        morCountCol(colOf(c.column).getOrElse(return None))
          .getOrElse(return None)
      case m: Min => morMinMax(colOf(m.column).getOrElse(return None),
        isMin = true).getOrElse(return None)
      case m: Max => morMinMax(colOf(m.column).getOrElse(return None),
        isMin = false).getOrElse(return None)
      case s0: Sum if !s0.isDistinct =>
        morSum(colOf(s0.column).getOrElse(return None), avg = false)
          .getOrElse(return None)
      case a: Avg if !a.isDistinct =>
        morSum(colOf(a.column).getOrElse(return None), avg = true)
          .getOrElse(return None)
      case _ => return None
    }
    Some((values.toArray, schema))
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (legacy.nonEmpty) return false
    if (liveDeletes.nonEmpty || livePosDeletes.nonEmpty) {
      morCount = tryMorCount(aggregation)
      return morCount.isDefined
    }
    // a FILTERED count on a clean table: the inner parquet builder
    // refuses any aggregate under data filters, but the pruned
    // metadata path serves it when every filter folded into the file
    // scope — COUNT(*) WHERE date >= X on a COW table costs a stats
    // read, same as the MoR case. SUM/AVG terms take the metadata
    // path too (footers carry no sums, so the inner builder can never
    // serve them). Other unfiltered aggregates keep the inner footer
    // path (it also serves MIN/MAX).
    if (dataFilters.nonEmpty || hasSumAvg(aggregation)) {
      morCount = tryMorCount(aggregation)
      if (morCount.isDefined) return true
    }
    // consumed conjuncts were withheld from the inner builder, so its
    // "no pushed data filters" aggregate precondition is a lie here —
    // an inner footer aggregate would ignore the consumed WHERE (and
    // skipping, which enforces it, disengages under a pushed
    // aggregate). Refuse; Spark keeps the row-level plan.
    if (consumed.nonEmpty) return false
    val pushed = inner.pushAggregation(aggregation)
    aggPushed ||= pushed
    pushed
  }
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    if (legacy.nonEmpty) return false
    if (liveDeletes.nonEmpty || livePosDeletes.nonEmpty)
      // complete-only: a partial push would make Spark re-aggregate
      // rows this scan never materializes
      return tryMorCount(aggregation).isDefined
    if ((dataFilters.nonEmpty || hasSumAvg(aggregation)) &&
        tryMorCount(aggregation).isDefined)
      return true
    if (consumed.nonEmpty) return false // see pushAggregation
    inner.supportCompletePushDown(aggregation)
  }
  override def pushVariantExtractions(
      extractions: Array[VariantExtraction]): Array[Boolean] =
    if (legacy.nonEmpty || liveDeletes.nonEmpty || livePosDeletes.nonEmpty)
      extractions.map(_ => false)
    else inner.pushVariantExtractions(extractions)

  private def parts: Seq[String] = fields.map(_.dirName)
  // any hidden-directory transform (bucket/days): the dir id is not a
  // table column, so partition keys must come from file paths
  private def bucketed: Boolean = fields.exists(!_.isInstanceOf[IdentityPart])
  private def spjEnabled: Boolean =
    session.conf.get("spark.sql.sources.v2.bucketing.enabled",
      "false") == "true"

  override def build(): Scan = {
    // delete-aware COUNT(*): the answer was computed at push time from
    // sidecar metadata alone — serve it as a LocalScan (zero files
    // planned, zero tasks scheduled); every wrapper below exists to
    // read files this scan doesn't have
    morCount match {
      case Some((n, schema)) =>
        return new MorCountLocalScan(n, schema, scanName)
      case None => ()
    }
    // a mixed-spec version reads as the UNION of per-spec scans, each
    // fully armed for its own layout (pushdown replayed, static +
    // runtime pruning); single-spec versions keep today's path intact
    val base =
      if (legacy.isEmpty) buildInner()
      else new SpecUnionScan(buildInner() +: legacy.map {
        case (sub, lf) => legacyScan(sub, lf)
      }, scanName, () =>
        MetaStore.dataFiles(versionDir).map { p =>
          try java.nio.file.Files.size(java.nio.file.Paths.get(p))
          catch { case _: java.io.IOException => 0L }
        }.sum)
    // MERGE-ON-READ DELETES (MorDeletes.scala): live delete entries
    // apply as an exact per-task row filter; the wrapper also projects
    // away any column read only for the predicates. Applies to EVERY
    // read of the version — including row-level COW scans, whose
    // rewrite must not resurrect deleted rows into the new files.
    val withDeletes =
      if (liveDeletes.isEmpty && livePosDeletes.isEmpty) base
      else new DeleteApplyingScan(base, scanName, versionDir, liveDeletes,
        livePosDeletes, deleteExtraCols)
    // FILE-LEVEL DATA SKIPPING (FileStats.scala): when compile-time
    // filters were pushed and the table has a footer-stats store, plan
    // only the files the filters can possibly match. Engages on exactly
    // the scans where it is sound: row-level-op scans push no filters
    // (their builder hides pushdown) and a pushed aggregate must see
    // every file, so both pass through unwrapped. Skipping stats are a
    // may-match over-approximation, so composing them with MOR deletes
    // is sound (a skipped file holds no matching rows, deleted or not).
    val tableDir = versionDir.getParent
    val skipping =
      if (dataFilters.nonEmpty && !aggPushed &&
          FileStats.skippingEnabled(session) &&
          (java.nio.file.Files.isDirectory(tableDir.resolve("_filestats")) ||
            java.nio.file.Files.isDirectory(tableDir.resolve("_bloomidx"))))
        new FileSkippingScan(withDeletes, scanName, tableDir, versionDir,
          tableSchema, dataFilters, session)
      else withDeletes
    // `_file`/`_pos` metadata columns, when requested: the wrapper
    // splits tasks per file and projects rows to the requested order —
    // OUTSIDE the delete wrapper so `_pos` is the original ordinal of
    // the SURVIVING rows (the stable row address positional deletes
    // resolve against)
    val withMeta = metaOutput match {
      case Some(out) => new MetadataColumnsScan(skipping, versionDir, out)
      case None => skipping
    }
    // every catalog batch scan leaves wrapped in StreamCapableScan —
    // behavior-preserving for batch (conditional forwarding), and the
    // hook that makes `readStream.table` work on every layout
    new StreamCapableScan(withMeta, session, scanName,
      tableDir, tableSchema, streamOpts)
  }

  /** One legacy `_spec-<k>` subtree's scan: its own ParquetTable with
    * `basePath` at the subtree root (partition inference matches the
    * layout that wrote the files), the captured pushdown replayed,
    * static hidden-transform pruning and runtime partition pruning
    * applied under ITS spec — the same armor the root part wears. */
  private def legacyScan(sub: String, lfields: Seq[PartitionField]): Scan = {
    val subDir = versionDir.resolve(sub)
    val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("basePath", subDir.toString))
    // LEAF files, not the subtree root: the `_spec-<k>` directory name
    // itself would be dropped by Spark's hidden-path listing filter
    val files = MetaStore.dataFiles(subDir)
    val builder = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetTable(s"$scanName-$sub", session, options,
        files, Some(MorDeletes.withRowIndex(tableSchema)),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .newScanBuilder(options)
    builder match {
      case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        requiredSchema.foreach(fb.pruneColumns)
        // == dataFilters here (consumption is gated off under legacy),
        // but replay the inner set on principle
        if (innerFilters.nonEmpty) fb.pushFilters(innerFilters)
      case _ => ()
    }
    val ps = builder.build()
    val (inner2, staticKeep) =
      if (lfields.exists(!_.isInstanceOf[IdentityPart]))
        staticallyPrunedFor(ps, subDir, lfields, s"$scanName-$sub")
      else (ps, None)
    if (lfields.isEmpty) inner2 // unpartitioned legacy: nothing to prune
    else new RuntimePrunedParquetScan(inner2, session, s"$scanName-$sub",
      subDir, tableSchema, lfields, requiredSchema, dataFilters, staticKeep)
  }

  private def buildInner(): Scan = inner.build() match {
    // unpartitioned table: the parquet scan as-is (nothing to key,
    // prune, or group)
    case ps: ParquetScan if parts.isEmpty => ps
    // all-identity spec with every partition column still in the scan:
    // partition keys read straight off PartitionedFile.partitionValues
    case ps: ParquetScan
        if !bucketed && ps.readPartitionSchema.fieldNames.toSeq == parts =>
      if (spjEnabled) new KeyGroupedParquetScan(ps, ps.readPartitionSchema)
      // a pushed aggregate changes the scan's output to the aggregate
      // rows — the DPP rebuild cannot replay that, so serve it as-is
      else if (aggPushed) ps
      else new RuntimePrunedParquetScan(ps, session, scanName, versionDir,
        tableSchema, fields, requiredSchema, innerFilters)
    // a hidden-transform spec (`_gb_`/`_gd_` dirs): the dir id is never
    // a scan column, so keys come from the file PATHS instead. First
    // STATIC pruning — compile-time filters on the source key hash /
    // floor to the directories they could match, so non-matching dirs
    // are never listed (Spark's native partition pushdown, recovered
    // for hidden layouts) — then SPJ when the session opted into v2
    // bucketing and every source key survives in the scan output (the
    // reported transform must resolve against it), runtime pruning
    // otherwise
    case ps: ParquetScan if bucketed && !aggPushed =>
      val (inner2, staticKeep) = staticallyPrunedFor(ps, versionDir, fields,
        scanName)
      if (spjEnabled && fields.forall(f => ps.readSchema().fieldNames
          .exists(_.equalsIgnoreCase(f.srcCol))))
        new HiddenKeyGroupedParquetScan(inner2, fields, tableSchema)
      else new RuntimePrunedParquetScan(inner2, session, scanName,
        versionDir, tableSchema, fields, requiredSchema, innerFilters,
        staticKeep)
    case other => other
  }

  /** Rebuild `ps` over only the partition directories the captured
    * compile-time filters can match — identity: the scan itself when
    * nothing prunes, or the replayed-pushdown rebuild over the kept
    * dirs (accepted only on byte-identical read schema, like the DPP
    * rebuild). Returns the scan plus the kept set for the runtime
    * pruner to intersect. */
  private def staticallyPrunedFor(ps: Scan, dir: java.nio.file.Path,
      flds: Seq[PartitionField], name: String): (Scan, Option[Set[String]]) = {
    val preds = StaticHiddenPruning.dirPredicates(dataFilters, flds,
      tableSchema)
    if (preds.isEmpty) return (ps, None)
    val all = PartitionRuntimeFilters.dataFilePartitionsOf(dir)
    val kept = all.filter(StaticHiddenPruning.keepDir(_, preds))
    if (kept.size == all.size) return (ps, None)
    val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("basePath", dir.toString))
    val builder = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetTable(s"$name-static-pruned", session, options,
        kept.toSeq.sorted.map(p => dir.resolve(p).toString),
        Some(MorDeletes.withRowIndex(tableSchema)),
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
      .newScanBuilder(options)
    builder match {
      case fb: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder =>
        requiredSchema.foreach(fb.pruneColumns)
        // innerFilters, not dataFilters: the replay must mirror what
        // the original inner builder received (consumed conjuncts
        // withheld — see pushFilters)
        if (innerFilters.nonEmpty) fb.pushFilters(innerFilters)
      case _ => ()
    }
    val pruned = builder.build()
    if (pruned.readSchema() == ps.readSchema()) (pruned, Some(kept))
    else (ps, None) // schema drifted under replayed pushdown: keep full
  }
}

private[sources] final class KeyGroupedParquetScan(
    inner: Scan, partSchema: StructType) extends Scan
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // SPJ composes with DYNAMIC PARTITION PRUNING: the keyed task list is
  // already grouped by partition value, so a runtime filter just drops
  // the non-matching keys — no delegate rebuild — and Spark's
  // BatchScanExec regroups the surviving HasPartitionKey tasks
  // (value-set changes are the pushPartValues path it already handles
  // for mismatched sides). Conservative like every runtime filter here:
  // unparseable predicates and null keys keep their tasks.
  @volatile private var keepSets: Map[String, Set[Any]] = Map.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partSchema.fieldNames.map(f => Expressions.column(f)
      .asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference])

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val parsed = PartitionRuntimeFilters.parse(predicates)
    if (parsed.nonEmpty) keepSets = parsed
  }

  private def passes(key: InternalRow): Boolean =
    keepSets.forall { case (col, wanted) =>
      partSchema.fieldNames.indexWhere(_.equalsIgnoreCase(col)) match {
        case -1 => true // not a partition column at this level: keep
        case i =>
          val v = key.get(i, partSchema.fields(i).dataType)
          v == null || wanted.exists(w => java.util.Objects.equals(w, v))
      }
    }

  // forward the parquet scan's size/row estimates — hiding them would
  // make the relation fall back to the (huge) default size and the
  // planner would never broadcast this table
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    s"graft-key-grouped(${partSchema.fieldNames.mkString(",")}) " +
      inner.description()

  // one InputPartition per (inner task, partition value): flatMapping
  // the inner packing instead of one-task-per-key keeps intra-partition
  // parallelism for plain scans; Spark groups same-key tasks itself
  // when a storage-partitioned join needs them co-located.
  //
  // PartitionedFile.partitionValues rows are per-task instances, so
  // grouping and counting go through a value projection (Seq equality
  // over the unwrapped column values); Spark's own task grouping wraps
  // the reported keys in InternalRowComparableWrapper and needs no
  // instance sharing.
  private def keyValues(r: InternalRow): Seq[Any] =
    partSchema.fields.indices.map(i => r.get(i, partSchema.fields(i).dataType))

  private lazy val keyed: Array[InputPartition] = {
    val fps = inner.toBatch.planInputPartitions()
    var idx = -1
    fps.flatMap {
      case fp: FilePartition =>
        fp.files.groupBy(f => keyValues(f.partitionValues)).toSeq
          .sortBy(_._1.mkString(" ")).map { case (_, files) =>
            idx += 1
            new KeyedFilePartition(idx, files,
              files.head.partitionValues.copy()): InputPartition
          }
      case other => // not a file partition: cannot key, serve as-is
        idx += 1; Seq(other)
    }
  }

  private lazy val nKeys: Int =
    keyed.collect { case k: KeyedFilePartition =>
      keyValues(k.partitionKey())
    }.distinct.length

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      partSchema.fieldNames.map(Expressions.identity(_): V2Expression),
      math.max(nKeys, 1))

  override def toBatch: Batch = new Batch {
    private val innerBatch = inner.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      if (keepSets.isEmpty) keyed
      else keyed.filter {
        case k: KeyedFilePartition => passes(k.partitionKey())
        case _ => true // unkeyed partition: cannot prove, keep
      }
    override def createReaderFactory(): PartitionReaderFactory =
      innerBatch.createReaderFactory()
  }
}

/** STORAGE-PARTITIONED JOINS over HIDDEN bucket layouts — the
  * high-cardinality-key half of SPJ: a table partitioned
  * `bucket(n, key)` stores rows under `_gb_key=<pmod(hash(key), n)>`
  * directories that are NOT table columns, so (unlike the identity scan
  * above) partition keys cannot be read off
  * `PartitionedFile.partitionValues` — they are parsed from the file
  * PATHS, the same place Spark's own partition inference reads them.
  * The scan reports `KeyGroupedPartitioning(bucket(n, key), …)`;
  * Spark resolves `bucket` through the catalog's
  * [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]
  * ([[GraftBucketFunction]]) and two tables bucketed (n, key) the same
  * way join with ZERO exchanges — at 100 TB, the fact-to-fact join on
  * a billion-value key that identity partitioning could never layout.
  *
  * Mixed specs (identity + bucket fields) key every field from the
  * path: identity values parse with the same TRY-cast as the runtime
  * pruner, buckets as ints. Any unkeyable file (non-file partition,
  * missing directory level) degrades the WHOLE scan to
  * `UnknownPartitioning` — reporting a key grouping that not every
  * task honors would corrupt the join, so it is all-or-nothing.
  *
  * Composes with runtime filtering exactly like the identity scan: a
  * dynamic filter arrives on the SOURCE key, values hash to bucket ids
  * ([[GraftBucketFunction.bucketOf]] — the definition that routed the
  * writes), and non-matching keyed tasks drop before execution. */
private[sources] final class HiddenKeyGroupedParquetScan(
    inner: Scan, fields: Seq[PartitionField], tableSchema: StructType)
    extends Scan with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, GenericInternalRow, Literal}
  import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  @volatile private var keepSets: Map[String, Set[Any]] = Map.empty

  /** Internal type of each reported key position: the source column's
    * type for identity AND truncate fields (a truncated id keeps its
    * source type), INT for bucket ids / time-unit ordinals. */
  private val keyTypes: Seq[DataType] = fields.map {
    case IdentityPart(c) =>
      tableSchema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType).getOrElse(StringType)
    case t: TruncatePart =>
      tableSchema.fields.find(_.name.equalsIgnoreCase(t.col))
        .map(_.dataType).getOrElse(StringType)
    case _ => IntegerType // bucket id / time-unit ordinal
  }

  private def srcType(f: PartitionField): DataType =
    tableSchema.fields.find(_.name.equalsIgnoreCase(f.srcCol))
      .map(_.dataType).getOrElse(StringType)

  /** `name -> rawValue` segments of a file's directory path (URL layer
    * decoded by URI, hive escaping decoded per segment — the same two
    * layers Spark's partition inference strips). */
  private def pathSegments(urlEncodedPath: String): Map[String, String] =
    try {
      new java.net.URI(urlEncodedPath).getPath.split('/').iterator
        .flatMap { seg =>
          seg.split("=", 2) match {
            case Array(c, v) =>
              Some(ExternalCatalogUtils.unescapePathName(c) ->
                ExternalCatalogUtils.unescapePathName(v))
            case _ => None
          }
        }.toMap
    } catch { case _: java.net.URISyntaxException => Map.empty }

  /** Key values of one file, in field order — None if any directory
    * level is missing (the file cannot be keyed). */
  private def fileKey(f: PartitionedFile): Option[Seq[Any]] = {
    val segs = pathSegments(f.urlEncodedPath)
    val vals: Seq[Option[Any]] = fields.zip(keyTypes).map {
      case (b: BucketPart, _) => segs.get(b.dirName).flatMap(_.toIntOption)
      case (t: TruncatePart, dt) =>
        // the truncated id has the SOURCE type — parse with the same
        // TRY-cast identity values use (null value → hive default dir)
        segs.get(t.dirName).map {
          case "__HIVE_DEFAULT_PARTITION__" => null
          case raw => Cast(Literal(UTF8String.fromString(raw), StringType),
            dt, Some("UTC"), EvalMode.TRY).eval(null)
        }
      case (p: TimeTransformPart, _) =>
        // a null timestamp lands in the hive default dir: its key is a
        // NULL ordinal (kept by every runtime filter, groupable by SPJ)
        segs.get(p.dirName).flatMap {
          case "__HIVE_DEFAULT_PARTITION__" => Some(null)
          case raw => raw.toIntOption
        }
      case (i: IdentityPart, dt) =>
        segs.get(i.dirName).map {
          case "__HIVE_DEFAULT_PARTITION__" => null
          case raw => Cast(Literal(UTF8String.fromString(raw), StringType),
            dt, Some("UTC"), EvalMode.TRY).eval(null)
        }
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  /** One keyed task per (inner task, key): None if any partition is not
    * a keyable file partition — then the scan serves the inner plan
    * unchanged under UnknownPartitioning (all-or-nothing; see class
    * doc). */
  private lazy val keyedOpt: Option[Array[InputPartition]] = {
    val fps = inner.toBatch.planInputPartitions()
    if (!fps.forall(_.isInstanceOf[FilePartition])) None
    else {
      var idx = -1
      val grouped = fps.map { case fp: FilePartition =>
        val byKey = fp.files.map(f => fileKey(f).map(_ -> f))
        if (byKey.exists(_.isEmpty)) None
        else Some(byKey.flatten.groupBy(_._1).toSeq
          .sortBy(_._1.mkString(" ")))
      }
      if (grouped.exists(_.isEmpty)) None
      else Some(grouped.flatten.flatMap(_.map { case (key, files) =>
        idx += 1
        new KeyedFilePartition(idx, files.map(_._2),
          new GenericInternalRow(key.toArray)): InputPartition
      }))
    }
  }

  private def passes(key: InternalRow): Boolean =
    keepSets.forall { case (colName, wanted) =>
      fields.indexWhere(_.srcCol.equalsIgnoreCase(colName)) match {
        case -1 => true // not a partition source column: keep
        case i => fields(i) match {
          case _ if key.isNullAt(i) => true // null key group: keep
          case b: BucketPart =>
            val k = key.getInt(i)
            wanted.exists(v => GraftBucketFunction.bucketOf(v, srcType(b),
              b.numBuckets) == k)
          case t: TruncatePart =>
            val k = key.get(i, keyTypes(i))
            wanted.exists(v => v != null && java.util.Objects.equals(
              GraftTruncateFunction.truncOf(v, srcType(t), t.width), k))
          case p: TimeTransformPart =>
            val k = key.getInt(i)
            wanted.exists(v => v != null && p.idOf(v, srcType(p)) == k)
          case _: IdentityPart =>
            val v = key.get(i, keyTypes(i))
            wanted.exists(w => java.util.Objects.equals(w, v))
        }
      }
    }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    fields.map(f => Expressions.column(f.srcCol)
      .asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference]).toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val parsed = PartitionRuntimeFilters.parse(predicates)
    if (parsed.nonEmpty) keepSets = parsed
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    s"graft-bucket-key-grouped(${fields.map(PartitionField.show)
      .mkString(",")}) " + inner.description()

  override def outputPartitioning(): Partitioning = keyedOpt match {
    case Some(keyed) =>
      val nKeys = keyed.collect { case k: KeyedFilePartition =>
        keyTypes.indices.map(i => k.partitionKey().get(i, keyTypes(i)))
      }.distinct.length
      new KeyGroupedPartitioning(
        fields.map(PartitionField.v2Transform(_): V2Expression).toArray,
        math.max(nKeys, 1))
    case None =>
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def toBatch: Batch = new Batch {
    private val innerBatch = inner.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      keyedOpt match {
        case Some(keyed) =>
          if (keepSets.isEmpty) keyed
          else keyed.filter {
            case k: KeyedFilePartition => passes(k.partitionKey())
            case _ => true
          }
        case None => innerBatch.planInputPartitions()
      }
    override def createReaderFactory(): PartitionReaderFactory =
      innerBatch.createReaderFactory()
  }
}

/** The completely-pushed COUNT(*) answer over a table with live
  * merge-on-read delete entries: one row, computed at PLANNING time
  * from the footer-stats store's per-file row counts minus the
  * sidecars' exact removed-row counts (positional ordinals / the
  * commit funnel's persisted matched counts — see
  * MorDeletes.DeleteEntry.matched for why the sum is exact). A
  * [[org.apache.spark.sql.connector.read.LocalScan]] so the physical
  * plan is a LocalTableScan — zero data files planned, zero tasks
  * scheduled; at 100 TB the count of a CDC-upserted table costs a
  * sidecar read, not a table scan. */
private[sources] final class MorCountLocalScan(
    values: Array[Any], schemaOut: StructType, scanName: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schemaOut
  // one value per pushed aggregate term, in the aggregation's own
  // order (COUNT(*)s and survival-proven MIN/MAX values alike)
  override def rows(): Array[InternalRow] = Array(
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
  override def description(): String =
    s"graft-mor-count($scanName) PushedAggregation: " +
      schemaOut.fieldNames.mkString("[", ", ", "]")
}
