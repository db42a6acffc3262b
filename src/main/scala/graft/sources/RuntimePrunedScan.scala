package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, Expression => CExpression}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, Scan, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The partition-directory arithmetic shared by every runtime-filtered
  * scan on the atomic catalog — the COW group-filtering scan and the
  * normal-read dynamic-partition-pruning scan both parse the pushed V2
  * predicates into per-column IN sets and test hive-layout directory
  * names against them. Conservative by construction: any predicate
  * shape that cannot be PROVEN prunable — and the null partition —
  * keeps the directory, which only widens the read, never corrupts it. */
private[sources] object PartitionRuntimeFilters {

  /** One IN/= per partition column, values in catalyst internal form
    * (what `DataSourceV2Strategy.translateRuntimeFilterV2` builds from
    * a dynamic-pruning subquery's result); two predicates on one column
    * intersect (conjunctive). */
  def parse(predicates: Array[V2Predicate]): Map[String, Set[Any]] =
    predicates.flatMap { p =>
      p.name() match {
        case "IN" | "=" if p.children().nonEmpty =>
          p.children()(0) match {
            case ref: NamedReference =>
              val tail = p.children().drop(1)
              val vals = tail.collect { case l: V2Literal[_] => l.value().asInstanceOf[Any] }
              if (vals.length == tail.length)
                Some(ref.fieldNames().mkString(".") -> vals.toSet)
              else None // a non-literal child: cannot prove, skip
            case _ => None
          }
        case _ => None // unknown shape: skip (conservative)
      }
    }.groupBy(_._1).map { case (c, vs) =>
      c -> vs.map(_._2).reduce(_ intersect _)
    }

  /** Does `relDir` ("ch=web/d=2020-01-01", "_gb_k=3") survive the
    * per-SOURCE-column IN sets? Identity fields compare the directory
    * value; bucket fields hash each wanted KEY value to its bucket id
    * ([[GraftBucketFunction.bucketOf]] — the same definition that
    * routed the writes) and compare against the hidden `_gb_col`
    * directory id, so a runtime filter on the high-cardinality source
    * key prunes bucket directories it could never name directly.
    * Missing column, null partition, or a value the cast cannot
    * parse → keep (conservative). */
  def keepPartitionDir(relDir: String, bySet: Map[String, Set[Any]],
                       tableSchema: StructType,
                       fields: Seq[PartitionField] = Nil): Boolean = {
    if (relDir.isEmpty) return true // unpartitioned files at root
    val segs = relDir.split('/').flatMap { seg =>
      seg.split("=", 2) match {
        case Array(c, v) =>
          Some(ExternalCatalogUtils.unescapePathName(c) ->
            ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }
    }.toMap
    bySet.forall { case (col, wanted) =>
      fields.find(f => f.srcCol.equalsIgnoreCase(col) &&
          !f.isInstanceOf[IdentityPart]) match {
        case Some(h) => // hidden transform: map key values to dir ids
          segs.get(h.dirName) match {
            case None => true // layout level absent: keep
            case Some(raw) =>
              val dt = tableSchema.fields.find(_.name.equalsIgnoreCase(h.srcCol))
                .map(_.dataType).getOrElse(StringType)
              h match {
                case b: BucketPart => raw.toIntOption.forall(k =>
                  wanted.exists(v =>
                    GraftBucketFunction.bucketOf(v, dt, b.numBuckets) == k))
                case t: TimeTransformPart => raw.toIntOption.forall(k =>
                  wanted.exists(v => v != null && t.idOf(v, dt) == k))
                case tr: TruncatePart if raw != "__HIVE_DEFAULT_PARTITION__" =>
                  // the truncated id keeps the SOURCE type: TRY-cast the
                  // raw dir value, compare against each key's truncation
                  val k = Cast(Literal(UTF8String.fromString(raw), StringType),
                    dt, Some("UTC"), EvalMode.TRY).eval(null)
                  k == null || wanted.exists(v =>
                    v != null && java.util.Objects.equals(
                      GraftTruncateFunction.truncOf(v, dt, tr.width), k))
                case _ => true // null dir / unknown field: keep
              }
          }
        case _ => // identity field (dirName == srcCol) or unknown column
          segs.get(col) match {
            case None => true // column not in this layout level: keep
            case Some("__HIVE_DEFAULT_PARTITION__") => true // null: keep
            case Some(raw) =>
              val dt = tableSchema.fields.find(_.name == col)
                .map(_.dataType).getOrElse(StringType)
              val v = Cast(Literal(UTF8String.fromString(raw), StringType),
                dt, Some("UTC"), EvalMode.TRY).eval(null)
              v == null || wanted.exists(w => java.util.Objects.equals(w, v))
          }
      }
    }
  }

  /** Is `partDir` part of the hive layout rooted AT the walked
    * directory — i.e. not inside a metadata or legacy-spec subtree
    * (`_spec-<k>` after metadata-only spec evolution, `_staging`
    * during a V2 write)? The rule mirrors Spark's own hidden-path
    * listing filter exactly: a segment starting with '_' or '.' that
    * carries no '=' is not a partition level (hidden-transform dirs
    * like `_gb_k=3` contain '=' and stay). */
  def isLayoutDir(partDir: String): Boolean =
    partDir.isEmpty || partDir.split('/').forall { seg =>
      !(seg.startsWith("_") || seg.startsWith(".")) || seg.contains("=")
    }

  /** Is `rel` (a version-relative FILE path) a data file's path — i.e.
    * every directory segment is either a layout level (`k=v`, hidden
    * `_gb_`/`_gd_` dirs included via their `=`) or a legacy-spec
    * subtree root (`_spec-<k>`, the ONE underscore subtree that holds
    * data)? Entries of metadata subtrees (`_deletes/`, `_staging/`)
    * are NOT data, whatever their own file names look like. */
  def isDataRel(rel: String): Boolean = {
    val segs = rel.split('/')
    segs.iterator.take(segs.length - 1).forall { seg =>
      !(seg.startsWith("_") || seg.startsWith(".")) ||
        seg.contains("=") || seg.startsWith("_spec-")
    }
  }

  /** The distinct partition directories holding data files under a
    * version dir ("" for unpartitioned files at the root) — a plain
    * filesystem walk, shared statically so scans built outside the
    * catalog instance can prune too. Files inside non-layout subtrees
    * (legacy specs, staging) are NOT this layout's partitions and are
    * excluded, mirroring what a scan rooted here would list. */
  def dataFilePartitionsOf(v: JPath): Set[String] =
    MetaStore.walkData(v)(_.map(p =>
      Option(v.relativize(p).getParent).map(_.toString).getOrElse(""))
      .filter(isLayoutDir).toSet)
}

/** COMPILE-TIME directory pruning for HIDDEN partition transforms —
  * what Spark's native partition-filter pushdown does for identity
  * columns, recovered for layouts whose directory id is NOT a table
  * column: `WHERE key = 123` on a `bucket(n, key)` table hashes the
  * literal to its one bucket directory; `WHERE ts >= lo AND ts < hi`
  * on a `days(ts)` table becomes an epoch-day range. At 100 TB this is
  * the difference between opening every file's footer (row-group
  * stats pruning still reads footers) and never LISTING the
  * non-matching directories at all.
  *
  * Conservative by construction: only conjuncts of shape
  * `attr = lit` / `attr IN (lits)` (bucket + every time transform) and
  * `attr >/>=/</<= lit` (time transforms — the unit ordinal is
  * monotone in the value; hash buckets have no order) over a BARE
  * attribute derive a directory predicate; anything else contributes
  * nothing. A derived value predicate can never match a null row, so
  * the hive default directory is prunable exactly when a predicate
  * exists. */
private[sources] object StaticHiddenPruning {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal => CLiteral}
  import org.apache.spark.sql.types.DataType

  private def conjuncts(e: CExpression): Seq[CExpression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Per-hidden-field RAW-directory-value predicates (keyed by
    * dirName) — the empty map when no filter constrains any hidden
    * field. Each predicate parses the raw hive value itself (an int
    * ordinal for bucket/time fields, a source-typed truncated id for
    * truncate fields) and keeps unparseable values conservatively. */
  def dirPredicates(filters: Seq[CExpression], fields: Seq[PartitionField],
                    tableSchema: StructType): Map[String, String => Boolean] = {
    val flat = filters.flatMap(conjuncts)
    fields.collect {
      case f if !f.isInstanceOf[IdentityPart] =>
        val dt: DataType = tableSchema.fields
          .find(_.name.equalsIgnoreCase(f.srcCol))
          .map(_.dataType).getOrElse(StringType)
        def isCol(e: CExpression): Boolean = e match {
          case a: AttributeReference => a.name.equalsIgnoreCase(f.srcCol)
          case _ => false
        }
        // the dir id a VALUE maps to: Int ordinal for bucket/time
        // fields, the source-typed truncation for truncate fields;
        // None = contributes no constraint (null literal)
        def idOf(v: Any): Option[Any] = f match {
          case b: BucketPart if v != null =>
            Some(GraftBucketFunction.bucketOf(v, dt, b.numBuckets))
          case t: TimeTransformPart if v != null => Some(t.idOf(v, dt))
          case tr: TruncatePart if v != null =>
            Some(GraftTruncateFunction.truncOf(v, dt, tr.width))
          case _ => None
        }
        // ranges are meaningful only where the dir id is MONOTONE in
        // the value — the time transforms (each unit ordinal floors)
        // and truncate (prefix/floor-multiple are order-preserving) —
        // never hash buckets. Both strict and non-strict bounds widen
        // to the id.
        val monotone = f match {
          case _: TimeTransformPart | _: TruncatePart => true
          case _ => false
        }
        @SuppressWarnings(Array("unchecked"))
        def cmp(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
        // is `v` exactly the smallest value mapping to its id? Then a
        // STRICT `< v` excludes the id's whole directory — the
        // canonical retention shape (`ts < '2024-02-01'` on a
        // days/months table, `k < 20` on truncate(10, k)).
        def unitStart(v: Any): Boolean = f match {
          case t: TimeTransformPart => t.fn.isUnitStart(v, dt)
          case tr: TruncatePart => java.util.Objects.equals(
            GraftTruncateFunction.truncOf(v, dt, tr.width), v)
          case _ => false
        }
        var allowed: Option[Set[Any]] = None
        var lo: Option[Any] = None
        var hi: Option[Any] = None
        var hiExcl = false // hi bound excludes its own id?
        def constrain(vals: Seq[Any]): Unit = {
          val ids = vals.map(idOf)
          if (ids.forall(_.isDefined)) {
            val s = ids.flatten.toSet
            allowed = Some(allowed.fold(s)(_ intersect s))
          }
        }
        def raiseLo(v: Any): Unit = idOf(v).foreach(d =>
          lo = Some(lo.fold(d)(cur => if (cmp(d, cur) > 0) d else cur)))
        def lowerHi(v: Any, excl: Boolean): Unit = idOf(v).foreach { d =>
          hi match {
            case Some(cur) =>
              val c = cmp(d, cur)
              if (c < 0) { hi = Some(d); hiExcl = excl }
              else if (c == 0) hiExcl ||= excl
            case None => hi = Some(d); hiExcl = excl
          }
        }
        flat.foreach {
          case EqualTo(a, CLiteral(v, _)) if isCol(a) => constrain(Seq(v))
          case EqualTo(CLiteral(v, _), a) if isCol(a) => constrain(Seq(v))
          case EqualNullSafe(a, CLiteral(v, _)) if isCol(a) && v != null =>
            constrain(Seq(v))
          case In(a, vs) if isCol(a) && vs.forall(_.isInstanceOf[CLiteral]) =>
            constrain(vs.map(_.asInstanceOf[CLiteral].value))
          case InSet(a, vs) if isCol(a) => constrain(vs.toSeq)
          case GreaterThan(a, CLiteral(v, _)) if isCol(a) && monotone =>
            raiseLo(v)
          case GreaterThanOrEqual(a, CLiteral(v, _)) if isCol(a) && monotone =>
            raiseLo(v)
          case LessThan(a, CLiteral(v, _)) if isCol(a) && monotone =>
            lowerHi(v, v != null && unitStart(v))
          case LessThanOrEqual(a, CLiteral(v, _)) if isCol(a) && monotone =>
            lowerHi(v, excl = false)
          case GreaterThan(CLiteral(v, _), a) // lit > a  ⇔  a < lit
              if isCol(a) && monotone =>
            lowerHi(v, v != null && unitStart(v))
          case GreaterThanOrEqual(CLiteral(v, _), a)
              if isCol(a) && monotone => lowerHi(v, excl = false)
          case LessThan(CLiteral(v, _), a) // lit < a  ⇔  a > lit
              if isCol(a) && monotone => raiseLo(v)
          case LessThanOrEqual(CLiteral(v, _), a)
              if isCol(a) && monotone => raiseLo(v)
          case _ => ()
        }
        if (allowed.isEmpty && lo.isEmpty && hi.isEmpty) None
        else {
          // parse a raw hive value to this field's id form; None keeps
          def parse(raw: String): Option[Any] = f match {
            case _: TruncatePart =>
              Option(Cast(Literal(UTF8String.fromString(raw), StringType),
                dt, Some("UTC"), EvalMode.TRY).eval(null))
            case _ => raw.toIntOption
          }
          val pred: String => Boolean = raw => parse(raw).forall(k =>
            allowed.forall(_.contains(k)) && lo.forall(cmp(k, _) >= 0) &&
              hi.forall { h =>
                val c = cmp(k, h); c < 0 || (c == 0 && !hiExcl)
              })
          Some(f.dirName -> pred)
        }
    }.flatten.toMap
  }

  /** Does a partition directory survive the derived predicates? The
    * hive default (null) directory cannot satisfy any VALUE predicate,
    * so it drops whenever one exists for its level; an unparseable id
    * keeps (conservative). */
  def keepDir(relDir: String, preds: Map[String, String => Boolean]): Boolean = {
    if (relDir.isEmpty) return true
    val segs = relDir.split('/').flatMap { seg =>
      seg.split("=", 2) match {
        case Array(c, v) =>
          Some(ExternalCatalogUtils.unescapePathName(c) ->
            ExternalCatalogUtils.unescapePathName(v))
        case _ => None
      }
    }.toMap
    preds.forall { case (dirName, p) =>
      segs.get(dirName) match {
        case None => true
        case Some("__HIVE_DEFAULT_PARTITION__") => false
        case Some(raw) => p(raw)
      }
    }
  }
}

/** DYNAMIC PARTITION PRUNING for normal reads of partitioned catalog
  * tables — the star-schema join path: `fact JOIN dim ON fact.k = dim.k
  * WHERE dim.x = ...` where `k` is (or determines) fact's partition
  * column. Spark's `PartitionPruning` rule sees a V2 scan advertising
  * its partition columns through [[SupportsRuntimeV2Filtering]], plants
  * a dynamic IN-subquery over the dim side's join keys, and at
  * execution this scan receives the matching key values and REBUILDS
  * its delegate over only the partition directories that survive — the
  * 100 TB behavior a lakehouse table gets from Iceberg: a selective dim
  * filter prunes fact partitions at runtime, no manual predicate.
  *
  * The rebuilt delegate re-applies the ORIGINAL scan's column pruning
  * and pushed data filters (captured by
  * [[KeyGroupedParquetScanBuilder]] during pushdown), then is accepted
  * only if its read schema is byte-identical to the original's — any
  * mismatch keeps the unpruned scan (correct, just not pruned).
  * Receiving no provable predicate keeps the full scan the same way. */
private[sources] final class RuntimePrunedParquetScan(
    inner: Scan, session: SparkSession, scanName: String,
    versionDir: JPath, tableSchema: StructType, fields: Seq[PartitionField],
    requiredSchema: Option[StructType], dataFilters: Seq[CExpression],
    staticKeep: Option[Set[String]] = None)
    extends Scan with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  @volatile private var delegate = inner

  // forward the parquet scan's size/row estimates — hiding them would
  // make the relation fall back to the (huge) default size and the
  // planner would never broadcast this table
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }

  override def readSchema(): StructType = inner.readSchema()
  // keep the inner FileScan's explain metadata (PartitionFilters /
  // DataFilters / ReadSchema) visible — plan-quality asserts and humans
  // both read pushdown off the explain string
  override def description(): String =
    s"graft-runtime-pruned $scanName ${inner.description()}"
  override def toBatch: Batch = delegate.toBatch

  // SOURCE columns: identity fields verbatim; for bucket fields the
  // high-cardinality key itself — the hidden `_gb_col` is not a scan
  // output column, so the dynamic filter arrives on the key and the
  // keep test hashes it to its bucket directory. Only columns the scan
  // still OUTPUTS are reported: Spark resolves these against the scan
  // output, and a source column pruned away (a composite-spec read
  // that needs one partition key but not the other) would fail
  // resolution instead of just not pruning.
  override def filterAttributes(): Array[NamedReference] =
    fields.filter(f => inner.readSchema().fieldNames
        .exists(_.equalsIgnoreCase(f.srcCol)))
      .map(f => Expressions.column(f.srcCol)
        .asInstanceOf[NamedReference]).toArray

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val parsed = PartitionRuntimeFilters.parse(predicates)
    if (parsed.nonEmpty) {
      // runtime pruning INTERSECTS static hidden-transform pruning: a
      // directory already excluded at build time stays excluded
      val kept = staticKeep
        .getOrElse(PartitionRuntimeFilters.dataFilePartitionsOf(versionDir))
        .filter(PartitionRuntimeFilters.keepPartitionDir(
          _, parsed, tableSchema, fields))
      val options = new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", versionDir.toString))
      val builder = ParquetTable(s"$scanName-dpp", session, options,
        kept.toSeq.sorted.map(p => versionDir.resolve(p).toString),
        Some(MorDeletes.withRowIndex(tableSchema)), classOf[ParquetFileFormat])
        .newScanBuilder(options)
      builder match {
        case fb: FileScanBuilder =>
          // replay the original pushdown so the pruned delegate reads
          // exactly the columns and row groups the original would have
          requiredSchema.foreach(fb.pruneColumns)
          if (dataFilters.nonEmpty) fb.pushFilters(dataFilters)
        case _ => ()
      }
      val pruned = builder.build()
      if (pruned.readSchema() == inner.readSchema()) delegate = pruned
      // else: schema drifted under replayed pushdown — keep full scan
    }
  }
}
