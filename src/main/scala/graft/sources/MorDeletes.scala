package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.util.{Base64, UUID}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, EqualTo, Expression => CExpression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNull, IsNotNull, LessThan, LessThanOrEqual, Literal => CLiteral, Not, Or => COr, Predicate => CPredicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Or => V2Or, Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ DELETE for the atomic catalog — Iceberg v2's
  * delete-file posture, re-expressed for this catalog's commit model:
  * with `spark.sql.catalog.graft.write.deleteMode = merge-on-read`, a
  * `DELETE FROM t WHERE p` whose condition translates to V2 predicates
  * commits METADATA ONLY — every data file hard-links forward and the
  * predicate lands as a delete entry under the new version's
  * `_deletes/` sidecar, scoped to exactly the files present at delete
  * time (rows appended later that happen to match `p` are untouched —
  * snapshot semantics, not a standing filter). At 100 TB this turns a
  * partition-rewrite COW delete into an O(metadata) commit; the read
  * side pays one codegen'd row predicate until `CALL
  * system.rewrite_deletes` (or compact / rewrite_layout) materializes
  * the deletes back into clean files. A condition that does NOT
  * translate falls back to the COW rewrite automatically (Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` consults `canDeleteWhere`).
  *
  * Application is EXACT, never filter-pushdown-approximate: the scan
  * splits planned file groups by applicable-delete signature and a
  * per-task catalyst predicate drops matching rows after read (parquet
  * pushdown may under-filter by contract, so the delete predicate can
  * never ride as a pushed filter alone). Columns the delete predicate
  * needs are added to the scan's required schema and projected away
  * after the filter. Internal maintenance reads
  * (compact/rewrite_layout/analyze/CDC) go through [[applyToVersion]],
  * which reads per-signature file cohorts explicitly — the same exact
  * split, DataFrame-side.
  *
  * Entry shape under `_deletes/`: `<id>.pred` (the serialized predicate
  * AST) + `<id>.files` (version-relative paths of the files it applies
  * to — an Iceberg manifest's role). Entries ride every hard-link
  * commit via [[carry]]; spec evolution rebases the relocated paths;
  * rewriting commits (compact, rewrite_layout, whole-table COW) start
  * clean because their files are new. */
private[sources] object MorDeletes {

  private val DIR = "_deletes"

  def morEnabled(s: SparkSession): Boolean =
    s.conf.getOption("spark.sql.catalog.graft.write.deleteMode")
      .contains("merge-on-read")

  // ---- predicate AST ----

  sealed trait Node extends Serializable
  final case class Leaf(op: String, col: String,
                        values: Seq[String]) extends Node
  /** Composite-key membership: `(c1, …, cN) IN ((v…), …)` — the
    * equality-delete entry a multi-column PRIMARY KEY's MoR
    * MERGE/UPDATE/DELETE writes (Iceberg's multi-field identifier
    * posture). `rows` holds encoded per-column values, all tuples the
    * same arity as `cols`. */
  final case class TupleLeaf(cols: Seq[String],
                             rows: Seq[Seq[String]]) extends Node
  final case class AndN(l: Node, r: Node) extends Node
  final case class OrN(l: Node, r: Node) extends Node

  /** Does the node contain any NULL-MATCHING leaf (`isnull`, under any
    * And/Or nesting)? Every OTHER op is a value predicate SQL
    * three-valued logic evaluates non-true on NULL (notnull included —
    * it rejects nulls outright), so a node without one provably
    * matches only rows whose referenced columns are all non-null —
    * the local proof COUNT(col)'s matched-count subtraction needs
    * (KeyGroupedScan.morCountCol), instead of the cross-module
    * invariant "only the null-refusing MERGE funnel persists counts". */
  def matchesNulls(n: Node): Boolean = n match {
    case Leaf(op, _, _) => op == "isnull"
    case _: TupleLeaf => false
    case AndN(l, r) => matchesNulls(l) || matchesNulls(r)
    case OrN(l, r) => matchesNulls(l) || matchesNulls(r)
  }

  /** Columns a node references (lower-cased). */
  def colsOf(n: Node): Set[String] = n match {
    case Leaf(_, c, _) => Set(c.toLowerCase)
    case TupleLeaf(cs, _) => cs.map(_.toLowerCase).toSet
    case AndN(l, r) => colsOf(l) ++ colsOf(r)
    case OrN(l, r) => colsOf(l) ++ colsOf(r)
  }

  // serialized as pre-order lines: "A" / "O" introduce two children,
  // "L\top\tcol\tv1,v2" is a leaf (enc'd values never contain , or \t),
  // "T\tc1,c2\tv1|v2,v1|v2" a composite-key IN (enc'd values never
  // contain | either — base64 / numeric only; column names are gated
  // against the delimiters at entry-build time, inTupleNode)
  def serialize(n: Node): String = {
    val sb = new StringBuilder
    def go(x: Node): Unit = x match {
      case AndN(l, r) => sb.append("A\n"); go(l); go(r)
      case OrN(l, r) => sb.append("O\n"); go(l); go(r)
      case Leaf(op, c, vs) =>
        sb.append(s"L\t$op\t$c\t${vs.mkString(",")}\n")
      case TupleLeaf(cs, rows) =>
        sb.append(s"T\tin\t${cs.mkString(",")}\t")
        sb.append(rows.map(_.mkString("|")).mkString(","))
        sb.append('\n')
    }
    go(n)
    sb.result()
  }

  def parse(s: String): Node = {
    val it = s.split("\n").iterator.filter(_.nonEmpty)
    def go(): Node = it.next() match {
      case "A" => AndN(go(), go())
      case "O" => OrN(go(), go())
      case l =>
        val f = l.split("\t", -1)
        require(f.length == 4 && (f(0) == "L" || f(0) == "T"),
          s"bad delete predicate line: $l")
        if (f(0) == "L")
          Leaf(f(1), f(2), if (f(3).isEmpty) Nil else f(3).split(",").toSeq)
        else
          TupleLeaf(f(2).split(",").toSeq,
            if (f(3).isEmpty) Nil
            else f(3).split(",").toSeq.map(_.split("\\|", -1).toSeq))
    }
    go()
  }

  // ---- typed value codec (the column's schema type drives both ends) ----

  private def encValue(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (b: Boolean, BooleanType) => Some(s"b:$b")
    case (i: Int, IntegerType | DateType) => Some(s"i:$i")
    case (s: Short, ShortType) => Some(s"i:${s.toInt}")
    case (b: Byte, ByteType) => Some(s"i:${b.toInt}")
    case (l: Long, LongType | TimestampType | TimestampNTZType) => Some(s"l:$l")
    case (f: Float, FloatType) => Some(s"f:$f")
    case (d: Double, DoubleType) => Some(s"d:$d")
    case (u: UTF8String, StringType) =>
      Some(s"s:${Base64.getEncoder.encodeToString(u.getBytes)}")
    case (s: String, StringType) =>
      Some(s"s:${Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))}")
    case _ => None // decimals, binary, nested: not translatable → COW
  }

  /** Can a column of type `dt` carry delete-predicate values? (The
    * same set [[encValue]] accepts — the eligibility test callers run
    * BEFORE committing to a merge-on-read plan.) */
  def encodableType(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | DateType | ShortType | ByteType |
         LongType | TimestampType | TimestampNTZType | FloatType |
         DoubleType | StringType => true
    case _ => false
  }

  /** An `IN`-list node over CATALYST-INTERNAL values (UTF8String for
    * strings, epoch days/micros for date/timestamp) — the equality-
    * delete entry a MoR MERGE/UPDATE/DELETE writes for its matched row
    * ids. None if any value fails to encode (null id, unsupported
    * type) — the caller must have fallen back to copy-on-write. */
  def inNode(col: String, dt: DataType, internalValues: Seq[Any]): Option[Node] = {
    val vs = internalValues.map(encValue(_, dt))
    if (vs.exists(_.isEmpty)) None
    else Some(Leaf("in", col, vs.map(_.get)))
  }

  /** The composite-key counterpart of [[inNode]]: one tuple per matched
    * row id, CATALYST-internal component values in `cols` order. None
    * if any component fails to encode (null component, unsupported
    * type) — the caller must have fallen back to copy-on-write.
    * Column names are gated against the serialization delimiters here
    * (a name with , | or tab would corrupt the sidecar line). */
  def inTupleNode(cols: Seq[String], dts: Seq[DataType],
      internalRows: Seq[Seq[Any]]): Option[Node] = {
    require(cols.length == dts.length && cols.length > 1,
      s"composite row id needs >1 columns, got $cols")
    if (cols.exists(c => c.exists(ch => ch == ',' || ch == '|' ||
        ch == '\t' || ch == '\n'))) return None
    val encoded = internalRows.map(r => r.zip(dts).map {
      case (v, dt) => encValue(v, dt)
    })
    if (encoded.exists(_.exists(_.isEmpty))) None
    else Some(TupleLeaf(cols, encoded.map(_.map(_.get))))
  }

  /** Decoded to the CATALYST-internal value of column type `dt`. */
  private def decValue(s: String, dt: DataType): Any = {
    val body = s.substring(2)
    dt match {
      case BooleanType => body.toBoolean
      case IntegerType | DateType => body.toInt
      case ShortType => body.toInt.toShort
      case ByteType => body.toInt.toByte
      case LongType | TimestampType | TimestampNTZType => body.toLong
      case FloatType => body.toFloat
      case DoubleType => body.toDouble
      case StringType => UTF8String.fromBytes(Base64.getDecoder.decode(body))
      case other => throw new IllegalStateException(
        s"delete predicate value of unsupported type $other")
    }
  }

  /** Decoded to the EXTERNAL (DataFrame-literal) value. */
  private def decExternal(s: String, dt: DataType): Column = {
    import org.apache.spark.sql.functions._
    val body = s.substring(2)
    dt match {
      case BooleanType => lit(body.toBoolean)
      case IntegerType => lit(body.toInt)
      case DateType => date_from_unix_date(lit(body.toInt))
      case ShortType => lit(body.toInt.toShort)
      case ByteType => lit(body.toInt.toByte)
      case LongType => lit(body.toLong)
      case TimestampType => timestamp_micros(lit(body.toLong))
      case TimestampNTZType =>
        timestamp_micros(lit(body.toLong)).cast(TimestampNTZType)
      case FloatType => lit(body.toFloat)
      case DoubleType => lit(body.toDouble)
      case StringType =>
        lit(new String(Base64.getDecoder.decode(body), "UTF-8"))
      case other => throw new IllegalStateException(
        s"delete predicate value of unsupported type $other")
    }
  }

  // ---- V2 → AST translation (None = not translatable → COW fallback) ----

  def translate(p: V2Predicate, schema: StructType): Option[Node] = {
    def fieldType(ref: NamedReference): Option[DataType] = {
      val n = ref.fieldNames()
      if (n.length != 1) None
      else schema.fields.find(_.name.equalsIgnoreCase(n(0))).map(_.dataType)
    }
    def colName(ref: NamedReference): String = ref.fieldNames()(0)
    def leafCmp(op: String, flipped: String): Option[Node] = {
      val ch = p.children()
      if (ch.length != 2) return None
      (ch(0), ch(1)) match {
        case (r: NamedReference, l: V2Literal[_]) =>
          for (dt <- fieldType(r); v <- encValue(l.value(), dt))
            yield Leaf(op, colName(r), Seq(v))
        case (l: V2Literal[_], r: NamedReference) =>
          for (dt <- fieldType(r); v <- encValue(l.value(), dt))
            yield Leaf(flipped, colName(r), Seq(v))
        case _ => None
      }
    }
    p match {
      case a: V2And =>
        for (l <- translate(a.left(), schema); r <- translate(a.right(), schema))
          yield AndN(l, r)
      case o: V2Or =>
        for (l <- translate(o.left(), schema); r <- translate(o.right(), schema))
          yield OrN(l, r)
      case _ => p.name() match {
        case "=" => leafCmp("eq", "eq")
        case "<>" => leafCmp("ne", "ne")
        case "<" => leafCmp("lt", "gt")
        case "<=" => leafCmp("le", "ge")
        case ">" => leafCmp("gt", "lt")
        case ">=" => leafCmp("ge", "le")
        case "IN" =>
          p.children().headOption match {
            case Some(r: NamedReference) =>
              val tail = p.children().drop(1)
              fieldType(r).flatMap { dt =>
                val vs = tail.flatMap {
                  case l: V2Literal[_] => encValue(l.value(), dt)
                  case _ => return None
                }
                if (vs.length == tail.length) Some(Leaf("in", colName(r), vs.toSeq))
                else None // a null or untranslatable element: fall back
              }
            case _ => None
          }
        case "IS_NULL" => p.children() match {
          case Array(r: NamedReference) if fieldType(r).isDefined =>
            Some(Leaf("isnull", colName(r), Nil))
          case _ => None
        }
        case "IS_NOT_NULL" => p.children() match {
          case Array(r: NamedReference) if fieldType(r).isDefined =>
            Some(Leaf("notnull", colName(r), Nil))
          case _ => None
        }
        case _ => None
      }
    }
  }

  // ---- renderers ----

  /** Catalyst expression over `attrs` (reader-side). Missing column =
    * corrupted store: throwing beats silently resurrecting rows. */
  def toCatalyst(n: Node, attrs: Seq[Attribute]): CExpression = {
    def attr(c: String): Attribute =
      attrs.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalStateException(
          s"delete predicate column $c is missing from the read schema — " +
            "the _deletes sidecar does not match the table"))
    n match {
      case AndN(l, r) => CAnd(toCatalyst(l, attrs), toCatalyst(r, attrs))
      case OrN(l, r) => COr(toCatalyst(l, attrs), toCatalyst(r, attrs))
      case TupleLeaf(cs, rows) =>
        // composite-key probe: InSet over a struct of the key columns.
        // For non-atomic child types InSet's set is an ordering-backed
        // TreeSet, so membership is O(log n) struct comparisons per
        // row with correct InternalRow value equality — never the
        // O(n)/row a literal In over a large tuple list would pay
        val as = cs.map(attr)
        val vals = rows.map { r =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            r.zip(as).map { case (s, a) => decValue(s, a.dataType) }.toArray)
        }
        InSet(org.apache.spark.sql.catalyst.expressions.CreateStruct(as),
          vals.toSet)
      case Leaf(op, c, vs) =>
        val a = attr(c)
        def l(i: Int) = CLiteral(decValue(vs(i), a.dataType), a.dataType)
        op match {
          case "eq" => EqualTo(a, l(0))
          case "ne" => Not(EqualTo(a, l(0)))
          case "lt" => LessThan(a, l(0))
          case "le" => LessThanOrEqual(a, l(0))
          case "gt" => GreaterThan(a, l(0))
          case "ge" => GreaterThanOrEqual(a, l(0))
          // the reader-side expression is NOT optimizer-visited, so a
          // large equality-delete key list must become a hash-set probe
          // here (O(1)/row) — a literal In would scan the list per row
          case "in" if vs.length > 10 =>
            InSet(a, vs.indices.map(i => decValue(vs(i), a.dataType)).toSet)
          case "in" => In(a, vs.indices.map(l))
          case "isnull" => IsNull(a)
          case "notnull" => IsNotNull(a)
          case other => throw new IllegalStateException(
            s"unknown delete predicate op $other")
        }
    }
  }

  /** DataFrame Column (maintenance-read side). */
  def toColumn(n: Node, schema: StructType): Column = {
    import org.apache.spark.sql.functions.col
    def dtOf(c: String): DataType =
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"delete predicate column $c is missing from the table schema"))
    n match {
      case AndN(l, r) => toColumn(l, schema) && toColumn(r, schema)
      case OrN(l, r) => toColumn(l, schema) || toColumn(r, schema)
      case TupleLeaf(cs, rows) =>
        // struct-IN: flat children pass through OptimizeIn → InSet's
        // ordering-backed set (struct types are not hashable), same
        // probe the reader-side rendering builds directly
        import org.apache.spark.sql.functions.struct
        val key = struct(cs.map(col): _*)
        key.isin(rows.map { r =>
          struct(r.zip(cs).map { case (v, c) =>
            decExternal(v, dtOf(c))
          }: _*)
        }: _*)
      case Leaf(op, c, vs) =>
        val dt = dtOf(c)
        def l(i: Int) = decExternal(vs(i), dt)
        op match {
          case "eq" => col(c) === l(0)
          case "ne" => col(c) =!= l(0)
          case "lt" => col(c) < l(0)
          case "le" => col(c) <= l(0)
          case "gt" => col(c) > l(0)
          case "ge" => col(c) >= l(0)
          // isin, never a chained OR: a large equality-delete key list
          // as a reduce would build a list-deep expression tree (stack
          // overflow in analysis ~10k keys); In's flat children pass
          // through OptimizeIn, which converts to an InSet hash probe
          case "in" => col(c).isin(vs.indices.map(l): _*)
          case "isnull" => col(c).isNull
          case "notnull" => col(c).isNotNull
          case other => throw new IllegalStateException(
            s"unknown delete predicate op $other")
        }
    }
  }

  /** Human-readable rendering for the `.deletes` metadata table. */
  def show(n: Node, schema: StructType): String = n match {
    case AndN(l, r) => s"(${show(l, schema)} AND ${show(r, schema)})"
    case OrN(l, r) => s"(${show(l, schema)} OR ${show(r, schema)})"
    case TupleLeaf(cs, rows) =>
      def one(s: String): String =
        if (s.startsWith("s:"))
          "'" + new String(Base64.getDecoder.decode(s.substring(2)),
            "UTF-8") + "'"
        else s.substring(2)
      s"(${cs.mkString(", ")}) IN (${rows.map(r =>
        r.map(one).mkString("(", ", ", ")")).mkString(", ")})"
    case Leaf(op, c, vs) =>
      def v(i: Int): String = {
        val s = vs(i)
        if (s.startsWith("s:"))
          "'" + new String(Base64.getDecoder.decode(s.substring(2)),
            "UTF-8") + "'"
        else s.substring(2)
      }
      op match {
        case "eq" => s"$c = ${v(0)}"
        case "ne" => s"$c <> ${v(0)}"
        case "lt" => s"$c < ${v(0)}"
        case "le" => s"$c <= ${v(0)}"
        case "gt" => s"$c > ${v(0)}"
        case "ge" => s"$c >= ${v(0)}"
        case "in" => s"$c IN (${vs.indices.map(v).mkString(", ")})"
        case "isnull" => s"$c IS NULL"
        case "notnull" => s"$c IS NOT NULL"
        case other => other
      }
  }

  // ---- per-version entry store ----

  /** `matched` — the EXACT number of base rows this entry removes,
    * captured at commit when the writing path knew it (the row-level
    * funnel counted the matched rows it emitted ids for); `None` for
    * entries written without reading rows (the O(metadata)
    * `deleteWhere` path) and for entries whose file scope was later
    * NARROWED by a restricted carry (part of the counted rows may
    * have been materialized away — the remainder is unknowable
    * without a read). Counts across live entries never overlap: every
    * funnel matches against the live scan (deletes applied), so each
    * physically-dropped row is counted by exactly the first entry
    * that matched it — Σ matched over live countable entries is the
    * table's exact deleted-row total, which is what lets COUNT(*)
    * pushdown survive live sidecars (KeyGroupedScan.scala). */
  final case class DeleteEntry(id: String, node: Node, files: Set[String],
                               matched: Option[Long] = None)

  /** A POSITIONAL delete entry — Iceberg v2's second delete-file
    * format, for tables with no usable PRIMARY KEY: per data file, the
    * sorted ordinals (parquet row indexes) of the deleted rows. Rows
    * are addressed by WHERE THEY SIT, so no key column, encodability,
    * or uniqueness discipline is required of the table; scoping is
    * inherent (an ordinal names a row of one immutable file — later
    * appends are untouched by construction). File paths are
    * version-relative, exactly like `.files` manifests. */
  final case class PosEntry(id: String, ords: Map[String, Array[Long]]) {
    def files: Set[String] = ords.keySet
    def nRows: Long = ords.valuesIterator.map(_.length.toLong).sum
  }

  /** The reserved row-index column name the parquet readers (v1 and
    * DSv2, vectorized and row-based) populate with each row's index in
    * its FILE when the read schema requests it — the addressing scheme
    * positional deletes resolve against. Exposed to queries as the
    * `_pos` metadata column. */
  val RowIndexCol: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** `schema` with the reserved row-index field appended (idempotent).
    * The inner parquet tables are constructed over THIS schema so a
    * scan can request the row-index column whenever ordinals are
    * needed — the field never reaches query output (the builder prunes
    * it in, the wrappers project it away or surface it as `_pos`). */
  def withRowIndex(schema: StructType): StructType =
    if (schema.fieldNames.exists(_.equalsIgnoreCase(RowIndexCol))) schema
    else StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(RowIndexCol,
        org.apache.spark.sql.types.LongType))

  def hasLive(versionDir: JPath): Boolean = {
    val d = versionDir.resolve(DIR)
    if (!Files.isDirectory(d)) return false
    MetaStore.list(d).exists { p =>
      val n = p.getFileName.toString
      n.endsWith(".pred") || n.endsWith(".pos")
    }
  }

  def entries(versionDir: JPath): Seq[DeleteEntry] = {
    val d = versionDir.resolve(DIR)
    if (!Files.isDirectory(d)) return Nil
    val ids = MetaStore.list(d).map(_.getFileName.toString)
      .filter(_.endsWith(".pred")).map(_.stripSuffix(".pred")).sorted
    ids.map { id =>
      val node = parse(MetaStore.read(d.resolve(s"$id.pred")))
      val files = MetaStore.read(d.resolve(s"$id.files"))
        .split("\n").iterator.filter(_.nonEmpty).toSet
      // optional matched-row count sidecar (written before `.pred`,
      // so a visible entry either has its count whole or never had
      // one); a malformed count degrades to unknown, never fails a read
      val matched = {
        val cf = d.resolve(s"$id.count")
        if (!Files.isRegularFile(cf)) None
        else try Some(MetaStore.read(cf).trim.toLong)
        catch { case _: Exception => None }
      }
      DeleteEntry(id, node, files, matched)
    }
  }

  /** Live POSITIONAL entries of a version (see [[PosEntry]]).
    * `.pos` format: one line per file, `relpath<TAB>ord,ord,…`
    * (ordinals sorted ascending; relpaths never contain tabs — the
    * write path stages them itself). */
  def posEntries(versionDir: JPath): Seq[PosEntry] = {
    val d = versionDir.resolve(DIR)
    if (!Files.isDirectory(d)) return Nil
    val ids = MetaStore.list(d).map(_.getFileName.toString)
      .filter(n => n.endsWith(".pos") && !n.startsWith("."))
      .map(_.stripSuffix(".pos")).sorted
    ids.map { id =>
      val ords = MetaStore.read(d.resolve(s"$id.pos"))
        .split("\n").iterator.filter(_.nonEmpty).map { l =>
          val Array(f, os) = l.split("\t", 2)
          f -> (if (os.isEmpty) Array.empty[Long]
                else os.split(",").map(_.toLong))
        }.toMap
      PosEntry(id, ords)
    }
  }

  /** Per-file union of every live positional entry's ordinals — the
    * map the read side probes (sorted, deduplicated). */
  def posOrdinalsByFile(entries: Seq[PosEntry]): Map[String, Array[Long]] =
    entries.flatMap(_.ords.toSeq).groupBy(_._1).map { case (f, xs) =>
      f -> xs.flatMap(_._2).distinct.sorted.toArray
    }

  /** Write one positional entry into a staged version. The `.pos`
    * move is the entry's commit marker (single-file entries — no
    * second manifest to order against). */
  def writePosEntry(versionDir: JPath,
      ords: Map[String, Array[Long]]): String =
    writePosEntryAs(versionDir, s"p-${UUID.randomUUID()}", ords)

  /** [[writePosEntry]] under a CALLER-CHOSEN id — the restricted-carry
    * path owes this: entry ids are IDENTITY across commits (the CDC
    * reader detects new deletes by id, [[AtomicParquetCatalog
    * .tableChanges]]), so a carried entry that re-materialized under a
    * fresh id would be re-reported as a fresh delete of rows removed
    * commits ago. */
  def writePosEntryAs(versionDir: JPath, id: String,
      ords: Map[String, Array[Long]]): String = {
    val d = versionDir.resolve(DIR)
    MetaStore.mkdirs(d)
    MetaStore.replace(d.resolve(s"$id.pos"),
      ords.toSeq.sortBy(_._1).map { case (f, os) =>
        s"$f\t${os.sorted.mkString(",")}"
      }.mkString("\n"))
    id
  }

  /** Write one entry into `versionDir` (a staged, not-yet-committed
    * version — no locking needed). `.files` lands before `.pred`; the
    * `.pred` move is the entry's commit marker. */
  def writeEntry(versionDir: JPath, node: Node, files: Set[String],
      matched: Option[Long] = None): String =
    writeEntryAs(versionDir, s"d-${UUID.randomUUID()}", node, files, matched)

  /** [[writeEntry]] under a caller-chosen id — see [[writePosEntryAs]]
    * for why restricted carries must preserve entry identity. The
    * optional matched-row count lands BEFORE `.pred` (the commit
    * marker), so no reader can see the entry without its count. */
  def writeEntryAs(versionDir: JPath, id: String, node: Node,
      files: Set[String], matched: Option[Long] = None): String = {
    val d = versionDir.resolve(DIR)
    MetaStore.mkdirs(d)
    MetaStore.replace(d.resolve(s"$id.files"), files.toSeq.sorted.mkString("\n"))
    matched.foreach(n => MetaStore.replace(d.resolve(s"$id.count"), n.toString))
    MetaStore.replace(d.resolve(s"$id.pred"), serialize(node))
    id
  }

  /** Carry `from`'s entries into `to` — every commit that hard-links
    * data files forward owes this call (the delete applies to those
    * same linked files). `rebasePrefix` handles spec evolution: files
    * that lived at the version ROOT relocate under `_spec-<k>/`, so
    * their recorded paths rebase; paths already inside a legacy
    * subtree stay. */
  def carry(from: JPath, to: JPath,
            rebasePrefix: Option[String] = None): Unit = {
    val src = from.resolve(DIR)
    if (!Files.isDirectory(src)) return
    val dst = to.resolve(DIR)
    MetaStore.mkdirs(dst)
    val names = MetaStore.list(src).map(_.getFileName.toString)
      .filterNot(_.startsWith("."))
    for (n <- names) {
      val out = dst.resolve(n)
      if (n.endsWith(".files") && rebasePrefix.isDefined) {
        val pfx = rebasePrefix.get
        val rebased = MetaStore.read(src.resolve(n))
          .split("\n").iterator.filter(_.nonEmpty)
          .map(f => if (f.startsWith("_spec-")) f else s"$pfx/$f")
          .mkString("\n")
        MetaStore.write(out, rebased)
      } else if (n.endsWith(".pos") && rebasePrefix.isDefined) {
        // positional entries embed their file paths in the payload
        // lines — rebase those the same way as `.files` manifests
        val pfx = rebasePrefix.get
        val rebased = MetaStore.read(src.resolve(n))
          .split("\n").iterator.filter(_.nonEmpty)
          .map { l =>
            val Array(f, os) = l.split("\t", 2)
            val nf = if (f.startsWith("_spec-")) f else s"$pfx/$f"
            s"$nf\t$os"
          }.mkString("\n")
        MetaStore.write(out, rebased)
      } else MetaStore.linkOrCopy(src.resolve(n), out)
    }
  }

  /** Carry `from`'s entries into `to` RESTRICTED to the files `keep`
    * accepts: each entry's manifest is intersected with the surviving
    * file set; entries left with no files are dropped. The partial-
    * compaction path (`unify_layout`) owes this — its rewrite
    * MATERIALIZES the deletes of the legacy files it rewrites, so
    * carrying those paths forward would point entries at files that no
    * longer exist, while entries over the hard-linked current-layout
    * files must survive intact. */
  def carryRestricted(from: JPath, to: JPath,
      keep: String => Boolean): Unit = {
    // ids are PRESERVED on the carry: the CDC reader (tableChanges)
    // detects new deletes by entry id, so a carried entry under a
    // fresh id would re-report rows deleted in earlier commits as
    // fresh deletes across the carrying commit
    entries(from).foreach { e =>
      val kept = e.files.filter(keep)
      // the matched-row count survives ONLY a whole carry: dropping a
      // scoped file materialized part of the counted rows away, and
      // the remainder is unknowable without a read — a stale count
      // would make the pushed COUNT(*) silently wrong
      val matched = if (kept == e.files) e.matched else None
      if (kept.nonEmpty) { writeEntryAs(to, e.id, e.node, kept, matched); () }
    }
    posEntries(from).foreach { e =>
      val kept = e.ords.filter { case (f, _) => keep(f) }
      if (kept.nonEmpty) { writePosEntryAs(to, e.id, kept); () }
    }
  }

  // ---- exact application for maintenance/CDC reads ----

  /** Read `relFiles` of `versionDir` (grouped per layout root, like the
    * CDC reader) with this VERSION's delete entries applied EXACTLY:
    * files split by applicable-entry signature, each cohort filtered by
    * the conjunction of its entries' negations. The split is
    * driver-side set arithmetic over the sidecar manifests — never a
    * row-side file-name comparison, so hive/URI escaping can't corrupt
    * it. */
  def readFiles(s: SparkSession, versionDir: JPath, relFiles: Set[String],
                schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = schema.fieldNames.toSeq.map(col)
    val es = entries(versionDir)
    val posByFile = posOrdinalsByFile(posEntries(versionDir))
    def layoutRoot(rel: String): String = {
      val first = rel.takeWhile(c => c != '/' && c != '\\')
      if (first != rel && first.startsWith("_") && !first.contains("="))
        first
      else ""
    }
    // positionally-deleted files read ONE AT A TIME with the parquet
    // row-index column requested, so each file filters against its own
    // ordinal set — ordinals are file-local by definition
    val (posFiles, plainFiles) = relFiles.partition(posByFile.contains)
    val rixSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(RowIndexCol,
        org.apache.spark.sql.types.LongType))
    val posDfs = posFiles.toSeq.sorted.map { f =>
      val root = layoutRoot(f)
      val base = if (root.isEmpty) versionDir else versionDir.resolve(root)
      val raw = s.read.option("basePath", base.toString)
        .schema(rixSchema).parquet(versionDir.resolve(f).toString)
      val filtered = filterOutOrdinals(s, raw, posByFile(f)).select(cols: _*)
      es.filter(_.files.contains(f)).foldLeft(filtered) { (df, e) =>
        df.where(!toColumn(e.node, schema))
      }
    }
    val bySig: Map[(String, Seq[String]), Set[String]] =
      plainFiles.groupBy(f =>
        (layoutRoot(f), es.filter(_.files.contains(f)).map(_.id)))
    val dfs = bySig.toSeq.sortBy(_._1.toString).map { case ((root, sig), fs) =>
      val base =
        if (root.isEmpty) versionDir else versionDir.resolve(root)
      val paths = fs.toSeq.sorted.map(f => versionDir.resolve(f).toString)
      val raw = s.read.option("basePath", base.toString)
        .schema(schema).parquet(paths: _*).select(cols: _*)
      es.filter(e => sig.contains(e.id)).foldLeft(raw) { (df, e) =>
        df.where(!toColumn(e.node, schema))
      }
    } ++ posDfs
    dfs.reduceOption(_ unionByName _).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema))
  }

  /** Drop the rows of `df` whose [[RowIndexCol]] value is in `ords` —
    * small sets as an `isin` (OptimizeIn → hash probe), large sets as
    * a broadcast anti-join (an isin of 10^6 literals would bloat the
    * plan tree). */
  private def filterOutOrdinals(s: SparkSession, df: DataFrame,
      ords: Array[Long]): DataFrame =
    ordinalFilter(s, df, ords, keep = false)

  private def ordinalFilter(s: SparkSession, df: DataFrame,
      ords: Array[Long], keep: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (ords.length <= 1000) {
      val in = col(RowIndexCol).isin(ords.toSeq: _*)
      df.where(if (keep) in else !in)
    } else {
      val ds = s.createDataFrame(
        s.sparkContext.parallelize(
          ords.toSeq.map(org.apache.spark.sql.Row(_)), 1),
        StructType(Seq(org.apache.spark.sql.types.StructField(
          "__graft_del_ord", org.apache.spark.sql.types.LongType))))
      df.join(broadcast(ds),
        col(RowIndexCol) === col("__graft_del_ord"),
        if (keep) "left_semi" else "left_anti")
    }
  }

  /** The rows of `versionDir` a positional entry DELETED — the CDC
    * reader's removed-rows source for a positional commit: each file
    * read with the row-index column, kept where the ordinal IS in the
    * entry's set. */
  def readDeletedRows(s: SparkSession, versionDir: JPath, e: PosEntry,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = schema.fieldNames.toSeq.map(col)
    val rixSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(RowIndexCol,
        org.apache.spark.sql.types.LongType))
    def layoutRoot(rel: String): String = {
      val first = rel.takeWhile(c => c != '/' && c != '\\')
      if (first != rel && first.startsWith("_") && !first.contains("="))
        first
      else ""
    }
    val dfs = e.ords.toSeq.sortBy(_._1).map { case (f, os) =>
      val root = layoutRoot(f)
      val base = if (root.isEmpty) versionDir else versionDir.resolve(root)
      ordinalFilter(s,
        s.read.option("basePath", base.toString)
          .schema(rixSchema).parquet(versionDir.resolve(f).toString),
        os, keep = true)
        .select(cols: _*)
    }
    dfs.reduceOption(_ unionByName _).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema))
  }
}

/** The scan wrapper that applies live delete entries at read: planned
  * file groups are SPLIT by applicable-delete signature (one partition
  * never mixes two signatures), and the reader factory filters each
  * task's rows by the conjunction of its signature's negated
  * predicates, then projects away any column that was read only for
  * the predicate. Forwards the runtime-filtering / partitioning /
  * statistics handshakes; IS its own Batch with structural equality
  * (the DPP-reuse contract, see FileSkippingScan). */
private[sources] final class DeleteApplyingScan(
    private[sources] val inner: Scan, scanName: String,
    private[sources] val versionDir: JPath,
    entries: Seq[MorDeletes.DeleteEntry],
    posEntries: Seq[MorDeletes.PosEntry],
    extraCols: Seq[String])
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  private val serialized: Seq[(String, String, Set[String])] =
    entries.map(e => (e.id, MorDeletes.serialize(e.node), e.files))
  // per-file union of positional ordinals (sorted — the reader probes
  // with a binary search); files carrying positional deletes are
  // planned ONE PER TASK so each reader owns a single ordinal set
  private val posByFile: Map[String, Array[Long]] =
    MorDeletes.posOrdinalsByFile(posEntries)

  override def readSchema(): StructType = StructType(
    inner.readSchema().filterNot(f =>
      extraCols.exists(_.equalsIgnoreCase(f.name))))

  override def description(): String =
    s"graft-mor-deletes(${entries.size}) ${inner.description()}"

  override def toBatch: Batch = this

  override def equals(o: Any): Boolean = o match {
    case d: DeleteApplyingScan =>
      inner == d.inner && versionDir == d.versionDir
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(inner, versionDir)

  private def relOf(urlEncoded: String): Option[String] = {
    val vPrefix = versionDir.toString + "/"
    val disk =
      try new java.net.URI(urlEncoded).getPath
      catch { case _: java.net.URISyntaxException => null }
    if (disk == null || !disk.startsWith(vPrefix)) None
    else Some(disk.substring(vPrefix.length))
  }

  /** Applicable entry ids for one file. */
  private def sigOf(urlEncoded: String): Seq[String] = relOf(urlEncoded) match {
    case Some(rel) => serialized.collect {
      case (id, _, files) if files.contains(rel) => id
    }
    case None => Nil
  }

  private def hasPos(urlEncoded: String): Boolean =
    relOf(urlEncoded).exists(posByFile.contains)

  override def planInputPartitions(): Array[InputPartition] = {
    val out = Seq.newBuilder[InputPartition]
    var idx = 0
    def nextIdx(): Int = { val i = idx; idx += 1; i }
    // group by predicate signature; within a group, each positionally-
    // deleted FILE becomes its own task (its reader must bind one
    // ordinal set — splits of the same file share it, file-global
    // ordinals make that correct)
    def regroup(files: Array[PartitionedFile],
        emit: Array[PartitionedFile] => Unit): Unit =
      files.groupBy(f => sigOf(f.urlEncodedPath)).toSeq
        .sortBy(_._1.mkString(",")).foreach { case (_, fs) =>
          val (pos, plain) = fs.partition(f => hasPos(f.urlEncodedPath))
          if (plain.nonEmpty) emit(plain)
          pos.groupBy(_.urlEncodedPath).toSeq.sortBy(_._1)
            .foreach { case (_, one) => emit(one) }
        }
    def split(p: InputPartition): Unit = p match {
      case k: KeyedFilePartition =>
        regroup(k.files,
          fs => out += new KeyedFilePartition(nextIdx(), fs, k.partitionKey()))
      case f: FilePartition =>
        regroup(f.files, fs => out += FilePartition(nextIdx(), fs))
      case d: DispatchedPartition =>
        // split the embedded file partition, keep the dispatch wrapper
        d.inner match {
          case f: FilePartition =>
            regroup(f.files,
              fs => out += d.copy(inner = FilePartition(nextIdx(), fs)))
          case _ => out += d
        }
      case other => out += other
    }
    inner.toBatch.planInputPartitions().foreach(split)
    out.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DeleteApplyingReaderFactory(inner.toBatch.createReaderFactory(),
      versionDir.toString, serialized.map(e => (e._2, e._3)),
      posByFile, inner.readSchema(), readSchema())

  override def filterAttributes(): Array[NamedReference] = inner match {
    case f: SupportsRuntimeV2Filtering => f.filterAttributes()
    case _ => Array.empty
  }
  override def filter(predicates: Array[V2Predicate]): Unit = inner match {
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

/** Task-side delete application: rows whose partition's applicable
  * delete predicates evaluate TRUE are dropped; survivors project to
  * the target schema (by name — the inner row may carry extra
  * predicate-only columns). Row readers only: a delete filter inside a
  * ColumnarBatch would mean rewriting the batch, so columnar turns off
  * for the (bounded) life of the delete entries. */
private[sources] final class DeleteApplyingReaderFactory(
    inner: PartitionReaderFactory, versionDirStr: String,
    entries: Seq[(String, Set[String])],
    posByFile: Map[String, Array[Long]], innerSchema: StructType,
    target: StructType) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  private def relFiles(p: InputPartition): Seq[String] = p match {
    case d: DispatchedPartition => relFiles(d.inner)
    case f: FilePartition =>
      val vPrefix = versionDirStr + "/"
      f.files.toSeq.flatMap { pf =>
        val disk =
          try new java.net.URI(pf.urlEncodedPath).getPath
          catch { case _: java.net.URISyntaxException => null }
        if (disk == null || !disk.startsWith(vPrefix)) None
        else Some(disk.substring(vPrefix.length))
      }
    case _ => Nil
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = relFiles(p).toSet
    val applicable = entries.collect {
      case (ser, fs) if fs.exists(files.contains) => ser
    }
    // positional ordinals: the planner put each positionally-deleted
    // file in its own task, so at most one set applies here
    val posFiles = files.filter(posByFile.contains)
    val posOrds: Array[Long] = posFiles.size match {
      case 0 => null
      case 1 => posByFile(posFiles.head)
      case _ => throw new IllegalStateException(
        "a task mixed two positionally-deleted files — the split " +
          s"planner must isolate them: $files")
    }
    val rixIdx =
      if (posOrds == null) -1
      else {
        val i = innerSchema.fieldNames.indexWhere(
          _.equalsIgnoreCase(MorDeletes.RowIndexCol))
        if (i < 0) throw new IllegalStateException(
          "positional delete entries live but the inner scan carries " +
            "no row-index column")
        i
      }
    val r = inner.createReader(p)
    val sameSchema = target == innerSchema
    if (applicable.isEmpty && posOrds == null && sameSchema) return r
    val attrs = DataTypeUtils.toAttributes(innerSchema)
    val preds = applicable.map(ser => CPredicate.create(
      MorDeletes.toCatalyst(MorDeletes.parse(ser), attrs), attrs))
    val proj =
      if (sameSchema) null
      else UnsafeProjection.create(
        target.fields.toSeq.map(f => attrs.find(
          _.name.equalsIgnoreCase(f.name)).getOrElse(
          throw new IllegalStateException(
            s"target column ${f.name} missing from inner read schema"))
          .asInstanceOf[CExpression]), attrs)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          val posDeleted = posOrds != null &&
            java.util.Arrays.binarySearch(posOrds, row.getLong(rixIdx)) >= 0
          if (!posDeleted && !preds.exists(_.eval(row))) {
            cur = row; return true
          }
        }
        false
      }
      override def get(): InternalRow =
        if (proj == null) cur else proj(cur)
      override def close(): Unit = r.close()
    }
  }
}
