package graft.sources

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.util.{Base64, UUID}

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, In, InSet, Or, Expression => CExpression, Literal => CLiteral}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BLOOM-FILTER FILE INDEX — point-lookup skipping where min/max
  * cannot prune: Iceberg's Puffin-blob / Delta's bloom-index posture.
  * Footer min/max stats ([[FileStats]]) skip files on SORTED layouts,
  * but a high-cardinality key written in arrival order (a uuid, a
  * content hash) gives every file a [min,max] spanning the whole key
  * space — a point lookup keeps every file. With the
  * `write.bloom-cols` TBLPROPERTY the layout writer has parquet build
  * its NATIVE column bloom filters (split-block xxHash64 — the format
  * other engines' readers also use for row-group filtering), and the
  * commit-time footer pass harvests each filter's bitset into a
  * table-level sidecar, so scan PLANNING can drop a file no probe key
  * can live in without opening any footer — the task is never
  * scheduled, the decisive difference from parquet's own row-group
  * bloom filtering (which runs inside an already-scheduled task) at
  * 100 TB.
  *
  * Store shape: `<tableDir>/_bloomidx/` TSV, APPEND-ONLY, one line per
  * (file, column, row group): `relPath \t col \t tag \t base64(bitset)`
  * — the same version-relative-path keying, self-healing backfill,
  * clone carry and live-path compaction contract as `_filestats`
  * (the two stores are written by the same commit-lock footer pass).
  * The `tag` pins the PHYSICAL shape the writer hashed (i/l/f/d/s/y),
  * so a probe only trusts a filter when the catalyst literal maps to
  * that exact shape — a shape mismatch keeps the file. Timestamps are
  * harvested only for MICROS physical storage (catalyst's own unit);
  * unsigned ints, decimals, INT96 and fixed-len binaries are never
  * harvested. Probing is may-match by construction: a missing store,
  * missing column, missing filter, unknown literal shape or any
  * non-equality predicate shape keeps the file; only a bloom MISS on
  * every row group of every conjunct-required key drops it — and a
  * bloom miss is a proof of absence (false positives only). */
private[sources] object BloomIndex {

  private val STORE = "_bloomidx"
  /** Bitsets above this size are not harvested (sidecar hygiene; the
    * file simply stays unskippable-by-bloom). Parquet's own default
    * max is 1 MiB. */
  private val MAX_BITSET = 1 << 20
  /** Store files above this count are compacted into one. */
  private val COMPACT_AT = 24
  /** Expected per-file NDV when neither `write.bloom-ndv` nor
    * `write.target-file-size-rows` says better (~117 KiB bitset at
    * parquet's default 1% fpp). */
  private val DEFAULT_NDV = 100000L
  /** Decoded-bitset cap for the scan-planning cache: a table whose
    * store exceeds it keeps parquet's in-task row-group blooms but
    * forgoes file-level probing instead of pinning unbounded driver
    * heap. */
  private val CACHE_MAX_BYTES = 256L << 20

  def probingEnabled(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.getOption("spark.sql.catalog.graft.read.bloomSkipping")
      .forall(_ != "false")

  // ---- write-time options (consumed by writeLayout) ----

  /** Parquet writer options for `write.bloom-cols` — enables the
    * native bloom filter on each named column, sized by
    * `write.bloom-ndv` (falling back to the per-file row cap: a file
    * holds at most that many distinct values). Column names are
    * resolved against the write schema case-insensitively; a name
    * that does not exist refuses (same stance as write.sort-cols).
    * FLOAT/DOUBLE columns refuse POINTEDLY: parquet's bloom hashes
    * raw IEEE bits and its own in-task row-group filtering applies
    * them bit-exactly, so a file this engine wrote with a float bloom
    * would drop a stored -0.0 row from a `= 0.0` probe in ANY
    * parquet reader (measured on vanilla Spark) — a write option
    * must never make plain reads wrong. (Foreign files that already
    * carry float blooms still PROBE soundly here: [[hashesOf]] tries
    * both zero encodings.) */
  def writerOptions(props: Map[String, String],
                    schema: StructType): Map[String, String] = {
    val named = props.get("write.bloom-cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(return Map.empty)
    val ndv = props.get("write.bloom-ndv").flatMap(_.toLongOption)
      .orElse(props.get("write.target-file-size-rows").flatMap(_.toLongOption))
      .filter(_ > 0L).getOrElse(DEFAULT_NDV)
    named.flatMap { c =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"write.bloom-cols column $c does not exist in the write " +
            s"schema (${schema.fieldNames.mkString(", ")})"))
      field.dataType match {
        case FloatType | DoubleType =>
          throw new IllegalArgumentException(
            s"write.bloom-cols column ${field.name} is " +
              s"${field.dataType.simpleString}: parquet blooms hash raw " +
              "IEEE bits, so in-task row-group filtering would drop a " +
              "stored -0.0 from a `= 0.0` probe — float/double columns " +
              "cannot be bloom-indexed")
        case _ => ()
      }
      Seq(s"parquet.bloom.filter.enabled#${field.name}" -> "true",
        s"parquet.bloom.filter.expected.ndv#${field.name}" -> ndv.toString)
    }.toMap
  }

  // ---- commit-time harvest (called from FileStats' footer pass) ----

  /** The physical-shape tag a probe must reproduce, or None when the
    * (physical, logical) pair has no deterministic catalyst hash
    * input. */
  private def tagOf(prim: PrimitiveType): Option[Char] = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation) match {
      case (_, _: DecimalLogicalTypeAnnotation) => None
      case (INT32, a: IntLogicalTypeAnnotation) if !a.isSigned => None
      case (INT64, a: IntLogicalTypeAnnotation) if !a.isSigned => None
      case (INT32, _) => Some('i') // int / date / signed small ints
      case (INT64, t: TimestampLogicalTypeAnnotation) =>
        if (t.getUnit == TimeUnit.MICROS) Some('l') else None
      case (INT64, _) => Some('l')
      case (FLOAT, _) => Some('f')
      case (DOUBLE, _) => Some('d')
      case (BINARY, _: StringLogicalTypeAnnotation) => Some('s')
      case (BINARY, null) => Some('y')
      case _ => None
    }
  }

  /** Bloom lines for one already-open footer reader — one line per
    * (top-level column, row group). Runs inside [[FileStats]]' footer
    * pass, so a file is opened exactly once for both sidecars.
    *
    * ALL-OR-NOTHING per column: a probe treats a column's filter list
    * as covering EVERY row group of the file (any-of-them-may-contain
    * = file may contain), so a partially harvested column — one row
    * group's filter absent (adaptive writers can size row groups past
    * the cap individually), unreadable, or over the size cap while
    * its siblings land — would let a key living in the uncovered row
    * group bloom-miss everywhere and wrongly skip the file. A column
    * yields a line for every row group or no lines at all. */
  def harvestLines(reader: ParquetFileReader, rel: String): Seq[String] = {
    val footer = reader.getFooter
    val fileSchema = footer.getFileMetaData.getSchema
    val blocks: Seq[BlockMetaData] = footer.getBlocks.asScala.toSeq
    if (blocks.isEmpty) return Nil
    val candidates: Seq[(String, Char)] =
      blocks.head.getColumns.asScala.toSeq
        .filter(_.getPath.size == 1)
        .flatMap { c =>
          val col = c.getPath.toDotString
          val prim = fileSchema
            .getType(fileSchema.getFieldIndex(col)).asPrimitiveType()
          tagOf(prim).map(col -> _)
        }
    candidates.flatMap { case (col, tag) =>
      val perGroup: Seq[Option[String]] = blocks.map { b =>
        b.getColumns.asScala
          .find(c => c.getPath.size == 1 && c.getPath.toDotString == col)
          .filter(_.getBloomFilterOffset >= 0L)
          .flatMap { c =>
            try {
              reader.getBloomFilterDataReader(b).readBloomFilter(c) match {
                case bf: BlockSplitBloomFilter
                    if bf.getBitsetSize <= MAX_BITSET =>
                  val bos = new java.io.ByteArrayOutputStream(
                    bf.getBitsetSize)
                  bf.writeTo(bos)
                  Some(s"$rel\t$col\t$tag\t" +
                    Base64.getEncoder.encodeToString(bos.toByteArray))
                case _ => None
              }
            } catch {
              case e: Exception =>
                System.err.println(s"[graft-bloomidx] WARN: bloom read " +
                  s"failed for $rel/$col (${e.getMessage})")
                None
            }
          }
      }
      if (perGroup.forall(_.isDefined)) perGroup.flatten
      else {
        if (perGroup.exists(_.isDefined))
          System.err.println(s"[graft-bloomidx] WARN: $rel/$col covered " +
            s"only ${perGroup.count(_.isDefined)} of ${blocks.size} row " +
            "groups; column not indexed (a partial set could skip wrongly)")
        Nil
      }
    }
  }

  /** One atomic store-file write — also called from EXECUTOR tasks by
    * the distributed footer pass, which writes its partition's bloom
    * lines directly instead of collecting megabyte bitsets onto the
    * driver (the store is append-only, so per-task files compose; a
    * retried task at worst duplicates identical filter lines, which
    * probing treats as one). */
  def writeStoreFile(tableDir: JPath, lines: Seq[String]): Unit =
    SidecarStore.writeFile(tableDir.resolve(STORE), "bf", lines)

  /** Append harvested lines and compact the store against the live
    * relative paths on the usual cadence. Called under the commit lock
    * (from FileStats.record). The planning cache drops only when the
    * store actually changed — task-side appends already change the
    * fingerprint, so the frequent no-op `append(Nil)` of a
    * fully-covered commit must not force the next plan to re-decode an
    * unchanged store. */
  def append(tableDir: JPath, lines: Seq[String],
             livePaths: => Set[String]): Unit = {
    if (lines.nonEmpty) writeStoreFile(tableDir, lines)
    val compacted = SidecarStore.maybeCompact(tableDir.resolve(STORE),
      "bf", COMPACT_AT, livePaths)
    if (lines.nonEmpty || compacted) cache.remove(tableDir.toString)
  }

  /** Clone-time carry — the destination links the same data files
    * under the same relative paths (see FileStats.carryStore). */
  def carryStore(srcTable: JPath, dstTable: JPath): Unit =
    SidecarStore.carry(srcTable.resolve(STORE), dstTable.resolve(STORE))

  // ---- scan-time loading (cached per store fingerprint) ----

  /** file → column (as written) → (shape tag, row-group filters). */
  type Index = Map[String, Map[String, (Char, Seq[BlockSplitBloomFilter])]]

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Index)]()

  /** [[load]], gated on the kill-switch of the session EXECUTING the
    * operation — the form every NARROWING consumer must use (scan
    * planning AND the commit-time scoping of persisted delete
    * entries): with probing disabled a suspect sidecar must not be
    * able to bake a wrong file scope into a persisted entry, where
    * scan-time disablement could never repair it. The session is a
    * parameter, not `SparkSession.active`: in a multi-session app the
    * operator's `bloomSkipping=false` lives on the session that runs
    * the command, and a thread whose active session differs must not
    * sidestep it. Observability readers (`.files`) may use [[load]]
    * directly. */
  def loadIfEnabled(tableDir: JPath,
                    spark: org.apache.spark.sql.SparkSession): Index =
    if (probingEnabled(spark)) load(tableDir) else Map.empty

  def load(tableDir: JPath): Index = {
    val parts = SidecarStore.list(tableDir.resolve(STORE))
    if (parts.isEmpty) return Map.empty
    val fp = SidecarStore.fingerprint(parts)
    val hit = cache.get(tableDir.toString)
    if (hit != null && hit._1 == fp) return hit._2
    val byFile = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[String, (Char, Vector[BlockSplitBloomFilter])]]
    // a malformed line or cross-line shape conflict POISONS its
    // (file, column) permanently — later lines must not re-admit a
    // partial filter set a probe would trust as complete
    val poisoned = scala.collection.mutable.Set.empty[(String, String)]
    for (p <- parts;
         // a commit-side store compaction may delete a part file
         // between our listing and this read: treat the store as
         // absent this plan (conservative keep), never fail the query
         content <- MetaStore.readIfPresent(p).toSeq;
         line <- content.split("\n")
         if line.nonEmpty) {
      val f = line.split("\t", -1)
      if (f.length == 4 && f(2).length == 1 && !poisoned((f(0), f(1)))) {
        try {
          val bits = Base64.getDecoder.decode(f(3))
          // parquet's byte[] ctor does NO shape validation: a bitset
          // shorter than one split block (32 bytes) or off-granule
          // would throw from findHash DURING SCAN PLANNING — enforce
          // the malformed-line contract (poison, conservative keep)
          // here instead of failing the query there
          if (bits.length < 32 || bits.length % 32 != 0)
            throw new IllegalArgumentException(
              s"bloom bitset length ${bits.length} is not a positive " +
                "multiple of the 32-byte split block")
          val filt = new BlockSplitBloomFilter(bits)
          val cols = byFile.getOrElseUpdate(f(0),
            scala.collection.mutable.Map.empty)
          cols.get(f(1)) match {
            case Some((t, fs)) if t == f(2).charAt(0) =>
              cols(f(1)) = (t, fs :+ filt)
            case Some(_) => // shape conflict across lines: distrust
              poisoned += ((f(0), f(1))); cols.remove(f(1)); ()
            case None => cols(f(1)) = (f(2).charAt(0), Vector(filt))
          }
        } catch {
          case _: IllegalArgumentException =>
            poisoned += ((f(0), f(1)))
            byFile.get(f(0)).foreach(_.remove(f(1)))
        }
      }
    }
    val out: Index = byFile.map { case (n, m) =>
      n -> m.map { case (c, (t, fs)) => c -> (t, fs: Seq[BlockSplitBloomFilter]) }.toMap
    }.toMap
    // driver-heap guard: the cache holds DECODED bitsets; a store past
    // the cap (a very large table) disables file-level bloom probing
    // rather than pinning unbounded memory — parquet's own in-task
    // row-group blooms (which this index harvests FROM) still prune
    // the data pages for such tables
    val bytes = out.valuesIterator
      .flatMap(_.valuesIterator).flatMap(_._2).map(_.getBitsetSize.toLong)
      .foldLeft(0L)(_ + _)
    val fin: Index =
      if (bytes <= CACHE_MAX_BYTES) out
      else {
        System.err.println(s"[graft-bloomidx] WARN: $tableDir store " +
          s"decodes to $bytes bytes > cap $CACHE_MAX_BYTES; file-level " +
          "bloom probing disabled for this table (row-group blooms " +
          "still apply in-task)")
        Map.empty
      }
    cache.put(tableDir.toString, (fp, fin))
    fin
  }

  // ---- probing ----

  /** The candidate hashes for `v` (a catalyst-internal value) under
    * physical shape `tag` — the way parquet's writer hashed column
    * values — or None when the shapes don't line up (probe keeps the
    * file). Floats need TWO candidates at zero: the writer hashed the
    * raw IEEE bits, so a file holding -0.0 must not bloom-miss a
    * `= 0.0` probe (SQL equality unifies the two encodings). NaN
    * probes return None (SQL `= NaN` matches nothing; keeping the
    * file is the conservative no-op). */
  private def hashesOf(bf: BloomFilter, tag: Char, v: Any): Option[Seq[Long]] =
    (tag, v) match {
      case (_, null) => None
      case ('i', i: Int) => Some(Seq(bf.hash(i)))
      case ('i', s: Short) => Some(Seq(bf.hash(s.toInt)))
      case ('i', b: Byte) => Some(Seq(bf.hash(b.toInt)))
      case ('l', l: Long) => Some(Seq(bf.hash(l)))
      case ('f', f: Float) =>
        if (f.isNaN) None
        else if (f == 0.0f) Some(Seq(bf.hash(0.0f), bf.hash(-0.0f)))
        else Some(Seq(bf.hash(f)))
      case ('d', d: Double) =>
        if (d.isNaN) None
        else if (d == 0.0d) Some(Seq(bf.hash(0.0d), bf.hash(-0.0d)))
        else Some(Seq(bf.hash(d)))
      case ('s', u: UTF8String) =>
        Some(Seq(bf.hash(Binary.fromConstantByteArray(u.getBytes))))
      case ('y', b: Array[Byte]) =>
        Some(Seq(bf.hash(Binary.fromConstantByteArray(b))))
      case _ => None
    }

  /** May any of `keys` live in a column whose row-group filters are
    * `fs`? The one probe loop both [[mayMatch]] and
    * [[filesMayContainKeys]] run: true on an empty filter list, an
    * un-hashable key shape, or any single filter hit. */
  private def anyKeyMay(fs: Seq[BlockSplitBloomFilter], tag: Char,
                        keys: Seq[Any]): Boolean =
    fs.isEmpty || keys.exists(k => fs.exists { bf =>
      hashesOf(bf, tag, k) match {
        case Some(hs) => hs.exists(bf.findHash)
        case None => true
      }
    })

  /** Could a row of `file` match every filter, as far as its bloom
    * filters can tell? Over-approximating: only an equality/IN leaf
    * whose every candidate key bloom-misses every row group proves
    * `false`; everything else is `true`. */
  def mayMatch(filters: Seq[CExpression],
               cols: Map[String, (Char, Seq[BlockSplitBloomFilter])]): Boolean =
    filters.forall(may(_, cols))

  private def may(e: CExpression,
                  cols: Map[String, (Char, Seq[BlockSplitBloomFilter])]): Boolean = {
    def probe(a: AttributeReference, v: Any): Boolean =
      cols.find(_._1.equalsIgnoreCase(a.name)).map(_._2) match {
        case None => true
        case Some((tag, fs)) => anyKeyMay(fs, tag, Seq(v))
      }
    e match {
      case And(l, r) => may(l, cols) && may(r, cols)
      case Or(l, r) => may(l, cols) || may(r, cols)
      case EqualTo(a: AttributeReference, CLiteral(v, _)) => probe(a, v)
      case EqualTo(CLiteral(v, _), a: AttributeReference) => probe(a, v)
      case EqualNullSafe(a: AttributeReference, CLiteral(v, _)) if v != null =>
        probe(a, v)
      case EqualNullSafe(CLiteral(v, _), a: AttributeReference) if v != null =>
        probe(a, v)
      // an IN-list past the same cap commit-time narrowing uses keeps
      // conservatively: a large runtime/DPP InSet would otherwise cost
      // |values| x row-group-filters hash probes PER RULED-OUT FILE on
      // the driver at planning time
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[CLiteral]) =>
        vs.size > MAX_NARROW_KEYS ||
          vs.exists(l => probe(a, l.asInstanceOf[CLiteral].value))
      case InSet(a: AttributeReference, vs) =>
        vs.size > MAX_NARROW_KEYS || vs.exists(probe(a, _))
      case _ => true
    }
  }

  /** Above this many matched keys the commit-time bloom narrowing
    * stands down (scope stays stats-narrowed): unlike the stats half's
    * O(files·log keys) interval search, a bloom probe is per-key — a
    * ruled-OUT file costs |keys| probes, so a max-delete-keys-sized
    * merge (1M) against a large snapshot would stall the commit for a
    * scope refinement that CDC-sized batches get for free. */
  private val MAX_NARROW_KEYS = 10000

  /** The subset of `files` whose bloom filters cannot rule out holding
    * at least one of `keys` in `colName` — the bloom half of
    * [[FileStats.filesMayContainKeys]], composed after it on the
    * merge-on-read equality-entry write path so a scattered CDC merge
    * on a hash-shaped key scopes its entry to the files that actually
    * hold the keys (min/max sees the whole space there). Same
    * may-match contract: no store / no column / shape mismatch / a
    * key set past [[MAX_NARROW_KEYS]] keeps the file. */
  def filesMayContainKeys(idx: Index, files: Set[String], colName: String,
                          keys: Seq[Any]): Set[String] = {
    if (idx.isEmpty || keys.isEmpty || keys.size > MAX_NARROW_KEYS)
      return files
    files.filter { f =>
      idx.get(f).flatMap(_.find(_._1.equalsIgnoreCase(colName)).map(_._2)) match {
        case None => true
        case Some((tag, fs)) => anyKeyMay(fs, tag, keys)
      }
    }
  }
}
