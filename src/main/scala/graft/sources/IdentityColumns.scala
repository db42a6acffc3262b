package graft.sources

import java.nio.file.{Path => JPath, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{IdentityColumn, ResolveDefaultColumns}
import org.apache.spark.sql.connector.catalog.{IdentityColumnSpec, Column => V2Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IDENTITY COLUMNS on the atomic catalog (`GENERATED { ALWAYS | BY
  * DEFAULT } AS IDENTITY`, the Delta/Iceberg-v3 surface): the spec
  * (start/step/allowExplicitInsert) rides in the field's metadata under
  * Spark's own [[IdentityColumn]] keys, and GENERATION happens in the
  * connector's append path — Spark's analyzer passes omitted identity
  * values through as nulls and leaves generation entirely to the
  * connector.
  *
  * Generation is per-write-allocated: new values continue from the
  * table's high watermark, read from the commit-time FOOTER stats
  * ([[FileStats]]) of the pinned base version — O(metadata), with a
  * targeted max() scan over only the files stats do not cover (the
  * best-effort gap). Within the write, `monotonically_increasing_id`
  * spreads per-partition blocks of 2^33, so values are UNIQUE and
  * DIRECTIONAL but not contiguous — the exact identity contract Delta
  * documents (gaps allowed, no ordering across writers).
  *
  * Concurrency: an append into an identity table does NOT rebase on a
  * CAS conflict — two racing appends would have allocated overlapping
  * value ranges from the same watermark, so the loser must re-run and
  * re-allocate (Delta resolves identity races the same way: allocation
  * conflicts are real conflicts). Row-level rewrites (MERGE inserts)
  * and streaming epochs refuse null identity values pointedly instead
  * of silently writing nulls. */
private[sources] object IdentityColumns {

  def has(schema: StructType): Boolean =
    schema.fields.exists(IdentityColumn.isIdentityColumn)

  def specs(schema: StructType): Seq[(StructField, IdentityColumnSpec)] =
    schema.fields.toSeq.flatMap(f =>
      IdentityColumn.getIdentityInfo(f).map(f -> _))

  /** Build the StructField for a v2 Column, preserving the comment,
    * DEFAULT value metadata and IDENTITY spec — the conversion Spark's
    * default `createTable(Column[])` performs DROPS the identity spec,
    * which is why the catalog overrides that variant and routes here. */
  def toField(c: V2Column): StructField = {
    val mb = new MetadataBuilder()
    Option(c.metadataInJSON())
      .foreach(j => mb.withMetadata(Metadata.fromJson(j)))
    Option(c.comment()).foreach(mb.putString("comment", _))
    Option(c.defaultValue()).foreach { dv =>
      val folded = org.apache.spark.sql.catalyst.expressions
        .Literal(dv.getValue.value, dv.getValue.dataType).sql
      mb.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
        Option(dv.getSql).getOrElse(folded))
      mb.putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
        folded)
    }
    Option(c.identityColumnSpec()).foreach { spec =>
      require(spec.getStep != 0, s"column ${c.name()}: identity step 0")
      // BIGINT only (Delta's posture): generation allocates per-partition
      // blocks of 2^33 via monotonically_increasing_id, so a narrower
      // type's cast would silently wrap or null — duplicate identities
      require(c.dataType() == LongType,
        s"column ${c.name()}: IDENTITY columns must be BIGINT — " +
          s"${c.dataType().simpleString} cannot hold the allocated " +
          "value ranges (per-partition blocks spread across 2^33)")
      mb.putLong(IdentityColumn.IDENTITY_INFO_START, spec.getStart)
      mb.putLong(IdentityColumn.IDENTITY_INFO_STEP, spec.getStep)
      mb.putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
        spec.isAllowExplicitInsert)
    }
    require(c.generationExpression() == null,
      s"column ${c.name()}: GENERATED ALWAYS AS (expr) is not supported " +
        "— generated-expression columns need write-time computation " +
        "this catalog does not do; compute the column in the writing " +
        "query")
    StructField(c.name(), c.dataType(), c.nullable(), mb.build())
  }

  /** Fill null identity values of `df` with freshly allocated ones,
    * continuing from the base version's high watermark. GENERATED
    * ALWAYS (allowExplicitInsert=false) columns REFUSE explicit
    * non-null input inside the same write pass (`assert_true` in the
    * projection — no extra scan). */
  def fillGenerated(spark: SparkSession, df: DataFrame, schema: StructType,
      tableDir: JPath, versionDir: JPath): DataFrame =
    specs(schema).foldLeft(df) { case (d, (f, spec)) =>
      val step = spec.getStep
      val base = watermark(spark, tableDir, versionDir, schema, f.name,
        ascending = step > 0) match {
        case Some(w) => w + step
        case None => spec.getStart
      }
      val gen = (lit(base) + lit(step) * monotonically_increasing_id())
        .cast(f.dataType)
      val filled =
        if (spec.isAllowExplicitInsert) coalesce(col(f.name), gen)
        else when(isnotnull(assert_true(col(f.name).isNull,
            lit(s"column ${f.name} is GENERATED ALWAYS AS IDENTITY — " +
              "explicit values are not allowed; omit the column (or " +
              "declare it GENERATED BY DEFAULT)"))),
          lit(null).cast(f.dataType)).otherwise(gen)
      d.withColumn(f.name, filled)
    }

  /** Guard for write paths that do NOT generate (row-level rewrites,
    * dynamic overwrite, streaming epochs): fail pointedly if a null
    * identity value would be written. One `assert_true` column in the
    * pass the caller already makes over the rows — no extra scan. */
  def refuseNulls(df: DataFrame, schema: StructType, path: String): DataFrame =
    specs(schema).foldLeft(df) { case (d, (f, _)) =>
      d.withColumn(f.name,
        when(isnotnull(assert_true(col(f.name).isNotNull,
            lit(s"column ${f.name} is an IDENTITY column and $path does " +
              "not allocate identity values — provide the value " +
              "explicitly (GENERATED BY DEFAULT) or use a plain append"))),
          lit(null).cast(f.dataType)).otherwise(col(f.name)))
    }

  /** The table's identity high watermark for `colName` on the pinned
    * base version: max (ascending) / min (descending) over the files'
    * commit-time footer stats, with a targeted scan over only the
    * files the best-effort stats store does not cover. */
  private def watermark(spark: SparkSession, tableDir: JPath,
      versionDir: JPath, schema: StructType, colName: String,
      ascending: Boolean): Option[Long] = {
    val rels = MetaStore.dataFiles(versionDir)
      .map(p => versionDir.relativize(Paths.get(p)).toString)
    if (rels.isEmpty) return None
    val stats = FileStats.load(tableDir)
    def better(a: Long, b: Long): Long =
      if (ascending) math.max(a, b) else math.min(a, b)
    var agg: Option[Long] = None
    var uncovered = List.empty[String]
    rels.foreach { r =>
      stats.get(r) match {
        case Some(fs) if fs.rows == 0L => () // empty file: no values
        case Some(fs) =>
          fs.cols.get(colName)
            .flatMap(c => if (ascending) c.mx else c.mn) match {
            case Some(n: Number) =>
              val v = n.longValue()
              agg = Some(agg.fold(v)(better(_, v)))
            case _ => uncovered ::= r
          }
        case None => uncovered ::= r
      }
    }
    if (uncovered.nonEmpty) {
      val paths = uncovered.map(versionDir.resolve(_).toString)
      val extreme = if (ascending) max(col(colName)) else min(col(colName))
      val row = spark.read.schema(schema).parquet(paths: _*)
        .agg(extreme.cast(LongType)).head
      if (!row.isNullAt(0)) {
        val v = row.getLong(0)
        agg = Some(agg.fold(v)(better(_, v)))
      }
    }
    agg
  }
}
