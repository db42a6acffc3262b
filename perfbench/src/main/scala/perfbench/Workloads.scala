package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.Graft
import graft.medallion.{BronzeGen, MdpConfig, Pipeline}

/** Input sizes. They are chosen so that one pass takes about a second or
  * two on a 4-core host and a run fits its time budget (README.md). */
object Sizes {
  /** Medallion ingest at 4 KB payload rows (1,465 rows). */
  val EtlGb = 0.006
  /** Catalog table: initial rows, rows appended, merged and inserted per
    * round, rounds per pass. */
  val CatalogRows = 50000L
  val AppendRows = 5000L
  val MergeRows = 2000L
  val MergeNewRows = 500L
  val Rounds = 1
  /** The SQL gates timed: a shuffle join, a running window and an EXISTS
    * chain. One warm pass of all 44 gates takes about 15 s on a 4-core
    * host, more than a run's time budget allows (README.md). */
  val Gates = Seq("q04_fact_join", "q06_window_running", "q27_exists_chain")
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }

  /** Regular files under `roots`, keyed by inode so hard links count once:
    * inode -> (relative path, bytes). */
  def snapshot(roots: Seq[String]): Map[Long, (String, Long)] =
    roots.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { root =>
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        Files.getAttribute(f, "unix:ino").asInstanceOf[Long] ->
          (root.relativize(f).toString, Files.size(f))
      }.toSeq
      finally w.close()
    }.toMap

  private def isMeta(rel: String): Boolean =
    rel.split('/').exists(c => c.startsWith("_") || c.startsWith("."))

  /** files_written, bytes_written and metadata_files between snapshots. */
  def written(before: Map[Long, (String, Long)], after: Map[Long, (String, Long)])
      : Map[String, Double] = {
    val fresh = (after -- before.keySet).values.toSeq
    val (meta, data) = fresh.partition(f => isMeta(f._1))
    Map("files_written" -> data.size.toDouble,
      "bytes_written" -> fresh.map(_._2).sum.toDouble,
      "metadata_files" -> meta.size.toDouble)
  }
}

/** Shared helpers for the traced run. */
object Layer {
  val EngineKeys = Seq("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "wall_s", "driver_s")

  def pick(prefix: String, m: Map[String, Double], keys: Seq[String]): Map[String, Double] =
    keys.map(k => s"$prefix.$k" -> m.getOrElse(k, 0.0)).toMap

  /** Run `f` as a traced operation, recording what it wrote under `roots`. */
  def withWrites[A](ctx: Ctx, p: Pass, op: String, roots: => Seq[String])(f: => A): Option[A] =
    ctx.trace match {
      case None => p.op(op)(f)
      case Some(t) =>
        val before = Fs.snapshot(roots)
        val r = p.op(op)(f)
        Fs.written(before, Fs.snapshot(roots)).foreach { case (k, v) => t.record(p.index, op, k, v) }
        r
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Pipeline bronze -> silver -> gold at 4 KB payload rows. */
final class MedallionEtl(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val cfg = MdpConfig(baseDir = s"${ctx.work}/mdp", ingestGb = Sizes.EtlGb,
    partitions = Main.Parallelism, compression = "none", targetFileMb = 128, payloadKb = 4,
    silverShufflePartitions = Main.Parallelism, seed = ctx.seed, baseEpochS = 1754982000L)
  private def roots = Seq(cfg.baseDir, s"${ctx.work}/warehouse")
  /** Ingest size as Pipeline.bronze reports it (`Est. Size`). */
  private def estGb(c: MdpConfig): Double =
    BronzeGen.rowsFor(c.ingestGb, c.payloadKb, c.partitions) * (300.0 + c.payloadKb * 1024) /
      (1L << 30)

  def reset(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${cfg.goldFqn}")
    spark.sql(s"DROP TABLE IF EXISTS ${cfg.silverFqn}")
    roots.foreach(r => Fs.delete(Paths.get(r)))
  }

  def run(p: Pass): Unit = {
    Layer.withWrites(ctx, p, "bronze", roots)(Pipeline.bronze(spark, cfg))
    Layer.withWrites(ctx, p, "silver", roots)(Pipeline.silver(spark, cfg))
    Layer.withWrites(ctx, p, "gold", roots)(Pipeline.gold(spark, cfg))
  }

  private def location(fqn: String): String =
    spark.sql(s"DESCRIBE FORMATTED $fqn").where(col("col_name") === "Location")
      .collect().head.getString(1).stripPrefix("file:")

  def finish(out: Json.Obj): Unit = {
    // a second bronze write of the same seed, beside the last pass's, for
    // the determinism check
    val again = cfg.copy(baseDir = s"${ctx.work}/mdp_again")
    Pipeline.bronze(spark, again)
    out("checks") = Json.Obj(
      "bronze" -> cfg.bronzeUri, "bronze_again" -> again.bronzeUri,
      "silver" -> location(cfg.silverFqn), "gold" -> location(cfg.goldFqn))
  }

  def layers(t: Trace, pass: Int): Map[String, Double] = {
    val keys = Layer.EngineKeys ++ Seq("bytes_written", "files_written")
    val per = Seq("bronze", "silver", "gold").map(op => op -> t.get(pass, op)).toMap
    def wall(op: String) = per(op).getOrElse("wall_s", 0.0)
    def gbpm(gb: Double, s: Double) = if (s > 0) gb / s * 60 else 0.0
    per.flatMap { case (op, m) => Layer.pick(s"medallion.$op", m, keys) } ++ Map(
      "medallion.etl_gb_per_min" -> gbpm(estGb(cfg), wall("bronze") + wall("silver") + wall("gold")),
      "medallion.bronze_gb_per_min" -> gbpm(estGb(cfg), wall("bronze")),
      "medallion.silver_gb_per_min" -> gbpm(estGb(cfg), wall("silver")))
  }
}

/** Graft.dedupCorpus over the documents replicated K times (run.py writes
  * `corpus.parquet`; replica i shifts the id by i * 10^7 and appends " r<i>"
  * to the text, as graft.Stress does), and once more, untimed, over replica 0
  * alone (`corpus_k1.parquet`), the K = 1 reference the check compares to. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private def corpus(k1: Boolean) =
    spark.read.parquet(s"${ctx.data}/${if (k1) "corpus_k1" else "corpus"}.parquet")
  private var docs = 0L
  private var kept: Array[Long] = Array.empty

  override def prepare(): Unit = docs = corpus(k1 = false).count()

  def reset(): Unit = ()

  private def keptIds(df: DataFrame): Array[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted

  def run(p: Pass): Unit = {
    p.op("dedup")(Graft.dedupCorpus(corpus(k1 = false), col("doc_id"), col("text"))).foreach { r =>
      val ids = keptIds(r)
      r.unpersist()
      if (kept.nonEmpty && !ids.sameElements(kept))
        sys.error(s"pass ${p.index} kept ${ids.length} docs, an earlier pass ${kept.length}")
      kept = ids
    }
    // traced runs also time the sub-calls one at a time, each persisted
    // so that a sub-call's time excludes its inputs'
    if (!p.warmup) ctx.trace.foreach { t =>
      val keyed = corpus(k1 = false).withColumn("__id", col("doc_id"))
      val keepers = keyed.groupBy(md5(col("text"))).agg(min(col("__id")).as("__id"))
      val uniq = keyed.join(keepers, Seq("__id"), "left_semi").persist(StorageLevel.MEMORY_ONLY)
      uniq.count()
      val sigs = Graft.minhashSignatures(uniq, col("__id"), col("text"), assumeUniqueIds = true)
        .persist(StorageLevel.MEMORY_ONLY)
      p.op("signatures")(Layer.noop(sigs))
      val pairs = Graft.nearDupPairs(sigs).persist(StorageLevel.MEMORY_ONLY)
      p.op("candidates")(Layer.noop(pairs))
      val edges = Graft.jaccardVerify(uniq, col("__id"), col("text"), pairs)
        .where(col("jaccard") >= 0.5).persist(StorageLevel.MEMORY_ONLY)
      p.op("verify")(Layer.noop(edges))
      val cc = Graft.connectedComponents(edges, col("id_a"), col("id_b"))
        .persist(StorageLevel.MEMORY_ONLY)
      p.op("components")(Layer.noop(cc))
      t.record(p.index, "candidates", "pairs", pairs.count().toDouble)
      t.record(p.index, "verify", "edges", edges.count().toDouble)
      t.record(p.index, "components", "components",
        cc.select("component").distinct().count().toDouble)
    }
  }

  def finish(out: Json.Obj): Unit = {
    val k1 = Graft.dedupCorpus(corpus(k1 = true), col("doc_id"), col("text"))
    val keptK1 = keptIds(k1)
    val keptPath = s"${ctx.work}/kept.parquet"
    corpus(k1 = false).where(col("doc_id").isin(kept: _*)).select("doc_id", "text")
      .coalesce(1).write.parquet(keptPath)
    out("checks") = Json.Obj("docs" -> docs, "kept" -> keptPath, "kept_k1_ids" -> keptK1.toSeq)
  }

  def layers(t: Trace, pass: Int): Map[String, Double] = {
    val d = t.get(pass, "dedup")
    val pairs = t.get(pass, "candidates").getOrElse("pairs", 0.0)
    val edges = t.get(pass, "verify").getOrElse("edges", 0.0)
    def wall(op: String) = t.get(pass, op).getOrElse("wall_s", 0.0)
    Layer.pick("api.dedup", d, Seq("stages", "tasks", "executor_cpu_s", "gc_s",
      "shuffle_write_bytes", "spill_bytes", "driver_s", "wall_s")) ++ Map(
      "api.dedup.docs_per_s" -> docs / wall("dedup"),
      "api.signatures.wall_s" -> wall("signatures"),
      "api.candidates.wall_s" -> wall("candidates"),
      "api.candidates.pairs" -> pairs,
      "api.verify.wall_s" -> wall("verify"),
      "api.verify.edges" -> edges,
      "api.verify.yield" -> (if (pairs > 0) edges / pairs else 0.0),
      "api.components.wall_s" -> wall("components"),
      "api.components.components" -> t.get(pass, "components").getOrElse("components", 0.0))
  }
}

/** Rounds of append -> MERGE -> DELETE commits, each followed by a group-by
  * read and a range count, on a copy-on-write table and on a merge-on-read
  * table with a primary key. Every row is a pure function of its id, and the
  * op sequence depends only on the seed, so run.py replays it on a model. */
final class CatalogUpserts(ctx: Ctx) extends Workload {
  import CatalogUpserts._
  private val spark = ctx.spark
  private val wh = s"${ctx.work}/catalog_wh"
  private val s = ctx.seed
  // per-pass observations, checked by run.py against its model
  private val observed = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]

  override def prepare(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sources.AtomicParquetCatalog")
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.db")
  }

  private def rows(df: DataFrame): DataFrame =
    df.select(col("id"), (col("id") % 16).as("grp"), (col("id") * 7919 % 10007).as("v"))

  def reset(): Unit = Tables.foreach { case (t, _) => spark.sql(s"DROP TABLE IF EXISTS $Cat.db.$t") }

  def run(p: Pass): Unit = {
    val obs = Json.Obj()
    for ((t, mor) <- Tables) {
      val fqn = s"$Cat.db.$t"
      val pre = if (mor) "mor_" else ""
      val dir = Seq(s"$wh/db/$t")
      Layer.withWrites(ctx, p, s"${pre}create", dir) {
        val w = rows(spark.range(0, Sizes.CatalogRows).toDF()).writeTo(fqn).using("parquet")
        if (mor) {
          Seq("merge", "update", "delete").foldLeft(w)((w, op) =>
            w.tableProperty(s"write.$op.mode", "merge-on-read")).createOrReplace()
          spark.sql(s"ALTER TABLE $fqn ADD CONSTRAINT pk PRIMARY KEY (id) NOT ENFORCED")
        } else w.createOrReplace()
      }
      val rounds = (1 to Sizes.Rounds).map { r =>
        val plan = Plan(s, r)
        Layer.withWrites(ctx, p, s"${pre}append", dir) {
          rows(spark.range(plan.appendLo, plan.appendHi).toDF()).writeTo(fqn).append()
        }
        Layer.withWrites(ctx, p, s"${pre}merge", dir) {
          spark.range(Sizes.MergeRows).select((col("id") * plan.mergeStep + plan.mergeLo).as("id"))
            .union(spark.range(plan.newLo, plan.newLo + Sizes.MergeNewRows).toDF())
            .select(col("id"), (col("id") % 16).as("grp"),
              ((col("id") * 31 + r * 17 + s) % 10007).as("v"))
            .createOrReplaceTempView("perfbench_src")
          spark.sql(s"""MERGE INTO $fqn t USING perfbench_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
        }
        Layer.withWrites(ctx, p, s"${pre}delete", dir) {
          spark.sql(s"DELETE FROM $fqn WHERE id % $DeleteMod = ${plan.deleteRem}")
        }
        val groups = p.op(s"${pre}read") {
          val g = spark.sql(s"SELECT grp, count(*), sum(v) FROM $fqn GROUP BY grp").collect()
            .map(x => Seq(x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_.head).toSeq
          val n = spark.sql(s"SELECT count(*) FROM $fqn WHERE id BETWEEN ${plan.rangeLo} " +
            s"AND ${plan.rangeHi}").head().getLong(0)
          (g, n)
        }
        val agg = spark.sql(s"SELECT count(*), sum(v), sum(pmod(id * 2654435761, 4294967311)) " +
          s"FROM $fqn").head()
        Json.Obj("groups" -> groups.map(_._1).getOrElse(Nil),
          "range_count" -> groups.map(_._2).getOrElse(-1L),
          "count" -> agg.getLong(0), "sum_v" -> agg.getLong(1), "checksum" -> agg.getLong(2))
      }
      obs(t) = rounds
    }
    val diff = spark.sql(s"SELECT count(*) FROM ((SELECT * FROM $Cat.db.cow EXCEPT ALL " +
      s"SELECT * FROM $Cat.db.mor) UNION ALL (SELECT * FROM $Cat.db.mor EXCEPT ALL " +
      s"SELECT * FROM $Cat.db.cow))").head().getLong(0)
    obs("cow_mor_row_diff") = diff
    observed += obs
  }

  def finish(out: Json.Obj): Unit =
    out("checks") = Json.Obj("warehouse" -> wh, "passes" -> observed.toSeq,
      "catalog_rows" -> Sizes.CatalogRows, "append_rows" -> Sizes.AppendRows,
      "merge_rows" -> Sizes.MergeRows, "merge_new_rows" -> Sizes.MergeNewRows,
      "rounds" -> Sizes.Rounds, "delete_mod" -> DeleteMod)

  def layers(t: Trace, pass: Int): Map[String, Double] = {
    val commit = Seq("wall_s", "driver_s", "executor_cpu_s", "bytes_written", "files_written",
      "metadata_files")
    val commits = Seq("append", "merge", "delete", "mor_merge", "mor_delete")
      .flatMap(op => Layer.pick(s"catalog.$op", t.get(pass, op), commit))
    val reads = Seq("read", "mor_read")
      .flatMap(op => Layer.pick(s"catalog.$op", t.get(pass, op),
        Seq("wall_s", "input_files", "input_bytes", "rows_read")))
    val files = Fs.snapshot(Tables.map(x => s"$wh/db/${x._1}"))
    val live = Tables.flatMap { case (tbl, _) =>
      val dir = Paths.get(wh, "db", tbl)
      val head = Files.readAllLines(dir.resolve("_current")).asScala.map(_.trim).find(_.nonEmpty)
      head.map(v => Fs.snapshot(Seq(dir.resolve(v).toString))).getOrElse(Map.empty)
    }.toMap
    (commits ++ reads).toMap ++ Map(
      "catalog.storage.live_bytes" -> live.values.map(_._2).sum.toDouble,
      "catalog.storage.total_bytes" -> files.values.map(_._2).sum.toDouble)
  }
}

object CatalogUpserts {
  val Cat = "perfbench"
  /** (table, merge-on-read) */
  val Tables = Seq("cow" -> false, "mor" -> true)
  val DeleteMod = 97

  /** Round `r`'s operations, a function of the seed only (run.py's model
    * computes the same values). */
  final case class Plan(seed: Long, r: Int) {
    val appendLo: Long = Sizes.CatalogRows + (r - 1) * Sizes.AppendRows
    val appendHi: Long = appendLo + Sizes.AppendRows
    val mergeStep: Long = 7 + seed % 5
    val mergeLo: Long = (seed * 1009 + r * 7919) % Sizes.CatalogRows
    val newLo: Long = 10000000L + r * 100000L
    val deleteRem: Long = (seed + r) % DeleteMod
    val rangeLo: Long = (seed * 31 + r * 4099) % Sizes.CatalogRows
    val rangeHi: Long = rangeLo + 20000
  }
}

/** Gates of graft.ops.Relational, Scalars, Advanced, SqlSurface and AsOf
  * over run.py's star-schema tables, each written to a noop sink. */
final class SqlQueries(ctx: Ctx) extends Workload {
  import graft.ops._
  private val spark = ctx.spark
  private val gates = (Relational.queries ++ Scalars.queries ++ Advanced.queries ++
    SqlSurface.queries ++ AsOf.queries).filter(g => Sizes.Gates.contains(g._1)).toSeq.sortBy(_._1)
  private val oracles = Relational.oracles ++ Scalars.oracles ++ Advanced.oracles ++
    SqlSurface.oracles ++ AsOf.oracles

  def reset(): Unit = ()

  private val dir = s"${ctx.work}/sql_out"

  /** The warm-up pass writes each result to parquet for the DuckDB check;
    * timed passes write to the noop sink. */
  def run(p: Pass): Unit = gates.foreach { case (name, fn) =>
    p.op(name) {
      val df = fn(spark, ctx.data)
      if (p.warmup) df.coalesce(1).write.parquet(s"$dir/$name") else Layer.noop(df)
    }
  }

  def finish(out: Json.Obj): Unit = {
    out("checks") = Json.Obj("out" -> dir, "gates" -> gates.size,
      "oracle" -> gates.map { case (n, _) => n -> oracles(n) }.toMap)
  }

  def layers(t: Trace, pass: Int): Map[String, Double] = {
    val per = gates.map { case (n, _) => t.get(pass, n) }
    def total(k: String) = per.map(_.getOrElse(k, 0.0)).sum
    Map("ops.wall_s" -> total("wall_s"), "ops.shuffle_bytes" -> total("shuffle_write_bytes")) ++
      Seq("planning_s", "driver_s", "executor_cpu_s", "stages", "tasks", "exchanges",
        "reused_exchanges", "broadcast_joins", "sort_merge_joins", "codegen_stages")
        .map(k => s"ops.$k" -> total(k))
  }
}
