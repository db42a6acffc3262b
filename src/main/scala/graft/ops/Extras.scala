package graft.ops

import graft.{Det, Tables}
import graft.sources.MetaStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-2 operator families: CUBE grouping sets, window navigation
  * functions, and deterministic hash sampling.
  *
  * Sampling note: `TABLESAMPLE`/`df.sample` draw from engine-specific RNG
  * streams that can never hash-match across engines (and re-draw across
  * retried tasks unless the input partitioning is frozen). A hash of a key
  * column is the reproducible alternative a training-data pipeline
  * actually wants: membership is a pure row property, stable under
  * re-partitioning, re-runs, and engine changes.
  */
object Extras {
  import Det._

  /** q42: CUBE over region/nation with grouping_id — all four grouping
    * sets (r,n / r / n / ()) in one Expand pass, the bitmask disambiguating
    * natural nulls from subtotal rows. */
  def q42Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube($"r_name", $"n_name")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("total_balance"))
      .select($"r_name", $"n_name", $"gid", $"n_customers", $"total_balance")
      .orderBy($"gid", $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** q43: window navigation — first/last/nth over the full partition frame
    * plus lag/lead with defaults, per user ordered by (ts, event_id). */
  def q43WindowNav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"ts", $"value",
        first($"value").over(wFull).as("first_val"),
        last($"value").over(wFull).as("last_val"),
        nth_value($"value", 2).over(wFull).as("second_val"),
        lag($"value", 1, -1.0).over(w).as("prev_val"),
        lead($"value", 1, -1.0).over(w).as("next_val"))
      .select($"event_id", $"first_val", $"last_val", $"second_val",
        $"prev_val", $"next_val")
      .orderBy($"event_id")
  }

  /** q44: deterministic sampling — a ~5% uniform sample by key-hash bucket
    * and a fixed-size stratified sample (3 rows per event_type by hash
    * order), unioned with a kind label. Both are pure row/group properties:
    * identical results on any engine, any partitioning, any retry. */
  def q44HashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "events")
    val bucket = conv(substring(md5($"event_id".cast(StringType)), 1, 4), 16, 10)
      .cast(LongType)
    val uniform = e.where(bucket % 20 === 0)
      .select(lit("uniform").as("sample_kind"), $"event_id", $"event_type")
    val w = Window.partitionBy($"event_type").orderBy(bucket.asc, $"event_id".asc)
    val stratified = e
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select(lit("stratified").as("sample_kind"), $"event_id", $"event_type")
    uniform.union(stratified).orderBy($"sample_kind", $"event_id")
  }

  /** q45: the Spark 4 VARIANT type — parse_json into a variant, typed
    * variant_get extraction paths (present, missing, wrongly-typed) — the
    * semi-structured fast path that replaces repeated get_json_object
    * string re-parsing. The oracle extracts the same scalars from the raw
    * JSON text. */
  def q45Variant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select($"event_id", parse_json($"props").as("v"))
      .select(
        $"event_id",
        variant_get($"v", "$.k", "bigint").as("k_val"),
        variant_get($"v", "$.k", "string").as("k_str"),
        try_variant_get($"v", "$.missing", "bigint").as("missing_val"),
        is_variant_null(variant_get($"v", "$.k", "variant")).as("k_is_null"))
      .orderBy($"event_id")
  }

  /** q46: error-safe ANSI arithmetic — the try_* family returns NULL where
    * strict ANSI mode would raise (division by zero, bad casts, missing
    * array slots), the semantics batch pipelines want for dirty data. */
  def q46TryFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(
        $"event_id",
        expr("try_divide(value, pmod(event_id, 3))").as("try_div"),
        // mostly-NUMERIC input with a 1% junk tail: try_cast's null-on-bad
        // path is still exercised, but not as a 100%-failure exception
        // storm (profiled at 3.2 s for 100k rows of guaranteed-throwing
        // input — the JVM exception fill, not the cast, was the cost)
        expr("""try_cast(concat(cast(user_id AS STRING),
                CASE WHEN event_id % 100 = 0 THEN 'x' ELSE '' END)
              AS BIGINT)""").as("try_int"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("try_json_int"),
        expr("try_element_at(split(event_type, 'a'), 2)").as("try_elem"),
        expr("try_to_number(cast(value as string), '999999.99')")
          .cast(DoubleType).as("try_num"))
      .orderBy($"event_id")
  }

  /** q48: ordered string aggregation — listagg / string_agg with an
    * explicit WITHIN GROUP ordering (the deterministic form; an unordered
    * listagg is partition-order-dependent and un-oracle-able). */
  def q48StringAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "supplier")
      .groupBy($"s_nationkey")
      .agg(
        expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)").as("names"),
        count(lit(1)).as("n_suppliers"))
      .orderBy($"s_nationkey")
  }

  /** q47: bitwise function family over integer keys. */
  def q47Bitwise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(
        $"event_id",
        ($"event_id".bitwiseAND(255)).as("band"),
        ($"event_id".bitwiseOR(4096)).as("bor"),
        ($"event_id".bitwiseXOR($"user_id")).as("bxor"),
        shiftleft($"event_id", 3).cast(LongType).as("shl"),
        shiftright($"event_id", 2).cast(LongType).as("shr"),
        bit_count($"event_id").cast(LongType).as("nbits"))
      .orderBy($"event_id")
  }

  /** q53: Z-order layout clustering — the data-layout optimization behind
    * multi-dimensional scan pruning (the OPTIMIZE ZORDER BY idiom): both
    * cluster keys' bits interleave into one z-value, rows sort by it, and
    * each resulting file group covers a TIGHT bounding box in (x, y) space,
    * so a predicate on either dimension prunes most files. The gate
    * computes 8-bit-interleaved z-values over (user bucket, value bucket),
    * splits the z-order into 16 groups, and reports each group's bounding
    * box — the pruning effectiveness a table optimizer would act on. Pure
    * bit arithmetic, identical in any engine.
    *
    * GATE-ONLY FORM: the ntile over a global total order exists because
    * sampled range boundaries are not oracle-able bit-exact; it must never
    * run at scale (one reducer sorts everything). The real layout path is
    * [[graft.medallion.Maintenance.zorderLayout]] — repartitionByRange on
    * the z-value + within-partition sort, file-pruning proven in
    * ZorderLayoutSpec. */
  def q53ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val x = ($"user_id" % 256).cast(IntegerType)
    val y = (floor($"value").cast(IntegerType) % 256)
    val z = graft.api.Graft.zorderValue(x, y)
    Tables.load(s, dir, "events")
      .select($"event_id", x.as("x"), y.as("y"), z.as("z"))
      .withColumn("zgroup",
        ntile(16).over(Window.orderBy($"z", $"event_id")).cast(LongType))
      .groupBy($"zgroup")
      .agg(count(lit(1)).as("n_rows"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .orderBy($"zgroup")
  }

  /** q54: higher-order array functions — transform / filter / exists /
    * forall / aggregate / zip_with over the embedding vectors. Outputs are
    * integer-exact (counts, index sums, booleans) or selection-based
    * (array_max picks an element, no arithmetic), so every column is
    * engine-portable bit-for-bit. The whole gate is one narrow codegen'd
    * projection: the lambda forest runs inside WholeStageCodegen with no
    * shuffle and no UDF. */
  def q54HigherOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = transform($"embedding", x => x.cast(DoubleType))
    Tables.load(s, dir, "embeddings")
      .select($"vec_id",
        size(filter(v, x => x > 0)).cast(LongType).as("n_pos"),
        exists(v, x => x > 0.9).as("any_big"),
        forall(v, x => abs(x) < 10.0).as("all_small"),
        // empty-array guard: sequence(1, 0) DESCENDS in Spark ([1, 0]),
        // which would zip-pad phantom positions while the oracle's
        // list_aggregate over an empty list is NULL — pin both to 0
        when(size(v) === 0, lit(0L)).otherwise(aggregate(
          zip_with(v, sequence(lit(1), size(v)),
            (x, i) => when(x > 0, i).otherwise(lit(0))),
          lit(0L), (acc, x) => acc + x)).as("pos_idx_sum"),
        array_max(v).as("max_val"),
        array_position(v, array_max(v)).cast(LongType).as("argmax_pos"))
      .orderBy($"vec_id")
  }

  /** q55: the map-type function family — construction (`map`), lookup
    * (`element_at`), `map_filter`, `transform_values`, `map_concat`,
    * `map_keys`/`map_values` — with scalar, integer-exact outputs (a map
    * column itself has no deterministic cross-engine rendering; the values
    * extracted from it do). The oracle computes the same scalars directly,
    * pinning the map machinery's results rather than its representation. */
  def q55MapFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = map(lit("u"), $"user_id", lit("e"), $"event_id",
      lit("x"), $"event_id" % 7)
    Tables.load(s, dir, "events")
      .select($"event_id",
        element_at(m, "e").as("get_e"),
        size(map_filter(m, (_, v) => v % 2 === 0)).cast(LongType).as("n_even"),
        array_join(array_sort(map_keys(m)), ",").as("keys_csv"),
        element_at(transform_values(m, (_, v) => v * 2), "x").as("x2"),
        size(map_concat(m, map(lit("y"), $"user_id" + 1))).cast(LongType)
          .as("n_concat"),
        aggregate(map_values(m), lit(0L), (a, x) => a + x).as("vals_sum"))
      .orderBy($"event_id")
  }

  /** q58: snapshot diff / CDC — two per-(user, event_type) activity
    * snapshots over overlapping time windows, diffed into the minimal
    * added/removed/changed delta. Thin binding of
    * [[graft.api.Graft.snapshotDiff]]; the window overlap plants all
    * three change kinds (keys active only early = removed, only late =
    * added, both-with-different-stats = changed), and the compared
    * aggregates use the exact-decimal sum discipline so both engines
    * agree bit-for-bit on what "changed" means. */
  def q58SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    def snap(lo: String, hi: String): DataFrame = ev
      .where($"ts" >= to_timestamp(lit(lo)) && $"ts" < to_timestamp(lit(hi)))
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_events"), moneySum($"value").as("total_value"))
    graft.api.Graft.snapshotDiff(
      snap("2024-01-01 00:00:00", "2024-01-04 00:00:00"),
      snap("2024-01-02 00:00:00", "2024-01-06 00:00:00"),
      Seq("user_id", "event_type"), Seq("n_events", "total_value"))
      .orderBy($"user_id", $"event_type")
  }

  /** q68: time travel over REAL catalog snapshots — q58's diff semantics,
    * but the two sides are genuine committed versions of one table in
    * [[graft.sources.AtomicParquetCatalog]], read back through
    * `VERSION AS OF`: snapshot 1 is the per-status order book before
    * 1995, snapshot 2 (an atomic RTAS replace) the full history; the
    * query diffs `VERSION AS OF 1` against the current version. The
    * oracle recomputes both snapshots straight from `orders`, so the
    * gate pins that a committed-then-replaced table's PRIOR version
    * reads back bit-identical to the frame that wrote it — the
    * lakehouse time-travel contract, exercised end to end (write,
    * commit, replace, travel), not asserted. Aggregates use the
    * exact-decimal money discipline so "changed" is engine-exact. */
  def q68TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_tt")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_tt.db")
    val orders = Tables.load(s, dir, "orders")
    def snap(pred: Column): DataFrame = orders.where(pred)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), moneySum($"o_totalprice").as("total_price"))
    snap($"o_orderdate" < lit("1995-01-01").cast(DateType))
      .writeTo("graft_tt.db.order_book").using("parquet").createOrReplace()
    snap(lit(true))
      .writeTo("graft_tt.db.order_book").using("parquet").createOrReplace()
    val old = s.sql(
      "SELECT * FROM graft_tt.db.order_book VERSION AS OF 1")
      .select($"o_orderstatus", $"n_orders".as("old_n"),
        $"total_price".as("old_total"))
    val cur = s.table("graft_tt.db.order_book")
      .select($"o_orderstatus", $"n_orders".as("new_n"),
        $"total_price".as("new_total"))
    cur.join(old, Seq("o_orderstatus"), "left")
      .select($"o_orderstatus",
        coalesce($"old_n", lit(0L)).as("old_n"), $"new_n",
        coalesce($"old_total", lit(0.0)).as("old_total"), $"new_total",
        ($"new_n" - coalesce($"old_n", lit(0L))).as("n_delta"))
      .orderBy($"o_orderstatus")
  }

  /** q69: SQL `MERGE INTO` through the atomic catalog — the first
    * statement a lakehouse user types, planned by Spark's own
    * `RewriteMergeIntoTable` against
    * [[graft.sources.AtomicParquetCatalog]]'s row-level-operation
    * support (group-based copy-on-write: read the pinned snapshot,
    * evaluate the clauses, commit the merged rows as a fresh version
    * with the same CAS as a replace). The scenario exercises ALL FOUR
    * clause kinds — conditional MATCHED DELETE, MATCHED UPDATE,
    * NOT MATCHED INSERT, and conditional NOT MATCHED BY SOURCE UPDATE —
    * over a customer balance book merged with recent order spend. The
    * oracle replays the same semantics as a plain full-outer-join in
    * DuckDB, so the gate pins the MERGE result row-for-row, and the
    * money column follows the exact-decimal discipline (both engines
    * add the same two exactly-represented doubles). */
  def q69MergeInto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    // target: balance book over 2/3 of the customers (so the merge has
    // genuinely-new keys to insert); re-created each run -> idempotent
    Tables.load(s, dir, "customer").where($"c_custkey" % 3 =!= 2)
      .select($"c_custkey", $"c_acctbal".as("balance"),
        $"c_mktsegment".as("segment"))
      .writeTo("graft_ma.db.balances").using("parquet").createOrReplace()
    Tables.load(s, dir, "orders")
      .where($"o_orderdate" >= lit("1997-01-01").cast(DateType))
      .groupBy($"o_custkey")
      .agg(moneySum($"o_totalprice").as("spent"),
        count(lit(1)).as("n_orders"))
      .createOrReplaceTempView("q69_src")
    s.sql("""MERGE INTO graft_ma.db.balances t
            |USING q69_src s
            |ON t.c_custkey = s.o_custkey
            |WHEN MATCHED AND s.n_orders >= 8 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.spent
            |WHEN NOT MATCHED THEN
            |  INSERT (c_custkey, balance, segment)
            |  VALUES (s.o_custkey, s.spent, 'NEW')
            |WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 100 = 0 THEN
            |  UPDATE SET balance = CAST(0.0 AS DOUBLE)
            |""".stripMargin)
    s.table("graft_ma.db.balances").orderBy($"c_custkey")
  }

  /** q70: SQL `DELETE FROM` + `UPDATE` through the atomic catalog — the
    * two remaining row-level statements after q69's MERGE, planned by
    * Spark's `RewriteDeleteFromTable` / `RewriteUpdateTable` against the
    * same [[graft.sources.AtomicParquetCatalog]] copy-on-write support
    * (each statement reads the pinned snapshot, rewrites the surviving /
    * updated row set, and commits a fresh version with the replace CAS —
    * two statements, two new snapshots, both conflict-checked). The
    * price bump adds an exactly-representable double so both engines
    * compute bit-identical money values. */
  def q70DeleteUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_size",
        $"p_retailprice".as("price"))
      .writeTo("graft_ma.db.prices").using("parquet").createOrReplace()
    s.sql("DELETE FROM graft_ma.db.prices WHERE p_partkey % 7 = 0")
    s.sql("""UPDATE graft_ma.db.prices
            |SET price = price + CAST(100.0 AS DOUBLE), p_size = p_size + 1
            |WHERE p_brand LIKE 'Brand#1%'""".stripMargin)
    s.table("graft_ma.db.prices").orderBy($"p_partkey")
  }

  /** q71: the snapshot-log METADATA TABLE — Iceberg's
    * `SELECT * FROM tbl.history` surface on
    * [[graft.sources.AtomicParquetCatalog]]: three commits build a known
    * history, the `.history` metadata table enumerates the retained
    * snapshots (ordinal 0 = current, the `VERSION AS OF` numbering), and
    * each ordinal is read back through time travel and counted. The
    * oracle recomputes the three per-commit counts straight from
    * `supplier`, so the gate pins the whole introspection loop: commit →
    * enumerate via metadata table → travel to each enumerated snapshot.
    * The table is dropped first so the log depth is deterministic across
    * repeated runs (bench reps would otherwise accrete a 4th retained
    * snapshot). The per-ordinal collect is bounded by the retention
    * window (4 rows max). */
  def q71TableHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.sup")
    val supplier = Tables.load(s, dir, "supplier")
    supplier.where($"s_nationkey" < 10)
      .writeTo("graft_th.db.sup").using("parquet").createOrReplace()
    supplier.where($"s_nationkey" < 20)
      .writeTo("graft_th.db.sup").using("parquet").createOrReplace()
    supplier
      .writeTo("graft_th.db.sup").using("parquet").createOrReplace()
    val hist = s.table("graft_th.db.sup.history")
      .select($"ordinal", $"is_current").collect()
      .map(r => (r.getInt(0), r.getBoolean(1))).sortBy(_._1)
    val rows = hist.map { case (ord, cur) =>
      val n = s.sql(
        s"SELECT count(*) FROM graft_th.db.sup VERSION AS OF $ord")
        .head().getLong(0)
      (ord, cur, n)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("ordinal", "is_current", "n_rows")
      .orderBy($"ordinal")
  }

  /** q72: the `CALL` maintenance-procedure surface on the atomic catalog —
    * Iceberg's operator loop driven end to end through SQL: commit a
    * snapshot, replace it, `rollback_to` the prior snapshot (a NEW
    * conflict-checked commit, history append-only), `compact` the rolled-
    * back table to one file, and `expire_snapshots` down to one previous.
    * The gate then reads the table, its `.files` count, and its
    * `.history` depth — all deterministic — so the oracle pins that the
    * rollback restored exactly the first snapshot's rows and the
    * maintenance calls changed files/history but never content. */
  def q72CallMaintenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.maint")
    val supplier = Tables.load(s, dir, "supplier")
    supplier.where($"s_nationkey" < 10)
      .writeTo("graft_th.db.maint").using("parquet").createOrReplace()
    supplier
      .writeTo("graft_th.db.maint").using("parquet").createOrReplace()
    s.sql("CALL graft_th.system.rollback_to('db.maint', 1)").collect()
    s.sql("CALL graft_th.system.compact('db.maint', 1)").collect()
    s.sql("CALL graft_th.system.expire_snapshots('db.maint', 1)").collect()
    val nRows = s.table("graft_th.db.maint").count()
    val nFiles = s.sql("SELECT count(*) FROM graft_th.db.maint.files")
      .head().getLong(0)
    val nHistory = s.sql("SELECT count(*) FROM graft_th.db.maint.history")
      .head().getLong(0)
    Seq((nRows, nFiles, nHistory)).toDF("n_rows", "n_files", "n_history")
  }

  /** q89: PARTITION SPEC EVOLUTION — `CALL cat.system.rewrite_layout`
    * rewrites the current snapshot under a new partition spec as one
    * conflict-checked commit (rows and schema unchanged; the old
    * layout stays time-travelable). The gate walks a table through
    * three layout lives — identity(nation) → bucket(8, suppkey) →
    * unpartitioned flatten — and pins the final rollup against DuckDB on
    * the raw parquet: hash equality proves two full re-layouts lost
    * and duplicated nothing. RewriteLayoutSpec pins the directory
    * shapes, the history, and the guard rails. */
  def q89RewriteLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.relay")
    Tables.load(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey", $"s_acctbal".as("bal"))
      .writeTo("graft_th.db.relay").using("parquet")
      .partitionedBy($"s_nationkey").createOrReplace()
    s.sql("CALL graft_th.system.rewrite_layout('db.relay', 'bucket(8,s_suppkey)')")
      .collect()
    s.sql("CALL graft_th.system.rewrite_layout('db.relay', '')").collect()
    s.table("graft_th.db.relay")
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"), moneySum($"bal").as("total"))
      .orderBy($"s_nationkey")
  }

  /** q73: ANALYZE-style table statistics through the catalog —
    * `CALL cat.system.analyze` computes per-column (rows, nulls, distinct
    * via the KMV sketch — exact below k=8192, the scale path beyond —
    * min/max) in ONE pass over the current snapshot, stores them as the
    * snapshot's sidecar, and the `tbl.stats` metadata table serves them.
    * The oracle recomputes the same statistics from `supplier` directly,
    * so the gate pins the whole loop: commit → analyze → read stats
    * back. The double column is excluded from the comparison (min/max
    * render through each engine's float-to-string formatter — the one
    * representation the cross-engine contract cannot pin). */
  def q73AnalyzeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.anl")
    Tables.load(s, dir, "supplier")
      .writeTo("graft_th.db.anl").using("parquet").createOrReplace()
    s.sql("CALL graft_th.system.analyze('db.anl')").collect()
    s.table("graft_th.db.anl.stats")
      .where($"column" =!= "s_acctbal")
      .orderBy($"column")
  }

  /** q74: DYNAMIC partition overwrite through the atomic catalog — the
    * daily-refresh write pattern: `INSERT OVERWRITE` with
    * `spark.sql.sources.partitionOverwriteMode=dynamic` replaces ONLY the
    * leaf partitions the write produced; every untouched partition
    * hard-links into the new snapshot unchanged (no data copy), and the
    * swap commits through the same CAS as any write. The gate rebuilds
    * the 'O'-status partition of an order-status-partitioned price book
    * with bumped prices and reads the whole table back: 'F'/'P' rows
    * must be byte-identical originals, 'O' rows the rewrite. The bump
    * adds an exactly-representable double so both engines agree
    * bit-for-bit. */
  def q74DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.dyn")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice".as("price"), $"o_orderstatus")
      .writeTo("graft_th.db.dyn").using("parquet")
      .partitionedBy($"o_orderstatus")
      .createOrReplace()
    graft.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      s.sql("""INSERT OVERWRITE graft_th.db.dyn
              |SELECT o_orderkey, price + CAST(1000000.0 AS DOUBLE), o_orderstatus
              |FROM graft_th.db.dyn VERSION AS OF 0
              |WHERE o_orderstatus = 'O'""".stripMargin)
    }
    s.table("graft_th.db.dyn")
      .select($"o_orderkey", $"price", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  /** q75: MERGE INTO a PARTITIONED catalog table — the PARTITION-LEVEL
    * copy-on-write path (q69 exercises whole-table COW: its target is
    * unpartitioned and its NOT-MATCHED-BY-SOURCE clause makes every
    * partition affected by definition). Here the target is partitioned
    * by market segment and the source carries only BUILDING customers'
    * orders, so Spark's runtime group filter
    * (`RowLevelOperationRuntimeGroupFiltering` against the scan's
    * [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]])
    * names {BUILDING} as the touched partition set: the rewrite reads
    * and rewrites that one partition, inserted rows land in their own
    * new 'NEW' partition, and the four untouched segments ride into the
    * new snapshot as hard links (AtomicCatalogSpec pins the inode
    * equality; this gate pins cross-engine row-level correctness of the
    * pruned rewrite — a bug that dropped or duplicated an untouched
    * partition's rows hash-mismatches immediately). */
  def q75MergePartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "customer").where($"c_custkey" % 3 =!= 2)
      .select($"c_custkey", $"c_acctbal".as("balance"),
        $"c_mktsegment".as("segment"))
      .writeTo("graft_ma.db.pbal").using("parquet")
      .partitionedBy($"segment").createOrReplace()
    val building = Tables.load(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
    Tables.load(s, dir, "orders")
      .where($"o_orderdate" >= lit("1997-01-01").cast(DateType))
      .join(building, $"o_custkey" === $"c_custkey")
      .groupBy($"o_custkey")
      .agg(moneySum($"o_totalprice").as("spent"),
        count(lit(1)).as("n_orders"))
      .createOrReplaceTempView("q75_src")
    s.sql("""MERGE INTO graft_ma.db.pbal t
            |USING q75_src s
            |ON t.c_custkey = s.o_custkey
            |WHEN MATCHED AND s.n_orders >= 8 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET balance = t.balance + s.spent
            |WHEN NOT MATCHED THEN
            |  INSERT (c_custkey, balance, segment)
            |  VALUES (s.o_custkey, s.spent, 'NEW')""".stripMargin)
    s.table("graft_ma.db.pbal")
      .select($"c_custkey", $"balance", $"segment")
      .orderBy($"c_custkey")
  }

  /** q79: MERGE into a TWO-COLUMN-partitioned catalog table — the
    * reference's own silver table shape (`(interaction_date, channel)`,
    * k8s/spark/41-spark-job-scripts-configmap.yaml:328) under a
    * row-level op. Spark's runtime-filter translation drops multi-key
    * pruning subqueries, so without
    * [[graft.plans.SplitMultiColumnRuntimeGroupFilter]] this shape
    * silently degrades to whole-table copy-on-write; with it the scan
    * receives one IN per partition column and rewrites ONLY the
    * (yr, st) partitions containing matches — here a single partition
    * of a 2-level layout (pruning inode-pinned in AtomicCatalogSpec;
    * this gate pins the cross-engine RESULT through the pruned path).
    * The source updates a tenth of 1997's open orders and inserts a
    * sprinkle of new keys into the same partition. */
  def q79MergeMulticolPartitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey".as("k"), $"o_totalprice".as("price"),
        year($"o_orderdate").as("yr"), $"o_orderstatus".as("st"))
    o.where($"k" % 2 === 0)
      .writeTo("graft_ma.db.mc2").using("parquet")
      .partitionedBy($"yr", $"st").createOrReplace()
    o.where($"yr" === 1997 && $"st" === "O" &&
        ($"k" % 10 === 0 || $"k" % 10 === 1))
      .select($"k", $"yr", $"st")
      .createOrReplaceTempView("q79_src")
    s.sql("""MERGE INTO graft_ma.db.mc2 t USING q79_src s
            |ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET price = t.price + CAST(10.0 AS DOUBLE)
            |WHEN NOT MATCHED THEN
            |  INSERT (k, price, yr, st)
            |  VALUES (s.k, CAST(10.0 AS DOUBLE), s.yr, s.st)""".stripMargin)
    s.table("graft_ma.db.mc2")
      .select($"k", $"price", $"yr", $"st")
      .orderBy($"k")
  }

  /** q80: MERGE with a NOT-MATCHED-BY-SOURCE clause — the clause shape
    * where group filtering CANNOT fire (every target partition is
    * potentially affected), so the operation takes the whole-table
    * copy-on-write fallback. The gate pins the cross-engine result of
    * that path; the fallback's partition-layout preservation (the
    * round-12 fix: re-laid directories, not a silently flattened table)
    * is inode-and-directory-pinned in AtomicCatalogSpec. */
  def q80MergeNotMatchedBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey".as("k"), $"o_totalprice".as("price"),
        year($"o_orderdate").as("yr"), $"o_orderstatus".as("st"))
    o.where($"k" % 2 === 0)
      .writeTo("graft_ma.db.nmbs").using("parquet")
      .partitionedBy($"st").createOrReplace()
    o.where($"st" === "F" && $"k" % 6 === 0).select($"k")
      .createOrReplaceTempView("q80_src")
    s.sql("""MERGE INTO graft_ma.db.nmbs t USING q80_src s
            |ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET price = t.price + CAST(1.0 AS DOUBLE)
            |WHEN NOT MATCHED BY SOURCE AND t.st = 'P' THEN DELETE
            |""".stripMargin)
    s.table("graft_ma.db.nmbs")
      .select($"k", $"price", $"yr", $"st")
      .orderBy($"k")
  }

  /** Run `body` with the storage-partitioned-join confs on, restoring
    * each conf to its PRIOR value (set or unset) afterwards — the SPJ
    * gates flip session-global plan confs, and a hardcoded restore (or
    * a missing one) would leak the override into every later plan of
    * the same session. */
  private def withSpjConfs[A](s: SparkSession)(body: => A): A =
    graft.withConf(s, "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")(body)

  /** q81: STORAGE-PARTITIONED JOIN — two catalog tables partitioned on
    * the join key (customers and suppliers by nation) joined with ZERO
    * shuffle: both scans report `KeyGroupedPartitioning` through
    * [[graft.sources.KeyGroupedParquetScanBuilder]], Spark's v2
    * bucketing groups same-key tasks, and `EnsureRequirements` plans
    * the join (and the follow-on groupBy on the same key) without an
    * exchange on either side — the co-located fact-to-fact join a
    * lakehouse deployment gets from Iceberg's SPJ, the dominant cost
    * saving for co-partitioned joins at 100 TB. The gate pins the
    * cross-engine RESULT; the zero-exchange plan shape is pinned in
    * StoragePartitionedJoinSpec. Executed EAGERLY inside the v2
    * bucketing conf window (cache + count) so the session-global conf
    * is restored before other gates plan their reads. */
  def q81StoragePartitionedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "customer")
      .select($"c_nationkey".as("nk"), $"c_custkey", $"c_acctbal")
      .writeTo("graft_ma.db.spj_cust").using("parquet")
      .partitionedBy($"nk").createOrReplace()
    Tables.load(s, dir, "supplier")
      .select($"s_nationkey".as("nk"), $"s_suppkey", $"s_acctbal")
      .writeTo("graft_ma.db.spj_supp").using("parquet")
      .partitionedBy($"nk").createOrReplace()
    withSpjConfs(s) {
      val j = s.table("graft_ma.db.spj_cust")
        .join(s.table("graft_ma.db.spj_supp"), Seq("nk"))
        .groupBy($"nk")
        .agg(count(lit(1)).as("n_pairs"),
          moneySum($"c_acctbal" + $"s_acctbal").as("total"))
        .orderBy($"nk")
        .cache()
      j.count() // execute NOW, inside the conf window
      j
    }
  }

  /** q82: `MERGE WITH SCHEMA EVOLUTION` — the CDC-landing pattern where
    * the source grew a column the target does not have yet: the
    * analyzer widens the target through the catalog's `alterTable` (a
    * metadata-only snapshot; old files null-fill the new column on
    * read — the capability is [[org.apache.spark.sql.connector.catalog.TableCapability.AUTOMATIC_SCHEMA_EVOLUTION]]),
    * then the row-level rewrite lands matched updates, new-key inserts
    * and the evolved column in one conflict-checked commit. The oracle
    * reconstructs the post-merge state with a full-outer join. */
  def q82MergeSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val c = Tables.load(s, dir, "customer")
    c.where($"c_custkey" % 3 === 0)
      .select($"c_custkey", $"c_acctbal".as("balance"))
      .writeTo("graft_ma.db.sevo").using("parquet").createOrReplace()
    c.where($"c_custkey" % 3 =!= 2 && $"c_custkey" % 2 === 0)
      .select($"c_custkey", ($"c_acctbal" * 2.0).as("balance"),
        $"c_mktsegment".as("segment"))
      .createOrReplaceTempView("q82_src")
    s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_ma.db.sevo t
            |USING q82_src s ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.table("graft_ma.db.sevo")
      .select($"c_custkey", $"balance", $"segment")
      .orderBy($"c_custkey")
  }

  /** q83: storage-partitioned join over BUCKET transforms — the
    * HIGH-CARDINALITY variant of q81: `c_custkey` has one value per
    * customer, so identity partitioning would need a directory per key;
    * `bucket(16, custkey)` (Iceberg's bucket transform, the reference's
    * catalog supports the same spec) caps the layout at 16 hidden
    * `_gb_` directories, the catalog's FunctionCatalog serves the
    * `bucket` function Spark resolves the reported
    * `KeyGroupedPartitioning` with, and the orders-to-customers join —
    * AND the per-customer aggregate after it — plan with ZERO shuffle
    * exchanges (BucketTransformSpec pins the plan shape; this gate pins
    * the cross-engine result). At 100 TB this is the fact-to-fact join
    * on a billion-value key done exchange-free. */
  def q83BucketSpj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_acctbal")
      .writeTo("graft_ma.db.bspj_cust").using("parquet")
      .partitionedBy(bucket(16, $"c_custkey")).createOrReplace()
    Tables.load(s, dir, "orders")
      .select($"o_custkey", $"o_totalprice")
      .writeTo("graft_ma.db.bspj_ord").using("parquet")
      .partitionedBy(bucket(16, $"o_custkey")).createOrReplace()
    withSpjConfs(s) {
      val j = s.table("graft_ma.db.bspj_ord")
        .join(s.table("graft_ma.db.bspj_cust"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          moneySum($"o_totalprice" + $"c_acctbal").as("total"))
        .orderBy($"c_custkey")
        .cache()
      j.count() // execute NOW, inside the conf window
      j
    }
  }

  /** q84: MERGE into a BUCKET-partitioned table — row-level ops on the
    * hidden-bucket layout: the runtime group filter arrives on the
    * SOURCE key (the hidden `_gb_` id is not a scan column), each key
    * hashes to its bucket directory, and the copy-on-write rewrites
    * only the buckets the merge keys live in, hard-linking the rest
    * (BucketTransformSpec pins the inode equality; this gate pins the
    * merged RESULT cross-engine: updates doubled balances for keys
    * divisible by 5, inserts shifted keys ≡ 3 mod 7). */
  def q84BucketMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val c = Tables.load(s, dir, "customer")
    c.select($"c_custkey", $"c_acctbal".as("bal"))
      .writeTo("graft_ma.db.bmrg").using("parquet")
      .partitionedBy(bucket(8, $"c_custkey")).createOrReplace()
    c.where($"c_custkey" % 5 === 0)
      .select($"c_custkey", ($"c_acctbal" * 2.0).as("bal"))
      .union(c.where($"c_custkey" % 7 === 3)
        .select(($"c_custkey" + 10000000L).as("c_custkey"),
          ($"c_acctbal" + 1.0).as("bal")))
      .createOrReplaceTempView("q84_src")
    s.sql("""MERGE INTO graft_ma.db.bmrg t USING q84_src s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET bal = s.bal
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.table("graft_ma.db.bmrg").orderBy($"c_custkey")
  }

  /** q85: `days(ts)` HIDDEN time-transform partitioning — the
    * event-stream layout: the events table lands in daily
    * `_gd_ts=<utc epoch day>` directories derived from the timestamp,
    * with NO derived date column in the schema (the reference
    * materializes `interaction_date` into silver for exactly this
    * layout need; hidden partitioning removes the column). The gate
    * round-trips the catalog table into a per-day/type rollup vs
    * DuckDB on the raw parquet — hash equality proves the hidden
    * routing lost/duplicated nothing and day ids are UTC-exact.
    * DaysTransformSpec pins pruning, day-granular MERGE and SPJ. */
  def q85DaysTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "events")
      .select($"event_id", $"ts", $"event_type", $"value")
      .writeTo("graft_ma.db.evdays").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    s.table("graft_ma.db.evdays")
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"), moneySum($"value").as("total"))
      .orderBy($"day", $"event_type")
  }

  /** q86: `months(ts)` — the long-retention rung of the hidden
    * time-transform ladder (q85 is `days`): a decade of events in 120
    * month directories instead of 3 650 daily ones, with range filters
    * still pruning statically (TimeTransformSpec pins the planned-dir
    * set) and MERGE rewriting only the touched month. The gate
    * round-trips the catalog table into a monthly rollup vs DuckDB on
    * the raw parquet — hash equality proves month routing (UTC
    * calendar months since 1970-01) lost/duplicated nothing. */
  def q86MonthsTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    Tables.load(s, dir, "events")
      .select($"event_id", $"ts", $"event_type", $"value")
      .writeTo("graft_ma.db.evmonths").using("parquet")
      .partitionedBy(months($"ts")).createOrReplace()
    s.table("graft_ma.db.evmonths")
      .groupBy(trunc(to_date($"ts"), "month").as("month"), $"event_type")
      .agg(count(lit(1)).as("n_events"), moneySum($"value").as("total"))
      .orderBy($"month", $"event_type")
  }

  /** q87: `hours(ts)` — the hot-stream rung: epoch-hour directories
    * for short-retention high-rate data, where a day is too coarse to
    * expire or prune (hours is timestamp-only — a date has no hour;
    * the catalog refuses the spec, TimeTransformSpec pins it). Hourly
    * rollup vs DuckDB on the raw parquet pins the routing.
    *
    * The write runs HASH-CLUSTERED (`write.clusterByPartitions`) over
    * the stream's first TEN days (240 hour directories) — hour
    * granularity is a short-retention layout by design, and at this
    * dir count the unclustered path writes tasks × hours tiny files
    * (measured 12 s at sf0.1 for a 30-day span vs ~1/3 that clustered
    * and trimmed), the exact small-files shape the distribution conf
    * exists for; any fine-grained partition write at scale wants it
    * on. */
  def q87HoursTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val cutoff = lit("2024-01-11 00:00:00").cast(TimestampType)
    // no conf set: an `hours` layout is fine-grained BY CONSTRUCTION,
    // so the AUTO clustering default fires (WriteDistributionSpec pins
    // one file per directory under pure defaults)
    Tables.load(s, dir, "events")
      .where($"ts" < cutoff)
      .select($"event_id", $"ts", $"event_type", $"value")
      .writeTo("graft_ma.db.evhours").using("parquet")
      .partitionedBy(hours($"ts")).createOrReplace()
    s.table("graft_ma.db.evhours")
      .groupBy(to_date($"ts").as("day"), hour($"ts").cast(LongType).as("hr"))
      .agg(count(lit(1)).as("n_events"), moneySum($"value").as("total"))
      .orderBy($"day", $"hr")
  }

  /** q88: `truncate(w, col)` — the ORDER-PRESERVING hidden transform
    * (Iceberg's truncate): rows land under the first-w-characters
    * prefix of a string key (or the value floored to a multiple of w
    * for integers), capping directory counts on high-cardinality keys
    * while keeping range predicates statically prunable — the property
    * hash buckets give up. Here customers partition by their key
    * floored to blocks of 100 (built via SQL DDL — Spark has no
    * `functions.truncate` helper, the parser's PARTITIONED BY clause is
    * the public surface). Per-block rollup vs DuckDB pins the
    * routing; TruncateTransformSpec pins string prefixes, negative
    * floors, pruning, MERGE and SPJ. */
  def q88TruncateTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ctrunc")
    s.sql("""CREATE TABLE graft_ma.db.ctrunc
            | (c_custkey BIGINT, bal DOUBLE)
            | USING parquet PARTITIONED BY (truncate(100, c_custkey))""".stripMargin)
    // hash-clustered like q87: 150 blocks at sf0.1 is fine-grained
    // enough that tasks x blocks tiny files dominate the write cost
    graft.withConf(s, "spark.sql.catalog.graft.write.clusterByPartitions" -> "true") {
      Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal".as("bal"))
        .writeTo("graft_ma.db.ctrunc").append()
    }
    s.table("graft_ma.db.ctrunc")
      .groupBy(($"c_custkey" - pmod($"c_custkey", lit(100L))).as("block"))
      .agg(count(lit(1)).as("n_customers"), moneySum($"bal").as("total"))
      .orderBy($"block")
  }

  /** q90: the COMPOSITE partition spec a real lakehouse event table
    * runs — `(days(ts), bucket(8, user_id))`: time for retention and
    * range pruning, bucket for join co-location on the user key, both
    * HIDDEN (no derived columns in the schema). MixedPartitionSpecSpec
    * pins the mechanics (two-level static pruning, multi-key SPJ,
    * one-cell MERGE); this gate pins the cross-engine RESULT: the
    * two-level routing loses and duplicates nothing. */
  def q90CompositeSpec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    // no conf set: the (days, bucket) composite — 30 days x 8 buckets
    // = up to 240 cells — is one of the statically-fine shapes the
    // AUTO clustering default recognizes (PartitionField.clusterWrite)
    Tables.load(s, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .writeTo("graft_ma.db.evcomp").using("parquet")
      .partitionedBy(days($"ts"), bucket(8, $"user_id"))
      .createOrReplace()
    s.table("graft_ma.db.evcomp")
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        moneySum($"value").as("total"))
      .orderBy($"day", $"event_type")
  }

  /** q91: METADATA-ONLY partition spec evolution —
    * `CALL cat.system.evolve_layout`, the Iceberg contract q89's
    * `rewrite_layout` deliberately traded away (and the r12 verdict
    * named the one genuine capability gap): the new spec applies to
    * FUTURE writes; existing files stay in the layout that wrote them,
    * hard-linked under a `_spec-<k>` legacy subtree — evolving a
    * 100 TB table moves ZERO data. The gate seeds a third of events
    * under `days(ts)`, evolves to the composite
    * `(days(ts), bucket(8, user_id))`, fast-appends the remaining
    * thirds (which land in the NEW layout while the old third stays
    * put), and reads back through the mixed-spec union scan with a
    * ts-range filter that statically prunes BOTH layouts — the hash
    * match proves the two-layout table loses and duplicates nothing.
    * SpecEvolutionSpec pins the zero-copy inodes, per-spec pruning,
    * unify-on-compact and the refusal rails. */
  def q91EvolveLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.evolve")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_ma.db.evolve").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    val summary = s.sql(
      "CALL graft_ma.system.evolve_layout('db.evolve', " +
        "'days(ts), bucket(8,user_id)')").collect().head
    require(summary.getAs[Int]("n_legacy_specs") == 1,
      s"evolve_layout should leave exactly one legacy spec, got $summary")
    ev.where($"event_id" % 3 === 1).writeTo("graft_ma.db.evolve").append()
    ev.where($"event_id" % 3 === 2).writeTo("graft_ma.db.evolve").append()
    s.table("graft_ma.db.evolve")
      .where($"ts" >= lit("2024-01-08 00:00:00").cast(TimestampType) &&
        $"ts" < lit("2024-01-22 00:00:00").cast(TimestampType))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q92: RUNTIME bucket pruning on a COMPOSITE-spec read — the q90
    * layout's read side: a selective filter on a joined user dim
    * prunes the `(days(ts), bucket(8, user_id))` fact to only the
    * `_gb_user_id` cells the surviving keys hash into, at runtime,
    * with no manual predicate on the fact (Spark's dynamic partition
    * pruning against the scan's SupportsRuntimeV2Filtering, the
    * hidden-bucket keep test hashing each dim key to its directory).
    * DynamicPruningSpec pins the fact scan's output-rows metric; this
    * gate pins the cross-engine RESULT of the pruned join. */
  def q92CompositeDpp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    val ev = Tables.load(s, dir, "events")
    ev.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .writeTo("graft_ma.db.evdpp").using("parquet")
      .partitionedBy(days($"ts"), bucket(8, $"user_id"))
      .createOrReplace()
    ev.select($"user_id").distinct()
      .withColumn("grp", pmod($"user_id", lit(500L)))
      .writeTo("graft_ma.db.evdpp_dim").using("parquet").createOrReplace()
    s.table("graft_ma.db.evdpp")
      .join(s.table("graft_ma.db.evdpp_dim").where($"grp" === 0L),
        Seq("user_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q93: ROW-LEVEL CHANGE FEED — Delta's `table_changes`, derived
    * from the commit chain: per commit step, only the files that
    * commit ADDED or REMOVED are read and anti-joined both ways
    * (exceptAll), so rows a copy-on-write rewrite merely carried
    * cancel out and what remains is true row-level CDC (net inserts /
    * net deletes; an update is its delete+insert pair). Cost prices
    * the churn, never the table. The gate takes a bucket-partitioned
    * table through an append commit and a DELETE commit and pins the
    * per-step change aggregate cross-engine: step 1 must be exactly
    * the appended third as inserts, step 2 exactly the deleted rows
    * as deletes — any carried-row leakage from the rewritten buckets
    * would hash-mismatch immediately. */
  def q93TableChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.chg")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_ma.db.chg").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    ev.where($"event_id" % 3 === 1).writeTo("graft_ma.db.chg").append()
    s.sql("DELETE FROM graft_ma.db.chg WHERE event_id % 5 = 0")
    graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_ma.db.chg", fromCommitsBack = 2)
      .groupBy($"_commit_step", $"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"event_id").as("n_distinct"),
        moneySum($"value").as("total"))
      .orderBy($"_commit_step", $"_change_type")
  }

  /** q94: FILE-LEVEL DATA SKIPPING (FileStats.scala) — the scan-planning
    * half of what Iceberg manifests / Delta file stats buy at 100 TB:
    * footer min/max per column are recorded at commit, and a selective
    * predicate schedules only the files whose intervals overlap it.
    * The gate lays orders out range-tiled on `o_custkey` (16 files with
    * disjoint key ranges — the sorted/z-ordered layout the skipping is
    * designed to pay off on), runs a 10%-width key-range aggregate, and
    * hash-matches DuckDB on the raw parquet: skipping planned ~2 of 16
    * files (FileSkippingSpec pins the counts) yet lost nothing. */
  def q94FileSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_sorted")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .repartitionByRange(16, $"o_custkey")
      .sortWithinPartitions($"o_custkey")
      .writeTo("graft_ma.db.ord_sorted").create()
    s.table("graft_ma.db.ord_sorted")
      .where($"o_custkey" >= 100L && $"o_custkey" <= 250L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q95: MERGE-ON-READ DELETE (MorDeletes.scala) — Iceberg v2's
    * delete-file posture: with `write.deleteMode = merge-on-read`, a
    * translatable DELETE commits METADATA ONLY (every data file
    * hard-links forward; the predicate lands as a `_deletes` entry
    * scoped to the files present at delete time), and reads apply the
    * entries exactly. At 100 TB this turns a partition-rewrite COW
    * delete into an O(metadata) commit, amortized away later by `CALL
    * system.rewrite_deletes`. The gate REQUIRES the zero-rewrite claim
    * (data-file inode set unchanged across two stacked deletes), then
    * hash-matches the surviving rows against DuckDB computing the same
    * NOT-predicate aggregate on the raw parquet. */
  def q95MorDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_mor")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderpriority")
      .writeTo("graft_ma.db.ord_mor").using("parquet")
      .partitionedBy($"o_orderstatus").create()
    def inodes(): Map[String, Any] = dataInodes(gmaHeadDir(s, "ord_mor"))
    val before = inodes()
    graft.withConf(s, "spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      s.sql("DELETE FROM graft_ma.db.ord_mor " +
        "WHERE o_custkey >= 100 AND o_custkey <= 400")
      s.sql("DELETE FROM graft_ma.db.ord_mor " +
        "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0")
    }
    require(inodes() == before,
      "merge-on-read DELETE must hard-link every data file unchanged")
    require(s.table("graft_ma.db.ord_mor.deletes").count() == 2L,
      "two stacked delete entries expected")
    s.table("graft_ma.db.ord_mor")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q96: `CALL system.cluster_by` — OPTIMIZE ZORDER for catalog
    * tables, completing the q94 skipping story: a hash-shuffled table
    * (every file spanning the full key range — nothing skippable)
    * rewrites range-clustered on the key through one sampled range
    * exchange, the commit records fresh footer stats, and the same
    * selective query now plans ~1 of 16 files (FileSkippingSpec pins
    * the before/after counts; this gate pins the cross-engine result
    * on the clustered table). */
  def q96ClusterBy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_clu")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .repartition(16) // round-robin: every file spans the key range
      .writeTo("graft_ma.db.ord_clu").create()
    val sum = s.sql(
      "CALL graft_ma.system.cluster_by('db.ord_clu', 'o_custkey', 16)")
      .collect().head
    require(sum.getString(0) == "o_custkey" && sum.getLong(1) == 16L,
      s"cluster_by should have written 16 range-clustered files: $sum")
    s.table("graft_ma.db.ord_clu")
      .where($"o_custkey" >= 700L && $"o_custkey" <= 900L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q97: CONCURRENT WRITERS — two appends racing into the same
    * bucket-partitioned catalog table from two threads, started
    * through a barrier so both stage against the SAME base version.
    * The loser's CAS conflicts and REBASES (Iceberg's fast-append
    * retry: its files hard-link onto the winner's head — no data
    * copy, no failed writer), so the final table holds BOTH halves
    * exactly once — the posture a 1000-executor deployment needs,
    * where many jobs append to one table and one-writer-at-a-time is
    * not an option. StreamingWriteSpec pins the deterministic rebase
    * and the shape-change refusal; this gate proves the LIVE race
    * end-to-end against the oracle. */
  def q97ConcurrentAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ev_race")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_ma.db.ev_race").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    // both writers resolve the table (pinning the same base), then race
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(1, 2).map { k =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val half = ev.where($"event_id" % 3 === k)
            gate.await()
            half.writeTo("graft_ma.db.ev_race").append()
          }
        })
      }
      fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    s.table("graft_ma.db.ev_race")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q98: DEFAULT COLUMN VALUES — metadata-only schema evolution with
    * semantics (the Iceberg/Delta default-value surface): ADD COLUMN
    * DEFAULT commits a snapshot whose files are all hard links (zero
    * rewrite — DefaultColumnSpec pins inode equality), rows in
    * pre-column files read the frozen add-time EXISTS_DEFAULT, an
    * INSERT that omits the column gets CURRENT_DEFAULT from the
    * analyzer, and explicit values win. At 100 TB this is the
    * difference between "add a column" being a metadata commit and a
    * day-long rewrite. Three generations in one table: pre-column
    * rows, default-filled rows, explicit rows — the oracle recomputes
    * all three with CASE. */
  def q98DefaultColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_dc")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    ord.where($"o_orderkey" % 3 === 0)
      .writeTo("graft_ma.db.ord_dc").using("parquet").createOrReplace()
    s.sql("ALTER TABLE graft_ma.db.ord_dc " +
      "ADD COLUMN channel STRING DEFAULT 'store'")
    // generation 2: explicit values
    ord.where($"o_orderkey" % 3 === 1)
      .withColumn("channel",
        when($"o_orderkey" % 2 === 0, lit("web")).otherwise(lit("app")))
      .writeTo("graft_ma.db.ord_dc").append()
    // generation 3: the column omitted — the analyzer fills the default
    ord.where($"o_orderkey" % 3 === 2)
      .createOrReplaceTempView("q98_gen3")
    s.sql("""INSERT INTO graft_ma.db.ord_dc
            | (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
            |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            |FROM q98_gen3""".stripMargin)
    s.table("graft_ma.db.ord_dc")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_orderkey").as("n_keys"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"channel")
  }

  /** q99: CHECK CONSTRAINTS, ENFORCED (Spark 4's connector constraint
    * surface; Delta's CHECK-constraint semantics): the table declares
    * `CHECK (value >= 0) ENFORCED`, Spark's analyzer injects the
    * validation into every write's own query plan — a per-row
    * predicate inside the write stage's codegen, no extra pass — and
    * a write containing one violating row FAILS WHOLE, committing
    * nothing (the snapshot CAS never runs). The gate appends a clean
    * third, proves a dirty batch is refused atomically (the violating
    * rows AND their clean siblings both absent), then appends the
    * same batch cleaned. TableConstraintSpec pins the DDL validation
    * path (ADD CONSTRAINT over dirty data fails) and PK/UNIQUE
    * informational persistence. */
  def q99CheckConstraint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ev_chk")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_ma.db.ev_chk").using("parquet").createOrReplace()
    s.sql("ALTER TABLE graft_ma.db.ev_chk " +
      "ADD CONSTRAINT value_nonneg CHECK (value >= 0)")
    ev.where($"event_id" % 3 === 1)
      .writeTo("graft_ma.db.ev_chk").append() // clean: passes
    // a batch with violations is refused WHOLE — nothing lands
    val dirty = ev.where($"event_id" % 3 === 2)
      .withColumn("value",
        when($"event_id" % 7 === 0, -$"value" - lit(1)).otherwise($"value"))
    val refused =
      try { dirty.writeTo("graft_ma.db.ev_chk").append(); false }
      catch { case _: Exception => true }
    require(refused, "q99: the dirty batch should have been refused")
    // the same batch, cleaned, commits
    dirty.withColumn("value", abs($"value") - when($"value" < 0, lit(1))
      .otherwise(lit(0))).writeTo("graft_ma.db.ev_chk").append()
    s.table("graft_ma.db.ev_chk")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q100: AGGREGATE PUSHDOWN — COUNT(*)/MIN/MAX over a catalog table
    * answered from parquet FOOTER metadata (`spark.sql.parquet
    * .aggregatePushdown`, forwarded through the catalog's scan
    * builder): the scan reports `PushedAggregation` and materializes
    * one pre-aggregated row per file instead of the rows. At 100 TB a
    * table-wide count/min/max becomes a metadata sweep, not a read.
    * The gate REQUIRES the pushed plan shape (a silent fallback to a
    * full scan would still produce the right numbers — the require
    * makes the gate fail instead), conf-windowed with prior-value
    * restore so no other gate inherits the override. */
  def q100AggPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_agg")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .repartition(8)
      .writeTo("graft_ma.db.ord_agg").using("parquet").createOrReplace()
    graft.withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = s.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n_orders,
          | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          | min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
          |FROM graft_ma.db.ord_agg""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT("),
        s"q100: aggregate was not pushed to the scan:\n$plan")
      // executed EAGERLY inside the conf window (cache + count), so the
      // session-global conf is restored before other gates plan
      df.cache().count()
      df
    }
  }

  /** q101: IDENTITY COLUMNS (`GENERATED ALWAYS AS IDENTITY`, the
    * Delta/Iceberg-v3 surface) — the connector allocates omitted
    * values on the append path, continuing from the commit-time
    * footer-stats watermark across THREE separate appends
    * (O(metadata) per write, no data scan). Identity values are
    * unique-and-directional but not deterministic, so the gate checks
    * INVARIANTS the oracle can reproduce: per-group distinct-id count
    * equals row count (no duplicate allocation), every id sits on the
    * (start, step) grid, and a gate-internal require pins GLOBAL
    * uniqueness. IdentityColumnSpec pins ALWAYS-refusal, BY DEFAULT
    * explicit values, merge allocation and the no-rebase race rule. */
  def q101IdentityColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ev_id")
    s.sql("""CREATE TABLE graft_ma.db.ev_id (
            |  rid BIGINT GENERATED ALWAYS AS IDENTITY
            |    (START WITH 1000 INCREMENT BY 3),
            |  event_id BIGINT, event_type STRING, value DOUBLE)
            |USING parquet""".stripMargin)
    Tables.load(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
      .createOrReplaceTempView("q101_src")
    for (k <- 0 to 2) // three appends: the watermark must carry across
      s.sql(s"""INSERT INTO graft_ma.db.ev_id (event_id, event_type, value)
               |SELECT event_id, event_type, value FROM q101_src
               |WHERE event_id % 3 = $k""".stripMargin)
    val t = s.table("graft_ma.db.ev_id")
    val uniq = t.agg(count(lit(1)), countDistinct($"rid")).head
    require(uniq.getLong(0) == uniq.getLong(1),
      s"q101: identity allocation duplicated values ($uniq)")
    t.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"rid").as("n_rids"),
        sum(when(($"rid" - 1000) % 3 === 0, lit(0L)).otherwise(lit(1L)))
          .as("off_grid"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** The CURRENT head version dir of `graft_ma.db.<name>` — shared by
    * the inode-pinning gates. */
  private def gmaHeadDir(s: SparkSession, name: String): java.nio.file.Path = {
    val wh = s.conf.get("spark.sql.catalog.graft_ma.warehouse")
    val tdir = java.nio.file.Paths.get(wh, "db", name)
    tdir.resolve(MetaStore.lines(tdir.resolve("_current")).head)
  }

  /** Version-relative data-file path -> inode of one version dir's data
    * files (`keep` narrows further) — the ONE walker every zero-rewrite
    * gate pins hard links with. */
  private[graft] def dataInodes(v: java.nio.file.Path,
      keep: String => Boolean = _ => true): Map[String, Any] =
    MetaStore.walkData(v)(_.collect {
      case p if keep(v.relativize(p).toString) => v.relativize(p).toString ->
        java.nio.file.Files.getAttribute(p, "unix:ino")
    }.toMap)

  /** How many of `head`'s live delete entries end in `suffix`. */
  private def gmaSidecars(head: java.nio.file.Path, suffix: String): Int = {
    val d = head.resolve("_deletes")
    if (!java.nio.file.Files.isDirectory(d)) 0
    else MetaStore.list(d).count(_.getFileName.toString.endsWith(suffix))
  }

  /** q102: MERGE-ON-READ MERGE (DeltaRowLevel.scala) — Iceberg v2's
    * equality-delete posture through Spark's native `SupportsDelta`
    * plumbing. The table declares `write.merge.mode = merge-on-read`
    * and a PRIMARY KEY (which this catalog treats as NOT NULL, RELY
    * semantics — the row id Spark's delta rewrite requires); a MERGE
    * whose matched keys scatter across EVERY partition then commits
    * O(changed rows): the gate `require`s every base data file rides
    * as a hard link (inode-pinned — group-based COW would have
    * rewritten all partitions for this key set) and exactly one
    * equality-delete sidecar entry lands. The oracle replays the merge
    * arithmetic over the raw table, so the cross-engine hash also pins
    * the read-side exact application of the equality deletes. */
  def q102MorMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_mm")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .writeTo("graft_ma.db.ord_mm").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .partitionedBy($"o_orderstatus").create()
    s.sql("ALTER TABLE graft_ma.db.ord_mm " +
      "ADD CONSTRAINT ord_mm_pk PRIMARY KEY (o_orderkey) NOT ENFORCED")
    def inodes(): Map[String, Any] = dataInodes(gmaHeadDir(s, "ord_mm"))
    val before = inodes()
    // matched keys hit every o_orderstatus partition (modulo sweeps the
    // key space); unmatched keys land in a NEW partition 'Z'
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .where($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(Tables.load(s, dir, "orders")
        .where($"o_orderkey" % 89 === 0)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"), $"o_custkey",
          lit("Z").as("o_orderstatus"), $"o_totalprice"))
      .createOrReplaceTempView("q102_src")
    s.sql("""MERGE INTO graft_ma.db.ord_mm t USING q102_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = inodes()
    require(before.forall { case (k, v) => after.get(k).contains(v) },
      "merge-on-read MERGE must hard-link every base data file unchanged")
    require(after.size > before.size,
      "the merge's delta rows must land as NEW files")
    require(s.table("graft_ma.db.ord_mm.deletes").count() == 1L,
      "exactly one equality-delete entry expected")
    s.table("graft_ma.db.ord_mm")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q103: BRANCHES — fork/write/publish (Iceberg branch refs + git
    * fast-forward, re-expressed as parallel pointer logs): fork a
    * branch at the current head, run a whole-table UPDATE *on the
    * branch* (`t@audit`), REQUIRE main still serves the pre-branch
    * rows (write isolation is the point of a branch), then
    * `fast_forward` publishes the branch and the oracle hash-checks
    * the published state. The staging/audit workflow every curated
    * 100 TB table wants: experiments and backfills run on a branch at
    * full engine capability (appends, MERGE, row-level ops), main
    * readers never see a half-done state, publish is one atomic
    * pointer swap. */
  def q103Branches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_br")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .writeTo("graft_ma.db.ord_br").using("parquet").create()
    s.sql("CALL graft_ma.system.create_branch('db.ord_br', 'audit')")
    // branch work: discount urgent-ish orders, add a review batch
    s.sql("UPDATE graft_ma.db.`ord_br@audit` " +
      "SET o_totalprice = -o_totalprice WHERE o_orderkey % 53 = 0")
    Tables.load(s, dir, "orders").where($"o_orderkey" % 71 === 0)
      .select(($"o_orderkey" + 20000000L).as("o_orderkey"), $"o_custkey",
        lit("B").as("o_orderstatus"), $"o_totalprice")
      .writeTo("graft_ma.db.`ord_br@audit`").append()
    // isolation: main is untouched while the branch carries both edits
    val mainNeg = s.table("graft_ma.db.ord_br")
      .where($"o_totalprice" < 0).count()
    require(mainNeg == 0L,
      s"q103: branch writes leaked into main ($mainNeg negative rows)")
    val nMain = s.table("graft_ma.db.ord_br").count()
    val nBranch = s.table("graft_ma.db.`ord_br@audit`").count()
    require(nBranch > nMain,
      s"q103: the branch append is missing ($nBranch <= $nMain)")
    // publish: one atomic swap
    s.sql("CALL graft_ma.system.fast_forward('db.ord_br', 'audit')")
    s.table("graft_ma.db.ord_br")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q104: COMPOSITE-KEY MERGE-ON-READ MERGE — the multi-column
    * identifier-field posture (Iceberg v2) over the same
    * `SupportsDelta` plumbing as q102: the table's PRIMARY KEY is
    * `(user_id, event_id)` — deliberately NOT the schema's column
    * order, pinning key-order robustness end-to-end — and a MERGE
    * whose matched composite keys scatter across every `event_type`
    * partition commits O(changed rows): every base file `require`d
    * inode-identical, exactly ONE equality-delete sidecar entry of
    * tuple form `(k1,k2) IN ((…),…)` (an entry keyed on user_id alone
    * would delete every event of the matched users and hash-mismatch;
    * MorMergeSpec pins full tuple semantics with sibling keys). Real
    * CDC feeds key on composite ids far more often than single columns
    * (the reference's own silver rows key on
    * (customer_id, interaction_id)-style pairs, CM:48–52) — before
    * this path they silently paid the copy-on-write full rewrite
    * PERF.md measures as the wrong price for scattered keys. The PK is
    * added WITHOUT RELY, so the ALTER also exercises the
    * NULL-validation scan guarding the non-null flip. */
  def q104MorMergeComposite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ev_mm2")
    Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .writeTo("graft_ma.db.ev_mm2").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .partitionedBy($"event_type").create()
    s.sql("ALTER TABLE graft_ma.db.ev_mm2 ADD CONSTRAINT ev_mm2_pk " +
      "PRIMARY KEY (user_id, event_id) NOT ENFORCED")
    def inodes(): Map[String, Any] = dataInodes(gmaHeadDir(s, "ev_mm2"))
    val before = inodes()
    // matched composite keys hit every event_type partition (the mod
    // sweeps event ids across all types and users); unmatched keys
    // land in a NEW partition 'Z'
    Tables.load(s, dir, "events")
      .where($"event_id" % 97 === 0)
      .select($"event_id", $"user_id", $"event_type",
        (-$"value").as("value"))
      .unionByName(Tables.load(s, dir, "events")
        .where($"event_id" % 89 === 0)
        .select(($"event_id" + 10000000L).as("event_id"), $"user_id",
          lit("Z").as("event_type"), $"value"))
      .createOrReplaceTempView("q104_src")
    s.sql("""MERGE INTO graft_ma.db.ev_mm2 t USING q104_src s
            |ON t.user_id = s.user_id AND t.event_id = s.event_id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = inodes()
    require(before.forall { case (k, v) => after.get(k).contains(v) },
      "composite-key merge-on-read MERGE must hard-link every base " +
        "data file unchanged")
    require(after.size > before.size,
      "the merge's delta rows must land as NEW files")
    require(s.table("graft_ma.db.ev_mm2.deletes").count() == 1L,
      "exactly one equality-delete entry expected")
    val shown = s.table("graft_ma.db.ev_mm2.deletes")
      .select($"predicate").as[String].head()
    require(shown.startsWith("("),
      s"expected a composite-tuple delete entry, got: ${shown.take(60)}")
    s.table("graft_ma.db.ev_mm2")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q105: PARTIAL SPEC-UNIFICATION COMPACTION — `CALL
    * system.unify_layout`, the missing middle the r13 verdict named
    * between `evolve_layout` (O(metadata), reads stay mixed-spec) and
    * `rewrite_layout` (single-spec, O(table)): rewrite ONLY the legacy
    * `_spec-<k>` subtree into the current spec, hard-link everything
    * else. The gate seeds a third under `days(ts)`, evolves to the
    * composite, appends the other two thirds into the NEW layout, runs
    * a merge-on-read DELETE whose predicate hits rows in BOTH layouts,
    * then unifies — and `require`s every current-layout file rides as
    * a hard link (cost ∝ legacy fraction, inode-pinned), the legacy
    * sidecar and subtree are gone, and the root-file delete entries
    * survived the restricted carry while the legacy files' deletes
    * were MATERIALIZED by the rewrite. The oracle replays the delete
    * over raw events inside the ts window — a row the partial rewrite
    * lost, duplicated, or resurrected hash-mismatches. */
  def q105UnifyLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.unify")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_ma.db.unify").using("parquet")
      .partitionedBy(days($"ts")).createOrReplace()
    s.sql("CALL graft_ma.system.evolve_layout('db.unify', " +
      "'days(ts), bucket(8,user_id)')")
    ev.where($"event_id" % 3 =!= 0).writeTo("graft_ma.db.unify").append()
    // a MoR DELETE spanning BOTH layouts: its entry must survive the
    // unify restricted to the linked current-layout files while the
    // legacy files' share is materialized by the partial rewrite
    graft.withConf(s, "spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
      s.sql("DELETE FROM graft_ma.db.unify WHERE user_id >= 10 AND user_id <= 40")
    }
    def headDir(): java.nio.file.Path = gmaHeadDir(s, "unify")
    val pre = headDir()
    require(java.nio.file.Files.exists(pre.resolve("_legacy_specs.txt")),
      "q105 setup: the evolve must have left a legacy sidecar")
    val rootBefore = dataInodes(pre, !_.startsWith("_spec-"))
    val legacyBefore = dataInodes(pre, _.startsWith("_spec-"))
    require(rootBefore.nonEmpty && legacyBefore.nonEmpty,
      "q105 setup: both layouts must hold data files")
    val summary =
      s.sql("CALL graft_ma.system.unify_layout('db.unify')").collect().head
    require(summary.getAs[Int]("n_legacy_specs") == 1 &&
      summary.getAs[Long]("n_legacy_files_rewritten") > 0L,
      s"unexpected unify summary: $summary")
    val post = headDir()
    require(!java.nio.file.Files.exists(post.resolve("_legacy_specs.txt")),
      "unify_layout must leave a single-spec version")
    val rootAfter = dataInodes(post, _ => true)
    require(rootAfter.keys.forall(!_.startsWith("_spec-")),
      "legacy subtree files leaked into the unified version")
    require(rootBefore.forall { case (k, v) => rootAfter.get(k).contains(v) },
      "unify_layout must hard-link every current-layout file unchanged " +
        "— the partial-compaction cost claim")
    require(rootAfter.size > rootBefore.size,
      "the rewritten legacy rows must land as NEW files")
    require(s.table("graft_ma.db.unify.deletes").count() >= 1L,
      "the root-file share of the spanning delete entry must survive")
    s.table("graft_ma.db.unify")
      .where($"ts" >= lit("2024-01-08 00:00:00").cast(TimestampType) &&
        $"ts" < lit("2024-01-22 00:00:00").cast(TimestampType))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** q107: POSITIONAL MERGE-ON-READ — Iceberg v2's SECOND delete-file
    * format, for tables with NO usable PRIMARY KEY (the r13 verdict's
    * standing gap: such tables always paid the copy-on-write rewrite):
    * the row id is the `(_file, _pos)` metadata pair — file identity
    * plus parquet row index — so matched rows are addressed by where
    * they sit, with no key column, type, or uniqueness discipline
    * asked of the table. The gate runs a scattered-key MERGE and then
    * an UNTRANSLATABLE-predicate DELETE (modulo — the predicate
    * sidecar path must decline it) on a PK-less partitioned table and
    * `require`s every base file hard-links (inode-pinned), exactly two
    * positional sidecar entries land, and the read-back aggregate
    * hash-matches DuckDB replaying merge+delete — a row dropped at the
    * wrong ordinal, resurrected, or double-applied mismatches. */
  def q107MorPositional(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_pos")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .writeTo("graft_ma.db.ord_pos").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .partitionedBy($"o_orderstatus").create()
    def inodes(): Map[String, Any] = dataInodes(gmaHeadDir(s, "ord_pos"))
    val before = inodes()
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .where($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(Tables.load(s, dir, "orders")
        .where($"o_orderkey" % 89 === 0)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"), $"o_custkey",
          lit("Z").as("o_orderstatus"), $"o_totalprice"))
      .createOrReplaceTempView("q107_src")
    s.sql("""MERGE INTO graft_ma.db.ord_pos t USING q107_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // modulo does not translate to a V2 predicate, so the equality/
    // predicate sidecar paths both decline — positional or nothing
    s.sql("DELETE FROM graft_ma.db.ord_pos WHERE o_custkey % 50 = 3")
    val after = inodes()
    require(before.forall { case (k, v) => after.get(k).contains(v) },
      "positional merge-on-read must hard-link every base data file")
    require(s.table("graft_ma.db.ord_pos.deletes").count() == 2L,
      "two positional entries expected (merge + delete)")
    val shown = s.table("graft_ma.db.ord_pos.deletes")
      .select($"predicate").as[String].collect()
    require(shown.forall(_.startsWith("POSITIONAL")),
      s"expected positional entries, got: ${shown.mkString("; ")}")
    s.table("graft_ma.db.ord_pos")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** q108: SORT-ORDERED WRITES — `write.sort-cols` (Iceberg's
    * write.sort-order posture): every write into the table
    * range-distributes and locally sorts on the named columns, so the
    * commit-time footer stats stay tight and q94-style file skipping
    * bites on EVERY read — without the separate `cluster_by`
    * maintenance pass. At 100 TB this is the difference between a
    * layout that decays with every append and one whose appends keep
    * the skip-index sharp by construction. The gate appends orders
    * (scrambled in the sort key), `require`s the skipping scan kept a
    * strict subset of files for a selective key range, and
    * hash-matches the filtered aggregate vs DuckDB — skipping is a
    * may-match over-approximation, so a single lost row mismatches. */
  def q108SortedWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_ws")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    // the small file cap gives the skip index granularity even when
    // AQE coalesces the range exchange to few tasks (maxRecordsPerFile
    // splits WITHIN a task preserving the sort, so files stay tiled).
    // SCALE-ADAPTIVE (~8 tiles at any SF): a fixed cap left sf0.001's
    // 1500 rows in one file, and a one-file table has no strict
    // subset for the skipping REQUIRE below to keep
    val cap = math.max(500L, ord.count() / 8)
    ord.limit(0).writeTo("graft_ma.db.ord_ws")
      .tableProperty("write.sort-cols", "o_custkey")
      .tableProperty("write.target-file-size-rows", cap.toString)
      .create()
    ord.writeTo("graft_ma.db.ord_ws").append()
    graft.sources.FileSkippingScan.counts.clear()
    val out = s.table("graft_ma.db.ord_ws")
      .where($"o_custkey" >= 100L && $"o_custkey" <= 400L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
      .cache()
    out.count() // execute now so the skipping counts are observable
    val kc = graft.sources.FileSkippingScan.counts.get("db.ord_ws")
    require(kc != null && kc._2 > 1 && kc._1 < kc._2,
      s"sorted-write skipping must keep a strict subset of files, got $kc")
    out
  }

  /** q106: CHANGE FEED ACROSS THE FORK — `table_changes` on a BRANCH
    * (q93 composed with q103), the audit half of write-audit-publish:
    * the net row-level changes a branch accumulated since its fork are
    * exactly what `fast_forward` would publish, reviewable BEFORE the
    * swap. The gate forks `audit`, runs a whole-table UPDATE and an
    * append on the branch, `require`s main's log never moved, and
    * pins the branch's per-step change aggregate cross-engine: step 1
    * must be exactly the updated rows as delete+insert pairs (rows the
    * COW rewrite merely carried cancel in the exceptAll), step 2
    * exactly the appended batch as inserts. */
  def q106BranchChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.brcdc")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .writeTo("graft_ma.db.brcdc").using("parquet").create()
    s.sql("CALL graft_ma.system.create_branch('db.brcdc', 'audit')")
    s.sql("UPDATE graft_ma.db.`brcdc@audit` " +
      "SET o_totalprice = -o_totalprice WHERE o_orderkey % 53 = 0")
    Tables.load(s, dir, "orders").where($"o_orderkey" % 71 === 0)
      .select(($"o_orderkey" + 20000000L).as("o_orderkey"), $"o_custkey",
        $"o_totalprice")
      .writeTo("graft_ma.db.`brcdc@audit`").append()
    // isolation rail: the branch edits never moved main
    require(s.table("graft_ma.db.brcdc")
      .where($"o_totalprice" < 0).count() == 0L,
      "q106: branch edits leaked into main")
    graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_ma.db.brcdc@audit", fromCommitsBack = 2)
      .groupBy($"_commit_step", $"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_distinct"),
        moneySum($"o_totalprice").as("total"))
      .orderBy($"_commit_step", $"_change_type")
  }

  /** q109: IDENTITY COLUMNS COMPOSED WITH MERGE-ON-READ — the
    * surrogate-keyed dimension table (GENERATED ALWAYS AS IDENTITY)
    * taking a scattered CDC MERGE through the delta path, the r14
    * verdict's missing composition: before r15 an identity column
    * silently demoted the table to a whole-partition COW rewrite. The
    * delta writer stages REINSERTED rows (the row half of updates)
    * apart from fresh inserts, so at commit the reinserts KEEP their
    * surrogate keys while fresh inserts allocate from the base
    * version's watermark — the gate `require`s every base file rides
    * as a hard link (inode-pinned), the matched composite business
    * keys landed as ONE tuple equality-delete entry, every updated
    * row's rid survived the round-trip byte-identical, and the
    * inserted rows' rids are fresh, unique and on the (1000,3)
    * allocation grid. Oracle: q101's invariant-aggregate shape over
    * the independently recomputed merge result. */
  def q109MorIdentity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.dim_mi")
    s.sql("""CREATE TABLE graft_ma.db.dim_mi (
            |  rid BIGINT GENERATED ALWAYS AS IDENTITY
            |    (START WITH 1000 INCREMENT BY 3),
            |  event_id BIGINT, user_id BIGINT, event_type STRING,
            |  value DOUBLE)
            |USING parquet PARTITIONED BY (event_type)
            |TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')
            |""".stripMargin)
    Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .createOrReplaceTempView("q109_seed")
    s.sql("""INSERT INTO graft_ma.db.dim_mi
            |  (event_id, user_id, event_type, value)
            |SELECT event_id, user_id, event_type, value
            |FROM q109_seed""".stripMargin)
    s.sql("ALTER TABLE graft_ma.db.dim_mi ADD CONSTRAINT dim_mi_pk " +
      "PRIMARY KEY (user_id, event_id) NOT ENFORCED")
    def inodes(): Map[String, Any] = dataInodes(gmaHeadDir(s, "dim_mi"))
    val before = inodes()
    // surrogate keys the matched rows carry BEFORE the merge — the
    // update must not lose or re-allocate them (bounded collect: the
    // %97 slice of the seeded events)
    def ridsOfMatched(): Map[(Long, Long), Long] =
      s.table("graft_ma.db.dim_mi")
        .where($"event_id" % 97 === 0 && $"event_type" =!= "Z")
        .select($"user_id", $"event_id", $"rid")
        .as[(Long, Long, Long)].collect()
        .map { case (u, e, r) => (u, e) -> r }.toMap
    val ridsBefore = ridsOfMatched()
    val maxRidBefore = s.table("graft_ma.db.dim_mi")
      .agg(max($"rid")).as[Long].head()
    Tables.load(s, dir, "events")
      .where($"event_id" % 97 === 0)
      .select($"event_id", $"user_id", $"event_type",
        (-$"value").as("value"))
      .unionByName(Tables.load(s, dir, "events")
        .where($"event_id" % 89 === 0)
        .select(($"event_id" + 10000000L).as("event_id"), $"user_id",
          lit("Z").as("event_type"), $"value"))
      .createOrReplaceTempView("q109_src")
    // rid is OMITTED in both branches: updates keep the target's rid
    // (reinsert path), inserts allocate (GENERATED ALWAYS refuses an
    // explicit value — IdentityColumnsSpec pins the refusal)
    s.sql("""MERGE INTO graft_ma.db.dim_mi t USING q109_src s
            |ON t.user_id = s.user_id AND t.event_id = s.event_id
            |WHEN MATCHED THEN UPDATE SET value = s.value
            |WHEN NOT MATCHED THEN
            |  INSERT (event_id, user_id, event_type, value)
            |  VALUES (s.event_id, s.user_id, s.event_type, s.value)
            |""".stripMargin)
    val after = inodes()
    require(before.forall { case (k, v) => after.get(k).contains(v) },
      "q109: an identity table's MoR MERGE must hard-link every base " +
        "file unchanged — a rewrite means the delta path declined it")
    require(s.table("graft_ma.db.dim_mi.deletes").count() == 1L,
      "q109: exactly one (tuple) equality-delete entry expected")
    val ridsAfter = ridsOfMatched()
    require(ridsAfter == ridsBefore,
      "q109: updated rows must KEEP their surrogate identity values " +
        "across the delete+reinsert round-trip")
    val fresh = s.table("graft_ma.db.dim_mi")
      .where($"event_type" === "Z").select($"rid").as[Long].collect()
    require(fresh.nonEmpty && fresh.distinct.length == fresh.length &&
        fresh.forall(r => r > maxRidBefore && (r - 1000L) % 3L == 0L),
      "q109: inserted rows must allocate fresh, unique, on-grid rids " +
        "above the pre-merge watermark")
    s.table("graft_ma.db.dim_mi")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"rid").as("n_rids"),
        sum(when(($"rid" - 1000) % 3 === 0, lit(0L)).otherwise(lit(1L)))
          .as("off_grid"),
        moneySum($"value").as("total"))
      .orderBy($"event_type")
  }

  /** Export path q110's oracle reads (same per-process contract as
    * [[CatalogExternalExportDir]]). */
  val MorExportDir: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mor_export_${ProcessHandle.current().pid()}"

  /** q110: SECOND-ENGINE EXPORT WITH LIVE MERGE-ON-READ SIDECARS —
    * q76's Trino-role acceptance shape on a table that still carries
    * BOTH delete formats live: an equality (tuple-IN) entry from a
    * scattered PK MERGE and positional `(_file,_pos)` entries from a
    * PK-less UPDATE (the PRIMARY KEY is dropped between the two — the
    * one table exercises both key shapes). `exportVersionDirMaterialized`
    * materializes the deletes ON THE WAY OUT: untouched files
    * hard-link byte-for-byte, affected files re-write survivors only,
    * and the table itself keeps its sidecars (no in-place
    * rewrite_deletes). The ORACLE is DuckDB reading the exported tree
    * and re-deriving every expected value INDEPENDENTLY from raw
    * orders — a resurrected deleted row, a lost survivor, or a wrong
    * update value all hash-mismatch. */
  def q110ExportMorLive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_exp")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .writeTo("graft_ma.db.ord_exp").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read")
      .partitionedBy($"o_orderstatus").create()
    s.sql("ALTER TABLE graft_ma.db.ord_exp ADD CONSTRAINT ord_exp_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    // commit 1: scattered PK MERGE -> ONE equality-delete entry
    Tables.load(s, dir, "orders").where($"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        (-$"o_totalprice").as("o_totalprice"))
      .createOrReplaceTempView("q110_src")
    s.sql("""MERGE INTO graft_ma.db.ord_exp t USING q110_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    // commit 2: drop the PK, then a scattered UPDATE — the PK-less
    // MoR mode routes POSITIONAL (`(_file,_pos)` ordinal sidecars)
    s.sql("ALTER TABLE graft_ma.db.ord_exp DROP CONSTRAINT ord_exp_pk")
    s.sql("UPDATE graft_ma.db.ord_exp SET o_totalprice = " +
      "o_totalprice + CAST(5.0 AS DOUBLE) WHERE o_custkey % 31 = 0")
    val head = gmaHeadDir(s, "ord_exp")
    def sidecars(suffix: String): Int = gmaSidecars(head, suffix)
    require(sidecars(".pred") >= 1 && sidecars(".pos") >= 1,
      s"q110 needs BOTH live sidecar kinds at export time, got " +
        s"pred=${sidecars(".pred")} pos=${sidecars(".pos")}")
    val dst = java.nio.file.Paths.get(MorExportDir)
    MetaStore.deleteTree(dst)
    graft.sources.AtomicParquetCatalog
      .exportVersionDirMaterialized(s, head, dst)
    require(sidecars(".pred") >= 1 && sidecars(".pos") >= 1,
      "q110: the export must leave the table's own sidecars live " +
        "(materialize-on-the-way-out, not an in-place rewrite)")
    s.table("graft_ma.db.ord_exp")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("total"),
        lit(0L).as("n_bad"))
      .orderBy($"o_orderstatus")
  }

  /** q111: BLOOM-FILTER FILE INDEX (BloomIndex.scala) — point-lookup
    * skipping where q94's min/max stats CANNOT prune: a uniform
    * hash-shaped key (here md5 of the orderkey) written in arrival
    * order gives every file a [min,max] spanning the whole key space,
    * so a point lookup keeps every file by stats alone. With
    * `write.bloom-cols` the layout writer embeds parquet's NATIVE
    * split-block bloom filters and the commit harvests the bitsets
    * into a table sidecar, so scan PLANNING drops the files no probe
    * key can live in — no footer open, no task scheduled; at 100 TB
    * the difference between "open every footer in the table" and
    * "schedule the two files that can hold the keys" (Iceberg's
    * Puffin-blob / Delta's bloom-index posture). The gate REQUIRES
    * the separation claim measurably: probing OFF keeps all 12 files,
    * probing ON keeps <=4, same hash-matched answer both ways. */
  def q111BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_bloom")
    s.sql("CREATE TABLE graft_ma.db.ord_bloom (ok_hash STRING, " +
      "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('write.bloom-cols'='ok_hash'," +
      "'write.bloom-ndv'='8192')")
    Tables.load(s, dir, "orders")
      .select(md5($"o_orderkey".cast("string")).as("ok_hash"),
        $"o_orderkey", $"o_custkey", $"o_totalprice")
      .repartition(12)
      .writeTo("graft_ma.db.ord_bloom").append()
    def md5Hex(v: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val mk = s.table("graft_ma.db.ord_bloom")
      .agg(min($"o_orderkey"), max($"o_orderkey")).head
    val probes = Seq(mk.getLong(0), mk.getLong(1)).map(k => md5Hex(k.toString))
    def kc() = graft.sources.FileSkippingScan.counts.get("db.ord_bloom")
    def run(): DataFrame = {
      graft.sources.FileSkippingScan.counts.clear()
      val out = s.table("graft_ma.db.ord_bloom")
        .where($"ok_hash".isin(probes: _*))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct($"o_custkey").as("n_custs"),
          moneySum($"o_totalprice").as("total"))
        .cache()
      out.count() // execute now so the skipping counts are observable
      out
    }
    graft.withConf(s, "spark.sql.catalog.graft.read.bloomSkipping" -> "false") {
      run().unpersist()
      require(kc() != null && kc()._1 == kc()._2 && kc()._2 == 12,
        s"q111: min/max stats must be UNABLE to prune the uniform hash " +
          s"key (all 12 files kept), got ${kc()}")
    }
    val out = run()
    require(kc() != null && kc()._2 == 12 && kc()._1 <= 4,
      s"q111: bloom probing must keep <=4 of 12 files for two keys " +
        s"(fpp slack 2), got ${kc()}")
    out
  }

  /** q112: `CALL system.create_changelog_view` — the change feed as a
    * PURE SQL surface (Iceberg's procedure of the same name): q93's
    * row-level CDC derivation registered as a temp view by a CALL, so
    * a SQL-only consumer gets per-commit inserts/deletes with no Scala
    * API in the loop. The gate drives CREATE → scattered UPDATE →
    * append entirely through SQL, CALLs the procedure over the last
    * two commits, and aggregates FROM THE VIEW; the oracle recomputes
    * the update's delete+insert pairs and the appended inserts
    * independently from raw orders — a carried-row leak from the COW
    * rewrite, a missed commit or a view over the wrong span all
    * hash-mismatch. */
  def q112ChangelogView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.cvw")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .writeTo("graft_ma.db.cvw").using("parquet").create()
    s.sql("UPDATE graft_ma.db.cvw " +
      "SET o_totalprice = -o_totalprice WHERE o_orderkey % 59 = 0")
    Tables.load(s, dir, "orders").where($"o_orderkey" % 73 === 0)
      .select(($"o_orderkey" + 30000000L).as("o_orderkey"), $"o_custkey",
        $"o_totalprice")
      .writeTo("graft_ma.db.cvw").append()
    val summary = s.sql("CALL graft_ma.system.create_changelog_view(" +
      "'db.cvw', 'q112_changes', 2)").collect()
    require(summary.length == 1 &&
      summary(0).getAs[String]("changelog_view") == "q112_changes",
      s"q112: unexpected procedure summary ${summary.mkString}")
    s.sql("""SELECT _commit_step, _change_type,
            | count(*) AS n_rows,
            | count(DISTINCT o_orderkey) AS n_distinct,
            | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
            |   AS total
            |FROM q112_changes
            |GROUP BY _commit_step, _change_type
            |ORDER BY _commit_step, _change_type""".stripMargin)
  }

  /** Run `f` with merge-on-read aggregate pushdown switched off: the
    * row-scan path the q113-q116 gates cross-check their metadata
    * answers against. */
  private def withMorAggScan[A](s: SparkSession)(f: => A): A =
    graft.withConf(s, "spark.sql.catalog.graft.read.morAggPushdown" -> "false")(f)

  /** q113: DELETE-AWARE AGGREGATE PUSHDOWN — COUNT(*) stays a
    * zero-scan metadata answer WHILE merge-on-read delete entries are
    * live (q100's fast path previously died the moment CDC touched a
    * table, paying a full scan until rewrite_deletes). The count is
    * Σ footer-stats row counts − Σ sidecar removed-row counts:
    * positional entries carry their ordinals outright, equality
    * entries persist the matched-row count the commit funnel measured
    * (MorDeletes.DeleteEntry.matched — exact because every funnel
    * matches against the live scan, so no row is ever counted twice).
    * The gate builds BOTH sidecar kinds (q110's shape: a PK MERGE
    * DELETE → equality entry, drop the PK, a modulo DELETE → the
    * untranslatable predicate routes the row-level funnel
    * POSITIONALLY), REQUIRES both live, then REQUIRES the COUNT plan
    * to be a LocalTableScan touching zero parquet — and cross-checks
    * the pushed answer against the kill-switched full-scan count
    * before the oracle re-derives it from raw orders. MIN/MAX keep
    * refusing while entries live (a delete can remove the extremum —
    * MorDeleteSpec pins that). */
  def q113MorCountPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_cnt")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .repartition(8)
      .writeTo("graft_ma.db.ord_cnt").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_ma.db.ord_cnt ADD CONSTRAINT ord_cnt_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    // commit 1: scattered PK MERGE DELETE → ONE equality entry whose
    // matched-row count the funnel persisted
    Tables.load(s, dir, "orders").where($"o_orderkey" % 97 === 0)
      .select($"o_orderkey").createOrReplaceTempView("q113_src")
    s.sql("""MERGE INTO graft_ma.db.ord_cnt t USING q113_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN DELETE""".stripMargin)
    // commit 2: PK dropped → the modulo predicate is untranslatable
    // (no metadata-only entry), so the row-level funnel routes it
    // POSITIONALLY — ordinal sidecars, inherently counted
    s.sql("ALTER TABLE graft_ma.db.ord_cnt DROP CONSTRAINT ord_cnt_pk")
    s.sql("DELETE FROM graft_ma.db.ord_cnt WHERE o_custkey % 31 = 0")
    val head = gmaHeadDir(s, "ord_cnt")
    def sidecars(suffix: String): Int = gmaSidecars(head, suffix)
    require(sidecars(".pred") >= 1 && sidecars(".pos") >= 1,
      s"q113 needs BOTH live sidecar kinds, got " +
        s"pred=${sidecars(".pred")} pos=${sidecars(".pos")}")
    graft.withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = s.sql("SELECT CAST(count(*) AS BIGINT) AS n_live " +
        "FROM graft_ma.db.ord_cnt")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan"),
        s"q113: the MoR count was not served from metadata:\n$plan")
      require(!plan.toLowerCase.contains("parquet"),
        s"q113: the pushed count plan still scans data files:\n$plan")
      val pushed = df.collect()(0).getLong(0)
      // cross-check: the kill-switch forces the row-scan path — the
      // metadata answer must agree with it exactly
      val scanned = withMorAggScan(s) {
        s.sql("SELECT count(*) FROM graft_ma.db.ord_cnt").collect()(0).getLong(0)
      }
      require(pushed == scanned,
        s"q113: pushed count $pushed != scanned count $scanned")
      df
    }
  }

  /** q114: PARTITION-PRUNED DELETE-AWARE COUNT — q113's zero-scan
    * metadata count survives the most common count shape at scale,
    * `COUNT(*) WHERE date_col >= X` on a hidden-transform-partitioned
    * CDC table. The scan builder CONSUMES a pushed filter when footer
    * stats decide every live file ALL-OR-NOTHING (every row matches or
    * provably none does — a `years(o_orderdate)` layout makes any
    * year-boundary predicate exactly that shape), then answers from
    * the pruned file list: Σ included files' footer rows − positional
    * ordinals OF INCLUDED FILES − equality matched counts whose
    * stats-narrowed file scope sits FULLY INSIDE the included set
    * (straddling the pruned boundary refuses to the scan; the gate's
    * keys are time-correlated — the warehouse surrogate-id shape — so
    * the recent-keys delete scopes to recent files). The gate builds
    * BOTH sidecar kinds live, REQUIRES the filtered COUNT plan to be a
    * pure LocalTableScan, and cross-checks against the kill-switched
    * full scan before the oracle re-derives from raw orders. */
  def q114MorCountPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_cntp")
    def k2 = ((year($"o_orderdate") - 1990).cast("long") * 100000000L +
      $"o_orderkey").as("k")
    Tables.load(s, dir, "orders")
      .select(k2, $"o_custkey", $"o_totalprice", $"o_orderdate")
      .writeTo("graft_ma.db.ord_cntp").using("parquet")
      .partitionedBy(years($"o_orderdate"))
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_ma.db.ord_cntp ADD CONSTRAINT ord_cntp_pk " +
      "PRIMARY KEY (k) NOT ENFORCED")
    // commit 1: PK MERGE DELETE of RECENT keys (1996+) — the equality
    // entry's scope narrows to the recent files by the key ranges
    Tables.load(s, dir, "orders")
      .where($"o_orderkey" % 97 === 0 && year($"o_orderdate") >= 1996)
      .select(k2).createOrReplaceTempView("q114_src")
    s.sql("""MERGE INTO graft_ma.db.ord_cntp t USING q114_src s
            |ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin)
    // commit 2: PK dropped → the modulo predicate routes POSITIONALLY
    s.sql("ALTER TABLE graft_ma.db.ord_cntp DROP CONSTRAINT ord_cntp_pk")
    s.sql("DELETE FROM graft_ma.db.ord_cntp WHERE o_custkey % 31 = 0")
    val head = gmaHeadDir(s, "ord_cntp")
    def sidecars(suffix: String): Int = gmaSidecars(head, suffix)
    require(sidecars(".pred") >= 1 && sidecars(".pos") >= 1,
      s"q114 needs BOTH live sidecar kinds, got " +
        s"pred=${sidecars(".pred")} pos=${sidecars(".pos")}")
    graft.withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = s.sql("SELECT CAST(count(*) AS BIGINT) AS n_live " +
        "FROM graft_ma.db.ord_cntp " +
        "WHERE o_orderdate >= DATE '1995-01-01'")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan"),
        s"q114: the pruned MoR count was not served from metadata:\n$plan")
      require(!plan.toLowerCase.contains("parquet"),
        s"q114: the pruned count plan still scans data files:\n$plan")
      val pushed = df.collect()(0).getLong(0)
      val scanned = withMorAggScan(s) {
        s.sql("SELECT count(*) FROM graft_ma.db.ord_cntp " +
          "WHERE o_orderdate >= DATE '1995-01-01'").collect()(0).getLong(0)
      }
      require(pushed == scanned,
        s"q114: pushed count $pushed != scanned count $scanned")
      df
    }
  }

  /** q115: MIN/MAX SURVIVAL PUSHDOWN — MIN/MAX (and COUNT) on a table
    * with a LIVE merge-on-read entry serve from metadata when the
    * entry's OWN predicate proves the extremum survived: the candidate
    * is the best footer bound, the entry references only that column,
    * and it evaluates FALSE at the candidate — no row holding the
    * extremum value was deleted, so the footer answer is the live
    * answer. The common CDC shape passes (a PK-keyed delete of
    * interior keys); a deleted extremum or an entry over another
    * column refuses to the scan (MorCountPushdownSpec pins both
    * refusals). Plan REQUIREd pure LocalTableScan, kill-switch
    * cross-checked, oracle re-derived from raw orders. */
  def q115MorMinMaxSurvival(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_mm")
    Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .repartition(8)
      .writeTo("graft_ma.db.ord_mm").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .create()
    s.sql("ALTER TABLE graft_ma.db.ord_mm ADD CONSTRAINT ord_mm_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    // INTERIOR keys deleted at every scale factor (orderkey 1 is the
    // global min and the max is far above 1000 at every SF)
    Tables.load(s, dir, "orders")
      .where($"o_orderkey" % 7 === 3 &&
        $"o_orderkey" >= 100 && $"o_orderkey" < 1000)
      .select($"o_orderkey").createOrReplaceTempView("q115_src")
    s.sql("""MERGE INTO graft_ma.db.ord_mm t USING q115_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN DELETE""".stripMargin)
    require(s.table("graft_ma.db.ord_mm.deletes").count() >= 1L,
      "q115 needs a live equality entry")
    graft.withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = s.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n_live,
          | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
          |FROM graft_ma.db.ord_mm""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan"),
        s"q115: the survived MIN/MAX was not served from metadata:\n$plan")
      require(!plan.toLowerCase.contains("parquet"),
        s"q115: the pushed plan still scans data files:\n$plan")
      val pushed = df.collect()(0)
      val scanned = withMorAggScan(s) {
        s.sql("SELECT CAST(count(*) AS BIGINT), min(o_orderkey), " +
          "max(o_orderkey) FROM graft_ma.db.ord_mm").collect()(0)
      }
      require(pushed.toSeq == scanned.toSeq,
        s"q115: pushed $pushed != scanned $scanned")
      df
    }
  }

  /** q116: SUM/AVG METADATA PUSHDOWN — the reference's dominant
    * aggregate shape (CM:386–402) answered from the driver: parquet
    * footers carry no sums, so the commit path harvests EXACT per-file
    * column sums into `_filestats` (one churn-sized column-pruned read
    * per commit, FileStats.appendSums) and a clean table's
    * SUM/AVG(integral col) — unfiltered AND under a consumed pruning
    * filter — serves as a LocalTableScan, zero data files planned. A
    * LIVE delete entry refuses to the scan (a deleted row's
    * contribution is unknowable from metadata); the refusal and the
    * post-delete scan answer are part of this gate's output, and the
    * oracle re-derives every number from raw orders. */
  def q116SumPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.ord_sum")
    Tables.load(s, dir, "orders")
      .where($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_totalprice".cast("decimal(12,2)").as("o_price"))
      .writeTo("graft_ma.db.ord_sum").using("parquet")
      .partitionedBy(org.apache.spark.sql.functions.years($"o_orderdate"))
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.stats.sums", "true")
      .create()
    graft.withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true") {
      // unfiltered SUM/AVG/COUNT — and the reference's dominant money
      // shape, an exact DECIMAL sum — all pure metadata answers
      val pre = s.sql(
        """SELECT sum(o_custkey) AS sum_all, avg(o_custkey) AS avg_all,
          | CAST(count(*) AS BIGINT) AS n_all,
          | sum(o_price) AS sum_price
          |FROM graft_ma.db.ord_sum""".stripMargin)
      val prePlan = pre.queryExecution.executedPlan.toString
      require(prePlan.contains("LocalTableScan"),
        s"q116: clean SUM/AVG was not served from metadata:\n$prePlan")
      require(!prePlan.toLowerCase.contains("parquet"),
        s"q116: the pushed plan still scans data files:\n$prePlan")
      // PRUNED sum: the years() filter is consumed all-or-nothing and
      // the kept files' harvested sums are exact contributions
      val pruned = s.sql(
        """SELECT sum(o_custkey) AS sum_recent FROM graft_ma.db.ord_sum
          |WHERE o_orderdate >= DATE '1994-01-01'""".stripMargin)
      val prPlan = pruned.queryExecution.executedPlan.toString
      require(prPlan.contains("LocalTableScan"),
        s"q116: the pruned SUM was not served from metadata:\n$prPlan")
      // kill-switch cross-check: the scan path agrees exactly
      val (preScan, prunedScan) = withMorAggScan(s) {
        (s.sql("SELECT sum(o_custkey), avg(o_custkey), " +
            "CAST(count(*) AS BIGINT), sum(o_price) " +
            "FROM graft_ma.db.ord_sum").collect()(0),
          s.sql("SELECT sum(o_custkey) FROM graft_ma.db.ord_sum " +
            "WHERE o_orderdate >= DATE '1994-01-01'").collect()(0))
      }
      require(pre.collect()(0).toSeq == preScan.toSeq,
        s"q116: pushed ${pre.collect()(0)} != scanned $preScan")
      require(pruned.collect()(0).toSeq == prunedScan.toSeq,
        s"q116: pruned pushed ${pruned.collect()(0)} != $prunedScan")
      // a live MoR entry REFUSES the sum back to the scan — the
      // refusal is structural (plan), the answer stays exact (oracle)
      s.sql("ALTER TABLE graft_ma.db.ord_sum ADD CONSTRAINT ord_sum_pk " +
        "PRIMARY KEY (o_orderkey) NOT ENFORCED")
      Tables.load(s, dir, "orders")
        .where($"o_orderkey" % 3 === 0 && $"o_orderkey" % 97 === 0)
        .select($"o_orderkey").createOrReplaceTempView("q116_src")
      s.sql("""MERGE INTO graft_ma.db.ord_sum t USING q116_src s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED THEN DELETE""".stripMargin)
      require(s.table("graft_ma.db.ord_sum.deletes").count() >= 1L,
        "q116 needs a live equality entry")
      val after = s.sql(
        "SELECT sum(o_custkey) AS sum_after FROM graft_ma.db.ord_sum")
      require(!after.queryExecution.executedPlan.toString
          .contains("LocalTableScan"),
        "q116: SUM under a live entry must refuse to the scan")
      pre.crossJoin(pruned).crossJoin(after)
    }
  }

  /** Export path q76's oracle reads. Verify and the DuckDB oracle run on
    * the same host within one gate round, and the oracle SQL (which
    * embeds this path) is DUMPED BY THE SAME JVM that ran the export —
    * so a per-process path is both stable where it must be (within one
    * gate round) and unique where it must be (two concurrent suite runs
    * on one host get disjoint dirs instead of racing a fixed /tmp name;
    * no other local user can pre-create this run's path). */
  val CatalogExternalExportDir: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_catalog_external_export_${ProcessHandle.current().pid()}"

  /** q76: SECOND-ENGINE read validation of the atomic catalog's files —
    * the reference's acceptance-test shape (Trino reading the tables
    * Spark wrote through Iceberg, scripts/run_pipeline.py:256-277) with
    * DuckDB in the Trino role. The gate builds a partitioned table, runs
    * an UPDATE through the partition-level copy-on-write path (touching
    * exactly one partition), evolves the schema with ALTER TABLE ADD
    * COLUMN, fast-appends a post-evolution row, then hard-copies the
    * COMMITTED version directory to [[CatalogExternalExportDir]]. The
    * ORACLE for this gate is DuckDB itself reading that directory
    * (`read_parquet` with hive partitioning + union-by-name across the
    * two schema generations), so the hash match asserts cross-engine
    * agreement on the exact files the catalog serves — post-merge,
    * post-evolution, partition layout and all. */
  def q76CatalogExternal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_ma")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_ma.db")
    s.sql("DROP TABLE IF EXISTS graft_ma.db.extval")
    Tables.load(s, dir, "supplier")
      .select($"s_suppkey", $"s_name", $"s_acctbal".as("bal"),
        ($"s_nationkey" % 5).cast("string").as("grp"))
      .writeTo("graft_ma.db.extval").using("parquet")
      .partitionedBy($"grp").createOrReplace()
    s.sql("""UPDATE graft_ma.db.extval
            |SET bal = bal + CAST(10.0 AS DOUBLE) WHERE grp = '2'""".stripMargin)
    s.sql("ALTER TABLE graft_ma.db.extval ADD COLUMN note STRING")
    Seq((90001L, "Supplier#extra", 1.5, "9", "added"))
      .toDF("s_suppkey", "s_name", "bal", "grp", "note")
      .writeTo("graft_ma.db.extval").append()
    // export the committed version directory byte-for-byte (hard links,
    // no data copy) to the fixed path the DuckDB oracle reads
    val cat = s.sessionState.catalogManager.catalog("graft_ma")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val loc = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("db"), "extval"))
      .properties().get(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION)
    val src = java.nio.file.Paths.get(loc)
    val dst = java.nio.file.Paths.get(CatalogExternalExportDir)
    MetaStore.deleteTree(dst)
    graft.sources.AtomicParquetCatalog.exportVersionDir(src, dst)
    s.table("graft_ma.db.extval")
      .select($"s_suppkey", $"s_name", $"bal", $"grp", $"note")
      .orderBy($"s_suppkey")
  }

  /** q77: the `.partitions` METADATA TABLE — Iceberg's partition-health
    * introspection surface on [[graft.sources.AtomicParquetCatalog]]:
    * per-partition row totals of the current snapshot, computed from
    * parquet FOOTERS (metadata pages) with no data scan — what a
    * maintenance job reads to find skew and small files before choosing
    * what to compact. The oracle recomputes each partition's row count
    * straight from `customer`, so the gate pins the whole loop: write
    * partitioned -> enumerate partitions from footers -> counts match
    * the data. (File counts and byte sizes are served too but excluded
    * from the gate output — they depend on task parallelism and codec,
    * not on query semantics; AtomicCatalogSpec covers them.) */
  def q77PartitionsMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_acctbal", $"c_mktsegment".as("segment"))
      .writeTo("graft_th.db.pmeta").using("parquet")
      .partitionedBy($"segment").createOrReplace()
    s.table("graft_th.db.pmeta.partitions")
      .select($"partition_path", $"n_rows")
      .orderBy($"partition_path")
  }

  /** q78: SNAPSHOT CHANGES — the incremental-consumer pattern on the
    * atomic catalog (Iceberg's incremental read / Delta CDF shape,
    * composed from surfaces the catalog already pins): three commits
    * build a known history (create, fast-append, partition-COW delete),
    * then the changes since the FIRST snapshot are derived as two
    * `EXCEPT ALL` passes against the `VERSION AS OF` read — added rows
    * and removed rows, each tagged. A downstream job that consumed
    * snapshot A catches up to the head with exactly this delta instead
    * of reprocessing the table. The oracle reconstructs both snapshots
    * from the raw `orders` predicates. */
  def q78SnapshotChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_th")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_th.db")
    s.sql("DROP TABLE IF EXISTS graft_th.db.chg")
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus")
    o.where($"o_orderkey" % 4 === 0)
      .writeTo("graft_th.db.chg").using("parquet").createOrReplace()
    o.where($"o_orderkey" % 4 === 1).writeTo("graft_th.db.chg").append()
    s.sql("DELETE FROM graft_th.db.chg WHERE o_orderkey % 8 = 0")
    val base = s.sql("SELECT * FROM graft_th.db.chg VERSION AS OF 2")
    val cur = s.table("graft_th.db.chg")
    cur.exceptAll(base).withColumn("change", lit("added"))
      .unionByName(base.exceptAll(cur).withColumn("change", lit("removed")))
      .orderBy($"o_orderkey")
  }

  /** q59: SCD Type-2 build — the events stream read as a change log of
    * each user's state (their event_type), collapsed into versioned
    * validity intervals. Thin binding of
    * [[graft.api.Graft.scd2FromChangeLog]] — one exchange on the key,
    * no self-join. */
  def q59Scd2Build(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.api.Graft.scd2FromChangeLog(
        Tables.load(s, dir, "events"), "user_id", "ts", $"event_id",
        attrs = Seq("event_type"))
      .orderBy($"user_id", $"version")
  }

  /** q60: SCD Type-2 merge — the dimension history built from the first
    * 19 days (restricted to user_id % 10 != 0, so the batch also carries
    * brand-new keys), merged with one batch of per-user latest states
    * from day 20 on. Exercises all four merge outcomes: pass-through
    * history, no-op update, close-and-version, and first-version insert.
    * Thin binding of [[graft.api.Graft.scdMerge]]. */
  def q60Scd2Merge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-20 00:00:00"))
    val current = graft.api.Graft.scd2FromChangeLog(
      ev.where($"ts" < cutoff && $"user_id" % 10 =!= 0),
      "user_id", "ts", $"event_id", attrs = Seq("event_type"))
    val updates = graft.api.Graft.capPerGroup(
        ev.where($"ts" >= cutoff), $"user_id",
        struct($"ts", $"event_id"), $"event_id", n = 1)
      .select($"user_id", $"event_type", $"ts")
    graft.api.Graft.scdMerge(current, updates, "user_id",
        attrs = Seq("event_type"), effTs = "ts")
      .orderBy($"user_id", $"version", $"valid_from")
  }

  /** q61: single-pass column profiler — per-column null/distinct/min/max
    * summary of the orders table (string-safe columns only: double and
    * timestamp min/max render engine-specifically). Thin binding of
    * [[graft.api.Graft.profile]] in its exact form; the approx form is the
    * 100 TB path (ApproxAggSpec-style tolerance, no cross-engine oracle). */
  def q61Profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.api.Graft.profile(Tables.load(s, dir, "orders"),
        Seq("o_orderstatus", "o_custkey", "o_orderpriority"))
      .orderBy($"col_name")
  }

  /** q62: funnel analysis — per-user ordered conversion through
    * view -> click -> purchase: the earliest view, the earliest click at or
    * after it, the earliest purchase at or after that click, plus the
    * converted flag and seconds-to-convert. The strict "each step after the
    * previous" ordering is what separates a funnel from three independent
    * mins — a purchase BEFORE the first view never counts.
    *
    * Scale shape: three keyed min-aggregates and three joins, all on
    * user_id — one partitioning reused end to end (AQE broadcasts the
    * shrinking per-user frames); never a per-user sort or event collect. */
  def q62Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val v = ev.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.where($"event_type" === "click").join(v, "user_id")
      .where($"ts" >= $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.where($"event_type" === "purchase").join(c, "user_id")
      .where($"ts" >= $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select($"user_id", $"t_view", $"t_click", $"t_purchase",
        $"t_purchase".isNotNull.as("converted"),
        when($"t_purchase".isNotNull,
          unix_timestamp($"t_purchase") - unix_timestamp($"t_view"))
          .as("secs_to_convert"))
      .orderBy($"user_id")
  }

  /** q63: last-observation-carried-forward — the time-series gap-fill that
    * propagates each user's most recent purchase value to every later
    * event (sensor/price feeds: sparse readings become a dense series).
    * `last(col, ignoreNulls)` over rows-unbounded-preceding is the exact
    * LOCF frame; one window shuffle on user_id, no joins. */
  def q63Locf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"ts",
        when($"event_type" === "purchase", $"value").as("sparse_val"))
      .withColumn("filled_val", last($"sparse_val", ignoreNulls = true).over(w))
      .select($"event_id", $"sparse_val", $"filled_val")
      .orderBy($"event_id")
  }

  /** q64: join-key skew diagnostics — the pre-join health check run before
    * committing to a shuffle strategy: the N heaviest keys with their row
    * share plus the global skew factor (max key count / mean key count).
    * A skew factor in the hundreds is the signal to reach for q12's
    * salting or AQE skew-join handling; this is the generic-key companion
    * of d09's LSH bucket stats. TakeOrdered top-N — no global sort
    * materializes. */
  def q64KeySkew(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.load(s, dir, "lineitem")
      .groupBy($"l_suppkey".as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum($"n").as("total_rows"), count(lit(1)).as("n_keys"))
    counts.orderBy($"n".desc, $"key").limit(20)
      .crossJoin(broadcast(totals))
      .select(
        row_number().over(Window.orderBy($"n".desc, $"key"))
          .cast(LongType).as("rank"),
        $"key", $"n",
        ($"n".cast(DoubleType) / $"total_rows").as("share"),
        (($"n" * $"n_keys").cast(DoubleType) / $"total_rows")
          .as("skew_factor"))
      .orderBy($"rank")
  }

  /** q65: hopping-window aggregates — Spark's `window(ts, size, slide)`
    * with slide < size, so every event lands in size/slide overlapping
    * windows (here 4 h sliding by 2 h: each event in exactly 2). The
    * overlap is what tumbling windows (st01) can't express: a spike
    * straddling a tumbling boundary splits across two buckets and hides;
    * hops see it whole in the straddling window. */
  def q65HoppingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy(window($"ts", "4 hours", "2 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        moneySum($"value").as("total_value"))
      // epoch-second window bounds: engine-portable hashing (q18 pattern)
      .select(unix_timestamp($"w.start").as("window_start_s"),
        unix_timestamp($"w.end").as("window_end_s"),
        $"n_events", $"total_value")
      .orderBy($"window_start_s")
  }

  /** q66: rolling 7-day active users — for each observed day, the exact
    * distinct-user count over the trailing week (the WAU series next to
    * DAU). A distinct count over a sliding range frame has no partial
    * form, so the scale-correct shape is the EXPLODE-BY-OFFSET trick:
    * each (user, active-day) row fans out to the 7 window days it
    * contributes to (bounded 7x amplification of the per-day distinct
    * frame, NOT the raw events), then one exact countDistinct per day —
    * never a per-day rescan of the trailing window. */
  def q66RollingActive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables.load(s, dir, "events")
      .select($"user_id", $"ts".cast(DateType).as("d")).distinct()
    val wau = ud
      .select($"user_id", explode(sequence($"d", date_add($"d", 6))).as("day"))
      .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
    val dau = ud.groupBy($"d".as("day"))
      .agg(countDistinct($"user_id").as("dau"))
    // inner join keeps only observed days (no phantom trailing days)
    dau.join(wau, "day").orderBy($"day")
  }

  /** q67: cohort retention — users grouped by the week they first
    * appeared, tracked by distinct activity in each later week offset:
    * the (cohort_week, week_offset) retention matrix every growth
    * dashboard draws. One aggregate for first-seen, one fact-side join,
    * one keyed distinct count. */
  def q67Retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ue = Tables.load(s, dir, "events")
      .select($"user_id", $"ts".cast(DateType).as("d")).distinct()
    val first = ue.groupBy($"user_id").agg(min($"d").as("cohort_date"))
    ue.join(first, "user_id")
      .select(date_trunc("week", $"cohort_date").cast(DateType).as("cohort_week"),
        floor(datediff($"d", $"cohort_date") / 7).cast(LongType).as("week_offset"),
        $"user_id")
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q66_rolling_active" -> q66RollingActive,
    "q67_retention" -> q67Retention,
    "q64_key_skew" -> q64KeySkew,
    "q65_hopping_window" -> q65HoppingWindow,
    "q62_funnel" -> q62Funnel,
    "q63_locf" -> q63Locf,
    "q61_profile" -> q61Profile,
    "q59_scd2_build" -> q59Scd2Build,
    "q60_scd2_merge" -> q60Scd2Merge,
    "q58_snapshot_diff" -> q58SnapshotDiff,
    "q68_time_travel" -> q68TimeTravel,
    "q69_merge_into" -> q69MergeInto,
    "q75_merge_partitioned" -> q75MergePartitioned,
    "q79_merge_multicol_partitions" -> q79MergeMulticolPartitions,
    "q80_merge_not_matched_by_source" -> q80MergeNotMatchedBySource,
    "q81_storage_partitioned_join" -> q81StoragePartitionedJoin,
    "q82_merge_schema_evolution" -> q82MergeSchemaEvolution,
    "q83_bucket_spj" -> q83BucketSpj,
    "q84_bucket_merge" -> q84BucketMerge,
    "q85_days_transform" -> q85DaysTransform,
    "q86_months_transform" -> q86MonthsTransform,
    "q87_hours_transform" -> q87HoursTransform,
    "q88_truncate_transform" -> q88TruncateTransform,
    "q89_rewrite_layout" -> q89RewriteLayout,
    "q90_composite_spec" -> q90CompositeSpec,
    "q91_evolve_layout" -> q91EvolveLayout,
    "q92_composite_dpp" -> q92CompositeDpp,
    "q93_table_changes" -> q93TableChanges,
    "q94_file_skipping" -> q94FileSkipping,
    "q95_mor_delete" -> q95MorDelete,
    "q96_cluster_by" -> q96ClusterBy,
    "q97_concurrent_append" -> q97ConcurrentAppend,
    "q98_default_column" -> q98DefaultColumn,
    "q99_check_constraint" -> q99CheckConstraint,
    "q100_agg_pushdown" -> q100AggPushdown,
    "q101_identity_column" -> q101IdentityColumn,
    "q102_mor_merge" -> q102MorMerge,
    "q103_branches" -> q103Branches,
    "q104_mor_merge_composite" -> q104MorMergeComposite,
    "q105_unify_layout" -> q105UnifyLayout,
    "q106_branch_changes" -> q106BranchChanges,
    "q107_mor_positional" -> q107MorPositional,
    "q108_sorted_write" -> q108SortedWrite,
    "q109_mor_identity" -> q109MorIdentity,
    "q110_export_mor_live" -> q110ExportMorLive,
    "q111_bloom_skipping" -> q111BloomSkipping,
    "q112_changelog_view" -> q112ChangelogView,
    "q113_mor_count_pushdown" -> q113MorCountPushdown,
    "q114_mor_count_pruned" -> q114MorCountPruned,
    "q115_mor_minmax_survival" -> q115MorMinMaxSurvival,
    "q116_sum_pushdown" -> q116SumPushdown,
    "q76_catalog_external" -> q76CatalogExternal,
    "q77_partitions_metadata" -> q77PartitionsMetadata,
    "q78_snapshot_changes" -> q78SnapshotChanges,
    "q74_dynamic_overwrite" -> q74DynamicOverwrite,
    "q73_analyze_stats" -> q73AnalyzeStats,
    "q72_call_maintenance" -> q72CallMaintenance,
    "q71_table_history" -> q71TableHistory,
    "q70_delete_update" -> q70DeleteUpdate,
    "q54_higher_order" -> q54HigherOrder,
    "q55_map_funcs" -> q55MapFuncs,
    "q42_cube" -> q42Cube,
    "q43_window_nav" -> q43WindowNav,
    "q44_hash_sample" -> q44HashSample,
    "q45_variant_json" -> q45Variant,
    "q46_try_funcs" -> q46TryFuncs,
    "q47_bitwise" -> q47Bitwise,
    "q48_string_agg" -> q48StringAgg,
    "q53_zorder_layout" -> q53ZorderLayout)

  val oracles: Map[String, String] = Map(
    "q66_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |ex AS (
        |  SELECT user_id, d + CAST(i AS INTEGER) AS day
        |  FROM ud, (SELECT unnest(generate_series(0, 6)) AS i)),
        |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM ex GROUP BY day),
        |dau AS (SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM ud GROUP BY d)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin,
    "q67_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_date FROM ud GROUP BY user_id)
        |SELECT CAST(date_trunc('week', cohort_date) AS DATE) AS cohort_week,
        | CAST(floor((d - cohort_date) / 7) AS BIGINT) AS week_offset,
        | CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_active
        |FROM ud JOIN f ON ud.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "q64_key_skew" ->
      """WITH c AS (
        |  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
        |       CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rank,
        | key, n,
        | CAST(n AS DOUBLE) / total_rows AS share,
        | CAST(n * n_keys AS DOUBLE) / total_rows AS skew_factor
        |FROM top, t ORDER BY rank""".stripMargin,
    "q65_hopping_window" ->
      """WITH ex AS (
        |  SELECT value, unnest([
        |    CAST(floor(epoch(ts) / 7200) AS BIGINT) * 7200,
        |    CAST(floor(epoch(ts) / 7200) AS BIGINT) * 7200 - 7200]) AS window_start_s
        |  FROM events)
        |SELECT window_start_s, window_start_s + 14400 AS window_end_s,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM ex GROUP BY window_start_s ORDER BY window_start_s""".stripMargin,
    "q62_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        | p.t_purchase IS NOT NULL AS converted,
        | CASE WHEN p.t_purchase IS NOT NULL
        |      THEN CAST(floor(epoch(p.t_purchase)) AS BIGINT)
        |         - CAST(floor(epoch(v.t_view)) AS BIGINT) END AS secs_to_convert
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "q63_locf" ->
      """SELECT event_id,
        | CASE WHEN event_type = 'purchase' THEN value END AS sparse_val,
        | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q61_profile" ->
      """SELECT col_name, n_values, n_nulls, n_distinct, min_value, max_value FROM (
        |  SELECT 'o_orderstatus' AS col_name,
        |    CAST(count(o_orderstatus) AS BIGINT) AS n_values,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
        |    CAST(min(o_orderstatus) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderstatus) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey',
        |    CAST(count(o_custkey) AS BIGINT),
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT o_custkey) AS BIGINT),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    CAST(count(o_orderpriority) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |  FROM orders)
        |ORDER BY col_name""".stripMargin,
    "q59_scd2_build" ->
      """WITH w AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM w WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM chg
        |ORDER BY user_id, version""".stripMargin,
    "q60_scd2_merge" ->
      """WITH pre AS (
        |  SELECT * FROM events
        |  WHERE ts < TIMESTAMP '2024-01-20 00:00:00' AND user_id % 10 <> 0),
        |w AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM pre),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id
        |  FROM w WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |scd AS (
        |  SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        |  FROM chg),
        |scd2 AS (SELECT *, valid_to IS NULL AS is_current FROM scd),
        |upd AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1),
        |cur AS (SELECT * FROM scd2 WHERE is_current),
        |hist AS (SELECT * FROM scd2 WHERE NOT is_current),
        |kept AS (
        |  SELECT c.user_id, c.event_type, c.valid_from,
        |    CASE WHEN u.user_id IS NOT NULL AND u.event_type IS DISTINCT FROM c.event_type
        |         THEN u.ts ELSE c.valid_to END AS valid_to,
        |    c.version,
        |    CASE WHEN u.user_id IS NOT NULL AND u.event_type IS DISTINCT FROM c.event_type
        |         THEN FALSE ELSE c.is_current END AS is_current
        |  FROM cur c LEFT JOIN upd u ON c.user_id = u.user_id),
        |ins AS (
        |  SELECT u.user_id, u.event_type, u.ts AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to,
        |    CAST(coalesce(c.version + 1, 1) AS BIGINT) AS version,
        |    TRUE AS is_current
        |  FROM upd u LEFT JOIN cur c ON u.user_id = c.user_id
        |  WHERE c.user_id IS NULL OR u.event_type IS DISTINCT FROM c.event_type)
        |SELECT user_id, event_type, valid_from, valid_to, version, is_current FROM hist
        |UNION ALL
        |SELECT user_id, event_type, valid_from, valid_to, version, is_current FROM kept
        |UNION ALL
        |SELECT user_id, event_type, valid_from, valid_to, version, is_current FROM ins
        |ORDER BY user_id, version, valid_from""".stripMargin,
    "q58_snapshot_diff" ->
      """WITH o AS (
        |  SELECT user_id, event_type, count(*) AS n_events,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-04 00:00:00'
        |  GROUP BY 1, 2),
        |n AS (
        |  SELECT user_id, event_type, count(*) AS n_events,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-06 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        | coalesce(o.event_type, n.event_type) AS event_type,
        | CASE WHEN o.user_id IS NULL THEN 'added'
        |      WHEN n.user_id IS NULL THEN 'removed'
        |      WHEN o.n_events IS DISTINCT FROM n.n_events
        |        OR o.total_value IS DISTINCT FROM n.total_value THEN 'changed' END AS change,
        | o.n_events AS old_n_events, n.n_events AS new_n_events,
        | o.total_value AS old_total_value, n.total_value AS new_total_value
        |FROM o FULL OUTER JOIN n
        |  ON o.user_id = n.user_id AND o.event_type = n.event_type
        |WHERE CASE WHEN o.user_id IS NULL THEN 'added'
        |      WHEN n.user_id IS NULL THEN 'removed'
        |      WHEN o.n_events IS DISTINCT FROM n.n_events
        |        OR o.total_value IS DISTINCT FROM n.total_value THEN 'changed' END IS NOT NULL
        |ORDER BY user_id, event_type""".stripMargin,
    "q68_time_travel" ->
      """WITH old AS (
        |  SELECT o_orderstatus, count(*) AS old_n,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS old_total
        |  FROM orders WHERE o_orderdate < DATE '1995-01-01' GROUP BY 1),
        |cur AS (
        |  SELECT o_orderstatus, count(*) AS new_n,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS new_total
        |  FROM orders GROUP BY 1)
        |SELECT cur.o_orderstatus,
        | coalesce(old.old_n, 0) AS old_n, cur.new_n,
        | coalesce(old.old_total, 0.0) AS old_total, cur.new_total,
        | cur.new_n - coalesce(old.old_n, 0) AS n_delta
        |FROM cur LEFT JOIN old ON cur.o_orderstatus = old.o_orderstatus
        |ORDER BY cur.o_orderstatus""".stripMargin,
    "q74_dynamic_overwrite" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus = 'O'
        |      THEN o_totalprice + CAST(1000000.0 AS DOUBLE)
        |      ELSE o_totalprice END AS price,
        | o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q73_analyze_stats" ->
      """SELECT 's_suppkey' AS "column", (SELECT count(*) FROM supplier) AS n_rows,
        | (SELECT count(*) FROM supplier WHERE s_suppkey IS NULL) AS n_nulls,
        | (SELECT count(DISTINCT s_suppkey) FROM supplier) AS n_distinct,
        | (SELECT CAST(min(s_suppkey) AS VARCHAR) FROM supplier) AS min_value,
        | (SELECT CAST(max(s_suppkey) AS VARCHAR) FROM supplier) AS max_value
        |UNION ALL
        |SELECT 's_name' AS "column", (SELECT count(*) FROM supplier) AS n_rows,
        | (SELECT count(*) FROM supplier WHERE s_name IS NULL) AS n_nulls,
        | (SELECT count(DISTINCT s_name) FROM supplier) AS n_distinct,
        | (SELECT CAST(min(s_name) AS VARCHAR) FROM supplier) AS min_value,
        | (SELECT CAST(max(s_name) AS VARCHAR) FROM supplier) AS max_value
        |UNION ALL
        |SELECT 's_nationkey' AS "column", (SELECT count(*) FROM supplier) AS n_rows,
        | (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL) AS n_nulls,
        | (SELECT count(DISTINCT s_nationkey) FROM supplier) AS n_distinct,
        | (SELECT CAST(min(s_nationkey) AS VARCHAR) FROM supplier) AS min_value,
        | (SELECT CAST(max(s_nationkey) AS VARCHAR) FROM supplier) AS max_value
        |ORDER BY "column"""".stripMargin,
    "q72_call_maintenance" ->
      """SELECT (SELECT count(*) FROM supplier WHERE s_nationkey < 10) AS n_rows,
        | CAST(1 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_history""".stripMargin,
    "q71_table_history" ->
      """SELECT 0 AS ordinal, TRUE AS is_current,
        | (SELECT count(*) FROM supplier) AS n_rows
        |UNION ALL
        |SELECT 1, FALSE,
        | (SELECT count(*) FROM supplier WHERE s_nationkey < 20)
        |UNION ALL
        |SELECT 2, FALSE,
        | (SELECT count(*) FROM supplier WHERE s_nationkey < 10)
        |ORDER BY ordinal""".stripMargin,
    "q70_delete_update" ->
      """SELECT p_partkey, p_brand,
        | CASE WHEN p_brand LIKE 'Brand#1%' THEN p_size + 1 ELSE p_size END AS p_size,
        | CASE WHEN p_brand LIKE 'Brand#1%'
        |      THEN p_retailprice + CAST(100.0 AS DOUBLE)
        |      ELSE p_retailprice END AS price
        |FROM part WHERE p_partkey % 7 <> 0
        |ORDER BY p_partkey""".stripMargin,
    "q69_merge_into" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_acctbal AS balance, c_mktsegment AS segment
        |  FROM customer WHERE c_custkey % 3 <> 2),
        |src AS (
        |  SELECT o_custkey,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spent,
        |   count(*) AS n_orders
        |  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        |  GROUP BY o_custkey)
        |SELECT t.c_custkey,
        | CASE WHEN s.o_custkey IS NOT NULL THEN t.balance + s.spent
        |      WHEN t.c_custkey % 100 = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE t.balance END AS balance,
        | t.segment
        |FROM tgt t LEFT JOIN src s ON t.c_custkey = s.o_custkey
        |WHERE s.o_custkey IS NULL OR s.n_orders < 8
        |UNION ALL
        |SELECT s.o_custkey AS c_custkey, s.spent AS balance, 'NEW' AS segment
        |FROM src s LEFT JOIN tgt t ON t.c_custkey = s.o_custkey
        |WHERE t.c_custkey IS NULL
        |ORDER BY c_custkey""".stripMargin,
    "q75_merge_partitioned" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_acctbal AS balance, c_mktsegment AS segment
        |  FROM customer WHERE c_custkey % 3 <> 2),
        |src AS (
        |  SELECT o_custkey,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spent,
        |   count(*) AS n_orders
        |  FROM orders JOIN customer b
        |    ON b.c_custkey = o_custkey AND b.c_mktsegment = 'BUILDING'
        |  WHERE o_orderdate >= DATE '1997-01-01'
        |  GROUP BY o_custkey)
        |SELECT t.c_custkey,
        | CASE WHEN s.o_custkey IS NOT NULL THEN t.balance + s.spent
        |      ELSE t.balance END AS balance,
        | t.segment
        |FROM tgt t LEFT JOIN src s ON t.c_custkey = s.o_custkey
        |WHERE s.o_custkey IS NULL OR s.n_orders < 8
        |UNION ALL
        |SELECT s.o_custkey AS c_custkey, s.spent AS balance, 'NEW' AS segment
        |FROM src s LEFT JOIN tgt t ON t.c_custkey = s.o_custkey
        |WHERE t.c_custkey IS NULL
        |ORDER BY c_custkey""".stripMargin,
    "q79_merge_multicol_partitions" ->
      """WITH tgt AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |   CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus AS st
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey AS k, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |   o_orderstatus AS st
        |  FROM orders
        |  WHERE year(o_orderdate) = 1997 AND o_orderstatus = 'O'
        |    AND (o_orderkey % 10 = 0 OR o_orderkey % 10 = 1))
        |SELECT t.k,
        | CASE WHEN s.k IS NOT NULL THEN t.price + 10.0 ELSE t.price END AS price,
        | t.yr, t.st
        |FROM tgt t LEFT JOIN src s ON t.k = s.k
        |UNION ALL
        |SELECT s.k, 10.0 AS price, s.yr, s.st
        |FROM src s LEFT JOIN tgt t ON t.k = s.k WHERE t.k IS NULL
        |ORDER BY k""".stripMargin,
    "q80_merge_not_matched_by_source" ->
      """WITH tgt AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price,
        |   CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderstatus AS st
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 6 = 0)
        |SELECT t.k,
        | CASE WHEN s.k IS NOT NULL THEN t.price + 1.0 ELSE t.price END AS price,
        | t.yr, t.st
        |FROM tgt t LEFT JOIN src s ON t.k = s.k
        |WHERE s.k IS NOT NULL OR t.st <> 'P'
        |ORDER BY t.k""".stripMargin,
    "q82_merge_schema_evolution" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_acctbal AS balance FROM customer
        |  WHERE c_custkey % 3 = 0),
        |src AS (
        |  SELECT c_custkey, c_acctbal * 2.0 AS balance,
        |   c_mktsegment AS segment
        |  FROM customer WHERE c_custkey % 3 <> 2 AND c_custkey % 2 = 0)
        |SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
        | CASE WHEN s.c_custkey IS NOT NULL THEN s.balance
        |      ELSE t.balance END AS balance,
        | s.segment
        |FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q81_storage_partitioned_join" ->
      """SELECT c.c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(CAST(c.c_acctbal + s.s_acctbal AS DECIMAL(12,2)))
        |      AS DOUBLE) AS total
        |FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
        |GROUP BY c.c_nationkey
        |ORDER BY nk""".stripMargin,
    "q83_bucket_spj" ->
      """SELECT c.c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(o.o_totalprice + c.c_acctbal AS DECIMAL(12,2)))
        |      AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q85_days_transform" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q86_months_transform" ->
      """SELECT CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
        | event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2
        |ORDER BY month, event_type""".stripMargin,
    "q87_hours_transform" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hr,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY day, hr""".stripMargin,
    "q88_truncate_transform" ->
      """SELECT c_custkey - ((c_custkey % 100 + 100) % 100) AS block,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM customer GROUP BY 1
        |ORDER BY block""".stripMargin,
    "q90_composite_spec" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    // the partially-compacted table == raw events in the ts window
    // with the spanning MoR delete replayed — a legacy row the partial
    // rewrite lost or duplicated, a root delete the restricted carry
    // dropped (resurrected rows), or a legacy delete the rewrite
    // failed to materialize all hash-mismatch here
    "q105_unify_layout" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-22 00:00:00'
        |  AND NOT (user_id >= 10 AND user_id <= 40)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the mixed-spec table (old third under days(ts), new thirds under
    // the composite) == all events inside the ts window, exactly once
    "q91_evolve_layout" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-22 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the sorted-write table serves exactly the raw filtered
    // aggregate — skipping may only over-keep, never drop, and the
    // gate's own require pins that it actually skipped
    "q108_sorted_write" ->
      """SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey <= 400
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // merge + untranslatable-predicate delete replayed over the raw
    // table: matched keys (mod 97) negate, inserts (mod 89) land in
    // 'Z', then every row with o_custkey % 50 = 3 dies — a positional
    // entry applied at the wrong ordinal (or not at all) mismatches
    "q107_mor_positional" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'Z', o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0
        |)
        |SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM merged
        |WHERE NOT (o_custkey % 50 = 3)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the invariant-aggregate shape (q101's trick): rids are
    // allocation-order-dependent, so the oracle pins what IS
    // deterministic — per-group counts, global rid uniqueness
    // (n_rids == n_rows), grid alignment (off_grid == 0) and the
    // independently recomputed value totals; the per-row rid
    // PRESERVATION claim is the gate's own collect-compare require
    "q109_mor_identity" ->
      """WITH merged AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 97 = 0 THEN -value ELSE value END AS value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, 'Z', value
        |  FROM events WHERE event_id % 89 = 0
        |)
        |SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_rids,
        | CAST(0 AS BIGINT) AS off_grid,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB reads the MATERIALIZED export of a version whose own
    // sidecars are still live (both formats), and re-derives every
    // expected price independently from raw orders: n_bad counts
    // per-row disagreements (a resurrected deleted row falls out of
    // the join arithmetic as a count/total mismatch instead)
    "q110_export_mor_live" ->
      s"""SELECT CAST(e.o_orderstatus AS VARCHAR) AS o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT e.o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(e.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        | CAST(sum(CASE WHEN abs(e.o_totalprice - (
        |     CASE WHEN o.o_orderkey % 97 = 0 THEN -o.o_totalprice
        |          ELSE o.o_totalprice END
        |     + CASE WHEN o.o_custkey % 31 = 0 THEN 5.0 ELSE 0.0 END
        |   )) > 0.0001 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        |FROM read_parquet('$MorExportDir/**/*.parquet',
        |  hive_partitioning=true, union_by_name=true) e
        |JOIN orders o ON o.o_orderkey = e.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the probe keys are the min/max orderkeys' md5 — DuckDB derives
    // the same constants via scalar subqueries, so a bloom false
    // NEGATIVE (a skipped file that held a probed row) hash-mismatches
    "q111_bloom_skipping" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE md5(CAST(o_orderkey AS VARCHAR)) IN (
        |  (SELECT md5(CAST(min(o_orderkey) AS VARCHAR)) FROM orders),
        |  (SELECT md5(CAST(max(o_orderkey) AS VARCHAR)) FROM orders))""".stripMargin,
    // the last two commits' net changes, read through the SQL-only
    // CALL + view surface: step 1 = the update's delete(+price)/
    // insert(-price) pairs, step 2 = the appended batch as inserts
    "q112_changelog_view" ->
      """SELECT 1 AS _commit_step, 'delete' AS _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 59 = 0
        |UNION ALL
        |SELECT 1, 'insert',
        | CAST(count(*) AS BIGINT),
        | CAST(count(DISTINCT o_orderkey) AS BIGINT),
        | CAST(sum(CAST(-o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 59 = 0
        |UNION ALL
        |SELECT 2, 'insert',
        | CAST(count(*) AS BIGINT),
        | CAST(count(DISTINCT o_orderkey) AS BIGINT),
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 73 = 0
        |ORDER BY _commit_step, _change_type""".stripMargin,
    // the branch's net changes since the fork: step 1 = the updated
    // rows as delete(+price)/insert(-price) pairs, step 2 = the
    // appended batch as inserts — a carried-row leak from the COW
    // rewrite or a change main's log contributed would mismatch
    "q106_branch_changes" ->
      """SELECT 1 AS _commit_step, 'delete' AS _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 53 = 0
        |UNION ALL
        |SELECT 1, 'insert',
        | CAST(count(*) AS BIGINT),
        | CAST(count(DISTINCT o_orderkey) AS BIGINT),
        | CAST(sum(CAST(-o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 53 = 0
        |UNION ALL
        |SELECT 2, 'insert',
        | CAST(count(*) AS BIGINT),
        | CAST(count(DISTINCT o_orderkey) AS BIGINT),
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 71 = 0
        |ORDER BY _commit_step, _change_type""".stripMargin,
    // step 1 = the appended third as pure inserts; step 2 = exactly
    // the deleted rows as deletes (rows the bucket rewrites merely
    // carried cancel in the exceptAll)
    "q93_table_changes" ->
      """SELECT 1 AS _commit_step, 'insert' AS _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 3 = 1
        |UNION ALL
        |SELECT 2, 'delete',
        | CAST(count(*) AS BIGINT),
        | CAST(count(DISTINCT event_id) AS BIGINT),
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        |FROM events WHERE event_id % 3 IN (0, 1) AND event_id % 5 = 0
        |ORDER BY _commit_step, _change_type""".stripMargin,
    // the dim's grp=0 slice is exactly the user_id % 500 == 0 users (a
    // handful of keys, so whole bucket directories actually drop), and
    // the runtime-pruned join == the plain filtered aggregate
    "q92_composite_dpp" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events WHERE user_id % 500 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // file skipping is a may-match over-approximation: the kept-file
    // read must equal the plain filtered aggregate exactly
    // survivors of two stacked metadata-only deletes == the raw table
    // minus both predicates (all referenced columns are NOT NULL in
    // TPC-H, so plain NOT is the exact survivor condition)
    "q95_mor_delete" ->
      """SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (o_custkey >= 100 AND o_custkey <= 400)
        |  AND NOT (o_orderpriority = '1-URGENT' AND o_totalprice > 250000.0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the PUBLISHED (fast-forwarded) state == the branch's two edits
    // replayed over the raw table; a leak into main pre-publish is
    // caught by the gate's own require, a lost branch edit by the hash
    "q103_branches" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 53 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, 'B', o_totalprice
        |  FROM orders WHERE o_orderkey % 71 = 0
        |)
        |SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the composite-key merge replayed over the raw table: matched
    // (l_orderkey, l_linenumber) pairs (mod 97 on the order key) take
    // the negated price, inserts (mod 89, shifted keys) land in 'Z' —
    // a tuple equality-delete the read side failed to apply (a
    // resurrected pre-update row) hash-mismatches the totals
    "q104_mor_merge_composite" ->
      """WITH merged AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 97 = 0 THEN -value
        |         ELSE value END AS value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, 'Z', value
        |  FROM events WHERE event_id % 89 = 0
        |)
        |SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle replays the merge arithmetic over the raw table:
    // matched keys (mod 97) take the negated price, the inserted rows
    // (mod 89, shifted keys) land in partition 'Z' — an equality
    // delete the read side failed to apply (a resurrected old row)
    // hash-mismatches the totals
    "q102_mor_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'Z', o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0
        |)
        |SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM merged
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // identity values are unique-per-row and on the (1000,3) grid, so
    // the invariant columns reduce to count / count / zero — a
    // duplicate or off-grid allocation hash-mismatches
    "q101_identity_column" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(*) AS BIGINT) AS n_rids,
        | CAST(0 AS BIGINT) AS off_grid,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the sidecar-metadata count == the raw count net of both deletes
    // (the PK merge removed o_orderkey % 97 = 0; the positional delete
    // removed the remaining o_custkey % 31 = 0 rows)
    "q113_mor_count_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_live FROM orders
        |WHERE o_orderkey % 97 <> 0 AND o_custkey % 31 <> 0""".stripMargin,
    // the pruned metadata count == the raw filtered count net of both
    // deletes (the PK merge removed recent o_orderkey % 97 = 0 rows;
    // the positional delete removed surviving o_custkey % 31 = 0 rows)
    "q114_mor_count_pruned" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_live FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01'
        |  AND NOT (o_orderkey % 97 = 0 AND year(o_orderdate) >= 1996)
        |  AND o_custkey % 31 <> 0""".stripMargin,
    // the survived extremes == the raw extremes (the deleted keys are
    // interior by construction); the count nets the deleted window
    "q115_mor_minmax_survival" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_live,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 3
        |  AND o_orderkey >= 100 AND o_orderkey < 1000)""".stripMargin,
    // the metadata-served sums == the raw slice's sums; avg is the
    // same exact-long-sum / count division on both engines; sum_after
    // nets the deleted keys (served by the SCAN after the refusal)
    "q116_sum_pushdown" ->
      """SELECT CAST(sum(o_custkey) AS BIGINT) AS sum_all,
        | CAST(CAST(sum(o_custkey) AS BIGINT) AS DOUBLE)
        |   / count(o_custkey) AS avg_all,
        | CAST(count(*) AS BIGINT) AS n_all,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
        |   AS DECIMAL(22,2)) AS sum_price,
        | CAST(sum(CASE WHEN o_orderdate >= DATE '1994-01-01'
        |   THEN o_custkey END) AS BIGINT) AS sum_recent,
        | CAST(sum(CASE WHEN o_orderkey % 97 <> 0
        |   THEN o_custkey END) AS BIGINT) AS sum_after
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    // footer-metadata aggregate == the row-scan aggregate
    "q100_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM orders""".stripMargin,
    // the dirty batch was refused WHOLE and re-appended cleaned (the
    // clean transform is value-identity after DECIMAL(12,2) rounding),
    // so the final table is the plain aggregate — a partially-applied
    // refused batch or a lost clean sibling row hash-mismatches
    "q99_check_constraint" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // three column generations: pre-column rows read the frozen
    // existence default, omitted-column inserts the current default,
    // explicit values win — all recomputed by CASE over the source
    "q98_default_column" ->
      """SELECT CASE WHEN o_orderkey % 3 = 1 THEN
        |   CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'app' END
        | ELSE 'store' END AS channel,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY channel""".stripMargin,
    // two appends raced through the barrier; the loser REBASED — the
    // final table is the plain union of all three thirds, exactly once
    "q97_concurrent_append" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q96_cluster_by" ->
      """SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_custkey BETWEEN 700 AND 900
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q94_file_skipping" ->
      """SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_custkey BETWEEN 100 AND 250
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q89_rewrite_layout" ->
      """SELECT s_nationkey,
        | CAST(count(*) AS BIGINT) AS n_suppliers,
        | CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM supplier GROUP BY 1
        |ORDER BY s_nationkey""".stripMargin,
    "q84_bucket_merge" ->
      """WITH src AS (
        |  SELECT c_custkey, c_acctbal * 2.0 AS bal FROM customer
        |  WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000 AS c_custkey, c_acctbal + 1.0 AS bal
        |  FROM customer WHERE c_custkey % 7 = 3)
        |SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
        | CASE WHEN s.c_custkey IS NOT NULL THEN s.bal
        |      ELSE t.bal END AS bal
        |FROM (SELECT c_custkey, c_acctbal AS bal FROM customer) t
        |FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q78_snapshot_changes" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |cur AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE (o_orderkey % 4 = 0 AND o_orderkey % 8 <> 0)
        |     OR o_orderkey % 4 = 1)
        |SELECT o_orderkey, o_orderstatus, 'added' AS change
        |FROM (SELECT * FROM cur EXCEPT SELECT * FROM a)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, 'removed' AS change
        |FROM (SELECT * FROM a EXCEPT SELECT * FROM cur)
        |ORDER BY o_orderkey""".stripMargin,
    "q77_partitions_metadata" ->
      """SELECT 'segment=' || c_mktsegment AS partition_path,
        | count(*) AS n_rows
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q76_catalog_external" ->
      // rows/keys/grp/note come from DuckDB READING the exported version
      // directory (cross-engine readability — the Trino acceptance
      // shape); bal is recomputed INDEPENDENTLY from the raw supplier
      // table plus the gate's update rule, so a catalog that wrote a
      // wrong value (not just unreadable files) hash-mismatches too
      s"""SELECT CAST(e.s_suppkey AS BIGINT) AS s_suppkey, e.s_name,
        | CASE WHEN e.s_suppkey = 90001 THEN CAST(1.5 AS DOUBLE)
        |      WHEN e.grp = '2' THEN s.s_acctbal + CAST(10.0 AS DOUBLE)
        |      ELSE s.s_acctbal END AS bal,
        | CAST(e.grp AS VARCHAR) AS grp, CAST(e.note AS VARCHAR) AS note
        |FROM read_parquet('$CatalogExternalExportDir/**/*.parquet',
        |  hive_partitioning=true, union_by_name=true) e
        |LEFT JOIN supplier s ON s.s_suppkey = e.s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q54_higher_order" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id,
        | CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        | len(list_filter(v, x -> x > 0.9)) > 0 AS any_big,
        | len(list_filter(v, x -> abs(x) >= 10.0)) = 0 AS all_small,
        | CAST(coalesce(list_aggregate(list_transform(v,
        |   (x, i) -> CASE WHEN x > 0 THEN i ELSE 0 END), 'sum'), 0) AS BIGINT) AS pos_idx_sum,
        | list_max(v) AS max_val,
        | CAST(list_position(v, list_max(v)) AS BIGINT) AS argmax_pos
        |FROM e ORDER BY vec_id""".stripMargin,
    "q55_map_funcs" ->
      """SELECT event_id,
        | event_id AS get_e,
        | CAST((CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN (event_id % 7) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
        | 'e,u,x' AS keys_csv,
        | (event_id % 7) * 2 AS x2,
        | CAST(4 AS BIGINT) AS n_concat,
        | user_id + event_id + (event_id % 7) AS vals_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "q53_zorder_layout" -> {
      val zExpr = (0 until 8).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT event_id,
         | CAST(user_id % 256 AS INTEGER) AS x,
         | CAST(floor(value) AS INTEGER) % 256 AS y
         | FROM events),
         |z AS (SELECT event_id, x, y, CAST($zExpr AS BIGINT) AS z FROM b),
         |g AS (SELECT x, y,
         | CAST(ntile(16) OVER (ORDER BY z, event_id) AS BIGINT) AS zgroup
         | FROM z)
         |SELECT zgroup, count(*) AS n_rows,
         | min(x) AS min_x, max(x) AS max_x,
         | min(y) AS min_y, max(y) AS max_y
         |FROM g GROUP BY zgroup ORDER BY zgroup""".stripMargin
    },
    "q48_string_agg" ->
      """SELECT s_nationkey,
        | string_agg(s_name, ',' ORDER BY s_name) AS names,
        | count(*) AS n_suppliers
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q42_cube" ->
      """SELECT r_name, n_name,
        | CAST(grouping(r_name, n_name) AS BIGINT) AS gid,
        | count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)
        |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q43_window_nav" ->
      """SELECT event_id,
        | first_value(value) OVER wf AS first_val,
        | last_value(value) OVER wf AS last_val,
        | nth_value(value, 2) OVER wf AS second_val,
        | lag(value, 1, -1.0) OVER w AS prev_val,
        | lead(value, 1, -1.0) OVER w AS next_val
        |FROM events
        |WINDOW
        | w AS (PARTITION BY user_id ORDER BY ts, event_id),
        | wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q45_variant_json" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        | json_extract_string(props, '$.k') AS k_str,
        | CAST(NULL AS BIGINT) AS missing_val,
        | (json_extract(props, '$.k') = 'null') AS k_is_null
        |FROM events ORDER BY event_id""".stripMargin,
    "q46_try_funcs" ->
      """SELECT event_id,
        | value / nullif(event_id % 3, 0) AS try_div,
        | TRY_CAST(concat(CAST(user_id AS VARCHAR),
        |     CASE WHEN event_id % 100 = 0 THEN 'x' ELSE '' END)
        |   AS BIGINT) AS try_int,
        | TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS try_json_int,
        | str_split(event_type, 'a')[2] AS try_elem,
        | TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) AS try_num
        |FROM events ORDER BY event_id""".stripMargin,
    "q47_bitwise" ->
      """SELECT event_id,
        | event_id & 255 AS band,
        | event_id | 4096 AS bor,
        | xor(event_id, user_id) AS bxor,
        | event_id << 3 AS shl,
        | event_id >> 2 AS shr,
        | CAST(bit_count(event_id) AS BIGINT) AS nbits
        |FROM events ORDER BY event_id""".stripMargin,
    "q44_hash_sample" ->
      """WITH h AS (
        |  SELECT event_id, event_type,
        |   CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT) AS bucket
        |  FROM events),
        |uniform AS (
        |  SELECT 'uniform' AS sample_kind, event_id, event_type
        |  FROM h WHERE bucket % 20 = 0),
        |strat AS (
        |  SELECT 'stratified' AS sample_kind, event_id, event_type
        |  FROM (SELECT event_id, event_type,
        |         row_number() OVER (PARTITION BY event_type ORDER BY bucket, event_id) AS rn
        |        FROM h)
        |  WHERE rn <= 3)
        |SELECT * FROM uniform UNION ALL SELECT * FROM strat
        |ORDER BY sample_kind, event_id""".stripMargin)
}
