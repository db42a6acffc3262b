package graft.streaming

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

// Top-level (public) so Catalyst's generated [de]serializers can reach them.
final case class SessEvent(user_id: Long, event_id: Long, epochS: Long)
final case class SessState(user_id: Long, n_sessions: Long, n_events: Long,
    lastTs: Long)
final case class SessSummary(user_id: Long, n_sessions: Long, n_events: Long)

/** Structured Streaming ingest over the events table.
  *
  * The reference is batch-only but ships an unused checkpoints bucket
  * (k8s/s3/03-s3-buckets.yaml:32-40) — this is the streaming variant it
  * implies (SURVEY.md §1.1): file-source stream -> event-time watermark ->
  * tumbling-window aggregate. Locally the parquet file drives the stream
  * through the memory sink synchronously, so results are a DataFrame the
  * driver's correctness gate can compare against a batch SQL oracle.
  *
  * At scale this is `readStream` from the bronze landing prefix with the
  * same transform graph as batch silver (the code paths share expression
  * libraries), checkpointed to the checkpoints bucket; the watermark bounds
  * the window state store.
  */
object Streams {

  /** A single parquet table file exposed as a file-source stream: the
    * source requires a directory, so the file is exposed through a symlink
    * in a temp dir — the testdata itself is never touched. */
  private def fileStream(s: SparkSession, dir: String, fileName: String,
                         schema: StructType): DataFrame = {
    import java.nio.file.{Files, Paths}
    val target = Paths.get(dir, fileName).toAbsolutePath
    val streamDir = Paths.get("/tmp/graft_stream_src",
      target.toString.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(streamDir)
    val link = streamDir.resolve(fileName)
    // Remove whatever occupies the link path (dangling symlink, stray
    // file); ignore a concurrent creator's win on the create itself.
    if (Files.isSymbolicLink(link) || Files.exists(link)) Files.delete(link)
    try Files.createSymbolicLink(link, target)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    s.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** Events as a file-source stream, adapting to the physical timestamp
    * type the same way Tables.load does for batch: a TIMESTAMP(NANOS)
    * file surfaces `ts` as Long under `nanosAsLong` (convert ns->us), a
    * TIMESTAMP(MICROS) file surfaces it as a native timestamp (no
    * conversion). The file source needs an explicit schema, so probe the
    * footer with a batch read first and declare `ts` accordingly. */
  /** Probed physical ts type per events file — the footer read costs a
    * Spark job, and the streaming suite builds eventsStream 8+ times per
    * bench sweep (twice in st04 alone) over the same immutable testdata
    * file; one probe per dir is the honest cost. */
  private val tsProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsNanosLong: Boolean = tsProbeCache.computeIfAbsent(dir, _ => {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      require(schema.fieldNames.contains("ts"),
        s"$dir/events.parquet has no 'ts' column (schema: " +
          s"${schema.fieldNames.mkString(", ")}) — eventsStream needs the " +
          "events table's event-time column")
      schema("ts").dataType == LongType
    })
    val tsField =
      StructField("ts", if (tsIsNanosLong) LongType else TimestampType)
    val schema = StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = fileStream(s, dir, "events.parquet", schema)
    if (tsIsNanosLong)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  private val streamCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stateful-operator partition count for these finite gates. Streaming
    * state cost is per-(partition x operator x batch): every micro-batch
    * pays a state-store load + commit (delta file fsync) for EVERY state
    * partition, even near-empty ones — profiled at ~300 ms aggregate
    * commit time per 32-partition operator per batch, dominating the
    * sub-second query work. 8 partitions carry these gates' state
    * (5-40k rows) comfortably; a production deployment sizes this to
    * state volume exactly the same way (state partitioning is fixed at
    * first checkpoint, so it is a per-query sizing decision there too). */
  private val StatePartitions = "8"

  /** Run a streaming aggregate synchronously to completion over the finite
    * file source and return the materialized result.
    *
    * Complete-mode queries also skip the trailing no-data micro-batch:
    * it exists to let the advanced watermark emit final append-mode
    * windows and evict state, but a complete-mode sink re-emits the full
    * result table every batch, so the extra batch (one more state
    * load/commit cycle across every partition) cannot change what the
    * gate reads. Append/update gates keep it — st04's join output only
    * materializes in that batch. */
  private def runToCompletion(agg: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${streamCounter.incrementAndGet()}"
    val s = agg.sparkSession
    val confs = Seq("spark.sql.shuffle.partitions" -> StatePartitions) ++
      (if (mode == "complete")
        Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Nil)
    // the session state (incl. these confs) is cloned when the query
    // STARTS; restore immediately after so batch planning is untouched
    val q = graft.withConf(s, confs: _*) {
      agg.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
    }
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** st01: watermarked tumbling-window aggregate per (hour, event_type).
    * Complete output mode so every window is emitted for the finite input;
    * window boundaries surface as epoch seconds (engine-portable). */
  def st01TumblingAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        Det.moneySum($"value").as("total_value"),
        max($"value").as("max_value"))
      .select(
        unix_timestamp($"window.start").as("window_start_s"),
        $"event_type", $"n_events", $"total_value", $"max_value")
    runToCompletion(agg, "complete").orderBy($"window_start_s", $"event_type")
  }

  /** st02: streaming exact dedup (plain dropDuplicates on event_id) ->
    * per-type counts; equals batch DISTINCT on this input. State note:
    * this form keeps EVERY seen key in the state store forever — the
    * bounded-state production form is st07's
    * `dropDuplicatesWithinWatermark`. */
  def st02StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(agg, "complete").orderBy($"event_type")
  }

  /** st07: BOUNDED-STATE streaming dedup — `dropDuplicatesWithinWatermark`
    * evicts dedup state older than the event-time watermark, so the state
    * store holds only the watermark window instead of every key ever seen
    * (st02's documented unbounded hazard; at 100 TB/day of events the
    * bounded form is the only viable one). event_id is unique in this
    * input, so eviction cannot re-admit a duplicate and the result still
    * equals batch DISTINCT — the same oracle as st02. */
  def st07StreamDedupBounded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(agg, "complete").orderBy($"event_type")
  }

  /** st03: custom stateful streaming — gap-based sessionization per user via
    * flatMapGroupsWithState (Update mode: each batch emits the user's
    * current session summary; on this finite single-batch input that equals
    * the batch sessionization, which is what the oracle computes). */
  def st03StatefulSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = eventsStream(s, dir)
      .select($"user_id", $"event_id", unix_timestamp($"ts").as("epochS"))
      .as[SessEvent]
    // Update mode appends one summary per user per batch to the memory
    // sink; the counts are cumulative, so the latest (= max) row per user
    // is the answer regardless of how many batches the source produced.
    runToCompletion(statefulSessions(events), "update")
      .groupBy($"user_id")
      .agg(max($"n_sessions").as("n_sessions"), max($"n_events").as("n_events"))
      .orderBy($"user_id")
  }

  /** Gap-based stateful sessionization over any (streaming) event dataset —
    * the custom-state core of st03, exposed so the multi-batch continuity
    * spec can drive it over a forced multi-micro-batch source. Per user and
    * batch it emits the cumulative (n_sessions, n_events); the carried
    * state (last event time) lets a session span micro-batches. Assumes
    * event time is non-decreasing across batches per user (file-ordered
    * replay), the same contract a bronze landing prefix gives. */
  def statefulSessions(events: org.apache.spark.sql.Dataset[SessEvent],
                       gapS: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    def update(userId: Long, it: Iterator[SessEvent],
               state: GroupState[SessState]): Iterator[SessSummary] = {
      val sorted = it.toSeq.sortBy(e => (e.epochS, e.event_id))
      val prev = state.getOption.getOrElse(SessState(userId, 0L, 0L, Long.MinValue))
      var sessions = prev.n_sessions
      var nEvents = prev.n_events
      var lastTs = prev.lastTs // carried across batches: a session may span them
      sorted.foreach { e =>
        if (lastTs == Long.MinValue || e.epochS - lastTs > gapS) sessions += 1
        lastTs = e.epochS
        nEvents += 1
      }
      state.update(SessState(userId, sessions, nEvents, lastTs))
      Iterator.single(SessSummary(userId, sessions, nEvents))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update _)
      .toDF()
  }

  /** st04: stream-stream inner join — each purchase joined to the same
    * user's clicks in the preceding hour. Both sides are watermarked and
    * the join carries an event-time range condition, which is exactly what
    * lets Spark bound both state stores (clicks older than the watermark
    * minus the range can never match and are evicted). Inner-join rows
    * emit immediately (append mode); the per-purchase rollup runs as a
    * batch aggregate over the sink, and the oracle is the equivalent batch
    * interval join. */
  def st04StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = eventsStream(s, dir).where($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val c = eventsStream(s, dir).where($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = p.join(c,
      $"user_id" === $"c_user" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" <= $"p_ts")
    runToCompletion(joined, "append")
      .groupBy($"p_id")
      .agg(count(lit(1)).as("n_clicks"), min($"c_id").as("first_click_id"))
      .orderBy($"p_id")
  }

  /** st05: stream-static join — the streaming side enriched by a batch
    * dimension table (the canonical streaming-ingest enrichment: events
    * land as a stream, reference data sits in the lakehouse). The static
    * side is broadcast, so each micro-batch is a stateless narrow map —
    * NO join state store at all (unlike st04's stream-stream state), which
    * is what makes this the preferred shape whenever one side is bounded.
    * Aggregated per market segment in complete mode; oracle is the batch
    * equi-join. */
  def st05StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val agg = eventsStream(s, dir)
      .join(broadcast(cust), $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        Det.moneySum($"value").as("total_value"),
        // distinct aggregates are unsupported on streams; max is the
        // stand-in "reach" stat that stays incrementally computable
        max($"user_id").as("max_user_id"))
    runToCompletion(agg, "complete").orderBy($"c_mktsegment")
  }

  /** Documents as a file-source stream (plain types, no timestamp
    * workaround needed). */
  private def documentsStream(s: SparkSession, dir: String): DataFrame =
    fileStream(s, dir, "documents.parquet", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  /** st06: the text-quality operators running ON A STREAM — the cleaning
    * pipeline's scoring stage applied at ingest time instead of batch:
    * [[graft.api.Graft.qualitySignals]] is a narrow projection, so it
    * composes with a streaming frame unchanged; the per-source rollup
    * aggregates quality in DECIMAL(10,2) (quality_v2 is a sum of exact
    * 0.25 steps, so the mean is engine-exact). Complete mode over the
    * finite source; the oracle is the identical batch computation. */
  def st06StreamTextQuality(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.api.Graft.qualitySignals(documentsStream(s, dir),
      col("text"))
    val agg = scored.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("quality_v2").cast(DecimalType(10, 2))).cast(DoubleType)
          / count(lit(1))).as("mean_quality"),
        count_if(col("quality_v2") >= 0.75).as("n_high_quality"))
    runToCompletion(agg, "complete").orderBy(col("source"))
  }

  /** st08: streaming HOPPING-window aggregate — `window(ts, 4h, slide 2h)`
    * under a watermark: each event contributes to TWO overlapping
    * windows, so a spike straddling a tumbling boundary (st01's blind
    * spot) is seen whole by the straddling hop. State is bounded by the
    * watermark exactly as with tumbling windows — the overlap multiplies
    * live window count by size/slide, not by corpus. Batch twin: q65. */
  def st08StreamHopping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "4 hours", "2 hours"))
      .agg(count(lit(1)).as("n_events"),
        Det.moneySum($"value").as("total_value"))
      .select(
        unix_timestamp($"window.start").as("window_start_s"),
        unix_timestamp($"window.end").as("window_end_s"),
        $"n_events", $"total_value")
    runToCompletion(agg, "complete").orderBy($"window_start_s")
  }

  /** st09: streaming ingestion INTO THE LAKEHOUSE — the bronze-landing
    * shape the reference's pipeline implies but never streams: the event
    * stream lands in an [[graft.sources.AtomicParquetCatalog]] table via
    * `foreachBatch`, where every micro-batch commits a conflict-checked
    * fast-append SNAPSHOT (prior files hard-linked, CAS'd pointer swap) —
    * a concurrent writer conflicts instead of corrupting the log, and
    * each batch stays time-travelable. The gate reads the final TABLE
    * back and aggregates it, pinning the whole stream→catalog→read loop
    * against the batch oracle. */
  def st09StreamCatalogIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val src = eventsStream(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch 0 (re)creates the table, later batches fast-append — the
        // per-run recreate keeps bench iterations idempotent
        if (batchId == 0L)
          batch.writeTo("graft_st.db.events_bronze").using("parquet")
            .createOrReplace()
        else batch.writeTo("graft_st.db.events_bronze").append()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.table("graft_st.db.events_bronze")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        Det.moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** st10: STREAMING corpus-drift monitoring — the t42 divergence fed by
    * a streaming word count: the English slice's token frequencies
    * accumulate in a complete-mode streaming aggregate, then flow into
    * the SAME triangular-discrimination monitor
    * ([[graft.api.Graft.tokenDistributionDriftFromCounts]]) against the
    * batch-counted reference slice. The oracle IS t42's — the gate pins
    * that the streaming ingestion path and the batch path feed the
    * monitor identically (count-exactness through the stream, divergence
    * arithmetic unchanged). */
  def st10StreamDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = documentsStream(s, dir).where($"lang" === "en")
      .select(explode(filter(split(trim(lower($"text")), "\\s+"),
        x => x =!= lit(""))).as("token"))
    val counts = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val streamedCa = runToCompletion(counts, "complete")
    val cb = graft.Tables.load(s, dir, "documents").where($"lang" =!= "en")
      .select(explode(filter(split(trim(lower($"text")), "\\s+"),
        x => x =!= lit(""))).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    graft.api.Graft.tokenDistributionDriftFromCounts(streamedCa, cb,
        topK = 20)
      .orderBy($"rank")
  }

  /** st11: STREAMING UPSERT into the lakehouse — the CDC-merge landing
    * pattern (a streaming `MERGE INTO` per micro-batch, the shape Delta
    * and Iceberg deployments run for mutable streaming state): the
    * target is a PARTITIONED catalog table pre-seeded with per-user
    * totals up to a cutoff, and each micro-batch of post-cutoff events
    * aggregates to per-user deltas and MERGEs them in — matched users
    * accumulate, new users insert into their hash-bucket partition, and
    * every batch commits one conflict-checked snapshot through the
    * PARTITION-LEVEL copy-on-write path (untouched bucket partitions
    * ride as hard links; a concurrent writer conflicts instead of
    * tearing the log). The oracle recomputes the final state from
    * `events` with the same pre/post split, pinning the whole
    * seed -> stream -> merge -> read loop. Accumulation composes
    * decimal-exact per-slice sums with IEEE double addition in batch
    * order, the documented cross-engine contract (the oracle mirrors
    * the same two-slice addition). This is at-least-once + additive (a
    * REPLAYED batch would re-add its delta); the exactly-once variant
    * is [[silverStreamingEffectivelyOnce]]'s keyed replace — two
    * different contracts, both surfaced. */
  def st11StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
    // seed: totals up to the cutoff (the state a prior run landed)
    Tables.load(s, dir, "events").where($"ts" < cutoff)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), Det.moneySum($"value").as("total"))
      .withColumn("bucket", ($"user_id" % 8).cast("string"))
      .select($"user_id", $"bucket", $"n_events", $"total")
      .writeTo("graft_st.db.user_totals").using("parquet")
      .partitionedBy($"bucket").createOrReplace()
    val src = eventsStream(s, dir).where($"ts" >= cutoff)
      .select($"user_id", $"value")
    // the oracle models accumulation as ONE two-slice double addition,
    // which is exact only if the file source delivers all post-cutoff
    // events in a single micro-batch (true today: one file, no
    // maxFilesPerTrigger). Count and assert, so a future trigger/source
    // change fails HERE with the reason instead of as a confusing
    // hash mismatch from a different double-addition order.
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        val ss = batch.sparkSession
        batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Det.moneySum(col("value")).as("total"))
          .withColumn("bucket", (col("user_id") % 8).cast("string"))
          .createOrReplaceTempView("st11_delta")
        ss.sql("""MERGE INTO graft_st.db.user_totals t
                 |USING st11_delta s ON t.user_id = s.user_id
                 |WHEN MATCHED THEN UPDATE SET
                 |  n_events = t.n_events + s.n_events,
                 |  total = t.total + s.total
                 |WHEN NOT MATCHED THEN
                 |  INSERT (user_id, bucket, n_events, total)
                 |  VALUES (s.user_id, s.bucket, s.n_events, s.total)
                 |""".stripMargin)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    require(nBatches.get() == 1,
      s"st11's oracle assumes ONE micro-batch (single two-slice double " +
        s"addition); the file source delivered ${nBatches.get()} — the " +
        "accumulation order no longer matches the oracle's")
    s.table("graft_st.db.user_totals")
      .select($"user_id", $"bucket", $"n_events", $"total")
      .orderBy($"user_id")
  }

  /** st12: IDEMPOTENT streaming upsert — st11's CDC-merge made
    * effectively-once: the target carries `last_batch` per key and the
    * MERGE's matched-update clause is guarded by
    * `s.batch_id > t.last_batch`, so a REPLAYED micro-batch (the
    * at-least-once delivery every foreachBatch sink must survive —
    * Spark re-runs a batch whose commit was not recorded) is a no-op
    * instead of double-adding its delta. The gate PROVES it by applying
    * every batch's merge TWICE (a worst-case replay injected inline);
    * the oracle is the plain batch aggregate — any double-apply
    * hash-mismatches immediately. This is the MERGE-based counterpart
    * of [[silverStreamingEffectivelyOnce]]'s keyed replace: same
    * guarantee, row-level-op machinery (partition-level COW snapshots,
    * conflict-checked commits) instead of directory swaps. */
  def st12StreamUpsertIdempotent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    // target born empty with the guard column (recreated per run)
    Tables.load(s, dir, "events").limit(0)
      .select($"user_id", ($"user_id" % 8).cast("string").as("bucket"),
        lit(0L).as("n_events"), lit(0.0).as("total"),
        lit(-1L).as("last_batch"))
      .writeTo("graft_st.db.user_totals_idem").using("parquet")
      .partitionedBy($"bucket").createOrReplace()
    val src = eventsStream(s, dir).select($"user_id", $"value")
    // same single-batch contract as st11 (the oracle is ONE plain batch
    // aggregate): assert it so a trigger/source change fails with the
    // reason, not a hash mismatch
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nBatches.incrementAndGet()
        val ss = batch.sparkSession
        batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Det.moneySum(col("value")).as("total"))
          .withColumn("bucket", (col("user_id") % 8).cast("string"))
          .withColumn("batch_id", lit(batchId))
          .createOrReplaceTempView("st12_delta")
        val mergeSql =
          """MERGE INTO graft_st.db.user_totals_idem t
            |USING st12_delta s ON t.user_id = s.user_id
            |WHEN MATCHED AND s.batch_id > t.last_batch THEN UPDATE SET
            |  n_events = t.n_events + s.n_events,
            |  total = t.total + s.total,
            |  last_batch = s.batch_id
            |WHEN NOT MATCHED THEN
            |  INSERT (user_id, bucket, n_events, total, last_batch)
            |  VALUES (s.user_id, s.bucket, s.n_events, s.total, s.batch_id)
            |""".stripMargin
        ss.sql(mergeSql)
        ss.sql(mergeSql) // injected worst-case REPLAY: must be a no-op
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    require(nBatches.get() == 1,
      s"st12's oracle assumes ONE micro-batch (one plain batch " +
        s"aggregate); the file source delivered ${nBatches.get()} — the " +
        "accumulation order no longer matches the oracle's")
    s.table("graft_st.db.user_totals_idem")
      .select($"user_id", $"bucket", $"n_events", $"total")
      .orderBy($"user_id")
  }

  /** st17: STREAMING CDC UPSERT THROUGH MERGE-ON-READ — st11's
    * per-micro-batch MERGE with the target in `write.merge.mode =
    * merge-on-read` (+ the PRIMARY KEY the delta path keys on): each
    * batch's matched users scatter across EVERY bucket partition —
    * partition-COW's worst case (all partitions rewritten per batch) —
    * and the MoR path commits them as O(batch): the gate REQUIREs
    * every seeded data file rides as a hard link (inode-pinned) and an
    * equality-delete sidecar entry landed. This is THE motivating MoR
    * workload: at 100 TB a CDC stream whose keys hash everywhere would
    * otherwise rewrite the table once per trigger. Oracle: st11's
    * final-state aggregate verbatim — the read side must apply the
    * equality deletes exactly or the totals double. */
  def st17StreamUpsertMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val cutoff = to_timestamp(lit("2024-01-15 00:00:00"))
    Tables.load(s, dir, "events").where($"ts" < cutoff)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), Det.moneySum($"value").as("total"))
      .withColumn("bucket", ($"user_id" % 8).cast("string"))
      .select($"user_id", $"bucket", $"n_events", $"total")
      .writeTo("graft_st.db.user_totals_mor").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .partitionedBy($"bucket").createOrReplace()
    s.sql("ALTER TABLE graft_st.db.user_totals_mor " +
      "ADD CONSTRAINT utm_pk PRIMARY KEY (user_id) NOT ENFORCED")
    def seedInodes(): Map[String, Any] = {
      val wh = s.conf.get("spark.sql.catalog.graft_st.warehouse")
      val tdir = java.nio.file.Paths.get(wh, "db", "user_totals_mor")
      val cur = tdir.resolve(new String(java.nio.file.Files.readAllBytes(
        tdir.resolve("_current")), "UTF-8").split("\n").head.trim)
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(cur)
      try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith("_") &&
          !n.startsWith(".") &&
          !cur.relativize(p).toString.startsWith("_deletes/")
      }.map(p => cur.relativize(p).toString ->
        java.nio.file.Files.getAttribute(p, "unix:ino")).toMap
      finally walk.close()
    }
    val seeded = seedInodes()
    val src = eventsStream(s, dir).where($"ts" >= cutoff)
      .select($"user_id", $"value")
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        val ss = batch.sparkSession
        batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            Det.moneySum(col("value")).as("total"))
          .withColumn("bucket", (col("user_id") % 8).cast("string"))
          .createOrReplaceTempView("st17_delta")
        ss.sql("""MERGE INTO graft_st.db.user_totals_mor t
                 |USING st17_delta s ON t.user_id = s.user_id
                 |WHEN MATCHED THEN UPDATE SET
                 |  n_events = t.n_events + s.n_events,
                 |  total = t.total + s.total
                 |WHEN NOT MATCHED THEN
                 |  INSERT (user_id, bucket, n_events, total)
                 |  VALUES (s.user_id, s.bucket, s.n_events, s.total)
                 |""".stripMargin)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    require(nBatches.get() == 1,
      s"st17's oracle assumes ONE micro-batch (single two-slice double " +
        s"addition); the file source delivered ${nBatches.get()}")
    val after = seedInodes()
    require(seeded.forall { case (k, v) => after.get(k).contains(v) },
      "st17: the MoR streaming merge must hard-link every seeded file — " +
        "a rewritten partition means the delta path did not engage")
    require(s.table("graft_st.db.user_totals_mor.deletes").count() >= 1L,
      "st17: the merge's matched users must land as an equality-delete entry")
    s.table("graft_st.db.user_totals_mor")
      .select($"user_id", $"bucket", $"n_events", $"total")
      .orderBy($"user_id")
  }

  /** st13: the catalog table AS A STREAMING SOURCE —
    * `spark.readStream.table(t)`, the Delta/Iceberg capability that
    * closes the loop st09 opened (stream INTO the catalog; this
    * streams OUT of it): the first micro-batch is the snapshot current
    * at stream start, then each commit's added files become a batch
    * (offsets are version-dir names resolved through the pointer log).
    * The gate batch-loads a third of events, drains the stream into a
    * sink table, appends the remaining thirds as two commits, then
    * RESUMES the stream from the same checkpoint — the resumed drain
    * must serve exactly the two appended slices, no re-emission. The
    * oracle aggregates ALL events: any missed or doubled slice
    * hash-mismatches. StreamTableSourceSpec pins batch boundaries,
    * checkpoint resume and the COW re-emission posture. */
  def st13StreamTableSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_st.db.ev_stsrc").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    ev.limit(0).writeTo("graft_st.db.ev_streamed").using("parquet")
      .createOrReplace()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st13_ckpt").toString
    def drainInto(): Unit = {
      val q = s.readStream.table("graft_st.db.ev_stsrc")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.writeTo("graft_st.db.ev_streamed").append(); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drainInto() // batch 1: the snapshot third
    ev.where($"event_id" % 3 === 1)
      .writeTo("graft_st.db.ev_stsrc").append()
    ev.where($"event_id" % 3 === 2)
      .writeTo("graft_st.db.ev_stsrc").append()
    drainInto() // resumed: exactly the two appended thirds
    s.table("graft_st.db.ev_streamed")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        Det.moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** st14: KILL-AND-RESTART recovery as an ORACLE-CHECKED gate — the
    * full loop the r12 verdict asked to promote out of spec-only
    * evidence: catalog table as the STREAMING SOURCE (admission-
    * controlled, so the backlog takes multiple micro-batches) →
    * foreachBatch batch-id-guarded MERGE → catalog sink, with a CRASH
    * INJECTED after one mid-history batch's merge has already executed
    * but before Spark records the batch — the worst-case failure
    * point: the work is done, the offset is not. The restarted query
    * resumes from the real checkpoint, REPLAYS that batch (same id,
    * same deterministic file slice), and the `batch_id > last_batch`
    * guard absorbs the duplicate apply; the drain then completes. The
    * oracle is the plain batch aggregate over ALL events — a lost
    * batch, a double-applied batch, or a wrong resume offset all
    * hash-mismatch. */
  def st14StreamRestartRecovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    // the whole backlog is committed BEFORE the stream starts: three
    // commits the admission-controlled source must chunk through
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_st.db.ev_rst_src").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    ev.where($"event_id" % 3 === 1).writeTo("graft_st.db.ev_rst_src").append()
    ev.where($"event_id" % 3 === 2).writeTo("graft_st.db.ev_rst_src").append()
    // the accumulator is DECIMAL, not DOUBLE: batches arrive in an
    // order the oracle cannot reproduce, and only exact decimal
    // addition is associative across any batch split / replay pattern
    ev.limit(0)
      .select($"user_id", lit(0L).as("n_events"),
        lit(0).cast(DecimalType(24, 2)).as("total"),
        lit(-1L).as("last_batch"))
      .writeTo("graft_st.db.user_totals_rst").using("parquet")
      .createOrReplace()
    // ~3-4 micro-batches regardless of scale factor: a third of the
    // snapshot's files per trigger
    val nFiles = s.sql("SELECT count(*) FROM graft_st.db.ev_rst_src.files")
      .head().getLong(0)
    val mft = math.max(1L, nFiles / 3).toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st14_ckpt").toString
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(crashAtBatch: Long): Unit = {
      val q = s.readStream
        .option("maxFilesPerTrigger", mft)
        .table("graft_st.db.ev_rst_src")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          batch.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(12, 2)))
                .cast(DecimalType(24, 2)).as("total"))
            .withColumn("batch_id", lit(batchId))
            .createOrReplaceTempView("st14_delta")
          ss.sql("""MERGE INTO graft_st.db.user_totals_rst t
                   |USING st14_delta s ON t.user_id = s.user_id
                   |WHEN MATCHED AND s.batch_id > t.last_batch THEN UPDATE SET
                   |  n_events = t.n_events + s.n_events,
                   |  total = t.total + s.total,
                   |  last_batch = s.batch_id
                   |WHEN NOT MATCHED THEN
                   |  INSERT (user_id, n_events, total, last_batch)
                   |  VALUES (s.user_id, s.n_events, s.total, s.batch_id)
                   |""".stripMargin)
          // the injected crash: AFTER the merge committed, BEFORE the
          // batch is recorded — on restart this exact batch replays
          if (batchId >= crashAtBatch && crashed.compareAndSet(false, true))
            throw new RuntimeException(
              "st14 injected crash (post-merge, pre-commit)")
          ()
        }
        .start()
      try q.processAllAvailable()
      catch { case _: Throwable => () } // the injected crash surfaces here
      finally q.stop()
    }
    run(crashAtBatch = 1L) // dies mid-history with batch 1 unrecorded
    require(crashed.get(), "st14's crash injection never fired — the " +
      "backlog produced fewer batches than the gate assumes")
    run(crashAtBatch = Long.MaxValue) // resume: replay batch 1, finish
    s.table("graft_st.db.user_totals_rst")
      .select($"user_id", $"n_events",
        $"total".cast(DoubleType).as("total"))
      .orderBy($"user_id")
  }

  /** st15: `startingVersion` — Delta's starting-position option on the
    * streaming table source: instead of the full snapshot, the stream
    * serves changes FROM the named commit (inclusive; ordinals count
    * back like `VERSION AS OF`, `latest` skips history entirely). The
    * gate commits three thirds, starts a FRESH stream at ordinal 1
    * (the second commit) and drains: exactly thirds 1 and 2 arrive —
    * the snapshot third never replays. The option is only consulted on
    * a fresh checkpoint, exactly like Delta. */
  def st15StreamStartingVersion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_st.db.ev_sv").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    ev.where($"event_id" % 3 === 1).writeTo("graft_st.db.ev_sv").append()
    ev.where($"event_id" % 3 === 2).writeTo("graft_st.db.ev_sv").append()
    ev.limit(0).writeTo("graft_st.db.ev_sv_out").using("parquet")
      .createOrReplace()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st15_ckpt").toString
    val q = s.readStream
      .option("startingVersion", "1") // the second commit, inclusive
      .table("graft_st.db.ev_sv")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.writeTo("graft_st.db.ev_sv_out").append(); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    s.table("graft_st.db.ev_sv_out")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        Det.moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** st16: the NATIVE streaming sink — `writeStream.toTable` straight
    * into a catalog table, no foreachBatch detour: executors stream
    * rows into per-epoch parquet files, each epoch commits a
    * fast-append snapshot carrying the query's epoch high-watermark
    * (exactly-once across crash-replays — StreamingWriteSpec pins the
    * replay no-op), and the sink table is PARTITIONED, so every epoch
    * re-lays its own rows under the bucket spec. The full catalog-to-
    * catalog loop: admission-controlled catalog SOURCE (several
    * micro-batches) → native catalog SINK, resumed once mid-history
    * from the real checkpoint. The oracle is the plain batch aggregate
    * over all events; n_distinct pins that no epoch landed twice. */
  def st16StreamNativeSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_st.db.ev_nsrc").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    ev.limit(0).writeTo("graft_st.db.ev_nsink").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    // a third of the snapshot's files per trigger: the drain takes
    // several epochs, so the sink commits several snapshots
    val nFiles = s.sql("SELECT count(*) FROM graft_st.db.ev_nsrc.files")
      .head().getLong(0)
    val mft = math.max(1L, nFiles / 3).toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st16_ckpt").toString
    def drainNative(): Unit = {
      val q = s.readStream
        .option("maxFilesPerTrigger", mft)
        .table("graft_st.db.ev_nsrc")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft_st.db.ev_nsink")
      q.awaitTermination(120000)
      q.stop()
    }
    drainNative() // the snapshot third, in several epoch snapshots
    ev.where($"event_id" % 3 === 1).writeTo("graft_st.db.ev_nsrc").append()
    ev.where($"event_id" % 3 === 2).writeTo("graft_st.db.ev_nsrc").append()
    drainNative() // resumed: exactly the two appended thirds
    s.table("graft_st.db.ev_nsink")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        Det.moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** st18: WRITE-AUDIT-PUBLISH FOR STREAMS — a stream landing on a
    * BRANCH (`writeStream.toTable("….`t@branch`")`), audited, then
    * `fast_forward`-published: the branch ref threads through the
    * native sink's rebase/commit loop and the source's log tail, so
    * the stream's epoch snapshots CAS the branch log while main never
    * moves (require-pinned: main still serves exactly the seed third
    * mid-stream). The curated-table pattern at 100 TB: a continuous
    * ingest lands on `ingest`, validation reads the branch at full
    * engine capability, publish is one atomic pointer swap and main
    * readers never see a half-drained backlog. The oracle is the
    * plain batch aggregate over all events on PUBLISHED main;
    * n_distinct pins that no epoch landed twice across the swap. */
  def st18StreamWapBranch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ev_wap")
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.where($"event_id" % 3 === 0)
      .writeTo("graft_st.db.ev_wap").using("parquet")
      .partitionedBy(bucket(8, $"user_id")).createOrReplace()
    s.sql("CALL graft_st.system.create_branch('db.ev_wap', 'ingest')")
    // the backlog: the other two thirds, drained in several epochs
    ev.where($"event_id" % 3 =!= 0)
      .writeTo("graft_st.db.ev_wap_src").using("parquet").createOrReplace()
    val nFiles = s.sql("SELECT count(*) FROM graft_st.db.ev_wap_src.files")
      .head().getLong(0)
    val mft = math.max(1L, nFiles / 3).toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st18_ckpt").toString
    val q = s.readStream
      .option("maxFilesPerTrigger", mft)
      .table("graft_st.db.ev_wap_src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_st.db.`ev_wap@ingest`")
    q.awaitTermination(120000)
    q.stop()
    // audit: main untouched while the branch carries the epochs
    require(s.table("graft_st.db.ev_wap")
      .where($"event_id" % 3 =!= 0).count() == 0L,
      "st18: streamed epochs leaked into main before publish")
    val nBranch = s.table("graft_st.db.`ev_wap@ingest`").count()
    val nMain = s.table("graft_st.db.ev_wap").count()
    require(nBranch > nMain,
      s"st18: the branch is missing the streamed epochs " +
        s"($nBranch <= $nMain)")
    // validation gate on the branch (the AUDIT half), then publish
    require(s.table("graft_st.db.`ev_wap@ingest`")
      .where($"event_id".isNull || $"value".isNull).count() == 0L,
      "st18: audit failed — null keys in the branch state")
    s.sql("CALL graft_st.system.fast_forward('db.ev_wap', 'ingest')")
    s.table("graft_st.db.ev_wap")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_id").as("n_distinct"),
        Det.moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** st19: MERGE-ON-READ UPSERTS TAILED BY A STREAM — the engine's
    * flagship composition, closed: before r15, `readStream.table` on a
    * table with live MoR delete entries failed pointedly and demanded
    * a manual rewrite_deletes between the CDC writer and the stream
    * reader. The incremental scan now SERVES the entries
    * (CatalogStreamRead wraps each batch's scans in the batch
    * reader's own DeleteApplyingScan, and a delete commit re-emits
    * the affected files' SURVIVORS — the COW re-emission analogue).
    * The gate seeds a PK'd MoR table, drains the snapshot into a
    * downstream state table through a checkpointed stream, commits a
    * scattered MoR MERGE (updates + inserts; one equality entry, base
    * files inode-pinned by MorMergeSpec's family), RESUMES the stream
    * from the same checkpoint, and REQUIREs the sidecar stayed live
    * through the drain (no hidden rewrite). The downstream upsert
    * would throw a duplicate-key MERGE error if a deleted row were
    * served beside its replacement — retraction is structurally
    * pinned. Oracle: the recomputed logical table aggregated from the
    * DOWNSTREAM state. */
  def st19StreamMorTail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_mortail")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    ord.where($"o_orderkey" % 3 === 0)
      .writeTo("graft_st.db.ord_mortail").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .partitionedBy($"o_orderstatus").createOrReplace()
    s.sql("ALTER TABLE graft_st.db.ord_mortail ADD CONSTRAINT omt_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    ord.limit(0).writeTo("graft_st.db.ord_tailed").using("parquet")
      .createOrReplace()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st19_ckpt").toString
    def drainInto(): Unit = {
      val q = s.readStream.table("graft_st.db.ord_mortail")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          batch.createOrReplaceTempView("st19_batch")
          // idempotent downstream upsert (the documented re-emission
          // consumer shape). A deleted row served beside its
          // replacement = the same key twice in one source batch =
          // Spark's duplicate-match MERGE error — the retraction
          // contract enforces itself here.
          ss.sql("""MERGE INTO graft_st.db.ord_tailed t
                   |USING st19_batch s ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drainInto() // batch 1: the seeded snapshot
    // the CDC commit: matched keys scatter (one equality entry, every
    // base file hard-links), unmatched land in a new partition
    ord.where($"o_orderkey" % 3 === 0 && $"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(Tables.load(s, dir, "orders")
        .where($"o_orderkey" % 3 === 1)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"), $"o_custkey",
          lit("Z").as("o_orderstatus"), $"o_totalprice"))
      .createOrReplaceTempView("st19_src")
    s.sql("""MERGE INTO graft_st.db.ord_mortail t USING st19_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(s.table("graft_st.db.ord_mortail.deletes").count() >= 1L,
      "st19: the CDC merge must land as a live equality-delete entry")
    drainInto() // batch 2: new files + affected files' survivors
    require(s.table("graft_st.db.ord_mortail.deletes").count() >= 1L,
      "st19: the stream drain must SERVE the live entries, not " +
        "depend on a hidden rewrite materializing them")
    s.table("graft_st.db.ord_tailed")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        Det.moneySum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** st20: THE STREAMING CHANGELOG SCAN — `readStream` over the
    * `.changes` metadata table (ChangelogRead.scala), the Delta-CDF /
    * Iceberg-changelog posture that completes the CDC story: st19
    * gives a downstream consumer the CURRENT STATE (survivors
    * re-emitted), this gives it the row-level CHANGES — typed
    * insert/delete rows per commit, no re-diffing. The gate drains
    * the snapshot, commits an append AND a scattered MoR MERGE
    * (updates + inserts — one live equality entry) while the stream
    * is down, resumes from the same checkpoint under
    * `maxFilesPerTrigger` admission, and REQUIREs (a) the resumed
    * typed rows match batch `table_changes` over the same two commits
    * ROW FOR ROW, (b) the sidecar stayed live through the drain (the
    * delete half was SERVED from the entry's narrowed scope, not
    * materialized). Oracle: per-type row/key/money totals re-derived
    * independently from raw orders. */
  def st20ChangelogStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_chg")
    s.sql("DROP TABLE IF EXISTS graft_st.db.st20_sink")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    ord.where($"o_orderkey" % 3 === 0)
      .writeTo("graft_st.db.ord_chg").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .createOrReplace()
    s.sql("ALTER TABLE graft_st.db.ord_chg ADD CONSTRAINT oc_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    ord.limit(0).withColumn("_change_type", lit(""))
      .writeTo("graft_st.db.st20_sink").using("parquet").createOrReplace()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st20_ckpt").toString
    def drainInto(maxFiles: Option[Int]): Unit = {
      var reader = s.readStream
      maxFiles.foreach(m => reader =
        reader.option("maxFilesPerTrigger", m.toString))
      val q = reader.table("graft_st.db.ord_chg.changes")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select($"o_orderkey", $"o_custkey", $"o_totalprice",
              $"_change_type")
            .writeTo("graft_st.db.st20_sink").append()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drainInto(None) // batch 1: the snapshot as typed inserts
    // two commits while the stream is down: a plain append and a
    // scattered MoR merge (updates negate the price; inserts re-key)
    ord.where($"o_orderkey" % 3 === 1)
      .writeTo("graft_st.db.ord_chg").append()
    ord.where($"o_orderkey" % 3 === 0 && $"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(ord.where($"o_orderkey" % 3 === 2 &&
          $"o_orderkey" % 53 === 0)
        .select(($"o_orderkey" + 20000000L).as("o_orderkey"), $"o_custkey",
          $"o_totalprice"))
      .createOrReplaceTempView("st20_src")
    s.sql("""MERGE INTO graft_st.db.ord_chg t USING st20_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(s.table("graft_st.db.ord_chg.deletes").count() >= 1L,
      "st20: the CDC merge must land as a live equality-delete entry")
    drainInto(Some(4)) // batches 2..n: the two commits, typed, admitted
    require(s.table("graft_st.db.ord_chg.deletes").count() >= 1L,
      "st20: the changelog drain must SERVE the live entry, not " +
        "depend on a hidden rewrite materializing it")
    // the whole streamed feed == the snapshot-as-inserts plus batch
    // table_changes over the two commits, as a MULTISET (row for row,
    // money compared in cents to sidestep float formatting)
    val streamedSorted = s.table("graft_st.db.st20_sink").collect()
      .map(r => (r.getString(3), r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSeq.sorted
    val viaBatch = graft.sources.AtomicParquetCatalog
      .tableChanges(s, "graft_st.db.ord_chg", fromCommitsBack = 2)
      .select($"_change_type", $"o_orderkey", $"o_custkey",
        $"o_totalprice")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100))).toSeq
    val snapshotTyped = ord.where($"o_orderkey" % 3 === 0).collect()
      .map(r => ("insert", r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 100))).toSeq
    require(streamedSorted == (snapshotTyped ++ viaBatch).sorted,
      s"st20: streamed feed (${streamedSorted.size} rows) != snapshot + " +
        s"batch table_changes (${snapshotTyped.size + viaBatch.size})")
    s.table("graft_st.db.st20_sink")
      .groupBy($"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_keys"),
        Det.moneySum($"o_totalprice").as("total"))
      .orderBy($"_change_type")
  }

  /** st21: CDC REPLICATION OVER THE CHANGELOG STREAM — the end-to-end
    * consumer st20's feed exists for: a downstream replica applies the
    * TYPED rows (Delta CDF's documented recipe — per key keep the
    * LATEST COMMIT's change first (`_commit_timestamp` DESC, strictly
    * monotonic per table by the commit path), so a batch spanning an
    * insert commit and a later delete commit of the same key never
    * resurrects the row; within one commit insert wins over delete
    * since an update is its delete+insert pair; then a three-armed
    * MERGE) and
    * must converge to EXACTLY the source table through an append, a
    * scattered MoR merge (funnel equality entry) AND a metadata-only
    * predicate DELETE (the count-less `.pred` entry shape st20 did not
    * exercise — its typed deletes serve from the entry's predicate
    * over the previous version's survivors). The gate REQUIREs
    * replica == source as a multiset after the final drain; the
    * oracle re-derives the replica aggregate from raw orders. */
  def st21CdcReplication(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_rep")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_replica")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    ord.where($"o_orderkey" % 4 === 0)
      .writeTo("graft_st.db.ord_rep").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read")
      .createOrReplace()
    s.sql("ALTER TABLE graft_st.db.ord_rep ADD CONSTRAINT or_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    ord.limit(0).writeTo("graft_st.db.ord_replica").using("parquet")
      .createOrReplace()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_st21_ckpt").toString
    def drainApply(): Unit = {
      val q = s.readStream.table("graft_st.db.ord_rep.changes")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          batch.createOrReplaceTempView("st21_batch")
          ss.sql(
            """MERGE INTO graft_st.db.ord_replica t USING (
              |  SELECT o_orderkey, o_custkey, o_totalprice, _change_type
              |  FROM (SELECT *, row_number() OVER (
              |          PARTITION BY o_orderkey
              |          ORDER BY _commit_timestamp DESC,
              |            CASE _change_type
              |              WHEN 'insert' THEN 0 ELSE 1 END) AS rn
              |        FROM st21_batch) WHERE rn = 1
              |) s ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED AND s._change_type = 'delete' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET
              |  o_custkey = s.o_custkey, o_totalprice = s.o_totalprice
              |WHEN NOT MATCHED AND s._change_type = 'insert' THEN INSERT
              |  (o_orderkey, o_custkey, o_totalprice)
              |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)
              |""".stripMargin)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drainApply() // the snapshot
    ord.where($"o_orderkey" % 4 === 1) // commit A: plain append
      .writeTo("graft_st.db.ord_rep").append()
    drainApply()
    // commit B: scattered MoR merge — updates negate, inserts re-key
    ord.where($"o_orderkey" % 4 === 0 && $"o_orderkey" % 97 === 0)
      .select($"o_orderkey", $"o_custkey",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(ord.where($"o_orderkey" % 4 === 2 &&
          $"o_orderkey" % 53 === 0)
        .select(($"o_orderkey" + 30000000L).as("o_orderkey"), $"o_custkey",
          $"o_totalprice"))
      .createOrReplaceTempView("st21_src")
    s.sql("""MERGE INTO graft_st.db.ord_rep t USING st21_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    drainApply()
    // commit C: a TRANSLATABLE predicate delete — O(metadata), a
    // count-less `.pred` entry; the feed types its rows by evaluating
    // the predicate over the previous version's survivors
    s.sql("DELETE FROM graft_st.db.ord_rep " +
      // a band that exists at EVERY scale factor (sf0.001 keeps only
      // 150 custkeys, so a 500..800 band would match nothing and the
      // count-less-entry REQUIRE below would fail the smoke runs)
      "WHERE o_custkey >= 50 AND o_custkey < 80")
    require(s.table("graft_st.db.ord_rep.deletes")
      .where($"n_matched".isNull).count() >= 1L,
      "st21: the predicate delete must land as a count-less entry")
    drainApply()
    // the replica converged to the source, row for row — multiset
    // equality as ONE signed-count pass (sum +1 per source row, -1 per
    // replica row, per full-row key; any nonzero group = divergence):
    // the former rep.exceptAll(src) && src.exceptAll(rep) pair proved
    // the same property with two separate jobs, each re-reading both
    // tables (r19 measurement; the check is a gate-internal REQUIRE,
    // not part of the declared result)
    val src = s.table("graft_st.db.ord_rep")
    val rep = s.table("graft_st.db.ord_replica")
    val diff = src.withColumn("__w", lit(1L))
      .unionByName(rep.withColumn("__w", lit(-1L)))
      .groupBy($"o_orderkey", $"o_custkey", $"o_totalprice")
      .agg(sum($"__w").as("__d")).where($"__d" =!= 0)
    require(diff.isEmpty,
      "st21: the replica diverged from the source after the drains")
    rep.agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_keys"),
        Det.moneySum($"o_totalprice").as("total"))
  }

  /** st22: TYPED UPDATES IN THE CHANGE FEED — Delta CDF's
    * update_preimage/update_postimage contract on a
    * `write.cdf.typed-updates` table: a MoR MERGE whose matched rows
    * were ALL updates persists the preimage entry id + postimage file
    * identities at commit time (`_cdc_types`, DeltaRowLevel's commit
    * funnel — the only place that knowledge exists), and the `.changes`
    * window over the commit serves FOUR-WAY-TYPED rows — preimages
    * with the ORIGINAL values, postimages with the updated, fresh
    * inserts still 'insert' — so a CDC consumer applies updates
    * without re-pairing delete+insert rows by key (st21's rn=1
    * dance). The oracle re-derives all three slices from raw orders;
    * a preimage served with the new price, a postimage typed as a
    * plain insert, or a fresh insert mis-typed as postimage all
    * hash-mismatch. */
  def st22TypedUpdates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_cdf")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    ord.where($"o_orderkey" % 5 === 0)
      .writeTo("graft_st.db.ord_cdf").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.cdf.typed-updates", "true")
      .createOrReplace()
    s.sql("ALTER TABLE graft_st.db.ord_cdf ADD CONSTRAINT oc_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    // one MERGE carrying BOTH kinds: updates (negated price on the
    // matched keys) and fresh inserts (re-keyed) — the typed commit
    // must keep them apart
    ord.where($"o_orderkey" % 5 === 0 && $"o_orderkey" % 89 === 0)
      .select($"o_orderkey", $"o_custkey",
        (-$"o_totalprice").as("o_totalprice"))
      .unionByName(ord.where($"o_orderkey" % 5 === 1 &&
          $"o_orderkey" % 71 === 0)
        .select(($"o_orderkey" + 40000000L).as("o_orderkey"),
          $"o_custkey", $"o_totalprice"))
      .createOrReplaceTempView("st22_src")
    s.sql("""MERGE INTO graft_st.db.ord_cdf t USING st22_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(s.table("graft_st.db.ord_cdf.deletes").count() >= 1L,
      "st22: the merge must land as a live equality entry")
    val feed = s.table("graft_st.db.ord_cdf.changes")
    val types = feed.select($"_change_type").distinct()
      .as[String].collect().sorted.toSeq
    require(types == Seq("insert", "update_postimage", "update_preimage"),
      s"st22: expected four-way typing, got $types")
    feed.groupBy($"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_keys"),
        Det.moneySum($"o_totalprice").as("total"))
      .orderBy($"_change_type")
  }

  /** st23: MIXED-MERGE TYPED SPLIT — one MERGE carrying UPDATE,
    * DELETE and INSERT arms on a `write.cdf.typed-updates` table.
    * Delta CDF types per ROW, so a single DELETE arm must not degrade
    * the whole commit: the MoR commit funnel SPLITS its equality entry
    * into an update half (ids whose key reappears among the reinserted
    * rows) and a delete half (ids that took the DELETE arm), each with
    * its own matched count and stats-narrowed scope
    * (DeltaRowLevel.scala), and the `.changes` feed serves FOUR-WAY
    * typing over the one commit — preimages/postimages for the
    * updates, honest 'delete' rows for the deletes, 'insert' for the
    * fresh keys. The oracle re-derives all four slices from raw
    * orders; a delete typed 'update_preimage', a preimage served with
    * the new price, or a lost slice all hash-mismatch. */
  def st23MixedMergeTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.AtomicParquetCatalog.ensureRegistered(s, "graft_st")
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_st.db")
    s.sql("DROP TABLE IF EXISTS graft_st.db.ord_mix")
    val ord = Tables.load(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    ord.where($"o_orderkey" % 5 === 0)
      .writeTo("graft_st.db.ord_mix").using("parquet")
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.cdf.typed-updates", "true")
      .createOrReplace()
    s.sql("ALTER TABLE graft_st.db.ord_mix ADD CONSTRAINT om_pk " +
      "PRIMARY KEY (o_orderkey) NOT ENFORCED")
    // the %5 snapshot splits by last digit: %10=0 keys take the UPDATE
    // arm (negated price), %10=5 keys the DELETE arm; the re-keyed
    // slice inserts fresh — all three in ONE commit
    ord.where($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_custkey",
        (-$"o_totalprice").as("o_totalprice"), lit("u").as("act"))
      .unionByName(ord.where($"o_orderkey" % 10 === 5)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          lit("d").as("act")))
      .unionByName(ord.where($"o_orderkey" % 5 === 1 &&
          $"o_orderkey" % 71 === 0)
        .select(($"o_orderkey" + 50000000L).as("o_orderkey"),
          $"o_custkey", $"o_totalprice", lit("i").as("act")))
      .createOrReplaceTempView("st23_src")
    s.sql("""MERGE INTO graft_st.db.ord_mix t USING st23_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.act = 'd' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET
            |  o_custkey = s.o_custkey, o_totalprice = s.o_totalprice
            |WHEN NOT MATCHED THEN INSERT
            |  (o_orderkey, o_custkey, o_totalprice)
            |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice)
            |""".stripMargin)
    // the SPLIT is structural: two live equality entries, each with
    // its exact matched count (COUNT(*) pushdown rides both)
    val dels = s.table("graft_st.db.ord_mix.deletes").collect()
    require(dels.length >= 2 && dels.forall(r => !r.isNullAt(3)),
      s"st23: the mixed merge must split into counted halves, got " +
        s"${dels.length} entries")
    val feed = s.table("graft_st.db.ord_mix.changes")
    val types = feed.select($"_change_type").distinct()
      .as[String].collect().sorted.toSeq
    require(types == Seq("delete", "insert", "update_postimage",
      "update_preimage"), s"st23: expected four-way typing, got $types")
    feed.groupBy($"_change_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderkey").as("n_keys"),
        Det.moneySum($"o_totalprice").as("total"))
      .orderBy($"_change_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st23_mixed_merge_typed" -> st23MixedMergeTyped,
    "st22_typed_updates" -> st22TypedUpdates,
    "st21_cdc_replication" -> st21CdcReplication,
    "st20_changelog_stream" -> st20ChangelogStream,
    "st19_stream_mor_tail" -> st19StreamMorTail,
    "st18_stream_wap_branch" -> st18StreamWapBranch,
    "st16_stream_native_sink" -> st16StreamNativeSink,
    "st17_stream_upsert_mor" -> st17StreamUpsertMor,
    "st15_stream_starting_version" -> st15StreamStartingVersion,
    "st14_stream_restart_recovery" -> st14StreamRestartRecovery,
    "st13_stream_table_source" -> st13StreamTableSource,
    "st12_stream_upsert_idempotent" -> st12StreamUpsertIdempotent,
    "st11_stream_upsert" -> st11StreamUpsert,
    "st10_stream_drift" -> st10StreamDrift,
    "st09_stream_catalog_ingest" -> st09StreamCatalogIngest,
    "st08_stream_hopping" -> st08StreamHopping,
    "st06_stream_text_quality" -> st06StreamTextQuality,
    "st01_stream_tumbling_agg" -> st01TumblingAgg,
    "st07_stream_dedup_bounded" -> st07StreamDedupBounded,
    "st02_stream_dedup" -> st02StreamDedup,
    "st03_stateful_sessions" -> st03StatefulSessions,
    "st04_stream_stream_join" -> st04StreamStreamJoin,
    "st05_stream_static_join" -> st05StreamStaticJoin)

  val oracles: Map[String, String] = Map(
    // the mixed commit, per type: preimages/deletes are the matched
    // ORIGINAL rows of their arm's key slice, postimages the updated
    // values, inserts the re-keyed slice — an arm's rows leaking into
    // another type (the pre-split behavior: deletes+inserts only)
    // mismatches on every row of the commit
    "st23_mixed_merge_typed" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), del AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 5
        |), typed AS (
        |  SELECT 'update_preimage' AS _change_type, o_orderkey,
        |    o_custkey, o_totalprice FROM upd
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, o_custkey,
        |    -o_totalprice FROM upd
        |  UNION ALL
        |  SELECT 'delete', o_orderkey, o_custkey, o_totalprice FROM del
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 50000000, o_custkey,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 71 = 0
        |)
        |SELECT _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM typed GROUP BY _change_type ORDER BY _change_type""".stripMargin,
    // MoR CDC upserts tailed by a checkpointed stream into a
    // downstream upsert state == the recomputed logical table: a
    // deleted row served un-retracted dup-key-faults the downstream
    // MERGE; a lost insert or a stale survivor price mismatches here
    // the replica after applying the full typed feed == the source's
    // final logical state, re-derived from raw orders: the %4∈{0,1}
    // rows (updates negating %4=0∧%97=0 keys) plus the re-keyed merge
    // inserts, minus the predicate delete's custkey range. A replica
    // that resurrected a deleted row, missed a commit, or applied an
    // update as a bare insert mismatches.
    // the typed feed, per type: preimages are the matched ORIGINAL
    // rows, postimages the same keys with the negated price, fresh
    // inserts the re-keyed slice — a mis-typed or stale-valued row in
    // any slice mismatches
    "st22_typed_updates" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 89 = 0
        |), typed AS (
        |  SELECT 'update_preimage' AS _change_type, o_orderkey,
        |    o_custkey, o_totalprice FROM upd
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, o_custkey,
        |    -o_totalprice FROM upd
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 40000000, o_custkey,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 1 AND o_orderkey % 71 = 0
        |)
        |SELECT _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM typed GROUP BY _change_type ORDER BY _change_type""".stripMargin,
    "st21_cdc_replication" ->
      """WITH state AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 2 AND o_orderkey % 53 = 0
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM state
        |WHERE NOT (o_custkey >= 50 AND o_custkey < 80)""".stripMargin,
    // the streamed change feed, per type: inserts = the snapshot +
    // the append + the merge's reinserts (negated price) + its fresh
    // inserts (re-keyed); deletes = the merge-matched ORIGINAL rows.
    // A missed commit, an unretracted delete, a reinsert served with
    // the old price, or a snapshot row double-served all mismatch.
    "st20_changelog_stream" ->
      """WITH ins AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, -o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 2 AND o_orderkey % 53 = 0
        |), del AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 97 = 0
        |), typed AS (
        |  SELECT 'insert' AS _change_type, * FROM ins
        |  UNION ALL
        |  SELECT 'delete' AS _change_type, * FROM del
        |)
        |SELECT _change_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM typed GROUP BY _change_type ORDER BY _change_type""".stripMargin,
    "st19_stream_mor_tail" ->
      """WITH logical AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 'Z', o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |)
        |SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM logical
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // stream → branch → audit → fast_forward == the plain batch
    // aggregate on published main (n_distinct pins no epoch doubled
    // across the publish swap; a lost epoch or a leak into main
    // pre-publish is require-pinned in the gate)
    "st18_stream_wap_branch" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // native writeStream.toTable sink, resumed mid-history == the
    // plain batch aggregate (n_distinct pins no epoch landed twice)
    "st16_stream_native_sink" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // crash-injected, checkpoint-resumed guarded merge == the plain
    // batch aggregate: a lost batch, a double-applied replay or a
    // wrong resume offset all hash-mismatch
    "st14_stream_restart_recovery" ->
      """SELECT user_id,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // startingVersion=1 (the second commit, inclusive): exactly the
    // two appended thirds — the snapshot third never replays
    "st15_stream_starting_version" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // snapshot + resumed tail through the streaming table source ==
    // all events exactly once (n_distinct pins no slice doubled)
    "st13_stream_table_source" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // idempotent upsert: despite every batch's merge being applied
    // TWICE, the final state is exactly the plain batch aggregate
    "st12_stream_upsert_idempotent" ->
      """SELECT user_id, CAST(user_id % 8 AS VARCHAR) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // seeded pre-cutoff totals + streamed post-cutoff deltas, composed
    // with the same two-slice double addition the merge performs
    // the MoR streaming upsert ends at the SAME final state as st11's
    // COW variant — the equality deletes must apply exactly on read or
    // matched users' totals double
    "st17_stream_upsert_mor" ->
      """WITH pre AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n0,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS t0
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id),
        |post AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS t1
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id)
        |SELECT coalesce(pre.user_id, post.user_id) AS user_id,
        | CAST(coalesce(pre.user_id, post.user_id) % 8 AS VARCHAR) AS bucket,
        | coalesce(n0, 0) + coalesce(n1, 0) AS n_events,
        | CASE WHEN pre.user_id IS NOT NULL AND post.user_id IS NOT NULL
        |      THEN t0 + t1
        |      WHEN pre.user_id IS NOT NULL THEN t0 ELSE t1 END AS total
        |FROM pre FULL OUTER JOIN post ON pre.user_id = post.user_id
        |ORDER BY user_id""".stripMargin,
    "st11_stream_upsert" ->
      """WITH pre AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n0,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS t0
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id),
        |post AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
        |   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS t1
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id)
        |SELECT coalesce(pre.user_id, post.user_id) AS user_id,
        | CAST(coalesce(pre.user_id, post.user_id) % 8 AS VARCHAR) AS bucket,
        | coalesce(n0, 0) + coalesce(n1, 0) AS n_events,
        | CASE WHEN pre.user_id IS NOT NULL AND post.user_id IS NOT NULL
        |      THEN t0 + t1
        |      WHEN pre.user_id IS NOT NULL THEN t0 ELSE t1 END AS total
        |FROM pre FULL OUTER JOIN post ON pre.user_id = post.user_id
        |ORDER BY user_id""".stripMargin,
    // the streaming word count feeding the drift monitor == the batch
    // path: st10 shares t42's oracle verbatim
    "st10_stream_drift" ->
      graft.ops.TextAnalysis.oracles("t42_corpus_drift"),
    // the finite stream landed through the catalog == the batch aggregate
    "st09_stream_catalog_ingest" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the finite hopping stream == the batch hopping aggregate (q65 form)
    "st08_stream_hopping" ->
      """WITH ex AS (
        |  SELECT value, unnest([
        |    CAST(floor(epoch(ts) / 7200) AS BIGINT) * 7200,
        |    CAST(floor(epoch(ts) / 7200) AS BIGINT) * 7200 - 7200]) AS window_start_s
        |  FROM events)
        |SELECT window_start_s, window_start_s + 14400 AS window_end_s,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM ex GROUP BY window_start_s ORDER BY window_start_s""".stripMargin,
    "st06_stream_text_quality" ->
      s"""WITH d AS (SELECT source, length(text) AS n_chars,
         |  length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |    / len(regexp_split_to_array(trim(text), '\\s+')) AS mean_word_len
         | FROM documents),
         |q AS (SELECT source,
         |  (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0.25 ELSE 0.0 END
         |   + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 0.25 ELSE 0.0 END
         |   + CASE WHEN CAST(n_digit AS DOUBLE) / n_chars < 0.2 THEN 0.25 ELSE 0.0 END
         |   + CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END) AS quality
         | FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CAST(quality AS DECIMAL(10,2))) AS DOUBLE) / count(*) AS mean_quality,
         | CAST(count(*) FILTER (quality >= 0.75) AS BIGINT) AS n_high_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "st01_stream_tumbling_agg" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_s,
        | event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        | max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "st02_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events
        |FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events ORDER BY event_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st07_stream_dedup_bounded" ->
      """SELECT event_type, count(*) AS n_events
        |FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events ORDER BY event_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the finite stream-stream join == the batch interval join
    "st04_stream_stream_join" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p_id, count(*) AS n_clicks, min(c_id) AS first_click_id
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |GROUP BY p_id ORDER BY p_id""".stripMargin,
    // batch sessionization (q10's logic) per user == the single-batch
    // stateful-streaming result
    "st03_stateful_sessions" ->
      """WITH e AS (
        | SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
        |  ts
        | FROM events),
        |s AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM e)
        |SELECT user_id, max(session_id) AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the finite stream-static join == the batch equi-join
    "st05_stream_static_join" ->
      """SELECT c_mktsegment,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        | max(user_id) AS max_user_id
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
