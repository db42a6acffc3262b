package graft.api

import graft.functions.{BloomFunctions, TopKAggregator, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The public, table-agnostic API of the engine: every operator family the
  * gate queries exercise, callable on ANY DataFrame with caller-chosen
  * columns. The `graft.ops` gate queries are thin bindings of these
  * functions to the driver testdata, so the DuckDB oracle gate transitively
  * verifies this surface.
  *
  * Scale posture is inherited from the implementations: LSH-bucketed pair
  * generation (never all-pairs), broadcast query sides, partial top-k
  * reduction, codegen'd dot products, single-shuffle sessionization/as-of.
  */
object Graft {

  // ---------------------------------------------------------------- dedup

  /** The 31-bit prime field the minhash affine permutations live in. */
  val MinhashP = 2147483647L // 2^31 - 1

  /** Production LSH banding — PLANNER-DERIVED, not hand-picked:
    * [[lshBandPlan]](threshold = 0.8, minRecall = 0.95, maxHashes = 16)
    * = (5 bands, 3 rowsPerBand), i.e. 15 hashes. S-curve recall at the
    * observed near-dup mode: 0.973 at J = 0.8, 0.9997 at J = 0.9 (the
    * corpus's true J >= 0.5 edges all sit at J >= 0.79 — measured by the
    * round-10 banding probe (PERF.md), which also read recall 256/256 vs
    * the prior banding's verified edge set at sf0.1). The prior 8-hash / 4x2
    * banding had r = 2 band keys, whose buckets collide for J ~ 0.2-0.35
    * template pairs: 866k raw bucket pairs and 216k agreement survivors
    * for 256 true edges at sf0.1 (a ~1000x verify overfetch). r = 3 keys
    * collapse that to 122k raw / ~3k surviving candidates (70x less
    * verify work) at measured-identical verified output. */
  val DefaultBands = 5
  val DefaultRowsPerBand = 3
  /** 15 = [[DefaultBands]] * [[DefaultRowsPerBand]] — banding consumes
    * exactly the signature. */
  val DefaultNumHashes = DefaultBands * DefaultRowsPerBand
  /** Signature-agreement cut for reported candidates: >= 8 of 15 hashes
    * (just over half, the same J ~ 0.5 operating point as the previous
    * >= 4 of 8 — E[n_match] = 15 J crosses 8 at J ~ 0.53 — but with
    * nearly double the hashes the binomial cut is far sharper on the
    * J ~ 0.2-0.3 template pairs that dominate false candidates). */
  val DefaultMinAgreement = 8

  /** The (a, b) constants of the minhash affine permutations
    * h_i = (a_i*h + b_i) mod [[MinhashP]] — THE single source of truth:
    * [[minhashSignatures]] evaluates these in Spark and the dedup oracle
    * SQL embeds the same values, so the cross-engine hash-match depends on
    * both sides calling this one function. */
  def minhashParams(numHashes: Int = DefaultNumHashes, seed: Long = 777L): Array[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numHashes)(
      (rng.nextInt(Int.MaxValue - 1).toLong + 1L, rng.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures over character `n`-gram shingles: one row per input
    * row: (id, h1..hNumHashes). Universal hashing over an md5-derived base,
    * engine-portable and deterministic.
    *
    * Computed by the fused [[graft.functions.MinHashSig]] expression — all
    * minima in one pass per document, a pure narrow projection. The
    * composable CharNGrams-explode -> md5 -> groupBy(min x N) formulation
    * this replaces amplified every document into hundreds of rows through
    * a hash aggregate; values are identical (MinHashSigSpec proves
    * equivalence, and the dedup oracles are unchanged). Documents shorter
    * than `shingle` have no shingles and produce no signature row (same
    * semantics as the explode formulation).
    *
    * @param assumeUniqueIds skip the per-id merge when the caller
    *   guarantees one row per id (the common corpus shape): the operator
    *   is then a pure narrow projection with NO exchange at all — the
    *   100 TB fast path. With the default false, rows sharing an id merge
    *   into the signature of the union of their shingles (one narrow
    *   row-per-document aggregate). */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
                        numHashes: Int = DefaultNumHashes, shingle: Int = 5,
                        seed: Long = 777L,
                        assumeUniqueIds: Boolean = false): DataFrame = {
    val params = minhashParams(numHashes, seed).toSeq
    val sig = graft.functions.MinHashSig.minhashSig(
      col("__t"), shingle, params, MinhashP)
    // short-doc filter on length, NOT on sig.isNotNull: a null-check on the
    // signature gets pushed below the projection and re-evaluates the whole
    // minhash per row (2x the md5 work — observed in the executed plan)
    val perRow = fanOut(df.select(id.as("id"), text.as("__t")))
      .where(length(col("__t")) >= shingle)
      .select(col("id"), sig.as("__mh"))
      .select(col("id") +:
        (0 until numHashes).map(i => col("__mh")(i).as(s"h${i + 1}")): _*)
    // merge rows sharing an id (signature of the UNION of their shingles —
    // the documented contract for non-unique ids). The aggregate's input is
    // one narrow row per document (not the old 500x shingle amplification),
    // so this exchange is small; unique-id inputs produce identical values
    // and may skip it entirely via assumeUniqueIds.
    if (assumeUniqueIds) perRow
    else {
      val mins = (1 to numHashes).map(i => min(col(s"h$i")).as(s"h$i"))
      perRow.groupBy(col("id")).agg(mins.head, mins.tail: _*)
    }
  }

  /** Re-split the input ahead of a high-fan-out stage (shingling, token
    * explode): each input row amplifies into hundreds of rows of per-row
    * hash work, which Spark's scan-side split sizing cannot see — a small
    * parquet input arrives as one or two partitions and the whole explode
    * would run on as many cores. One narrow shuffle of (id, text) buys
    * full-cluster parallelism; inputs that already split at least as wide
    * as the session's default parallelism pass through untouched (the
    * normal case at scale, where this is a no-op by construction).
    *
    * The split estimate uses logical-plan signals only (input file count
    * and plan-stats bytes over maxPartitionBytes) — it never forces
    * physical planning, and streaming frames simply repartition. */
  private def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    if (df.isStreaming) df.repartition(target)
    else {
      import scala.util.control.NonFatal
      val files =
        try df.inputFiles.length.toLong catch { case NonFatal(_) => 0L }
      // Plans without real statistics report defaultSizeInBytes =
      // Long.MaxValue (e.g. LogicalRDD) — treat anything absurdly past a
      // petabyte as "unknown", not "huge", else an unknown-size 1-partition
      // input would silently skip the repartition it needs most.
      val bytes = try {
        val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong
        if (b >= (1L << 52)) 0L else b
      } catch { case NonFatal(_) => 0L }
      val maxPart = try org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
      catch { case NonFatal(_) => 134217728L }
      // Over-estimate caveat: a coalesce(1)/limit over a many-file input
      // still reports all leaf files and skips the repartition — the
      // cheap-signal tradeoff of never forcing physical planning here.
      val estSplits = math.max(files, bytes / math.max(1L, maxPart))
      if (estSplits >= target) df else df.repartition(target)
    }
  }

  /** LSH near-duplicate candidate pairs from a signature frame: rows
    * (id_a, id_b, n_match) for pairs sharing >= 1 band bucket and agreeing
    * on >= `minAgreement` of the signature hashes.
    *
    * Single-pass bucket design — three shuffles total, all on narrow rows:
    * (1) explode each row into its `bands` band keys (one scan, no
    * per-band union re-reads); (2) groupBy band key collecting the bucket's
    * full signatures, so in-bucket pairs and their signature agreement are
    * generated NATIVELY from the collected array (codegen'd
    * transform/slice — no self-join and no signature re-join); (3) groupBy
    * (id_a, id_b) to collapse pairs sharing several buckets. Per-bucket
    * work is quadratic in bucket size — inherent to LSH banding (the
    * former self-join shuffled the same quadratic row set) — so band
    * width, not this operator, is the skew lever at scale. */
  /** The band-key array of a signature row — `bands` strings
    * "k:h_i:...:h_j", one per band. The single rendering [[nearDupPairs]]
    * and [[lshBucketStats]] share, so the stats always describe the exact
    * buckets the pair generator would build. */
  private def bandKeyArray(bands: Int, rowsPerBand: Int): Column =
    array((1 to bands).map { k =>
      val hs = ((k - 1) * rowsPerBand + 1 to k * rowsPerBand).map(i => col(s"h$i"))
      concat_ws(":", (lit(k) +: hs): _*)
    }: _*)

  /** Per-band LSH bucket statistics — the Σ bucket² cost predictor to run
    * BEFORE committing a corpus to a banding: [[nearDupPairs]]' per-bucket
    * work is quadratic in bucket size, so `est_pairs` (Σ n·(n−1)/2 over
    * that band's buckets) is exactly the candidate-pair count the banding
    * would generate, and `max_bucket` names the hot-bucket hazard (a
    * boilerplate shingle shared by millions of rows). Output one row per
    * band: (band, n_buckets, n_rows, max_bucket, est_pairs), ordered by
    * band.
    *
    * Cost: one explode + two keyed count aggregates (map-side combined) —
    * a word-count shape over the signature frame, NEVER building the
    * buckets themselves, so it is safe to run on a corpus whose banding
    * would explode. est_pairs stays in integer arithmetic (n·(n−1) is
    * even; shift, not double division), exact up to 2^62. */
  /** Closed-form LSH banding planner — pick (bands, rowsPerBand) BEFORE
    * paying a single shuffle: candidate probability under MinHash banding
    * is the S-curve p(s) = 1 - (1 - s^r)^b, so for a target similarity
    * `threshold` and a required `minRecall` at that similarity this
    * returns, among all (b, r) with b*r <= maxHashes and
    * p(threshold) >= minRecall, the plan with the FEWEST expected false
    * candidates (largest r, then smallest feasible b) — the knob
    * [[lshBucketStats]] then validates against the real bucket
    * distribution. Returns (bands, rowsPerBand, recallAtThreshold);
    * throws if no feasible plan exists within maxHashes (raise maxHashes
    * or lower the bar — stated in the error). Pure driver-side math, no
    * Spark job. */
  def lshBandPlan(threshold: Double, minRecall: Double,
                  maxHashes: Int = 8): (Int, Int, Double) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(minRecall > 0 && minRecall < 1, s"minRecall in (0,1): $minRecall")
    require(maxHashes >= 1, s"maxHashes >= 1: $maxHashes")
    def recall(b: Int, r: Int): Double = 1 - math.pow(1 - math.pow(threshold, r), b)
    val feasible = for {
      r <- maxHashes to 1 by -1
      b <- 1 to (maxHashes / r)
      if recall(b, r) >= minRecall
    } yield (b, r)
    feasible.headOption match {
      case Some((b, r)) => (b, r, recall(b, r))
      case None =>
        val best = (for (r <- 1 to maxHashes; b <- 1 to maxHashes / r)
          yield (recall(b, r), b, r)).max
        throw new IllegalArgumentException(
          f"lshBandPlan: no (bands, rowsPerBand) within $maxHashes hashes " +
            f"reaches recall $minRecall%.2f at similarity $threshold%.2f " +
            f"(best achievable: ${best._1}%.3f with bands=${best._2}, " +
            f"rowsPerBand=${best._3}); raise maxHashes or lower minRecall")
    }
  }

  def lshBucketStats(sigs: DataFrame, bands: Int = DefaultBands,
                     rowsPerBand: Int = DefaultRowsPerBand): DataFrame =
    sigs.select(posexplode(bandKeyArray(bands, rowsPerBand)).as(Seq("__p", "bb")))
      .groupBy((col("__p") + 1).cast(LongType).as("band"), col("bb"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_bucket"),
        sum(shiftright(col("n") * (col("n") - 1), 1)).as("est_pairs"))
      .orderBy(col("band"))

  def nearDupPairs(sigs: DataFrame, bands: Int = DefaultBands,
                   rowsPerBand: Int = DefaultRowsPerBand,
                   minAgreement: Int = DefaultMinAgreement,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val numHashes = bands * rowsPerBand
    val bandKeys = bandKeyArray(bands, rowsPerBand)
    val sig = struct(col("id") +: (1 to numHashes).map(i => col(s"h$i")): _*)
    // sort_array orders the bucket by its first struct field — the id — so
    // pairing index i with indexes > i yields id_a < id_b by construction.
    // The band index rides along (posexplode; bb's "k:" prefix determines
    // it, so the grouping is unchanged) for the in-quadratic cross-band
    // dedup below.
    val collected = sigs
      .select(posexplode(bandKeys).as(Seq("__b", "bb")), sig.as("s"))
      .groupBy(col("bb"), col("__b"))
      .agg(sort_array(collect_list(col("s"))).as("ss"))
    // hot-bucket guard: fail the job NAMING the oversized bucket instead of
    // quietly OOMing an executor on its quadratic pair fan-out. The check
    // runs right after a bucket finishes aggregating — it stops the
    // quadratic stage, not the collect itself, so for guaranteed protection
    // on an unknown corpus run the count-only lshBucketStats FIRST and pick
    // the banding from its est_pairs/max_bucket.
    val guarded =
      if (maxBucketSize == Int.MaxValue) collected
      else collected.withColumn("ss",
        when(size(col("ss")) > maxBucketSize, raise_error(concat(
          lit("graft.nearDupPairs: LSH band bucket '"), col("bb"),
          lit("' holds "), size(col("ss")).cast(StringType),
          lit(s" rows (maxBucketSize = $maxBucketSize); a degenerate " +
            "shingle is dominating — widen the band (more rowsPerBand), " +
            "pre-filter boilerplate, or raise the cap. " +
            "lshBucketStats(sigs) shows the distribution."))))
          .otherwise(col("ss")))
    val buckets = guarded.where(size(col("ss")) > 1)
    // the whole in-bucket quadratic — n_match scoring, the minAgreement
    // cut, AND cross-band dedup — runs inside ONE compiled call per
    // bucket (native BucketPairSurvivors expression): higher-order
    // transform/filter lambdas are CodegenFallback, so the previous
    // formulation paid interpreted evaluation per RAW pair on exactly
    // the Σ bucket² stage that dominates mining. A pair sharing buckets
    // in several bands is emitted only from the FIRST colliding band
    // (decided locally from the signatures in hand), so every emission
    // is already globally unique and the former groupBy(id_a, id_b)
    // dedup — a full exchange of the survivor stream — is gone.
    val inBucketPairs = graft.functions.BucketPairSurvivors
      .bucketPairsFirstBand(col("ss"), col("__b").cast(IntegerType),
        minAgreement, bands, rowsPerBand)
    buckets.select(explode(inBucketPairs).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_match").as("n_match"))
  }

  /** Exact char-n-gram Jaccard for given candidate pairs (id_a, id_b).
    *
    * Join strategy is size-gated: the in-pair shingle-set frame is
    * broadcast only while the distinct in-pair doc count stays at or under
    * `broadcastDocLimit` (shingle sets are wide — ~45 KB for a 1 KB doc —
    * so an unbounded broadcast would blow the 8 GB broadcast cap and the
    * driver long before it; the round-3 audit's one scale hazard in this
    * operator). Above the limit both sides resolve through plain shuffled
    * equi-joins and AQE picks the physical strategy from runtime sizes.
    *
    * The gate is an EAGER count of the distinct in-pair ids (a shuffle over
    * the pair stream) at call time — `pairs` must be a batch frame. To keep
    * that count from executing the caller's candidate-generation plan
    * twice, an unpersisted `pairs` is persisted here — MEMORY_ONLY, so the
    * blocks are fully LRU-evictable under memory pressure and a long-lived
    * session calling this over many datasets cannot accumulate disk
    * residue (an evicted block just recomputes); callers wanting tighter
    * lifecycle control pass an already-persisted frame and unpersist it
    * themselves after materializing the result. */
  def jaccardVerify(docs: DataFrame, id: Column, text: Column,
                    pairs0: DataFrame, shingle: Int = 5,
                    broadcastDocLimit: Long = 10000L): DataFrame =
    pairedShingleSets(docs, id, text, pairs0, shingle, broadcastDocLimit)
      .withColumn("__ov",
        graft.functions.SortedSetOverlap.overlap(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        col("__ov.n_inter").as("n_inter"), col("__ov.n_union").as("n_union"),
        (col("__ov.n_inter").cast(DoubleType) / col("__ov.n_union")).as("jaccard"))

  /** Exact char-n-gram CONTAINMENT for given candidate pairs (id_a, id_b):
    * `containment = |A∩B| / min(|A|, |B|)` — the asymmetric-duplication
    * score. Jaccard punishes size mismatch (a 100-word article quoted
    * inside a 10,000-word page has J ≈ 0.01), so pipelines that only
    * verify with Jaccard systematically miss short-inside-long duplication
    * (quotes, syndicated excerpts, boilerplate-wrapped reposts).
    * Containment of the SMALLER set is 1.0 exactly when one document's
    * shingles are a subset of the other's, regardless of the length ratio.
    *
    * Same join discipline as [[jaccardVerify]] (size-gated broadcast,
    * single reused shingle-set build, native sorted-merge overlap); the
    * set sizes come free from the already-built sorted arrays. Output:
    * (id_a, id_b, n_inter, n_a, n_b, containment). */
  def containmentVerify(docs: DataFrame, id: Column, text: Column,
                        pairs0: DataFrame, shingle: Int = 5,
                        broadcastDocLimit: Long = 10000L): DataFrame =
    pairedShingleSets(docs, id, text, pairs0, shingle, broadcastDocLimit)
      .withColumn("__ov",
        graft.functions.SortedSetOverlap.overlap(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        col("__ov.n_inter").as("n_inter"),
        size(col("sh_a")).cast(LongType).as("n_a"),
        size(col("sh_b")).cast(LongType).as("n_b"),
        (col("__ov.n_inter").cast(DoubleType) /
          least(size(col("sh_a")), size(col("sh_b")))).as("containment"))

  /** Shared verify-stage machinery: join each candidate pair to both its
    * sorted shingle sets → (id_a, id_b, sh_a, sh_b). See [[jaccardVerify]]
    * for the persist/broadcast contract (this is its former body). */
  private def pairedShingleSets(docs: DataFrame, id: Column, text: Column,
                                pairs0: DataFrame, shingle: Int,
                                broadcastDocLimit: Long): DataFrame = {
    val pairs =
      if (pairs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        pairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      else pairs0
    val t = col("__t")
    // native one-pass sorted-distinct gram build (ShingleSet): the former
    // sort_array(array_distinct(transform(sequence, i => substr(t, i, n))))
    // chain re-scanned the variable-width string per substr call —
    // O(len²) per document — and allocated three intermediate arrays;
    // semantics identical (ShingleSetSpec pins equality incl. multi-byte)
    // only build shingle sets for docs that occur in a pair; each set is
    // built sorted so the per-pair counting is a zero-allocation native
    // merge (SortedSetOverlap) instead of per-pair hash-set builds
    val inPairs = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // ONE sets plan joined for both pair sides: the two builds are then
    // canonically identical, so ReuseExchange materializes the (fanned-out)
    // shingle construction once instead of twice. The semi join runs BELOW
    // the set projection: Catalyst will not push a semi join under an
    // expensive projection on its own (verified in the optimized plan), so
    // building sets first would pay the array_distinct + sort for EVERY
    // corpus document instead of just the in-pair ones — with a selective
    // banding the in-pair set is orders of magnitude smaller than the
    // corpus, and carrying (id, text) through the join is far narrower
    // than carrying the ~30x-larger shingle arrays.
    val sets = fanOut(docs.select(id.as("id"), text.as("__t")))
      .join(inPairs, Seq("id"), "left_semi")
      .select(col("id"),
        graft.functions.ShingleSet.shingleSet(t, shingle).as("sh"))
    val p = pairs.select("id_a", "id_b")
    val doBroadcast = inPairs.count() <= broadcastDocLimit
    def side(s: DataFrame): DataFrame = if (doBroadcast) broadcast(s) else s
    val withA = p.join(side(sets.as("sa")), col("id_a") === col("sa.id"))
      .select(col("id_a"), col("id_b"), col("sa.sh").as("sh_a"))
    withA.join(side(sets.as("sb")), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sb.sh").as("sh_b"))
  }

  /** 60-bit word-level SimHash per row: (id, simhash). */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val words = fanOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(split(trim(col("__t")), "\\s+")).as("w"))
      .select(col("id"), graft.functions.Md5Int60.md5Int60(col("w")).as("h"))
    val bitSums = (0 until 60).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val sim = (0 until 60)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    words.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), sim.as("simhash"))
  }

  /** Exact content-hash dedup: (content_hash, keeper_id, n_copies). */
  def exactDedup(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(md5(key).as("content_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Connected components over an undirected edge list: one row
    * (id, component) per vertex, component = the least vertex id reachable
    * from it (the canonical keeper id of a duplicate cluster).
    *
    * Min-label propagation with pointer jumping: each round takes every
    * vertex to the minimum of its own label, its neighbors' labels, and its
    * label's label — so the reached radius DOUBLES per round instead of
    * growing by one hop (log2(diameter) rounds, each a bounded number of
    * shuffles on (id, label) pairs; the classic large-graph CC shape).
    * Rounds run driver-side until a fixpoint is PROVEN: labels decrease
    * monotonically, so an unchanged label sum means converged — never a
    * guessed iteration cap. Each round materializes (checkpoint) to keep
    * the plan shallow (iterative lineage otherwise grows exponentially in
    * the optimizer).
    *
    * `checkpointDir`: when None, rounds materialize via `localCheckpoint`
    * — fastest, but blocks live on executors, so on a real cluster one
    * lost executor kills the job past recovery; fine for short local
    * runs. Set it to a reliable store (HDFS/S3) for long cluster runs:
    * rounds then use `df.checkpoint()`, whose blocks survive executor
    * loss — the right posture for a 100 TB dup graph whose fixpoint loop
    * runs long enough for failures to be expected. Both modes converge
    * identically (the checkpoint is pure materialization).
    *
    * `localEdgeLimit`: edge lists at or below this size (counted AFTER
    * symmetrize+distinct, on the already-materialized frame — an O(1)-ish
    * cached count, not an extra pass) are solved by a driver-local
    * union-find instead of the distributed fixpoint — the exact analogue
    * of a broadcast join's size gate: a duplicate-cluster graph is
    * usually thousands of edges even when the corpus is 100 TB, and the
    * distributed loop's per-round scheduling floor (3 joins + a
    * materialization + a convergence action per round) dwarfs the actual
    * work below ~10^6 edges. The bound caps driver memory at ~32 MB of
    * edge rows; the local path produces bit-identical labels (min
    * reachable id under the column type's own ordering — numeric order
    * for numerics, unsigned-UTF-8-byte order for strings, exactly
    * Spark's `least()` semantics). Id types outside that set fall
    * through to the distributed loop, which handles any orderable type.
    * Set 0 to force the distributed loop (the spec does, to pin both
    * paths against each other). */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
                          checkpointDir: Option[String] = None,
                          localEdgeLimit: Long = 1000000L): DataFrame = {
    val mat = materializer(edges, checkpointDir)
    val e = edges.select(src.as("a"), dst.as("b"))
    // materialize the edge plan ONCE before symmetrizing: the union's two
    // branches otherwise EACH execute the caller's full edge pipeline —
    // and the expensive part of a dedup edge plan (per-pair Jaccard
    // overlap after a broadcast join, LSH bucket mining) is post-join map
    // work that no exchange reuse deduplicates (measured r19: t11's CC
    // step paid the whole verify stage twice, ~0.85 s of its 3.3 s). The
    // edge list itself is candidate-pair-sized, so the extra
    // materialization is cheap at any scale.
    val e0 = mat(e)
    val sym = mat(e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val cmp = localIdComparator(sym.schema.head.dataType)
    if (cmp.isDefined && localEdgeLimit > 0 && sym.count() <= localEdgeLimit) {
      val rows = sym.collect()
      // null endpoints (a caller bug, but defined behavior matters) keep
      // the distributed path so both paths stay observably identical —
      // the union-find's min-compare has no null ordering to borrow
      if (!rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        return localUnionFind(rows, sym.schema.head.dataType,
          cmp.get, sym.sparkSession)
    }
    var labels = mat(sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    // fixpoint proof, exact in both forms because labels only ever
    // decrease: numeric ids use the exact decimal label sum (a 38-digit
    // sum cannot wrap; unchanged sum == no label moved; one O(1) action
    // per round, carried across rounds so each round pays ONE sum); other
    // id types (strings don't cast to decimal) compare the new round's
    // labels against the previous round's with an anti-condition join —
    // one extra keyed join per round, both sides already materialized.
    val numericIds = sym.schema.head.dataType.isInstanceOf[NumericType]
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    def anyChanged(next: DataFrame, prev: DataFrame): Boolean =
      next.as("n").join(prev.as("p"), col("n.id") === col("p.id"))
        .where(col("n.label") =!= col("p.label")).head(1).nonEmpty
    var converged = false
    var prevSum = if (numericIds) labelSum(labels) else null
    while (!converged) {
      // min label among each vertex's neighbors, folded into its own label
      // with a left join + least (least skips the null of isolated-side
      // misses) — deliberately NOT a self-union, whose constraint rewrite
      // trips on the shared lineage between the branches. The pointer jump
      // then goes through the PREVIOUS round's materialized labels (label's
      // label) instead of a stepped self-join, so `stepped` is computed
      // ONCE per round instead of twice; least() keeps labels monotonically
      // decreasing, so reach still doubles and the fixpoint proof holds.
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("nid")).agg(min(labels("label")).as("nlabel"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id").as("id"),
          least(labels("label"), col("nlabel")).as("label"))
      val jumped = stepped.as("l1")
        .join(labels.as("l0"), col("l1.label") === col("l0.id"))
        .select(col("l1.id").as("id"),
          least(col("l1.label"), col("l0.label")).as("label"))
      val prev = labels
      labels = mat(jumped)
      if (numericIds) {
        val after = labelSum(labels)
        converged = after.compareTo(prevSum) == 0
        prevSum = after
      } else converged = !anyChanged(labels, prev)
    }
    labels.select(col("id"), col("label").as("component"))
  }

  /** Driver-side ordering matching Spark's `least()` for the id types the
    * local CC fast path accepts: integral numerics compare numerically;
    * strings compare as unsigned UTF-8 bytes (UTF8String's binary order —
    * code-point order, NOT Java String's UTF-16 code-unit order, which
    * disagrees above the BMP). Other types → None → distributed loop. */
  private def localIdComparator(dt: org.apache.spark.sql.types.DataType)
      : Option[java.util.Comparator[Any]] = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      Some(((x: Any, y: Any) => java.lang.Long.compare(
        x.asInstanceOf[Number].longValue, y.asInstanceOf[Number].longValue)
        ): java.util.Comparator[Any])
    case StringType =>
      Some(((x: Any, y: Any) => java.util.Arrays.compareUnsigned(
        x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ): java.util.Comparator[Any])
    case _ => None
  }

  /** Exact min-label CC on a collected edge list: union-find with path
    * compression + union by size, then one pass taking every member to
    * its component's minimum id. Same output contract as the distributed
    * fixpoint — one (id, component) row per vertex appearing in an edge. */
  private def localUnionFind(rows: Array[Row],
                             dt: org.apache.spark.sql.types.DataType,
                             cmp: java.util.Comparator[Any],
                             spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(v: Any): Int = {
      val got = idx.get(v)
      if (got ne null) got.intValue
      else { idx.put(v, ids.length); ids += v; ids.length - 1 }
    }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rank = scala.collection.mutable.ArrayBuffer.empty[Int]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = intern(r.get(0)); val b = intern(r.get(1))
      while (parent.length < ids.length) { parent += parent.length; rank += 0 }
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    val minOf = new java.util.HashMap[Int, Any]()
    ids.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || cmp.compare(ids(i), cur) < 0) minOf.put(r, ids(i))
    }
    val out = ids.indices.map(i => Row(ids(i), minOf.get(find(i))))
    val schema = StructType(Seq(
      StructField("id", dt), StructField("component", dt)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Round materializer for the iterative graph loops: reliable
    * `checkpoint()` into `dir` when given (survives executor loss),
    * `localCheckpoint()` otherwise (executor-resident, fastest). Sets the
    * session's checkpoint dir on first use; both cut lineage eagerly. */
  private def materializer(anchor: DataFrame,
                           checkpointDir: Option[String]): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        anchor.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }

  /** PageRank over an undirected edge list (edges are symmetrized), with
    * cross-engine-exact numerics: per-vertex neighbor contributions are
    * QUANTIZED to integer units of 1e-12 (IEEE multiply + half-up round —
    * identical in any engine) and summed as longs — exact and
    * order-independent, so the result is bit-identical on any partitioning
    * and reproducible in any engine unrolling the same `iters` rounds.
    * (A DECIMAL-cast sum is NOT portable here: Spark's double->decimal
    * cast rounds the shortest decimal rendering of the double, DuckDB's
    * rounds its exact binary expansion — last-ulp divergence. Integer
    * quantization sidesteps the cast entirely; total rank mass is 1, so a
    * per-vertex sum stays far below 2^53 and the long->double read-back is
    * exact.) Returns (id, rank) for every vertex appearing in an edge;
    * ranks sum to 1 within the 1e-12 quantization. Driver actions: one
    * O(1) vertex count + `iters` materialized rounds (checkpointing keeps
    * the plan shallow — same shape and same `checkpointDir` reliability
    * contract as [[connectedComponents]]).
    *
    * At scale each round is two narrow-keyed shuffles (contribution join +
    * per-vertex sum) over the edge list only — the classic large-graph
    * PageRank shape; `iters` is fixed (rank deltas converge geometrically;
    * production runs pick 10-20). */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 3, damping: Double = 0.85,
               checkpointDir: Option[String] = None): DataFrame = {
    val mat = materializer(edges, checkpointDir)
    val e = edges.select(src.as("a"), dst.as("b"))
    // same edge-plan-once materialization as [[connectedComponents]]: the
    // symmetrize union otherwise executes the caller's edge pipeline twice
    val e0 = mat(e)
    val sym = mat(e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val deg = mat(sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg")))
    val n = deg.count()
    var ranks = deg.select(col("id"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(ranks.join(deg, Seq("id")), sym("a") === col("id"))
        .select(sym("b").as("id"),
          round((col("rank") / col("deg")) * lit(1e12)).cast(LongType).as("c"))
      ranks = mat(contrib.groupBy(col("id"))
        .agg((lit((1 - damping) / n) +
          lit(damping) * (sum(col("c")).cast(DoubleType) / lit(1e12))).as("rank")))
    }
    ranks
  }

  /** The full near-duplicate removal pipeline, end to end — the composition
    * a training-data pipeline actually runs over a raw corpus:
    *
    *  1. exact dedup: keep the least id per content hash;
    *  2. MinHash signatures + LSH banding over the survivors
    *     ([[minhashSignatures]], [[nearDupPairs]]);
    *  3. exact n-gram Jaccard verification of the candidates
    *     ([[jaccardVerify]]), keeping pairs with J >= `jaccardThreshold`;
    *  4. connected components over the verified edges
    *     ([[connectedComponents]]): every cluster keeps its least id.
    *
    * Returns the RETAINED rows of `df` (all original columns), eagerly
    * materialized and persisted MEMORY_ONLY (evictable; lineage intact).
    * The internal survivor frame is persisted for the duration of the call
    * (three consumers: signatures, verify, final anti-join) and RELEASED
    * before returning, so looped invocations don't grow the cache
    * registry; `.unpersist()` the returned frame when done with it.
    *
    * `id` rows must be unique per row of `df` (it is the dedup key);
    * signature generation uses the unique-id fast path on the exact-dedup
    * survivors, so steps 2-3 are narrow up to the band-bucket shuffles.
    *
    * Banding/threshold coupling: the default banding is planner-derived
    * for the high-similarity near-dup mode (J >= ~0.8 — see
    * [[DefaultBands]]); with the default `jaccardThreshold = 0.5` the
    * verify stage still REPORTS any caught pair down to J = 0.5, but
    * bucket-collision recall for J in [0.5, 0.7) pairs is the S-curve
    * tail (~0.5 at J = 0.5). A corpus whose true duplicates sit in that
    * band should pass `bands`/`rowsPerBand` from
    * [[lshBandPlan]](threshold, minRecall) instead of the defaults.
    *
    * Keeper policy: by default every group/cluster keeps its LEAST id.
    * Pass `keepBy` to keep the member maximizing that expression instead
    * (ties: least id) — the production policy is usually "keep the
    * longest / highest-quality member", e.g. `keepBy = Some(length(text))`.
    * The argmax runs as an ordinary partial-aggregating groupBy (a
    * two-field struct max), and requires a numeric id. */
  def dedupCorpus(df: DataFrame, id: Column, text: Column,
                  numHashes: Int = DefaultNumHashes, shingle: Int = 5,
                  seed: Long = 777L,
                  bands: Int = DefaultBands,
                  rowsPerBand: Int = DefaultRowsPerBand,
                  minAgreement: Int = DefaultMinAgreement,
                  jaccardThreshold: Double = 0.5,
                  keepBy: Option[Column] = None): DataFrame = {
    require(numHashes == bands * rowsPerBand,
      s"numHashes ($numHashes) must equal bands * rowsPerBand " +
        s"($bands * $rowsPerBand): banding consumes exactly the signature")
    if (keepBy.isDefined) {
      // the argmax tiebreak negates the id through a Long cast; a
      // non-integral id would cast to null and silently keep nothing —
      // fail fast instead of returning an empty frame
      val idType = df.select(id.as("__dedup_id")).schema("__dedup_id").dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
        s"dedupCorpus(keepBy=...) requires an integral id column " +
          s"(byte/short/int/long); got $idType — the keeper argmax " +
          s"tiebreaks on -id and a non-integral id casts to null")
    }
    // argmax(keepBy, tiebreak least id) as a partial-aggregating max over
    // (keepBy, -id): the greatest keepBy wins, and among equals the
    // greatest -id is the least id
    def argmax(grouped: org.apache.spark.sql.RelationalGroupedDataset,
               k: Column): DataFrame =
      grouped.agg(max(struct(k.as("k"),
          (lit(0L) - col("__dedup_id").cast(LongType)).as("nid"))).as("__m"))
        .select((lit(0L) - col("__m.nid")).as("__dedup_id"))
    val keyed = df.withColumn("__dedup_id", id)
    val exactGroups = keyed.groupBy(md5(text).as("__h"))
    val exactKeepers = keepBy match {
      case None => exactGroups.agg(min(col("__dedup_id")).as("__dedup_id"))
        .select(col("__dedup_id"))
      case Some(k) => argmax(exactGroups, k)
    }
    val uniq = keyed
      .join(exactKeepers, Seq("__dedup_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val sigs = minhashSignatures(uniq, col("__dedup_id"), text,
      numHashes, shingle, seed, assumeUniqueIds = true)
    val pairs = nearDupPairs(sigs, bands, rowsPerBand, minAgreement)
    val edges = jaccardVerify(uniq, col("__dedup_id"), text, pairs, shingle)
      .where(col("jaccard") >= jaccardThreshold)
    val cc = connectedComponents(edges, col("id_a"), col("id_b"))
    val drop = keepBy match {
      case None =>
        cc.where(col("id") =!= col("component"))
          .select(col("id").as("__dedup_id"))
      case Some(k) =>
        // re-rank every cluster by the caller's policy: join members back
        // to their keepBy values, argmax per component, drop the rest
        val members = cc.select(col("id").as("__dedup_id"), col("component"))
          .join(uniq.select(col("__dedup_id"), k.as("__k")), Seq("__dedup_id"))
        val keepers = argmax(members.groupBy(col("component")), col("__k"))
        members.select(col("__dedup_id"))
          .join(keepers, Seq("__dedup_id"), "left_anti")
    }
    val retained = uniq.join(drop, Seq("__dedup_id"), "left_anti")
      .drop("__dedup_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // Materialize now so the intermediate cache can be RELEASED here —
    // otherwise every invocation on a long-lived session leaks a cached
    // `uniq` into the registry until LRU pressure evicts it (same eager
    // stance as jaccardVerify). The returned frame stays persisted
    // (MEMORY_ONLY: evictable, lineage intact so eviction only recomputes);
    // callers looping over corpora should .unpersist() it when done.
    retained.count()
    uniq.unpersist(blocking = false)
    retained
  }

  /** Incremental dedup — the production shape of corpus dedup at scale:
    * retain the rows of `incoming` (a new batch) that are neither exact
    * copies nor near-duplicates (band agreement >= `minAgreement` AND
    * char-`shingle`-gram Jaccard >= `jaccardThreshold`, the same
    * thresholds as [[dedupCorpus]]) of any row in `existing` (the corpus
    * already ingested). You never re-dedup 100 TB to admit a 10 GB batch.
    *
    * Each incoming row is judged INDEPENDENTLY against the corpus;
    * duplicates WITHIN the batch are [[dedupCorpus]]'s job — a full
    * ingest is `dedupIncremental(existing, dedupCorpus(batch, ...), ...)`.
    *
    * The scale contract: `existing` is never shuffled and never builds a
    * driver-side structure. Both corpus passes are narrow scans joined
    * against small frames derived from the batch — (1) the exact pass
    * probes the corpus's content hashes with a broadcast semi-join of the
    * batch's hashes; (2) the near pass explodes corpus signatures to band
    * keys (a projection) and joins the BATCH side's band keys into them
    * broadcast, computing signature agreement in the same join (no
    * re-join); (3) Jaccard verification fetches only the candidate
    * existing docs via a broadcast semi-join of candidate ids. Set
    * `broadcastIncoming = false` when the "batch" is itself huge and AQE
    * should pick the join strategy from runtime sizes.
    *
    * In production the corpus signatures are a precomputed index updated
    * as batches commit — pass them via `existingSigs` (the output shape of
    * [[minhashSignatures]]: (id, h1..hN)) to skip the signature scan.
    *
    * Returns the retained `incoming` rows (all original columns), eagerly
    * materialized and persisted MEMORY_ONLY like [[dedupCorpus]];
    * `.unpersist()` it when done. */
  def dedupIncremental(existing: DataFrame, exId: Column, exText: Column,
                       incoming: DataFrame, inId: Column, inText: Column,
                       numHashes: Int = DefaultNumHashes, shingle: Int = 5,
                       seed: Long = 777L, bands: Int = DefaultBands,
                       rowsPerBand: Int = DefaultRowsPerBand,
                       minAgreement: Int = DefaultMinAgreement,
                       jaccardThreshold: Double = 0.5,
                       broadcastIncoming: Boolean = true,
                       existingSigs: Option[DataFrame] = None): DataFrame = {
    require(numHashes == bands * rowsPerBand,
      s"numHashes ($numHashes) must equal bands * rowsPerBand " +
        s"($bands * $rowsPerBand): banding consumes exactly the signature")
    def small(df: DataFrame): DataFrame =
      if (broadcastIncoming) broadcast(df) else df
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_ONLY
    val inKeyed = incoming
      .withColumn("__inc_id", inId)
      .withColumn("__inc_h", md5(inText))
      .persist(mem)
    // exact pass: scan the corpus's hashes once, probing a broadcast of
    // the batch's distinct hashes; the (batch-bounded) hit set then
    // anti-joins the batch. The corpus is scanned, never shuffled.
    val inHashes = inKeyed.select(col("__inc_h").as("__h")).distinct()
    val hitHashes = existing.select(md5(exText).as("__h"))
      .join(small(inHashes), Seq("__h"), "left_semi").distinct()
    val afterExact = inKeyed.join(small(hitHashes),
      inKeyed("__inc_h") === hitHashes("__h"), "left_anti")
    // near pass: corpus signatures exploded to band keys stay a narrow
    // projection; the batch's band keys join into them broadcast, and the
    // full signatures ride along in structs so agreement is computed
    // right in the join output
    val exSigs = existingSigs.getOrElse(minhashSignatures(
      existing, exId, exText, numHashes, shingle, seed,
      assumeUniqueIds = true))
    val inSigs = minhashSignatures(afterExact, col("__inc_id"), inText,
      numHashes, shingle, seed, assumeUniqueIds = true)
    val sigStruct = struct((1 to numHashes).map(i => col(s"h$i")): _*)
    val bandKeys = bandKeyArray(bands, rowsPerBand)
    val exB = exSigs.select(col("id").as("__eid"), sigStruct.as("__es"),
      explode(bandKeys).as("bb"))
    val inB = inSigs.select(col("id").as("__iid"), sigStruct.as("__is"),
      explode(bandKeys).as("bb"))
    val nMatch = (1 to numHashes)
      .map(i => when(col(s"__is.h$i") === col(s"__es.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val candPairs = exB.join(small(inB), Seq("bb"))
      .select(col("__iid"), col("__eid"), nMatch.as("n_match"))
      .where(col("n_match") >= minAgreement)
      .select(col("__iid"), col("__eid")).distinct()
      .persist(mem)
    // verify pass: shingle sets only for the candidate docs on each side
    // (batch side is already batch-bounded; corpus side is restricted by a
    // broadcast semi-join of candidate existing ids), then one sorted-set
    // merge per pair
    // native one-pass build (see pairedShingleSets — same O(len²)
    // declarative chain replaced, same semantics, ShingleSetSpec-pinned)
    def shSet(t: Column): Column =
      graft.functions.ShingleSet.shingleSet(t, shingle)
    val inSets = afterExact
      .select(col("__inc_id").as("__iid"), inText.as("__xt"))
      .join(small(candPairs.select(col("__iid")).distinct()), Seq("__iid"),
        "left_semi")
      .select(col("__iid"), shSet(col("__xt")).as("__sh_i"))
    // semi-join FIRST, shingle-set projection after: the restriction to
    // candidate docs must run below the expensive set build, or the whole
    // corpus pays the shingle materialization
    val exSets = existing
      .select(exId.as("__eid"), exText.as("__xt"))
      .join(small(candPairs.select(col("__eid")).distinct()), Seq("__eid"),
        "left_semi")
      .select(col("__eid"), shSet(col("__xt")).as("__sh_e"))
    val nearHit = candPairs
      .join(small(inSets), Seq("__iid"))
      .join(small(exSets), Seq("__eid"))
      .withColumn("__ov", graft.functions.SortedSetOverlap.overlap(
        col("__sh_i"), col("__sh_e")))
      .where(col("__ov.n_inter").cast(DoubleType) / col("__ov.n_union")
        >= jaccardThreshold)
      .select(col("__iid").as("__inc_id")).distinct()
    val retained = afterExact.join(small(nearHit), Seq("__inc_id"), "left_anti")
      .drop("__inc_id", "__inc_h")
      .persist(mem)
    retained.count() // materialize so the scratch caches can be released
    inKeyed.unpersist(blocking = false)
    candPairs.unpersist(blocking = false)
    retained
  }

  /** The full corpus-CLEANING pipeline end to end — the text-side
    * composition a training-data pipeline runs before tokenization, as one
    * call (the cleaning analogue of [[dedupCorpus]], which it ends with):
    *
    *  1. chunk-level boilerplate removal ([[dropBoilerplate]]): chunks
    *     recurring in more than `maxDocFreq` documents are dropped from
    *     every document, text is rebuilt in order;
    *  2. structural filters on the REBUILT text: documents with no
    *     surviving chunks go, and documents whose duplicate word-2-gram
    *     fraction exceeds `maxDupFrac` go ([[repetitionStats]] — degenerate
    *     repetition that survives chunk dedup, e.g. one phrase looped);
    *  3. near-duplicate removal over the rebuilt text ([[dedupCorpus]]:
    *     exact hash -> MinHash/LSH -> Jaccard verify -> connected
    *     components, least id kept per cluster).
    *
    * Returns the retained documents as (id, n_chunks, n_dropped,
    * clean_text). Stage order matters and is deliberate: boilerplate is
    * removed FIRST so a shared banner neither masks two otherwise-distinct
    * documents into a near-dup pair nor splits true near-dups apart, and
    * the dedup signatures see only content the corpus keeps.
    *
    * Scale shape: the union of its stages' shapes — chunk/df passes keyed
    * on md5, repetition as a word-count, dedup on band buckets; nothing
    * all-pairs, nothing collected to the driver. */
  def cleanCorpus(df: DataFrame, id: Column, text: Column,
                  chunkWords: Int = 50, maxDocFreq: Long = 1,
                  maxDupFrac: Double = 0.2,
                  numHashes: Int = DefaultNumHashes, shingle: Int = 5,
                  seed: Long = 777L,
                  bands: Int = DefaultBands,
                  rowsPerBand: Int = DefaultRowsPerBand,
                  minAgreement: Int = DefaultMinAgreement,
                  jaccardThreshold: Double = 0.5): DataFrame = {
    // persisted MEMORY_ONLY (LRU-evictable, the house persist stance):
    // the chunk explode + md5 doc-frequency shuffle + ordered rebuild is
    // the most expensive narrow stage here and has two direct consumers
    // (repetitionStats and the rep join); `kept` likewise feeds
    // dedupCorpus's exact-keeper groupBy AND its semi join before
    // dedupCorpus's own `uniq` persist takes over
    val rebuilt = dropBoilerplate(df, id, text, chunkWords, maxDocFreq)
      .where(col("n_dropped") < col("n_chunks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // left join, not inner: repetitionStats has no row for docs with < 2
    // tokens (no 2-grams) — those pass the repetition filter vacuously
    val rep = repetitionStats(rebuilt, col("id"), col("clean_text"))
      .select(col("id"), col("dup_ngram_frac"))
    val kept = rebuilt.join(rep, Seq("id"), "left")
      .where(col("dup_ngram_frac").isNull || col("dup_ngram_frac") <= maxDupFrac)
      .drop("dup_ngram_frac")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // dedupCorpus materializes its (persisted) result before returning, so
    // the stage intermediates can be released immediately — repeated
    // cleanCorpus calls on one session no longer accumulate cached blocks
    val retained = dedupCorpus(kept, col("id"), col("clean_text"), numHashes,
      shingle, seed, bands, rowsPerBand, minAgreement, jaccardThreshold)
    rebuilt.unpersist(blocking = false)
    kept.unpersist(blocking = false)
    retained
  }

  // ----------------------------------------------------------- similarity

  /** Z-order (Morton) value of two non-negative cluster keys: the low
    * `bits` bits of `x` and `y` interleaved (x on even positions). Sorting
    * or range-partitioning by this value co-locates rows that are close in
    * BOTH dimensions, so each written file covers a tight (x, y) bounding
    * box and predicates on either column prune most files — the OPTIMIZE
    * ZORDER BY layout idiom, as a pure codegen'd bit expression. */
  def zorderValue(x: Column, y: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xi = x.cast(IntegerType)
    val yi = y.cast(IntegerType)
    (0 until bits).map(i =>
      shiftleft(shiftright(xi, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(yi, i).bitwiseAND(1), 2 * i + 1))
      .reduce(_ + _).cast(LongType)
  }

  /** Deterministic pseudo-random hyperplanes for sign-bit LSH — seeded,
    * engine-independent (plain Scala, 3-decimal rounding) so the SAME
    * constants can be folded into an oracle's SQL; the single source of
    * truth shared by the ANN and near-dup bucketing operators. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(
      math.rint(rng.nextGaussian() * 1000) / 1000.0))
  }

  /** Sign-bit LSH bucket key for hash table `table`: `bits` hyperplane
    * sign bits packed into an int. The ONE rendering of the bucket formula
    * (`dot >= 0` convention, bit b = 1 << b) that every Spark-side
    * bucketing operator shares; oracle SQL renderings mirror it. */
  def signBucketKey(v: Column, planes: Array[Array[Double]],
                    table: Int, bits: Int): Column =
    (0 until bits).map { b =>
      val planeCol = array(planes(table * bits + b).map(lit(_)): _*)
      when(VectorFunctions.dotF64(v, planeCol) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding near-duplicate pairs, LSH-bucketed — the scale path over an
    * all-pairs exact baseline: random-hyperplane sign bits bucket the
    * vectors into `numTables` tables of 2^`bitsPerBucket` buckets,
    * candidate pairs form only INSIDE a (table, bucket) group (a bucket-key
    * equi-join, never all-pairs), and only candidates get the exact cosine
    * re-rank. Output: the global top-`topN` candidate pairs by cosine as
    * (vec_a, vec_b, rank) — rank-only, no float column, so results are
    * engine-portable. Vectors that cannot have a well-defined cosine are
    * dropped up front: zero-norm vectors AND vectors whose length differs
    * from `dim` (a ragged vector's hyperplane dot is NULL, which would
    * silently land every such vector in bucket 0 and emit pairs with
    * undefined cosine); recall < 1 by design (that is the LSH trade).
    *
    * At 100 TB: cost is sum over buckets of bucket_size^2 (bits per bucket
    * is the skew lever), the cross-table dedup is one exchange on the pair
    * key, and the global top-N reduces partially per partition
    * (TakeOrdered) — no stage materializes the quadratic pair space. */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column, dim: Int,
                            numTables: Int = 4, bitsPerBucket: Int = 8,
                            seed: Long = 20260812L, topN: Int = 50): DataFrame = {
    val cand = embeddingCandidatePairs(df, id, vec, dim, numTables,
      bitsPerBucket, seed)
    val cs = VectorFunctions.dotF64(col("va"), col("vb")) / (col("na") * col("nb"))
    cand.select(col("vec_a"), col("vec_b"), cs.as("cs"))
      .orderBy(col("cs").desc, col("vec_a"), col("vec_b")).limit(topN)
      .select(col("vec_a"), col("vec_b"),
        row_number().over(Window.orderBy(col("cs").desc, col("vec_a"), col("vec_b")))
          .cast(LongType).as("rank"))
      .orderBy(col("rank"))
  }

  /** The bucketed candidate stage shared by [[embeddingNearDupPairs]] and
    * [[semanticDedup]]: drop ragged/zero-norm vectors, bucket by hyperplane
    * sign bits across `numTables` tables, pair only inside a (table, bucket)
    * group, and dedup pairs colliding in several tables (the vectors ride
    * along — bit-identical copies of the same source rows, so they never
    * split a pair into two groups). Returns
    * (vec_a, va, na, vec_b, vb, nb) with vec_a < vec_b. */
  private def embeddingCandidatePairs(df: DataFrame, id: Column, vec: Column,
                                      dim: Int, numTables: Int,
                                      bitsPerBucket: Int, seed: Long): DataFrame = {
    val planes = hyperplanes(numTables * bitsPerBucket, dim, seed)
    val dot = VectorFunctions.dotF64 _
    val all = df.select(id.as("vec_id"),
        transform(vec, x => x.cast(DoubleType)).as("v"))
      .where(size(col("v")) === dim)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
    // the quadratic stage carries IDS ONLY: the bucket self-join and the
    // cross-table distinct work over (tbl, bkt, id) rows, so the join
    // fan-out and the dedup exchange never move a vector (previously both
    // full dim-double arrays rode through the fan-out AND the distinct
    // hashed them per row); the surviving pairs — orders of magnitude
    // fewer than raw candidates — join the vectors back in one keyed pass
    // per side
    val buckets = (0 until numTables).map { t =>
      all.select(col("vec_id"), lit(t).as("tbl"),
        signBucketKey(col("v"), planes, t, bitsPerBucket).as("bkt"))
    }.reduce(_ union _)
    val a = buckets.toDF("vec_a", "tbl", "bkt")
    val b = buckets.toDF("vec_b", "tbl", "bkt")
    val pairIds = a.join(b, Seq("tbl", "bkt"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    pairIds
      .join(all.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(all.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("va"), col("na"),
        col("vec_b"), col("vb"), col("nb"))
  }

  /** Embedding-cosine near-duplicate REMOVAL, end to end — the semantic
    * analogue of [[dedupCorpus]]: LSH-bucketed candidate pairs
    * ([[embeddingCandidatePairs]], never all-pairs), exact cosine over the
    * candidates only, edges where cosine >= `threshold`, connected
    * components over the edges ([[connectedComponents]]), and every cluster
    * keeps its least id. Returns the RETAINED rows of `df` (all original
    * columns). Ids must be unique per row (the dedup key). Recall < 1 by
    * design — a near-dup pair the bucketing misses survives; widen
    * `numTables` to trade compute for recall (the same lever as
    * [[annTopKLsh]], measurable via [[recallSummary]] against an exact
    * all-pairs baseline at a sampled scale).
    *
    * At 100 TB: candidate cost is sum over buckets of bucket_size^2
    * (`bitsPerBucket` is the skew lever), CC runs log(diameter) rounds on
    * the edge list alone (near-dup edges are a tiny fraction of the
    * corpus), and the final anti-join is one exchange on the id. */
  def semanticDedup(df: DataFrame, id: Column, vec: Column, dim: Int,
                    threshold: Double, numTables: Int = 4,
                    bitsPerBucket: Int = 8,
                    seed: Long = 20260812L): DataFrame = {
    val cand = embeddingCandidatePairs(df, id, vec, dim, numTables,
      bitsPerBucket, seed)
    val cs = VectorFunctions.dotF64(col("va"), col("vb")) / (col("na") * col("nb"))
    val edges = cand.where(cs >= threshold).select(col("vec_a"), col("vec_b"))
    val semId = freshName("__sem_id", df.columns.toSet)
    val drop = connectedComponents(edges, col("vec_a"), col("vec_b"))
      .where(col("id") =!= col("component"))
      .select(col("id").as(semId))
    df.withColumn(semId, id)
      .join(drop, Seq(semId), "left_anti").drop(semId)
  }

  /** Embedding-space benchmark decontamination — the semantic sibling of
    * [[contamination]]/[[contaminationBloom]]: n-gram contamination misses
    * PARAPHRASED benchmark leakage (reworded eval questions share almost
    * no 5-grams with their source), but paraphrases stay close in
    * embedding space. Every corpus row reports how many distinct
    * benchmark vectors land within cosine >= `threshold` of it, counted
    * over LSH-bucket-sharing candidates only ([[annTopKLsh]]'s
    * random-hyperplane tables — never all-pairs), plus the boolean
    * decontamination decision. Output: (id, n_hits, contaminated), one
    * row per corpus row; rows whose vector is ragged (size != dim) or
    * zero-norm cannot match and report 0 / false. Recall < 1 by design —
    * `numTables` is the recall lever, measurable via [[recallSummary]].
    *
    * Scale shape: the benchmark side (eval suites — thousands of rows,
    * corpus-size-independent) is broadcast after bucketing, so the corpus
    * never shuffles on anything except the final per-id count; the
    * bucket equi-join keeps candidate scoring at Σ per-bucket
    * corpus×bench, NOT |corpus|×|bench|. */
  def semanticContamination(corpus: DataFrame, id: Column, vec: Column,
                            benchmark: DataFrame, benchId: Column,
                            benchVec: Column, dim: Int,
                            threshold: Double, numTables: Int = 4,
                            bitsPerBucket: Int = 8,
                            seed: Long = 20260812L): DataFrame = {
    val planes = hyperplanes(numTables * bitsPerBucket, dim, seed)
    val dot = VectorFunctions.dotF64 _
    def d(c: Column) = transform(c, x => x.cast(DoubleType))
    def valid(df: DataFrame): DataFrame = df
      .where(size(col("v")) === dim)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
    def bucketed(df: DataFrame): DataFrame =
      (0 until numTables).map { t =>
        df.withColumn("tbl", lit(t))
          .withColumn("bkt", signBucketKey(col("v"), planes, t, bitsPerBucket))
      }.reduce(_ union _)
    val c0 = corpus.select(id.as("id"), d(vec).as("v"))
    val cB = bucketed(valid(c0))
    val bB = bucketed(valid(
      benchmark.select(benchId.as("b_id"), d(benchVec).as("v"))))
      .select(col("b_id"), col("v").as("bv"), col("nrm").as("bn"),
        col("tbl"), col("bkt"))
    val cs = dot(col("v"), col("bv")) / (col("nrm") * col("bn"))
    // distinct BEFORE the count: a (corpus, bench) pair sharing buckets in
    // several tables must count once
    val hits = cB.join(broadcast(bB), Seq("tbl", "bkt"))
      .where(cs >= threshold)
      .select(col("id"), col("b_id")).distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    c0.select(col("id")).join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** LSH-bucketed approximate cosine top-k: corpus and queries bucket by
    * the same seeded random-hyperplane sign bits across `numTables` hash
    * tables; each query scores only the corpus rows sharing one of its
    * buckets (multi-probe over the tables), then exact cosine re-ranks the
    * candidates. Output: (q_id, rank, neighbor_id). Recall < 1 by design.
    *
    * Scale shape: the bucketed query side is broadcast, the candidate join
    * is an equi-join on (table, bucket) — the corpus never shuffles on
    * anything wider than its bucket key, and no stage is all-pairs. */
  def annTopKLsh(corpus: DataFrame, id: Column, vec: Column,
                 queries: DataFrame, qId: Column, qVec: Column, dim: Int,
                 k: Int = 5, numTables: Int = 4, bitsPerBucket: Int = 8,
                 seed: Long = 20260812L, excludeSelf: Boolean = true): DataFrame = {
    val planes = hyperplanes(numTables * bitsPerBucket, dim, seed)
    val dot = VectorFunctions.dotF64 _
    def d(c: Column) = transform(c, x => x.cast(DoubleType))
    def bucketed(df: DataFrame, vecCol: String): DataFrame =
      (0 until numTables).map { t =>
        df.withColumn("tbl", lit(t))
          .withColumn("bkt", signBucketKey(col(vecCol), planes, t, bitsPerBucket))
      }.reduce(_ union _)
    val all = corpus.select(id.as("vec_id"), d(vec).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q0 = queries.select(qId.as("q_id"), d(qVec).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val cB = bucketed(all, "v")
    val qB = bucketed(q0, "qv")
    val cs = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    val joinFilter =
      if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    broadcast(qB).join(cB, Seq("tbl", "bkt"))
      .where(joinFilter)
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        col("qv"), col("qn")).distinct()
      .select(col("q_id"), col("vec_id").as("neighbor_id"), cs.as("cs"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"))
  }

  /** Deterministic spherical k-means for IVF coarse quantizers — the
    * training step [[annTopKIvf]] leaves to the caller, as a pure
    * DataFrame computation with NO random state: seeds are the `k` vectors
    * with the smallest (md5(id), id) key (a seeded hash-order sample —
    * uniform over the corpus, engine-portable, and stable across runs and
    * partitionings), then `iters` unrolled Lloyd rounds assign every
    * vector to its max-cosine centroid and recompute each centroid as the
    * element-wise mean of its cell. Output: (c_id, centroid) with c_id in
    * seed order; cells that lose all their vectors drop out (standard
    * k-means semantics — callers get at MOST k centroids).
    *
    * Cross-engine exactness (what makes a trained quantizer oracle-able):
    * per-dimension means sum in DECIMAL(38,12) — exact, order-independent —
    * and only then divide in double; assignment tie-breaks on c_id over
    * bit-identical cosines. An oracle unrolling the same rounds in SQL
    * reproduces every centroid bit-for-bit.
    *
    * Scale shape: each round is one broadcast cross join (k rows against
    * the corpus — the [[annTopKIvf]] assignment pass), one posexplode to
    * (cell, dim) partial sums (map-side combined, k*dim result rows), and
    * a k-row regroup; the corpus is never shuffled. Spherical k-means
    * skips centroid normalization — cosine is scale-invariant, so the
    * mean's norm only cancels in the next round's affinity. */
  def trainCentroids(df: DataFrame, id: Column, vec: Column, dim: Int,
                     k: Int = 16, iters: Int = 2): DataFrame = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    val dot = VectorFunctions.dotF64 _
    val pts = df.select(id.as("id"), transform(vec, x => x.cast(DoubleType)).as("v"))
      .where(size(col("v")) === dim)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
    val seedKey = md5(col("id").cast(StringType))
    // TakeOrdered top-k over the hash key: no global sort materializes
    val seeds = pts.select(col("id"), col("v"), seedKey.as("__k"))
      .orderBy(col("__k"), col("id")).limit(k)
    var cents = seeds
      .withColumn("c_id",
        (row_number().over(Window.orderBy(col("__k"), col("id"))) - 1)
          .cast(LongType))
      .select(col("c_id"), col("v").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    for (_ <- 1 to iters) {
      val aff = dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
      val byAff = Window.partitionBy(col("id"))
        .orderBy(col("c_cs").desc, col("c_id"))
      val cells = pts.crossJoin(broadcast(cents))
        .select(col("id"), col("v"), col("nrm"), col("c_id"), aff.as("c_cs"))
        .withColumn("__rk", row_number().over(byAff)).where(col("__rk") === 1)
        .select(col("c_id"), col("v"))
      val comps = cells
        .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("c_id"), col("pos"))
        .agg((sum(col("val").cast(DecimalType(38, 12))).cast(DoubleType) /
          count(lit(1))).as("m"))
      cents = comps.groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c_id"), transform(col("pm"), x => x("m")).as("cv"))
        .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    }
    cents.select(col("c_id"), col("cv").as("centroid"))
  }

  /** Full-corpus clustering datasheet: assign EVERY vector to its
    * max-cosine centroid (c_id tiebreak over bit-identical affinities, the
    * [[annTopKIvf]] assignment rule) and report per-cluster composition —
    * (c_id, n_vectors, min_id, max_id, mean_cos). This is the topic-map /
    * cell-balance view of a corpus: cluster sizes expose quantizer skew
    * (one hot cell = one hot IVF probe), `mean_cos` is the cluster's
    * coherence, and min/max ids bound its membership for drill-down.
    *
    * Cross-engine exactness: member affinities quantize to integer 1e-12
    * units and sum as longs (order-independent), with the two final
    * divisions in double — so the datasheet hash-matches an oracle running
    * the identical definition. Rows with a vector length other than `dim`
    * or zero norm are excluded up front (cosine undefined), mirroring
    * [[trainCentroids]].
    *
    * Scale shape: one broadcast cross join (k centroids against the
    * corpus), then a k-row keyed aggregate with map-side partials — the
    * corpus is scanned once and never shuffled on anything wider than the
    * assignment's per-id window key. */
  def clusterCorpus(df: DataFrame, id: Column, vec: Column,
                    centroids: DataFrame, cId: Column, cVec: Column,
                    dim: Int): DataFrame = {
    val dot = VectorFunctions.dotF64 _
    def d(c: Column) = transform(c, x => x.cast(DoubleType))
    val cents = centroids.select(cId.as("c_id"), d(cVec).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val pts = df.select(id.as("__cc_id"), d(vec).as("v"))
      .where(size(col("v")) === dim)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
    val aff = dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    val byAff = Window.partitionBy(col("__cc_id"))
      .orderBy(col("c_cs").desc, col("c_id"))
    val assigned = pts.crossJoin(broadcast(cents))
      .select(col("__cc_id"), col("c_id"), aff.as("c_cs"))
      .withColumn("__rk", row_number().over(byAff)).where(col("__rk") === 1)
    assigned.groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("__cc_id")).as("min_id"),
        max(col("__cc_id")).as("max_id"),
        sum(round(col("c_cs") * 1e12).cast(LongType)).as("__q"))
      .select(col("c_id"), col("n_vectors"), col("min_id"), col("max_id"),
        ((col("__q").cast(DoubleType) / 1e12) / col("n_vectors")).as("mean_cos"))
  }

  /** IVF-style approximate cosine top-k: `centroids` coarse-quantize the
    * corpus (every vector assigns to its max-cosine centroid in one
    * broadcast pass); each query probes only its `nProbe` best cells and
    * exactly re-ranks that candidate subset. Output: (q_id, rank,
    * neighbor_id). Centroid training is the caller's choice (k-means at
    * scale, any deterministic subset for reproducibility) — training moves
    * recall, not the dataflow.
    *
    * Scale shape: the corpus is scanned once for assignment, search
    * touches nProbe/|centroids| of it, and the candidate join shuffles on
    * the cell id with the probe side broadcast. */
  def annTopKIvf(corpus: DataFrame, id: Column, vec: Column,
                 queries: DataFrame, qId: Column, qVec: Column,
                 centroids: DataFrame, cId: Column, cVec: Column,
                 k: Int = 5, nProbe: Int = 4,
                 excludeSelf: Boolean = true): DataFrame = {
    val dot = VectorFunctions.dotF64 _
    def d(c: Column) = transform(c, x => x.cast(DoubleType))
    val cents = centroids.select(cId.as("c_id"), d(cVec).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    def ranked(df: DataFrame, idc: String, vc: String, nc: String): DataFrame = {
      val aff = dot(col(vc), col("cv")) / (col(nc) * col("cn"))
      val byAffinity = Window.partitionBy(col(idc))
        .orderBy(col("c_cs").desc, col("c_id"))
      df.crossJoin(broadcast(cents))
        .select(col(idc), col(vc), col(nc), col("c_id"), aff.as("c_cs"))
        .withColumn("c_rank", row_number().over(byAffinity))
    }
    val all = corpus.select(id.as("vec_id"), d(vec).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val assigned = ranked(all, "vec_id", "v", "nrm")
      .where(col("c_rank") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
    val q0 = queries.select(qId.as("q_id"), d(qVec).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val probes = ranked(q0, "q_id", "qv", "qn")
      .where(col("c_rank") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("cell"))
    val cs = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    val joinFilter =
      if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(joinFilter)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), cs.as("cs"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"))
  }

  /** Recall of an approximate result against its exact baseline — the
    * number every approximate-search knob (bands, bits per bucket, nProbe)
    * is tuned on. Both frames hold one row per retrieved item, keyed by a
    * `unit` column (the query id for top-k search; the left id for pair
    * mining) and an `item` column (the neighbor / right id). Output is ONE
    * row: (n_units, n_expected, n_hits, recall, min_unit_recall) where
    * `recall` is the micro-average |approx ∩ exact| / |exact| and
    * `min_unit_recall` the worst single unit — the tail number that tells
    * you whether some query got NOTHING even when the average looks fine.
    *
    * Engine-portable by construction: every aggregate is integer counting;
    * the only floats are final single divisions (IEEE-deterministic), so
    * the result cross-checks bit-for-bit against any engine computing the
    * same definition. Scale shape: one semi-join on (unit, item) plus two
    * narrow keyed aggregates — nothing materializes beyond per-unit counts. */
  def recallSummary(exact: DataFrame, approx: DataFrame,
                    unit: String, item: String): DataFrame = {
    val e = exact.select(col(unit).as("__u"), col(item).as("__it"))
    // single pass over `exact`: the former semi-join + per-unit count
    // referenced the exact plan TWICE, so an un-persisted exact baseline
    // (the expensive side — brute-force top-k, quadratic pair mining)
    // executed twice per summary. A left join against the distinct
    // approx keys with a conditional count is the same arithmetic
    // (distinct keeps duplicate approx rows from double-counting, exactly
    // like the semi join) with exact evaluated once.
    val a = approx.select(col(unit).as("__u"), col(item).as("__it"))
      .distinct().withColumn("__hit", lit(1))
    val perUnit = e.join(a, Seq("__u", "__it"), "left")
      .groupBy(col("__u")).agg(count(lit(1)).as("n_exp"),
        count(col("__hit")).as("n_hit"))
    perUnit.agg(
      count(lit(1)).as("n_units"),
      sum(col("n_exp")).as("n_expected"),
      sum(col("n_hit")).as("n_hits"),
      min(col("n_hit").cast(DoubleType) / col("n_exp")).as("min_unit_recall"))
      .withColumn("recall",
        col("n_hits").cast(DoubleType) / col("n_expected"))
      .select(col("n_units"), col("n_expected"), col("n_hits"),
        col("recall"), col("min_unit_recall"))
  }

  /** Exact cosine top-k: for each row of `queries` (id, vector), the k
    * nearest corpus rows by cosine. Queries are broadcast; the corpus
    * streams with no shuffle; reduction is the partial top-k aggregator.
    * Output: (q_id, rank, neighbor_id).
    *
    * @param excludeSelf drop corpus rows whose id equals the query id —
    *   correct when queries are drawn from the corpus (self-search); set
    *   false when query and corpus id spaces are unrelated, otherwise a
    *   coincidentally equal id would silently lose its true neighbor.
    *   Rows with null ids never match `=!=`; ids are assumed non-null. */
  def annTopK(corpus: DataFrame, id: Column, vec: Column,
              queries: DataFrame, qId: Column, qVec: Column,
              k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val dot = VectorFunctions.dotF64 _
    def d(c: Column) = transform(c, x => x.cast(DoubleType))
    // zero-norm (or null) vectors make the cosine null, which the non-null
    // Scored encoder inside the top-k aggregator would reject at runtime;
    // a zero vector has no meaningful cosine neighbor anyway, so drop them
    // from both sides up front.
    val all = corpus.select(id.as("vec_id"), d(vec).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
    val q = queries.select(qId.as("q_id"), d(qVec).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .where(col("qn") > 0)
    val topk = udaf(new TopKAggregator(k), ExpressionEncoder[graft.functions.Scored]())
    val cs = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    val joinCond = if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true)
    broadcast(q).join(all, joinCond)
      .select(col("q_id"), cs.as("cs"), col("vec_id"))
      .groupBy(col("q_id"))
      .agg(topk(col("cs"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("neighbor_id"))
  }

  // ------------------------------------------------------- text analysis

  /** Token/quality statistics appended to the input frame. */
  def textStats(df: DataFrame, text: Column,
                stopWords: Seq[String] = Seq("the", "a", "of", "to", "in")): DataFrame = {
    val t = split(trim(text), "\\s+")
    val nTok = size(t).cast(LongType)
    val nDistinct = size(array_distinct(t)).cast(LongType)
    val nStop = size(filter(t, x => x.isin(stopWords: _*))).cast(LongType)
    val ttr = nDistinct.cast(DoubleType) / nTok
    val stopRatio = nStop.cast(DoubleType) / nTok
    df.withColumns(Map(
      "n_tokens" -> nTok,
      "n_distinct_tokens" -> nDistinct,
      "type_token_ratio" -> ttr,
      "stopword_ratio" -> stopRatio,
      "quality_score" -> (when(nTok.between(20, 400), 0.4).otherwise(0.0) +
        when(ttr > 0.3, 0.3).otherwise(0.0) +
        when(stopRatio > 0.05, 0.3).otherwise(0.0))))
  }

  /** All word `n`-grams of a whitespace-tokenized string, as an array
    * expression; empty for strings with fewer than `n` tokens. The guard
    * lives INSIDE the expression, not just in caller filters: sequence(1, 0)
    * steps BACKWARD in Spark ([1, 0]), it is not empty. */
  private def wordGrams(c: Column, n: Int): Column = {
    val toks = split(trim(c), "\\s+")
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Benchmark-contamination scan: for each corpus row, how much of it
    * already appears in a benchmark/eval suite — the decontamination pass a
    * training-data pipeline runs before anything ships to training. Output:
    * (id, n_ngrams, n_hits, contamination) where `n_ngrams` counts the
    * row's DISTINCT word `n`-grams, `n_hits` counts those that occur in ANY
    * benchmark document, and `contamination` = n_hits / n_ngrams. Rows with
    * fewer than `n` tokens have no n-grams and are dropped (same contract
    * as [[minhashSignatures]] for short docs).
    *
    * Scale shape: the benchmark n-gram set is exact-deduplicated and
    * BROADCAST — benchmark suites are bounded by construction (thousands of
    * documents, not corpus-scale), which is what makes the 100 TB corpus
    * side a single narrow explode + broadcast-join + per-id aggregate with
    * no corpus shuffle beyond the final groupBy. Callers whose "benchmark"
    * is itself corpus-scale should not use this operator (that problem is
    * [[jaccardVerify]]-shaped, not a membership scan). */
  def contamination(corpus: DataFrame, id: Column, text: Column,
                    benchmark: DataFrame, benchText: Column,
                    n: Int = 5): DataFrame = {
    val corpusG = fanOut(corpus.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(array_distinct(wordGrams(col("__t"), n))).as("ng"))
    val benchG = benchmark.select(benchText.as("__t"))
      .select(explode(wordGrams(col("__t"), n)).as("ng")).distinct()
    corpusG
      .join(broadcast(benchG.withColumn("__hit", lit(1L))), Seq("ng"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast(DoubleType) / col("n_ngrams"))
  }

  /** [[contamination]] with a bloom-filter prefilter on the corpus side —
    * same exact output (the bloom has no false negatives and the exact
    * verify join removes its false positives), different 100 TB shape.
    *
    * Plain [[contamination]] sends EVERY corpus n-gram into the broadcast
    * membership join — at 100 TB that is trillions of probe rows carrying
    * full n-gram strings through a join operator whose hit rate is ~0
    * (contamination is rare by construction). Here the benchmark n-grams
    * are first folded into a bloom filter (built distributed via Spark's
    * own partial-aggregating `BloomFilterAggregate`; only the serialized
    * `numBits/8`-byte sketch reaches the driver, never the n-grams), and
    * the corpus side probes the bloom as a narrow codegen'd filter BEFORE
    * any join: the >= 99% of n-grams that cannot be benchmark members die
    * inside the scan stage, and only bloom-positive survivors — a
    * contamination-rate-sized trickle — pay the exact string join that
    * makes the result exact. The denominator (`n_ngrams`) aggregates the
    * unfiltered gram stream separately, so dropped probes never distort it.
    *
    * This is the "sketch-prefilter, then exact-verify" pattern (Spark's
    * injected runtime row-level filters, made explicit): results are
    * bit-identical to [[contamination]], so both share one oracle. Size the
    * filter via `expectedItems`/`numBits` (defaults: 1M items in 8M bits
    * ~ 1 MB sketch, ~2% FP — FP rate only moves the prefilter's selectivity,
    * never correctness). */
  def contaminationBloom(corpus: DataFrame, id: Column, text: Column,
                         benchmark: DataFrame, benchText: Column,
                         n: Int = 5,
                         expectedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame = {
    val corpusG = fanOut(corpus.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(array_distinct(wordGrams(col("__t"), n))).as("ng"))
    // persisted (MEMORY_ONLY, evictable): the bloom probe below executes
    // the benchmark-gram distinct at call time and the exact-verify
    // broadcast join reads it again — benchmark-sized, bounded (r19)
    val benchG = benchmark.select(benchText.as("__t"))
      .select(explode(wordGrams(col("__t"), n)).as("ng")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val bloomRow = benchG
      .agg(BloomFunctions.bloomAgg(xxhash64(col("ng")), expectedItems, numBits))
      .head()
    val counts = corpusG.groupBy(col("id")).agg(count(lit(1)).as("n_ngrams"))
    // NULL bloom = empty benchmark: every row reports zero hits.
    val hits =
      if (bloomRow.isNullAt(0))
        counts.select(col("id"), lit(0L).as("__nh")).where(lit(false))
      else corpusG
        .where(BloomFunctions.mightContain(
          lit(bloomRow.getAs[Array[Byte]](0)), xxhash64(col("ng"))))
        .join(broadcast(benchG), Seq("ng"))
        .groupBy(col("id")).agg(count(lit(1)).as("__nh"))
    counts.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_ngrams"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast(DoubleType) / col("n_ngrams"))
  }

  /** Within-document repetition statistics over word `n`-grams — the
    * repetition family of corpus quality filters (the "duplicate n-gram
    * fraction" rules of large-scale text cleaning): per id, the total and
    * distinct n-gram counts, the highest single n-gram frequency, and
    * `dup_ngram_frac` = 1 - distinct/total (0 = no repetition, -> 1 as one
    * phrase dominates). Rows with fewer than `n` tokens have no n-grams and
    * are dropped.
    *
    * One narrow codegen'd pass ([[graft.functions.NgramStats]]): the
    * stats are pure per-row facts, so no explode, no shuffle, no global
    * structure — a projection over the corpus scan. */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
                      n: Int = 2): DataFrame = {
    // one narrow pass: the stats are per-row facts, so the native
    // NgramStats expression replaces the former explode + (id, ngram)
    // count + per-id rollup (two keyed exchanges over ~token-count
    // amplified rows) at identical values — zero shuffle, the 100 TB
    // shape. Short rows filter on the cheap token count, NOT on the
    // struct's null flag: a struct-field/null predicate is pushed below
    // the projection and re-evaluates the whole hash-count per row (the
    // minhashSignatures lesson).
    val toks = split(trim(col("__t")), "\\s+")
    df.select(id.as("id"), text.as("__t"))
      .where(size(split(trim(col("__t")), "\\s+")) >= n)
      .select(col("id"),
        graft.functions.NgramStats.ngramStats(toks, n).as("__ns"))
      .select(col("id"),
        col("__ns.n_ngrams").as("n_ngrams"),
        col("__ns.n_distinct_ngrams").as("n_distinct_ngrams"),
        col("__ns.max_ngram_count").as("max_ngram_count"))
      .withColumn("dup_ngram_frac",
        lit(1.0) - col("n_distinct_ngrams").cast(DoubleType) / col("n_ngrams"))
  }

  /** Character-class quality signals appended to the input frame — the
    * second layer of a quality classifier, complementing the token-level
    * [[textStats]]: punctuation/digit/uppercase density, mean word length,
    * line count, and a composite `quality_v2` in [0, 1]. All signals are
    * single regexp_replace length counts over codegen'd built-ins (narrow
    * projection, no shuffle); ratios are exact-int divisions, so the
    * numbers are engine-portable bit-for-bit. */
  def qualitySignals(df: DataFrame, text: Column): DataFrame = {
    val t = text
    val nChars = length(t).cast(LongType)
    def classCount(rx: String): Column =
      length(regexp_replace(t, rx, "")).cast(LongType)
    val nPunct = nChars - classCount("[^a-zA-Z0-9\\s]")
    val nDigit = nChars - classCount("[0-9]")
    val nUpper = nChars - classCount("[A-Z]")
    val toks = split(trim(t), "\\s+")
    val meanWordLen = (length(regexp_replace(t, "\\s", "")).cast(DoubleType) /
      size(toks))
    val nLines = (size(split(t, "\n")).cast(LongType))
    val punctRatio = nPunct.cast(DoubleType) / nChars
    val digitRatio = nDigit.cast(DoubleType) / nChars
    val upperRatio = nUpper.cast(DoubleType) / nChars
    df.withColumns(Map(
      "n_chars" -> nChars,
      "punct_ratio" -> punctRatio,
      "digit_ratio" -> digitRatio,
      "upper_ratio" -> upperRatio,
      "mean_word_len" -> meanWordLen,
      "n_lines" -> nLines,
      "quality_v2" -> (when(nChars.between(100, 2000), 0.25).otherwise(0.0) +
        when(punctRatio < 0.1, 0.25).otherwise(0.0) +
        when(digitRatio < 0.2, 0.25).otherwise(0.0) +
        when(meanWordLen.between(3.0, 12.0), 0.25).otherwise(0.0))))
  }

  /** PII scrubbing for a training corpus: appends per-category match counts
    * (`n_emails`, `n_phones`, `n_ips`) and `text_redacted` with every match
    * replaced by its placeholder token. Pure regexp projection — narrow, no
    * shuffle, linear in corpus size.
    *
    * The patterns are deliberately conservative, engine-portable regex
    * (no lookarounds, ASCII classes only): emails (`local@domain.tld`),
    * North-American `(nnn) nnn-nnnn` phone shapes, and dotted-quad IPv4
    * with word boundaries. Redaction applies email -> phone -> ip in
    * sequence, and each category is COUNTED on the text as it stood when
    * that category was redacted — so every count equals the number of its
    * placeholders in `text_redacted` exactly, even when patterns nest (a
    * dotted-quad inside an email's domain is part of the email, redacted
    * once as <EMAIL>, and counted in n_emails only). */
  def redactPii(df: DataFrame, text: Column,
                emailToken: String = "<EMAIL>",
                phoneToken: String = "<PHONE>",
                ipToken: String = "<IP>"): DataFrame = {
    val rx = Seq(
      ("n_emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", emailToken),
      ("n_phones", "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}", phoneToken),
      ("n_ips", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", ipToken))
    val (out, counts) = rx.foldLeft((text, Seq.empty[(String, Column)])) {
      case ((t, cs), (n, p, tok)) =>
        (regexp_replace(t, p, tok),
          cs :+ (n -> size(regexp_extract_all(t, lit(p), lit(0))).cast(LongType)))
    }
    df.withColumns(counts.toMap).withColumn("text_redacted", out)
  }

  /** Chunk-level boilerplate removal — the paragraph-dedup stage of a
    * training-data pipeline (headers, license banners, navigation chrome
    * repeated across pages): split each document into consecutive
    * `chunkWords`-token chunks, count each distinct chunk's document
    * frequency corpus-wide, drop every occurrence of chunks appearing in
    * more than `maxDocFreq` documents, and rebuild the surviving text in
    * order. Returns (id, n_chunks, n_dropped, clean_text); a document
    * whose every chunk is boilerplate comes back with `clean_text = ""`
    * (callers filter on n_chunks - n_dropped).
    *
    * Scale shape: chunking is a narrow projection + explode; the
    * document-frequency pass groups on md5(chunk) (32-char keys shuffle,
    * never the chunk text); hot chunks are by construction the SMALL
    * repeated subset, so the membership join is broadcast-friendly; the
    * rebuild is one exchange on the id. Nothing is all-pairs and no stage
    * carries more than the exploded chunk stream. */
  def dropBoilerplate(df: DataFrame, id: Column, text: Column,
                      chunkWords: Int = 50, maxDocFreq: Long = 1): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    val base = df.select(id.as("id"), split(trim(text), "\\s+").as("__t"))
    val chunkArr = transform(
      sequence(lit(1),
        ceil(size(col("__t")).cast(DoubleType) / chunkWords).cast(IntegerType)),
      i => array_join(
        slice(col("__t"), (i - lit(1)) * chunkWords + lit(1), lit(chunkWords)),
        " "))
    val chunks = base.select(col("id"), posexplode(chunkArr))
      .select(col("id"), col("pos"), col("col").as("chunk"),
        md5(col("col")).as("__h"))
    val hot = chunks.groupBy(col("__h"))
      .agg(countDistinct(col("id")).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(col("__h"), lit(1).as("__hot"))
    chunks.join(hot, Seq("__h"), "left")
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_chunks"),
        count_if(col("__hot").isNotNull).as("n_dropped"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"),
                when(col("__hot").isNull, col("chunk")).as("keep")))),
              s => s.getField("keep").isNotNull),
            s => s.getField("keep")),
          " ").as("clean_text"))
  }

  /** Mersenne-prime modulus of the CDC rolling hash (2^31 - 1): products
    * `code * power` stay below 128 * 2^31 and a full window sum below
    * 2^41, so the arithmetic is exact in plain BIGINTs everywhere. */
  val CdcM: Long = 2147483647L
  /** Polynomial base of the CDC rolling hash. */
  val CdcB: Long = 131L

  /** Literal powers CdcB^(window-1-j) mod CdcM for j in [0, window) —
    * inlined as constants on BOTH engines so no engine's pow() (often
    * DOUBLE-valued) enters the hash. */
  def cdcPowers(window: Int): Array[Long] = {
    val pw = new Array[Long](window)
    pw(window - 1) = 1L
    var j = window - 2
    while (j >= 0) { pw(j) = pw(j + 1) * CdcB % CdcM; j -= 1 }
    pw
  }

  /** Content-defined chunking (CDC) — split each document at positions
    * where the rolling content window hashes to 0 mod `divisor` (the
    * Rabin-fingerprint boundary rule of storage dedup, here with the
    * engine-portable md5-derived hash). Because boundaries are a pure
    * function of LOCAL content, inserting or deleting text re-chunks only
    * the edited neighborhood — every chunk after it keeps its content and
    * hash — which is exactly what fixed-offset chunking ([[dropBoilerplate]])
    * loses: there a one-character insertion shifts every later chunk and
    * destroys all their hash matches. CDC chunk hashes therefore survive
    * edits, making chunk-level dedup shift-resistant.
    *
    * Returns one row per chunk: (id, chunk_idx, chunk_start, chunk_len,
    * chunk_md5, chunk), 0-based start offsets; expected chunk length is
    * ~`divisor` chars. Documents shorter than `window` yield one whole-doc
    * chunk; empty documents yield no rows. Narrow projection + explode —
    * no shuffle.
    *
    * The window hash is a polynomial hash (base [[CdcB]] mod the Mersenne
    * prime [[CdcM]]) over Unicode code points, maintained by the native
    * one-pass rolling expression [[graft.functions.CdcBoundaries]] —
    * O(1) per character, vs the earlier md5-per-position form that paid a
    * full digest plus an O(i) `substr` byte scan per position. The DuckDB
    * oracle evaluates the same hash as a literal-power sum per position
    * (`cdcPowers` inlines B^j mod M as BIGINT constants); every
    * intermediate stays below 2^52, so both engines' long arithmetic is
    * exact and the boundary sets are bit-identical (code points equal
    * `ascii()` in both engines on ASCII text and DuckDB's on all text). */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
                window: Int = 8, divisor: Int = 64): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(divisor >= 1, s"divisor must be >= 1, got $divisor")
    val t = col("__cdc_t")
    val n = length(t)
    // boundaries AFTER 1-based positions i wherever the window ending at
    // i hashes to 0 mod divisor — computed by the native one-pass rolling
    // hash ([[graft.functions.CdcBoundaries]]); a declarative
    // filter(sequence, hash-lambda) form of the same math runs
    // INTERPRETED and cost O(window·n) per document at best (measured
    // 6 s for the t31 gate vs 2 s native, and a 33-minute sweep stall
    // when CollapseProject inlined the code-point array into the lambda)
    val bnds = graft.functions.CdcBoundaries.boundaries(t, window, divisor)
    val starts = concat(array(lit(0)), bnds)
    val ends = concat(bnds, array(n))
    // adjacent boundaries and a boundary at n produce empty spans — drop
    val spans = filter(
      zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e"))),
      p => p("e") > p("s"))
    df.select(id.as("id"), text.as("__cdc_t"))
      .select(col("id"), col("__cdc_t"),
        posexplode(spans).as(Seq("chunk_idx", "p")))
      .select(col("id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("p.s").cast(LongType).as("chunk_start"),
        (col("p.e") - col("p.s")).cast(LongType).as("chunk_len"),
        t.substr(col("p.s") + 1, col("p.e") - col("p.s")).as("chunk"))
      .withColumn("chunk_md5", md5(col("chunk")))
      .select(col("id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"), col("chunk_md5"), col("chunk"))
  }

  /** Exact duplicate-substring detection — the overlapping-window variant
    * of corpus dedup (the "dedup repeated substrings" result): every
    * `window`-token sliding window is hashed corpus-wide; windows whose
    * content occurs more than once ANYWHERE (any document, any offset)
    * are flagged, and each document's flagged windows merge into maximal
    * duplicated SPANS (gaps-and-islands over [start, start+window-1]
    * intervals). Returns per document: (id, n_tokens, n_windows,
    * n_dup_windows, dup_tokens, dup_token_frac) — the signal for
    * span-level excision rather than whole-document dropping.
    * [[dropBoilerplate]] is the disjoint-chunk approximation of this;
    * here windows overlap, so a duplicated passage is caught at EVERY
    * alignment and the merged span covers it exactly.
    *
    * Scale shape: the explode emits ~`window`× the corpus tokens — the
    * known cost of window-level exactness (the published approach pays a
    * suffix array; this pays bounded row amplification instead). Hash
    * counts shuffle on md5 keys (never window text); span merging is one
    * key-partitioned window chain (single exchange on the id). `stride`
    * trades sensitivity for amplification: stride > 1 checks every
    * stride-th alignment only (duplicates shorter than
    * window + stride - 1 tokens can slip between alignments). */
  def duplicateSpans(df: DataFrame, id: Column, text: Column,
                     window: Int = 20, stride: Int = 1): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // fanOut BEFORE tokenizing: the ~window-fold explode + per-window md5
    // otherwise runs on the input's scan tasks (one task for a one-file
    // table), and raw text shuffles narrower than the token array it
    // becomes (r18 counterbalanced A/B: spans floor 1.91 -> 0.79 s, fan
    // won 5/6 reps in BOTH block orders; no-op when input parallelism
    // already matches the session's, the normal case at scale)
    val toks = filter(split(trim(col("__raw")), "\\s+"), t => t =!= lit(""))
    // persisted (MEMORY_ONLY, evictable): the fanned tokenized base feeds
    // THREE branches of the final plan (the window explode into the hash
    // count, the explode again into the flagged join, and the per-doc
    // n_windows projection), and AQE never reuses round-robin exchanges
    // (non-deterministic), so the scan+tokenize executed 3x per run
    // (r19 executed-plan check: plans/r19/t27_executed_reuse.txt shows
    // three separate RoundRobinPartitioning stages; the r18 ADVICE note)
    val base = fanOut(df.select(id.as("id"), text.as("__raw")))
      .select(col("id"), toks.as("__t"))
      .withColumn("__n", size(col("__t")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val starts = when(col("__n") >= window,
      sequence(lit(1), (col("__n") - (window - 1)).cast(IntegerType), lit(stride)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val wins = base
      .select(col("id"), col("__n"), explode(starts).as("__ws"), col("__t"))
      .withColumn("__wh", md5(array_join(
        slice(col("__t"), col("__ws"), lit(window)), " ")))
      .drop("__t")
    val dupHashes = wins.groupBy(col("__wh"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1)
      .select(col("__wh"))
    val flagged = wins.join(dupHashes, Seq("__wh"))
      .withColumn("__we", col("__ws") + (window - 1))
    // gaps-and-islands: a window starts a new island iff it begins past
    // every previous window's end
    val w = Window.partitionBy(col("id")).orderBy(col("__ws"))
    val islands = flagged
      .withColumn("__prevMax",
        max(col("__we")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevMax").isNull || col("__ws") > col("__prevMax"), 1)
          .otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col("id"), col("__island"))
      .agg((max(col("__we")) - min(col("__ws")) + 1).as("__span"),
        count(lit(1)).as("__nw"))
      .groupBy(col("id"))
      .agg(sum(col("__span")).as("dup_tokens"),
        sum(col("__nw")).as("n_dup_windows"))
    base.select(col("id"), col("__n").as("n_tokens"),
        greatest(ceil((col("__n") - (window - 1)).cast(DoubleType) / stride)
          .cast(LongType), lit(0L)).as("n_windows"))
      .join(spans, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .otherwise(lit(0.0)).as("dup_token_frac"))
  }

  /** Duplicate-span EXCISION — the transformation [[duplicateSpans]]
    * measures: remove every token covered by a corpus-duplicated span and
    * rebuild the remaining text in order. ALL occurrences excise,
    * including the first — the conservative contract when any copy may be
    * boilerplate (keep-one-copy semantics compose from [[dedupCorpus]]'s
    * keeper policies instead). Returns (id, n_tokens, dup_tokens,
    * clean_text); a fully-duplicated document comes back with an empty
    * clean_text rather than disappearing.
    *
    * Scale shape: [[duplicateSpans]]' window pass plus one
    * islands-per-document `collect_list` (bounded: islands per doc ≤
    * tokens/window) broadcast back into a narrow HOF rebuild — token
    * membership tests against the island array inside the row, so the
    * rebuild never shuffles the corpus text. */
  def exciseDuplicateSpans(df: DataFrame, id: Column, text: Column,
                           window: Int = 20, stride: Int = 1): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // same fanOut-before-tokenize as [[duplicateSpans]] (shared window
    // pass; see the A/B note there), and the same MEMORY_ONLY persist:
    // base feeds the window explode twice plus the rebuild join, and
    // round-robin exchanges are never AQE-reused
    val toks = filter(split(trim(col("__raw")), "\\s+"), t => t =!= lit(""))
    val base = fanOut(df.select(id.as("id"), text.as("__raw")))
      .select(col("id"), toks.as("__t"))
      .withColumn("__n", size(col("__t")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val starts = when(col("__n") >= window,
      sequence(lit(1), (col("__n") - (window - 1)).cast(IntegerType), lit(stride)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val wins = base
      .select(col("id"), explode(starts).as("__ws"), col("__t"))
      .withColumn("__wh", md5(array_join(
        slice(col("__t"), col("__ws"), lit(window)), " ")))
      .drop("__t")
    val dupHashes = wins.groupBy(col("__wh"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > 1)
      .select(col("__wh"))
    // merge overlapping (and touching) flagged windows into maximal
    // islands BEFORE collecting: a heavily-duplicated n-token document
    // with stride=1 flags ~n windows, and collecting raw windows would
    // make the broadcast array O(n) and the per-token exists() rebuild
    // O(n^2) on exactly the documents this operator targets; islands
    // restore the documented ≤ tokens/window bound. Same gaps-and-islands
    // chain as [[duplicateSpans]], except touching spans also merge
    // (covered-token membership is identical, the array only shrinks).
    // The window chain and the groupBy both key on id, so AQE reuses one
    // exchange for the pair.
    val iw = Window.partitionBy(col("id")).orderBy(col("__ws"))
    val spans = wins.join(dupHashes, Seq("__wh"))
      .withColumn("__we", col("__ws") + (window - 1))
      .withColumn("__prevMax",
        max(col("__we")).over(iw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevMax").isNull || col("__ws") > col("__prevMax") + 1, 1)
          .otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(iw.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("__ws")).as("s"), max(col("__we")).as("e"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__spans"))
    base.join(spans, Seq("id"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast(ArrayType(StructType(Seq(
          StructField("s", IntegerType), StructField("e", IntegerType)))))))
      .withColumn("__kept", filter(transform(col("__t"),
        (t, i) => when(!exists(col("__spans"),
          sp => i + 1 >= sp.getField("s") && i + 1 <= sp.getField("e")), t)),
        t => t.isNotNull))
      .select(col("id"), col("__n").as("n_tokens"),
        (col("__n") - size(col("__kept"))).cast(LongType).as("dup_tokens"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** Deterministic hash sampling: keep a row iff the first 4 hex digits of
    * md5(key) — a uniform 16-bit bucket — fall below `fraction` of the
    * bucket space. Membership is a pure row property: stable under
    * re-partitioning, task retries, and engine changes (none of which is
    * true of `df.sample`'s RNG streams), so a sample is reproducible
    * anywhere and composable with an oracle. Narrow projection, no
    * shuffle. NULL keys hash as the empty string (same never-drop-a-row
    * stance as [[saltedJoin]]'s NULL salt): they land in one deterministic
    * bucket rather than silently vanishing from the sample. */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    val bucket = conv(substring(md5(coalesce(key.cast(StringType), lit(""))),
      1, 4), 16, 10).cast(LongType)
    df.where(bucket < math.round(fraction * 65536).toInt)
  }

  /** Deterministic stratified sampling with per-stratum rates — the
    * data-MIXING primitive of a training pipeline (e.g. upsample a rare
    * language, downsample boilerplate-heavy sources): each row keeps with
    * its stratum's fraction, by the same hash-bucket membership as
    * [[hashSample]]. Strata absent from `fractions` keep `defaultFraction`
    * (default: dropped). Still a narrow projection: the fractions map
    * folds into one CASE expression, no join, no shuffle. NULL keys hash
    * as the empty string — see [[hashSample]]. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0 && f <= 1, s"fractions must be in [0,1]: $f"))
    val bucket = conv(substring(md5(coalesce(key.cast(StringType), lit(""))),
      1, 4), 16, 10).cast(LongType)
    def cut(f: Double): Long = math.round(f * 65536)
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(
      when(lit(false), lit(0L))) { case (c, (s, f)) =>
        c.when(stratum === s, lit(cut(f)))
      }.otherwise(lit(cut(defaultFraction)))
    df.where(bucket < threshold)
  }

  /** FastText-style hashed linear classifier INFERENCE: tokens hash into
    * `weights.size` buckets (md5-derived, engine-portable), and
    * `quality_score` = (bias + Σ weights(bucket(token))) / n_tokens — the
    * mean bucket weight, the shape of the linear quality filters
    * (CCNet/fastText-family) a corpus pipeline scores documents with
    * before mixing. Appends `n_tokens` and `quality_score`; a document
    * with no tokens scores NULL.
    *
    * Weights are exact decimals and the token fold sums in DECIMAL, so
    * the score is order-independent and bit-identical cross-engine (a
    * double Σ would depend on reduction order). The whole operator is ONE
    * narrow codegen'd projection — the fold runs inside the row via a
    * higher-order `aggregate`, no explode, no shuffle: at 100 TB this
    * scores the corpus in a single scan. Training the weights is the
    * caller's offline concern (this engine scores); any `Seq[BigDecimal]`
    * plugs in. */
  def scoreLinearHashed(df: DataFrame, text: Column, weights: Seq[BigDecimal],
                        bias: BigDecimal = BigDecimal(0)): DataFrame = {
    require(weights.nonEmpty, "scoreLinearHashed: weights must be non-empty")
    Seq("n_tokens", "quality_score").foreach(c => require(!df.columns.contains(c),
      s"scoreLinearHashed: input already has a '$c' column"))
    val acc = DecimalType(38, 6)
    val wArr = array(weights.map(w => lit(w.underlying).cast(DecimalType(12, 6))): _*)
    val toks = filter(split(trim(lower(text)), "\\s+"), t => t =!= lit(""))
    def bucket(t: Column): Column =
      conv(substring(md5(t), 1, 8), 16, 10).cast(LongType) % weights.size
    val total = aggregate(toks, lit(BigDecimal(0).underlying).cast(acc),
      (a, t) => (a + element_at(wArr, (bucket(t) + 1).cast(IntegerType))).cast(acc))
    df.withColumn("n_tokens", size(toks).cast(LongType))
      .withColumn("quality_score",
        when(size(toks) > 0,
          (lit(bias.underlying).cast(acc) + total).cast(DoubleType) / size(toks)))
  }

  /** Temperature-based mixture sampling — the `count^alpha` reweighting
    * that flattens a skewed corpus (UnifiedQA/mT5-style): per-stratum
    * sampling fractions are chosen so the expected kept total is
    * `targetRows` distributed proportionally to `c_s^alpha` (alpha < 1
    * upsamples rare strata relative to their raw share; fractions cap at
    * 1 — a stratum smaller than its allocation keeps everything rather
    * than inventing rows). Membership is the same deterministic
    * hash-bucket property as [[hashSample]].
    *
    * Exactness: stratum weights quantize to `round(c^alpha * 1e9)` as
    * integers, so the total and the per-stratum thresholds are
    * reproducible cross-engine (alpha 0.5/1.0/0.0 use sqrt/identity/1 —
    * exactly-rounded everywhere; other alphas go through `pow`, whose
    * last-bit rounding is libm-specific — fine within Spark, excluded
    * from cross-engine oracles). Scale shape: one count aggregate on the
    * stratum, a |strata|-row stats frame (its global window is over that
    * tiny frame, not the data), and a broadcast join back — the corpus
    * itself is scanned once and never shuffled. */
  def temperatureMix(df: DataFrame, key: Column, stratum: Column,
                     targetRows: Long, alpha: Double = 0.5): DataFrame = {
    require(targetRows >= 0, s"targetRows must be >= 0, got $targetRows")
    val taken = df.columns.toSet
    val sC = freshName("__stratum", taken)
    val cC = freshName("__c", taken + sC)
    val wC = freshName("__w", taken + sC + cC)
    val totC = freshName("__tot", taken + sC + cC + wC)
    val cutC = freshName("__cut", taken + sC + cC + wC + totC)
    val weight = alpha match {
      case 0.5 => sqrt(col(cC))
      case 1.0 => col(cC).cast(DoubleType)
      case 0.0 => lit(1.0)
      case a => pow(col(cC).cast(DoubleType), lit(a))
    }
    val cuts = df.groupBy(stratum.as(sC)).agg(count(lit(1)).as(cC))
      .withColumn(wC, round(weight * 1e9).cast(LongType))
      .withColumn(totC, sum(col(wC)).over(Window.partitionBy()))
      .withColumn(cutC, floor(least(lit(1.0),
        (lit(targetRows).cast(DoubleType) * col(wC)) /
          (col(totC).cast(DoubleType) * col(cC))) * 65536).cast(LongType))
      .select(col(sC), col(cutC))
    val bucket = conv(substring(md5(coalesce(key.cast(StringType), lit(""))),
      1, 4), 16, 10).cast(LongType)
    df.join(broadcast(cuts), stratum <=> col(sC), "left")
      .where(bucket < col(cutC)).drop(sC, cutC)
  }

  /** Distributed BPE merge training — learn the first `nMerges` byte-pair
    * merges of the corpus: start from characters, repeatedly count
    * adjacent symbol pairs corpus-wide and merge the most frequent
    * (ties break lexically, so the table is deterministic). Returns the
    * merge table (merge_rank, left_sym, right_sym, pair_count) — the
    * artifact a tokenizer trainer emits.
    *
    * The distributed-BPE shape: the corpus collapses FIRST to
    * (word, count) — every round then works on the vocabulary, not the
    * corpus, so a 100 TB corpus costs one initial token count and each
    * round is a vocabulary-sized pair aggregate + a narrow merge rewrite.
    * Words are symbol strings delimited by a U+0001 sentinel (words
    * containing the sentinel are dropped — absent from any text corpus),
    * and a merge applies as one non-overlapping left-to-right
    * `replace` — identical semantics in any engine, which is what
    * makes the whole training loop cross-engine reproducible. Pair
    * counting is naive-adjacent (overlapping runs count each adjacency:
    * "aaa" counts (a,a) twice but merges once, as classic
    * implementations also count). One deliberate divergence from
    * subword-nmt-style leftmost-greedy scanning: inside a run of 4+
    * IDENTICAL symbols, the single replace pass merges alternate
    * adjacencies ("aaaa" -> [aa, a, a], classic gives [aa, aa]) because
    * each replacement consumes the shared sentinel. Trainer and
    * [[tokenizeBpe]] share the rule exactly, so segmentations are
    * self-consistent — but merge tables are NOT interchangeable with
    * external BPE implementations on degenerate same-symbol runs. Per round, ONE driver-side argmax row is
    * collected ([[pageRank]]/[[connectedComponents]] precedent: O(1) rows
    * per iteration is inherent to iterative fixpoints); the vocabulary
    * state localCheckpoints each round so lineage stays flat. Training
    * stops early when no pair reaches `minCount`.
    *
    * `localVocabLimit`: vocabularies at or below this many distinct words
    * run the merge rounds DRIVER-SIDE over the collected (word, count)
    * table — the [[connectedComponents]] union-find precedent, and the
    * shape every production BPE trainer uses (the corpus-sized stage is
    * the word count, which stays distributed; the rounds are inherently
    * vocabulary-sized). The gate is a limit-guarded collect (at most
    * limit+1 rows ever reach the driver, ~100 MB at the 1M default), and
    * the local loop replicates the distributed semantics bit-for-bit:
    * naive-adjacent pair counts, count-desc / left-asc / right-asc
    * argmax with string order as unsigned UTF-8 bytes (Spark's own
    * string ordering), left-to-right non-overlapping merge application.
    * Oversized vocabularies fall through to the distributed rounds;
    * 0 forces them (the spec does, to pin the two paths equal). */
  def trainBpeMerges(df: DataFrame, text: Column, nMerges: Int,
                     minCount: Long = 1L,
                     localVocabLimit: Long = 1000000L): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val S = "\u0001"
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(filter(split(trim(text), "\\s+"),
      t => t =!= lit(""))).as("word"))
      .where(!col("word").contains(S))
    val wc = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    if (localVocabLimit > 0 && localVocabLimit < Int.MaxValue) {
      val probe = wc.limit(localVocabLimit.toInt + 1).collect()
      if (probe.length <= localVocabLimit)
        return localBpeTrain(spark,
          probe.map(r => (r.getString(0), r.getLong(1))), nMerges, minCount)
    }
    var state = wc
      .withColumn("s", concat(lit(S), regexp_replace(col("word"), "(.)", "$1" + S)))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var done = false
    for (rank <- 1 to nMerges if !done) {
      val syms = split(col("s"), S)
      val idxs = filter(sequence(lit(1), size(syms)),
        i => i >= 2 && i <= size(syms) - 2)
      val pairs = state
        .select(col("cnt"), explode(transform(idxs,
          i => struct(element_at(syms, i).as("l"),
            element_at(syms, i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (pairs.isEmpty || pairs.head.getLong(2) < minCount) done = true
      else {
        val (l, r, c) = (pairs.head.getString(0), pairs.head.getString(1),
          pairs.head.getLong(2))
        merges += ((rank.toLong, l, r, c))
        val prev = state
        state = state.withColumn("s",
          call_function("replace", col("s"), lit(S + l + S + r + S), lit(S + l + r + S)))
          .localCheckpoint()
        // release the previous round's checkpoint blocks now rather than
        // waiting for the ContextCleaner: bounds storage at two vocabulary
        // copies however many merges are trained
        prev.unpersist()
      }
    }
    state.unpersist()
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Driver-side BPE merge rounds over a collected (word, count) table —
    * [[trainBpeMerges]]' local fast path. Replicates the distributed
    * rounds bit-for-bit by keeping the SAME sentinel-string word state
    * and applying merges with Java `String.replace`, whose left-to-right
    * non-overlapping literal semantics are identical to the engine's
    * `replace` (both scan the original, never the replacement — so even
    * the documented same-symbol-run divergence reproduces exactly).
    * Symbol boundaries are code points (the engine's `regexp_replace`
    * "(.)" matches per code point); argmax tie-break compares strings as
    * unsigned UTF-8 bytes (the engine's string order). */
  private def localBpeTrain(spark: org.apache.spark.sql.SparkSession,
                            vocab: Array[(String, Long)],
                            nMerges: Int, minCount: Long): DataFrame = {
    import spark.implicits._
    val S = "\u0001"
    def utf8Lt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    // sentinel form: S + each code point + S (same as the engine state)
    val state = vocab.map { case (w, c) =>
      val sb = new StringBuilder(S)
      w.codePoints().forEach(cp => { sb.appendAll(Character.toChars(cp)); sb.append(S) })
      (sb.toString, c)
    }
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var done = false
    for (rank <- 1 to nMerges if !done) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      state.foreach { case (s, c) =>
        val t = s.split(S, -1) // ["", interior symbols..., ""]
        var j = 1
        while (j + 1 <= t.length - 2) {
          val k = (t(j), t(j + 1))
          val cur = counts.get(k)
          counts.put(k, if (cur == null) c else cur + c)
          j += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && (utf8Lt(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
            best = (k, v)
        }
        val ((l, r), c) = best
        if (c < minCount) done = true
        else {
          merges += ((rank.toLong, l, r, c))
          val find = S + l + S + r + S
          val repl = S + l + r + S
          var i = 0
          while (i < state.length) {
            val (s, cnt) = state(i)
            if (s.contains(find)) state(i) = (s.replace(find, repl), cnt)
            i += 1
          }
        }
      }
    }
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** BPE tokenization with a LEARNED merge table — the inference side of
    * [[trainBpeMerges]]: each whitespace word starts as characters and
    * every merge applies in rank order as the same greedy left-to-right
    * sentinel-delimited replace the trainer used, so training and
    * application can never disagree on segmentation. Appends
    * `bpe_tokens` (array) and `n_bpe_tokens`.
    *
    * The merge table is a driver-side Seq (it IS small — a tokenizer
    * carries thousands of merges, not millions) and compiles into one
    * nested-replace expression per word: the whole operator is a narrow
    * codegen'd projection, no join, no shuffle, corpus scanned once.
    * Words containing the U+0001 sentinel tokenize to themselves. */
  def tokenizeBpe(df: DataFrame, text: Column,
                  merges: Seq[(String, String)]): DataFrame = {
    Seq("bpe_tokens", "n_bpe_tokens").foreach(c => require(!df.columns.contains(c),
      s"tokenizeBpe: input already has a '$c' column"))
    val S = "\u0001"
    val words = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val tokenized = transform(words, w => {
      val init = concat(lit(S), regexp_replace(w, "(.)", "$1" + S))
      val merged = merges.foldLeft(init) { case (s, (l, r)) =>
        call_function("replace", s, lit(S + l + S + r + S), lit(S + l + r + S))
      }
      when(w.contains(S), array(w))
        .otherwise(filter(split(merged, S), t => t =!= lit("")))
    })
    df.withColumn("bpe_tokens", flatten(tokenized))
      .withColumn("n_bpe_tokens", size(flatten(tokenized)).cast(LongType))
  }

  /** Sliding-window document chunking — the overlapping-window split a
    * RAG/pretraining pipeline applies to long documents: whitespace
    * tokens, windows of `chunkTokens` starting every
    * `chunkTokens - overlapTokens`, the last window allowed to run short
    * so every token lands in at least one chunk. One row per chunk:
    * (id, chunk_id, start_token, n_chunk_tokens, chunk_text); a document
    * with no tokens yields one empty chunk row (so no document silently
    * vanishes). Pure narrow projection + explode — no shuffle; output
    * rows ≈ input tokens / stride regardless of document skew. */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
                     chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens): got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val tC = "__toks"
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val starts = sequence(lit(1),
      greatest(size(col(tC)) - overlapTokens, lit(1)), lit(stride))
    df.select(id.as("id"), toks.as(tC))
      .select(col("id"), col(tC), posexplode(starts).as(Seq("pos", "start_token")))
      .select(col("id"), (col("pos") + 1).cast(LongType).as("chunk_id"),
        col("start_token").cast(LongType),
        size(slice(col(tC), col("start_token"), lit(chunkTokens)))
          .cast(LongType).as("n_chunk_tokens"),
        array_join(slice(col(tC), col("start_token"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Deterministic, disjoint, exhaustive train/validation/test split:
    * appends a `split` label chosen by the same hash-bucket membership as
    * [[hashSample]], with cumulative bucket cuts from `weights` (ordered;
    * they must sum to 1 within 1e-9). Every row gets exactly ONE label —
    * disjointness and exhaustiveness hold by construction, not by three
    * independent samples that could overlap or leak. Membership is a pure
    * row property: re-runs, re-partitioning, and engine changes never
    * migrate a row between splits (the leakage property a training
    * pipeline actually cares about). Narrow projection, no shuffle. */
  def splitCorpus(df: DataFrame, key: Column,
                  weights: Seq[(String, Double)], out: String = "split"): DataFrame = {
    require(weights.nonEmpty, "splitCorpus: weights must be non-empty")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"splitCorpus: weights must sum to 1, got ${weights.map(_._2).sum}")
    require(weights.forall(_._2 >= 0), "splitCorpus: weights must be >= 0")
    require(!df.columns.contains(out),
      s"splitCorpus: input already has a '$out' column; pass out=<fresh name>")
    val bucket = conv(substring(md5(coalesce(key.cast(StringType), lit(""))),
      1, 4), 16, 10).cast(LongType)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail.map(f => math.round(f * 65536))
    val label = weights.init.zip(cuts.init).foldLeft(when(lit(false), lit(""))) {
      case (c, ((name, _), cut)) => c.when(bucket < cut, lit(name))
    }.otherwise(lit(weights.last._1))
    df.withColumn(out, label)
  }

  /** Leakage-safe train/val/test split — [[splitCorpus]] keyed by the
    * near-duplicate CLUSTER instead of the row: plain id-hash splitting
    * puts a document's near-duplicates on the other side of the split
    * with probability ~(1 - w), so a test set silently contains
    * paraphrases of training documents — the classic eval-inflation bug.
    * Here the d02/d03/d06 chain (LSH candidates → exact Jaccard verify →
    * connected components) labels every document with its dup-cluster
    * keeper, and the hash bucket is computed on THAT label: a whole
    * cluster always lands on one side. Documents with no verified
    * near-dup key by their own id (identical behavior to [[splitCorpus]]
    * for them); exact duplicates share all shingles (Jaccard 1.0), so
    * they cluster without a separate exact pass.
    *
    * Same determinism contract as [[splitCorpus]]: membership is a pure
    * function of cluster label and weights — stable under re-partitioning,
    * re-runs, and engines. Scale shape: the dedup chain's cost (bucketed,
    * never all-pairs) plus one left join of the corpus against the
    * cluster labels (cluster-membership-sized, usually tiny). */
  def splitCorpusLeakageSafe(df: DataFrame, id: Column, text: Column,
                             weights: Seq[(String, Double)],
                             out: String = "split",
                             minAgreement: Int = DefaultMinAgreement,
                             jaccardThreshold: Double = 0.5,
                             shingle: Int = 5): DataFrame = {
    val sigs = minhashSignatures(df, id, text)
    // persist the candidate pairs HERE (jaccardVerify would otherwise do
    // it internally with a callers-unpersist contract this composite would
    // break): the CC fixpoint below materializes the verified edges, after
    // which the cached pair blocks are dead weight — release them before
    // returning so looped invocations don't grow the cache registry.
    val pairs = nearDupPairs(sigs, minAgreement = minAgreement)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val edges = jaccardVerify(df, id, text, pairs, shingle)
      .where(col("jaccard") >= jaccardThreshold)
    // cc is localCheckpoint-materialized by the fixpoint loop, so nothing
    // downstream re-reads the pair stream
    val cc = connectedComponents(edges, col("id_a"), col("id_b"))
    pairs.unpersist(blocking = false)
    val taken = df.columns.toSet + out
    val idc = freshName("__lss_id", taken)
    val lbl = freshName("__lss_label", taken + idc)
    splitCorpus(
      df.withColumn(idc, id)
        .join(cc.select(col("id").as(idc), col("component").as(lbl)),
          Seq(idc), "left")
        .withColumn(lbl, coalesce(col(lbl), col(idc))),
      col(lbl), weights, out)
      .drop(idc, lbl)
  }

  /** One-call corpus datasheet — the per-slice summary a dataset card
    * reports and a pipeline gates on before training: per group,
    * document/token volumes, exact mean and (exact, interpolated) length
    * percentiles, exact-hash distinct content and the duplication rate it
    * implies, and the empty-document count. Every statistic is chosen to
    * be engine-exact (integer sums, one-division means, percentile over
    * integer lengths — no sketches), so the whole report can sit behind a
    * cross-engine oracle. One aggregate over one corpus scan; the exact
    * countDistinct adds its usual Expand duplication — at 100 TB swap
    * the distinct-content column for approx_count_distinct the same way
    * [[profile]] does. */
  def describeCorpus(df: DataFrame, text: Column, group: Column): DataFrame = {
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    df.select(group.as("grp"), size(toks).cast(LongType).as("__nt"),
        length(text).cast(LongType).as("__nc"), md5(text).as("__h"))
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        (sum(col("__nt")).cast(DoubleType) / count(lit(1))).as("mean_tokens"),
        expr("percentile(__nc, 0.5)").as("p50_chars"),
        expr("percentile(__nc, 0.9)").as("p90_chars"),
        countDistinct(col("__h")).as("n_distinct"),
        count_if(col("__nt") === 0).as("n_empty"))
      .withColumn("dup_rate",
        lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_docs"))
  }

  /** Lexical (BM25-shaped) top-k retrieval — the sparse counterpart of
    * [[annTopK]]: rank corpus documents against query documents by
    * term-overlap relevance through an inverted-index join, the retrieval
    * shape a training-data pipeline runs for decontamination sweeps and
    * eval-set mining where embeddings are unavailable or too coarse.
    * Scoring is BM25's saturation curve `tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`
    * with a RATIONAL idf `(N-df+0.5)/(df+0.5)` — same per-term
    * monotonicity as the textbook `ln` form but exact cross-engine (libm
    * `ln` rounding is engine-specific; swapping the one-line idf back in
    * at deploy changes constants, not the dataflow). Per-term
    * contributions quantize to integer 1e-9 units and sum exactly
    * ([[pageRank]]'s discipline), so scores — not just ranks — are
    * bit-identical cross-engine.
    *
    * Output: (q_id, rank, doc_id, score), rank 1..k per query, ties
    * broken by doc_id.
    *
    * Scale shape: postings (term, doc, tf) shuffle on the term key —
    * never all-pairs; query terms broadcast; per-(query, doc) scores are
    * one keyed exact aggregate; top-k is a per-query window over the
    * scored candidates (only docs sharing at least one query term).
    * `excludeSelf` drops corpus rows whose id equals the query id (self-
    * search); common high-df terms are the fan-out cost — `maxDf` is the
    * lever: query terms whose document frequency exceeds it are dropped
    * before touching the postings (classic stopword pruning — a term in
    * half the corpus contributes ~zero idf but all the join fan-out).
    * None = no cap. */
  def lexicalTopK(corpus: DataFrame, id: Column, text: Column,
                  queries: DataFrame, qId: Column, qText: Column,
                  k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                  excludeSelf: Boolean = true,
                  maxDf: Option[Long] = None): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    require(maxDf.forall(_ >= 1), s"need maxDf >= 1; got $maxDf")
    def toks(t: Column) = filter(split(trim(t), "\\s+"), x => x =!= lit(""))
    val corpusToks = corpus
      .select(id.as("doc_id"), explode(toks(text)).as("t"))
    val tf = corpusToks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dl = corpusToks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val qTerms = queries
      .select(qId.as("q_id"), explode(toks(qText)).as("t")).distinct()
    val idf = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val sat = (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + (lit(b) * col("dl")) / col("avgdl")))
    // fold df into the query-term frame FIRST (query-vocabulary-sized), so
    // the corpus-sized postings stream is joined exactly once on the term;
    // the df cap prunes stopword fan-out before any posting is touched
    val qdf = maxDf.foldLeft(qTerms.join(df, "t"))(
      (q, cap) => q.where(col("df") <= cap))
    val contrib = broadcast(qdf)
      .join(tf, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .where(if (excludeSelf) col("q_id") =!= col("doc_id") else lit(true))
      .select(col("q_id"), col("doc_id"),
        round(idf * sat * lit(1e9)).cast(LongType).as("__c"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    contrib.groupBy(col("q_id"), col("doc_id"))
      .agg((sum(col("__c")).cast(DoubleType) / lit(1e9)).as("score"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Pairwise corpus-overlap matrix — BETWEEN-dataset duplication
    * quantified before datasets are mixed: for every pair of groups
    * (sources, dumps, dataset slices) sharing at least one distinct word
    * n-gram fingerprint, the shared-fingerprint count, both vocabulary
    * sizes, and the Jaccard / containment they imply. This is the
    * dataset-level companion to row-level dedup (d02/d03) and benchmark
    * decontamination (t06): a high-containment pair means one slice is
    * substantially inside another and mixing weights should account for it.
    *
    * Scale shape: one explode to (group, fingerprint), one distinct (the
    * only corpus-sized shuffle, on the fingerprint-bearing row), a
    * fingerprint-keyed self-join whose cost tracks cross-group fingerprint
    * sharing (never |corpus|² — a fingerprint private to one group joins
    * nothing), and group-count frames small enough to broadcast. Zero-
    * overlap pairs are absent from the output by construction.
    *
    * Output: (grp_a, grp_b, n_shared, n_fp_a, n_fp_b, jaccard,
    * containment) with grp_a < grp_b. */
  def corpusOverlap(df: DataFrame, group: Column, text: Column,
                    ngramWords: Int = 5): DataFrame = {
    require(ngramWords >= 1, s"need ngramWords >= 1; got $ngramWords")
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val grams = df.select(group.as("grp"), toks.as("__t"))
      .select(col("grp"), explode(when(size(col("__t")) >= ngramWords,
        transform(sequence(lit(0), size(col("__t")) - ngramWords),
          i => md5(concat_ws(" ", slice(col("__t"), i + 1, lit(ngramWords))))))
        .otherwise(array().cast(ArrayType(StringType)))).as("fp"))
      .distinct()
    val sizes = grams.groupBy(col("grp")).agg(count(lit(1)).as("n_fp"))
    grams.toDF("grp_a", "fp")
      .join(grams.toDF("grp_b", "fp"), "fp")
      .where(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.toDF("grp_a", "n_fp_a")), "grp_a")
      .join(broadcast(sizes.toDF("grp_b", "n_fp_b")), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_fp_a") + col("n_fp_b") - col("n_shared"))).as("jaccard"),
        (col("n_shared").cast(DoubleType) /
          least(col("n_fp_a"), col("n_fp_b"))).as("containment"))
  }

  /** Per-vertex triangle counts and local clustering coefficient over an
    * undirected edge list — the graph-density diagnostic for a near-dup
    * graph: a template farm (every page a near-dup of every other) is a
    * clique, so its vertices carry maximal triangle counts and clustering
    * ~1.0, while a chain of incidental pairwise matches carries none.
    * Complements [[connectedComponents]] (which only says WHO is
    * connected, not how densely) and [[pageRank]] (centrality, not
    * cohesion).
    *
    * Exact and deterministic: each triangle is enumerated once with its
    * vertices in sorted order (edge (a,b) with a<b joined to (b,c), then
    * closed by (a,c)); the coefficient is one integer-ratio division.
    * Output: (id, degree, n_triangles, clustering_coeff) for every vertex
    * of the edge list; coefficient is 0.0 for degree-1 vertices.
    *
    * Scale shape: the wedge join shuffles on the middle vertex (cost =
    * Σ deg² — the inherent wedge count; degree-cap preprocessing is the
    * standard lever when hubs appear), the closing check is one equi-join
    * on the (a, c) pair, and per-vertex rollups are keyed aggregates. */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column,
                     checkpointDir: Option[String] = None): DataFrame = {
    // the normalized edge list feeds FIVE plan references (two wedge
    // sides, the closing join, and both degree scans): materialize it
    // once — a multi-pass graph algorithm must never re-execute an
    // arbitrary upstream (e.g. the LSH mining quadratic) per reference.
    // LAZY checkpoint: constructing the frame must not run a job (plan
    // inspection, conditional composition); the first action pays the
    // materialization and later references reuse it. checkpointDir gives
    // the reliable-storage variant that survives executor loss (the
    // same knob as connectedComponents/pageRank).
    val norm = edges.select(least(src, dst).as("a"), greatest(src, dst).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val e = checkpointDir match {
      case Some(d) =>
        norm.sparkSession.sparkContext.setCheckpointDir(d)
        norm.checkpoint(eager = false)
      case None => norm.localCheckpoint(eager = false)
    }
    // wedge (a<b) x (b<c) is automatically vertex-sorted: each triangle
    // appears exactly once
    val wedges = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
    val tri = wedges.join(e.toDF("a", "c"), Seq("a", "c"))
    val perVertex = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    deg.join(perVertex, Seq("id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          (col("n_triangles") * 2.0) / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)))
  }

  /** Sketch-based corpus-overlap matrix — the bounded-state scale path for
    * [[corpusOverlap]]: instead of self-joining the full fingerprint
    * streams (cost tracks cross-group sharing — fine until two 10 TB
    * slices share half their content), keep only each group's `k`
    * SMALLEST distinct fingerprint hashes (a k-minimum-values MinHash
    * sketch: a uniform sample of the group's fingerprint space, because
    * the hash order is content-independent) and estimate every pairwise
    * Jaccard from the sketches alone: of the k smallest hashes of the
    * UNION, count those present in both sketches — an unbiased estimator
    * with relative error ~1/sqrt(k). After sketching, the whole matrix is
    * computed on a group-cardinality frame (G rows of k hashes), so
    * pairwise comparison cost is independent of corpus size.
    *
    * Fully deterministic (hash-order sketches, no RNG) — the estimate
    * itself cross-checks bit-for-bit against an oracle running the same
    * definition. When `k` is at least the union's fingerprint count the
    * estimate IS the exact Jaccard (the sketch holds everything) — the
    * property the spec pins against [[corpusOverlap]].
    *
    * Output: (grp_a, grp_b, n_common, k_used, j_est) for ALL group pairs
    * (zero-overlap pairs included — the sketch can't distinguish "no
    * overlap" from "overlap the sample missed"). Scale note: the per-group
    * k-min runs under Catalyst's WindowGroupLimit (plan-tested), so each
    * task retains only its local k smallest hashes BEFORE the group
    * exchange — the sketch build is a partial min-k reduction, never a
    * full per-group fingerprint sort. */
  def corpusOverlapSketch(df: DataFrame, group: Column, text: Column,
                          k: Int = 256, ngramWords: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    require(ngramWords >= 1, s"need ngramWords >= 1; got $ngramWords")
    val toks = filter(split(trim(text), "\\s+"), t => t =!= lit(""))
    val grams = df.select(group.as("grp"), toks.as("__t"))
      .select(col("grp"), explode(when(size(col("__t")) >= ngramWords,
        transform(sequence(lit(0), size(col("__t")) - ngramWords),
          i => md5(concat_ws(" ", slice(col("__t"), i + 1, lit(ngramWords))))))
        .otherwise(array().cast(ArrayType(StringType)))).as("fp"))
      .distinct()
    val byFp = Window.partitionBy(col("grp")).orderBy(col("fp"))
    val sk = grams.withColumn("__rk", row_number().over(byFp))
      .where(col("__rk") <= k)
      .groupBy(col("grp")).agg(sort_array(collect_list(col("fp"))).as("sk"))
    val xx = slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k)
    sk.toDF("grp_a", "sk_a")
      .join(broadcast(sk.toDF("grp_b", "sk_b")), col("grp_a") < col("grp_b"))
      .withColumn("__x", xx)
      .select(col("grp_a"), col("grp_b"),
        size(array_intersect(array_intersect(col("__x"), col("sk_a")),
          col("sk_b"))).cast(LongType).as("n_common"),
        size(col("__x")).cast(LongType).as("k_used"))
      .withColumn("j_est",
        col("n_common").cast(DoubleType) / col("k_used"))
  }

  /** Robust per-group outlier scoring — median/MAD, the filter a corpus
    * pipeline uses where mean/stddev would be poisoned by the very
    * outliers it hunts (one 10 MB crawl artifact drags a mean length far
    * enough to hide every other artifact; the median doesn't move).
    * Appends per-row: the group median `med`, the median absolute
    * deviation `mad`, `robust_z` = (x - med) / (1.4826 * mad) (the
    * normal-consistency constant; NULL when mad = 0, i.e. a majority-
    * constant group where deviation has no scale), and `is_outlier` =
    * |robust_z| > zCut (false when robust_z is NULL — a scale-less group
    * flags nothing rather than everything).
    *
    * Exact cross-engine: both medians are the interpolated exact
    * percentile (Spark `percentile` = DuckDB `quantile_cont`, identical
    * formula over identical doubles) and the z is two IEEE ops.
    *
    * Scale shape: both medians run as window aggregates over the SAME
    * group partitioning — one shuffle, two in-partition passes, no joins.
    * Exact percentile buffers each group in its window partition (the
    * usual exact-median cost); groups are language/source-grade, not
    * corpus-grade. */
  def robustOutliers(df: DataFrame, group: Column, value: Column,
                     zCut: Double = 3.5): DataFrame = {
    val outs = Seq("med", "mad", "robust_z", "is_outlier")
    val clash = outs.filter(df.columns.contains)
    require(clash.isEmpty,
      s"robustOutliers: input already has column(s) ${clash.mkString(", ")} " +
        "— the operator never silently replaces caller data")
    val taken = df.columns.toSet ++ outs
    val g = freshName("__ro_g", taken)
    val v = freshName("__ro_v", taken + g)
    val w = Window.partitionBy(col(g))
    val z = (col(v) - col("med")) / (lit(1.4826) * col("mad"))
    df.withColumn(g, group)
      .withColumn(v, value.cast(DoubleType))
      .withColumn("med", expr(s"percentile(`$v`, 0.5)").over(w))
      .withColumn("mad",
        expr(s"percentile(abs(`$v` - med), 0.5)").over(w))
      .withColumn("robust_z", when(col("mad") =!= 0.0, z))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > zCut, lit(false)))
      .drop(g, v)
  }

  /** Deterministic per-row weighted sampling: keep each row with
    * probability `weight` (clamped to [0, 1]; NULL keeps nothing), by the
    * same hash-bucket membership as [[hashSample]] — so a row's fate is a
    * pure function of its key and weight, stable under re-partitioning,
    * retries, and engine changes. The per-ROW generalization of
    * [[stratifiedSample]] (whose rates are per-stratum): quality-weighted
    * corpus downsampling ("keep documents proportionally to their quality
    * score") is this operator with a score column as the weight. Narrow
    * projection, no shuffle. */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame = {
    val bucket = conv(substring(md5(coalesce(key.cast(StringType), lit(""))),
      1, 4), 16, 10).cast(LongType)
    val cut = floor(least(greatest(weight.cast(DoubleType), lit(0.0)), lit(1.0))
      * 65536).cast(LongType)
    df.where(bucket < cut)
  }

  /** Mergeable KMV distinct-count sketch as an aggregate Column — the
    * sub-2%-error scale alternative to `approx_count_distinct` whose
    * tighter-rsd flat-buffer HLL is impractical (rsd 0.01 = p=17 = a
    * ~37000-field agg row). One compact byte-array buffer per group
    * (k longs; rse ~1/sqrt(k-2), 1.1% at the default 8192), genuine
    * partial aggregation (map-side state, the exchange carries sketches,
    * not rows), NULLs excluded. See [[graft.functions.KmvCountDistinct]];
    * ApproxAggSpec pins the error bound and the partial-merge plan. */
  def approxCountDistinctSketch(c: Column, k: Int = 8192): Column =
    graft.functions.KmvCountDistinct.kmvCountDistinct(c, k)

  /** Single-pass column profiler — the data-quality / ANALYZE summary a
    * pipeline runs before trusting a new drop: per column, non-null count,
    * null count, distinct count, and min/max (computed on the NATIVE type,
    * then rendered as strings so one frame can carry every column's
    * profile). One row per profiled column.
    *
    * Runs as ONE aggregate job over a single scan. With `exact = true`
    * each distinct count adds an Expand duplication of the scanned rows —
    * fine for a validation sample, wrong for 100 TB; `exact = false`
    * switches to approx_count_distinct (HLL): single pass, no Expand, the
    * production profile (and, like all sketches, excluded from
    * cross-engine oracles — the gate pins the exact form). */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile: cols must be non-empty")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such column(s): ${missing.mkString(", ")}")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__cnt_$c"),
      count(when(col(c).isNull, 1)).as(s"__null_$c"),
      (if (exact) countDistinct(col(c))
       else approx_count_distinct(col(c))).as(s"__nd_$c"),
      min(col(c)).cast(StringType).as(s"__min_$c"),
      max(col(c)).cast(StringType).as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col(s"__cnt_$c").as("n_values"),
        col(s"__null_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))): _*)).as("p"))
      .select(col("p.*"))
  }

  /** Bigram language-model fluency scoring — the perplexity-filter shape
    * of a pretraining pipeline (score documents by how predictable their
    * token stream is under a corpus-trained n-gram model), defined so it
    * is EXACT cross-engine: the per-position signal is the conditional
    * relative frequency c(prev,w)/c(prev) — a single rational, one IEEE
    * division — quantized to 1e-12 and summed as integers
    * ([[pageRank]]'s determinism discipline; a log-prob sum would pin the
    * result to libm's ln rounding). Returns (id, n_bigrams, fluency =
    * mean conditional probability; NULL for documents under two tokens).
    * Repeated boilerplate scores near 1, token soup near 0.
    *
    * Scale shape: one bigram explode (corpus-sized, narrow), counts
    * shuffle on the bigram key, prev-counts fold from the bigram counts
    * (vocabulary-sized, never re-reading the corpus), then equi-joins of
    * the bigram stream against both count tables and one per-document
    * rollup. The bigram stream is rebuilt for the probe side rather than
    * cached — two corpus scans, zero pinned memory; persist upstream if
    * the input is expensive to recompute. */
  def bigramFluency(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = filter(split(trim(lower(text)), "\\s+"), t => t =!= lit(""))
    val base = df.select(id.as("id"), toks.as("__t"))
    val idxs = filter(sequence(lit(1), size(col("__t"))), i => i >= 2)
    val bi = base.select(col("id"), explode(transform(idxs,
        i => struct(element_at(col("__t"), i - 1).as("p"),
          element_at(col("__t"), i).as("w")))).as("b"))
      .select(col("id"), col("b.p").as("p"), col("b.w").as("w"))
    val c2 = bi.groupBy(col("p"), col("w")).agg(count(lit(1)).as("__c2"))
    val c1 = c2.groupBy(col("p")).agg(sum(col("__c2")).as("__c1"))
    val scored = bi.join(c2, Seq("p", "w")).join(c1, Seq("p"))
      .withColumn("__q", round((col("__c2").cast(DoubleType) / col("__c1"))
        * 1e12).cast(LongType))
      .groupBy(col("id")).agg(count(lit(1)).as("n_bigrams"),
        sum(col("__q")).as("__sq"))
    df.select(id.as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("__sq").cast(DoubleType) / 1e12 / col("n_bigrams")).as("fluency"))
  }

  /** Interpolated Kneser–Ney bigram scoring — [[bigramFluency]]'s
    * maximum-likelihood estimate upgraded to the smoothing real LM-based
    * quality filters use (the CCNet/KenLM shape): unseen-in-context
    * continuations get probability mass proportional to how PROMISCUOUS
    * the word is across contexts (its distinct-context count), not its
    * raw frequency, and each seen bigram is discounted by `discount` to
    * fund that back-off. Per document: the mean interpolated probability
    * of its bigrams,
    *   P(w|p) = (max(c(p,w) - d, 0) + d * T(p) * (ctx(w) / B)) / c(p)
    * with T(p) = distinct continuations of p, ctx(w) = distinct contexts
    * of w, B = distinct bigram types. Output: (id, n_bigrams, kn_score);
    * documents with no bigram score NULL. The mean stays in PROBABILITY
    * space (like t25) — log/exp would hang cross-engine equality on
    * transcendental rounding — and each probability is quantized to an
    * integer at 1e-12 before the per-document sum, so the aggregation is
    * exact long addition, order-independent on any engine or
    * partitioning.
    *
    * Scale shape: word-count aggregates off one bigram explode (map-side
    * combined, vocabulary-bounded), equi-joins keyed on the bigram
    * tokens, a one-row broadcast for the type total, and a per-document
    * rollup — nothing all-pairs, nothing single-task. */
  def knBigramScore(df: DataFrame, id: Column, text: Column,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val toks = filter(split(trim(lower(text)), "\\s+"), t => t =!= lit(""))
    val base = df.select(id.as("id"), toks.as("__t"))
    val idxs = filter(sequence(lit(1), size(col("__t"))), i => i >= 2)
    val bi = base.select(col("id"), explode(transform(idxs,
        i => struct(element_at(col("__t"), i - 1).as("p"),
          element_at(col("__t"), i).as("w")))).as("b"))
      .select(col("id"), col("b.p").as("p"), col("b.w").as("w"))
    val c2 = bi.groupBy(col("p"), col("w")).agg(count(lit(1)).as("__c2"))
    val byP = c2.groupBy(col("p")).agg(sum(col("__c2")).as("__c1"),
      count(lit(1)).as("__T"))
    val byW = c2.groupBy(col("w")).agg(count(lit(1)).as("__ctx"))
    val bTot = c2.agg(count(lit(1)).as("__B"))
    // the exact expression shape is part of the cross-engine contract:
    // discount and 1e12 are exactly-representable doubles, every term is
    // an IEEE op on integer-valued doubles, and the oracle mirrors the
    // parenthesization operation for operation
    val pkn = (greatest(col("__c2").cast(DoubleType) - lit(discount),
        lit(0.0)) +
      lit(discount) * col("__T").cast(DoubleType) *
        (col("__ctx").cast(DoubleType) / col("__B").cast(DoubleType))) /
      col("__c1").cast(DoubleType)
    val scored = bi.join(c2, Seq("p", "w")).join(byP, Seq("p"))
      .join(byW, Seq("w")).crossJoin(broadcast(bTot))
      .withColumn("__q", round(pkn * 1e12).cast(LongType))
      .groupBy(col("id")).agg(count(lit(1)).as("n_bigrams"),
        sum(col("__q")).as("__sq"))
    df.select(id.as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("__sq").cast(DoubleType) / 1e12 / col("n_bigrams"))
          .as("kn_score"))
  }

  /** Domain-blocklist flags — the crawl-curation kill rule "drop any
    * document citing a blocked host, INCLUDING its subdomains": every
    * `https?` URL's registrable host (leading `www.` stripped) matches a
    * blocklist entry `b` iff host == b or host ends with ".b". Output:
    * one row per input document — (id, n_urls, n_blocked, blocked) —
    * so both the filter (`where(!blocked)`) and the report compose from
    * the same frame.
    *
    * Scale shape: the suffix match is NOT run as an `endsWith` theta
    * join (that is a cartesian against the blocklist at corpus scale) —
    * each host explodes into its <= ~5 label-suffixes ("a.b.c" ->
    * ["a.b.c", "b.c", "c"]) and the match becomes an EQUI-join against
    * the broadcast blocklist; per-doc rollup is one keyed aggregate.
    * The blocklist is a driver-side Seq by signature (block rules are
    * config, not data); a table-sized blocklist would pass the same
    * suffix frame in as a DataFrame and broadcast or shuffle it. */
  def domainBlocklistFlags(df: DataFrame, id: Column, text: Column,
                           blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "blocked must not be empty")
    require(blocked.forall(b => b.nonEmpty && !b.startsWith(".")),
      s"blocklist entries must be bare domains, got $blocked")
    val urls = fanOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(regexp_extract_all(col("__t"),
        lit("https?://[^\\s]+"), lit(0))).as("__url"))
      .select(col("id"),
        regexp_replace(parse_url(col("__url"), lit("HOST")), "^www\\.", "")
          .as("__dom"))
    val sufs = urls.select(col("id"), col("__dom"),
      explode(expr("""transform(sequence(0, size(split(__dom, '\\.')) - 1),
          i -> array_join(slice(split(__dom, '\\.'), i + 1,
                 size(split(__dom, '\\.'))), '.'))""")).as("__suf"))
    val bl = broadcast(df.sparkSession.createDataset(blocked)(
      org.apache.spark.sql.Encoders.STRING).toDF("__suf"))
    val perUrl = sufs.join(bl, Seq("__suf"), "left_semi")
      .select(col("id"), col("__dom")).distinct()
      .withColumn("__blk", lit(1L))
    val perDoc = urls
      .join(perUrl.select(col("id"), col("__dom"), col("__blk")),
        Seq("id", "__dom"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_urls"),
        count_if(col("__blk").isNotNull).as("n_blocked"))
    df.select(id.as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_urls"), lit(0L)).as("n_urls"),
        coalesce(col("n_blocked"), lit(0L)).as("n_blocked"),
        (coalesce(col("n_blocked"), lit(0L)) > 0).as("blocked"))
  }

  /** Token-distribution drift between two corpus slices — the
    * data-quality monitor a pipeline runs between corpus versions /
    * sources / time windows ("did the new crawl change what we train
    * on?"): per token, the triangular-discrimination contribution
    *   drift = (p_a - p_b)^2 / (p_a + p_b)
    * with p = the token's relative frequency in its slice. Triangular
    * discrimination is the RATIONAL-arithmetic member of the
    * f-divergence family (bounds chi-square from below, 2x total
    * variation squared from above) — chosen over PSI/KL for the same
    * reason t25/t40/t41 stay log-free: ln() would hang cross-engine
    * equality on transcendental rounding. Output: the `topK` tokens by
    * drift contribution (quantized at 1e-12 into `drift_q`, the exact
    * integer both engines sort identically) with both raw counts;
    * `total_drift_q` repeats the whole-distribution divergence on every
    * row so one read gives both the headline number and its top causes.
    *
    * Scale shape: two word-count aggregates, a full-outer join on the
    * token (vocabulary-bounded), a one-row broadcast of the totals, and
    * a top-K — the word-count shape end to end. */
  def tokenDistributionDrift(a: DataFrame, textA: Column,
                             b: DataFrame, textB: Column,
                             topK: Int = 20): DataFrame = {
    def toks(df: DataFrame, t: Column): DataFrame =
      fanOut(df.select(t.as("__t")))
        .select(explode(filter(split(trim(lower(col("__t"))), "\\s+"),
          x => x =!= lit(""))).as("token"))
    def counts(df: DataFrame, t: Column): DataFrame =
      toks(df, t).groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    tokenDistributionDriftFromCounts(
      counts(a, textA), counts(b, textB), topK)
  }

  /** [[tokenDistributionDrift]] over PRE-COUNTED token frequencies —
    * each side a (token, cnt) frame. The entry point when the counts
    * come from elsewhere (a streaming word count, a stored vocabulary
    * table): same divergence, same quantization, same ordering. */
  def tokenDistributionDriftFromCounts(a: DataFrame, b: DataFrame,
                                       topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val ca = a.select(col("token"), col("cnt").cast(LongType).as("__ca"))
    val cb = b.select(col("token"), col("cnt").cast(LongType).as("__cb"))
    val joint = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joint.agg(sum(col("__ca")).as("__Na"),
      sum(col("__cb")).as("__Nb"))
    // mirrored IEEE shape: pa = ca/Na, pb = cb/Nb, d = (pa-pb)^2/(pa+pb)
    val pa = col("__ca").cast(DoubleType) / col("__Na").cast(DoubleType)
    val pb = col("__cb").cast(DoubleType) / col("__Nb").cast(DoubleType)
    val d = (pa - pb) * (pa - pb) / (pa + pb)
    val scored = joint.crossJoin(broadcast(totals))
      .withColumn("drift_q", round(d * 1e12).cast(LongType))
    val totalRow = scored.agg(sum(col("drift_q")).as("total_drift_q"))
    // TakeOrderedAndProject top-K (distributed partial top-K per task),
    // NOT a vocabulary-wide single-partition window; the rank window
    // then runs over <= topK rows only
    scored.crossJoin(broadcast(totalRow))
      .orderBy(col("drift_q").desc, col("token"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("drift_q").desc, col("token"))).cast(LongType))
      .select(col("token"), col("__ca").as("cnt_a"), col("__cb").as("cnt_b"),
        col("drift_q"), col("total_drift_q"), col("rank"))
  }

  /** Frame-level media near-dedup — the video-dedup shape: two media
    * items are near-duplicates when they SHARE sampled frames (re-encodes,
    * trims, and re-uploads keep most frame content identical under a
    * robust frame hash). Input: one row per (media, frame hash); output:
    * media pairs (id_a < id_b) sharing at least `minShared` frames, with
    * the shared count. The frame-hash inverted index joins media through
    * frames — never an all-pairs comparison — and frames shared by more
    * than `maxFrameDf` media are dropped first: a boilerplate frame (black
    * frame, title card) would otherwise fan a single hash bucket into a
    * quadratic pair stream, the same hot-bucket hazard `nearDupPairs`
    * guards with maxBucketSize, here resolved by the BM25-style document-
    * frequency cap (such frames carry no dedup signal anyway).
    *
    * Scale shape: one frame-frequency aggregate, one self-join keyed on
    * the frame hash (bucket cost Σ df² bounded by maxFrameDf), one pair
    * rollup — all keyed exchanges. */
  def frameNearDupPairs(frames: DataFrame, id: Column, frameHash: Column,
                        minShared: Int = 2,
                        maxFrameDf: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxFrameDf >= 2, s"maxFrameDf must be >= 2, got $maxFrameDf")
    val f = frames.select(id.as("__id"), frameHash.as("__fh"))
      // a medium repeating a frame must not double-count the share
      .distinct()
    val keep = f.groupBy(col("__fh"))
      .agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") <= maxFrameDf && col("__df") >= 2)
      .select(col("__fh"))
    val kept = f.join(keep, Seq("__fh"))
    kept.as("a").join(kept.as("b"),
        col("a.__fh") === col("b.__fh") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .where(col("n_shared_frames") >= minShared)
  }

  /** Near-duplicate pairs over a PERCEPTUAL HASH column (pHash/dHash/PDQ
    * dedup, the image/video analogue of MinHash): each <=62-bit hash is
    * cut into `bands` contiguous `bitsPerBand`-bit keys; media sharing
    * ANY band key become candidates (the banded-LSH union join — two
    * hashes within hamming distance d collide on some band whenever the
    * d flipped bits miss one band, certain for d < bands by pigeonhole);
    * candidates are verified with an exact popcount
    * `bit_count(h_a XOR h_b) <= maxHamming`. Output: (id_a, id_b,
    * hamming), id_a < id_b, verified pairs only.
    *
    * Scale shape: band-key equi-joins only, NEVER all-pairs — cost
    * tracks the per-bucket quadratic exactly like [[nearDupPairs]], so
    * the same skew rule applies: a hash family that collapses (e.g.
    * near-constant inputs hashing to 0) makes hot buckets; price the
    * banding with a bucket-stats probe first and filter degenerate
    * inputs (the mm05 gate keeps only media with enough content to fill
    * the hash). The verify is a codegen'd popcount on the pair stream —
    * no re-fetch of the media. */
  def hammingNearDupPairs(df: DataFrame, id: Column, phash: Column,
                          bands: Int = 4, bitsPerBand: Int = 15,
                          maxHamming: Int = 6): DataFrame = {
    require(bands >= 2, s"bands must be >= 2, got $bands")
    require(bitsPerBand >= 1 && bands * bitsPerBand <= 62,
      s"bands*bitsPerBand must fit a signed long without the sign bit, " +
        s"got $bands x $bitsPerBand")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val h = df.select(id.as("__id"), phash.cast(LongType).as("__h"))
    val banded = h.select(col("__id"), col("__h"),
      explode(array((0 until bands).map { i =>
        struct(lit(i).as("__b"),
          shiftrightunsigned(col("__h"), bitsPerBand * i)
            .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("__k"))
      }: _*)).as("__bk"))
      .select(col("__id"), col("__h"),
        col("__bk.__b").as("__b"), col("__bk.__k").as("__k"))
    banded.as("a").join(banded.as("b"),
        col("a.__b") === col("b.__b") && col("a.__k") === col("b.__k") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__h").as("__ha"), col("b.__h").as("__hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Canonical text normalization — the cleaning primitive that runs
    * BEFORE any hash-keyed stage (fingerprints, minhash shingles,
    * boilerplate chunk frequency): typographic quotes to straight
    * quotes, en/em/horizontal-bar dashes to '-', control characters to
    * spaces, whitespace runs collapsed, ends trimmed. Without it, a
    * smart-quoted copy of a document hashes as a distinct document and
    * every dedup stage silently under-merges. IDEMPOTENT by
    * construction (normalize . normalize == normalize — spec-pinned),
    * so re-running a pipeline over partially-cleaned data is safe. A
    * pure narrow expression chain: no UDF, no exchange. */
  def normalizeText(text: Column): Column = {
    val quotes1 = regexp_replace(text, "[‘’‚‛]", "'")
    val quotes2 = regexp_replace(quotes1, "[“”„‟]", "\"")
    val dashes = regexp_replace(quotes2, "[–—―]", "-")
    val ctrl = regexp_replace(dashes, "[\\x00-\\x1F\\x7F]", " ")
    trim(regexp_replace(ctrl, "\\s+", " "))
  }

  /** Checksum-validated payment-card detection — the precision tier of
    * PII scanning: a bare 16-digit regex (the t09 recall tier) flags
    * order numbers and tracking codes too, so real compliance pipelines
    * gate matches on the Luhn check (ISO/IEC 7812) before redacting or
    * quarantining. Reports per document the 16-digit candidate count
    * and how many pass Luhn — all inside one codegen'd projection (the
    * 16-term doubled-digit sum is unrolled per candidate in a
    * higher-order filter; no UDF, no exchange, no shuffle).
    * Output: (id, n_card_like, n_luhn_valid). */
  def luhnCardFlags(df: DataFrame, id: Column, text: Column): DataFrame = {
    def luhnOk(c: Column): Column = {
      val total = (0 until 16).map { i =>
        val d = substring(c, i + 1, 1).cast(IntegerType)
        // position from the RIGHT is 16-i: Luhn doubles every second
        // digit from the right, i.e. even 0-based-left indexes here
        if (i % 2 == 0) { val dd = d * 2; when(dd > 9, dd - 9).otherwise(dd) }
        else d
      }.reduce(_ + _)
      total % 10 === 0
    }
    fanOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"),
        regexp_extract_all(col("__t"), lit("\\b\\d{16}\\b"), lit(0))
          .as("__cands"))
      .select(col("id"),
        size(col("__cands")).cast(LongType).as("n_card_like"),
        size(filter(col("__cands"), c => luhnOk(c))).cast(LongType)
          .as("n_luhn_valid"))
  }

  /** Exact tie-aware ROC AUC per group — the classifier-evaluation step
    * a quality-filter pipeline runs before trusting a scorer's
    * threshold (t18's hashed classifier, a fluency LM, any ranking
    * signal) against a weak label. Mann–Whitney form with average-rank
    * tie handling, computed from the per-(group, score) HISTOGRAM:
    * won2 = 2*sum_s[p_s * cumneg(<s)] + sum_s[p_s * n_s] (wins double,
    * ties single), AUC = won2 / (2 * P * N) — all-integer until one
    * final division, so cross-engine exact. Groups with a single class
    * report NULL (AUC undefined).
    *
    * Scale shape: the corpus collapses to the (group, score) histogram
    * in one map-side-combined aggregate; the prefix sum then windows
    * over HISTOGRAM rows partitioned by group — score cardinality per
    * group, never corpus rows, and never a single global partition. */
  def binaryAucPerGroup(df: DataFrame, group: Column, score: Column,
                        label: Column): DataFrame = {
    val h = df
      .select(group.as("grp"), score.as("__s"),
        label.cast(BooleanType).as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(col("grp"), col("__s"))
      .agg(count_if(col("__y")).as("__p"), count_if(!col("__y")).as("__n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("__cumn", coalesce(sum(col("__n")).over(w), lit(0L)))
      .groupBy(col("grp"))
      .agg(sum(col("__p")).as("n_pos"), sum(col("__n")).as("n_neg"),
        sum(col("__p") * (col("__cumn") * 2 + col("__n"))).as("__won2"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("__won2").cast(DoubleType) /
            (col("n_pos") * col("n_neg") * 2).cast(DoubleType))
          .as("auc"))
  }

  /** Per-slice n-gram repetition profile — the compressibility /
    * "dedup dividend" estimator a curation pipeline reads before
    * spending on dedup: for each group and each n in 1..maxN, the total
    * n-gram instance count, the DISTINCT n-gram count, and
    * repetition_ratio = 1 - distinct/total (0 = all-unique text, ->1 =
    * heavy repetition; rising ratio at higher n means repeated PHRASES,
    * not just a small vocabulary). Output: (grp, n, total_ngrams,
    * distinct_ngrams, repetition_ratio).
    *
    * Scale shape: one explode per n over the token stream and a keyed
    * distinct aggregate — the distinct count is the one corpus-sized
    * exchange. Exact by default (the gate's contract); pass
    * `approxDistinct = true` to swap in the k-bounded
    * [[graft.functions.KmvCountDistinct]] sketch when the gram space
    * itself is the scale problem — partial state is then `approxK`
    * entries per (grp, n) regardless of gram volume, at
    * ~1/sqrt(approxK) relative error on distinct_ngrams (and an error
    * on repetition_ratio bounded by the same factor of distinct/total,
    * spec-pinned in ApproxAggSpec). */
  def ngramRepetitionProfile(df: DataFrame, group: Column, text: Column,
                             maxN: Int = 3,
                             approxDistinct: Boolean = false,
                             approxK: Int = 8192): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in 1..8, got $maxN")
    val base = fanOut(df.select(group.as("grp"), text.as("__t")))
      .select(col("grp"), split(trim(col("__t")), "\\s+").as("__w"))
    val perN = (1 to maxN).map { n =>
      base.where(size(col("__w")) >= n)
        .select(col("grp"), lit(n).as("n"),
          explode(expr(s"transform(sequence($n, size(__w)), " +
            s"i -> array_join(slice(__w, i - $n + 1, $n), ' '))")).as("__g"))
    }
    // the per-(grp, n) distinct is the one corpus-sized exchange here:
    // exact `countDistinct` shuffles every distinct gram (gram-space can
    // approach corpus size); `approxDistinct = true` swaps in the
    // fixed-size KMV sketch (~1/sqrt(approxK) relative error, default
    // ~1.1%), whose partial aggregates are k-bounded regardless of gram
    // volume — the scale route when the profile feeds thresholding
    // rather than an exact report (error bound spec-pinned in
    // ApproxAggSpec).
    val distinctAgg =
      if (approxDistinct)
        graft.functions.KmvCountDistinct.kmvCountDistinct(col("__g"), approxK)
      else countDistinct(col("__g"))
    perN.reduce(_ unionAll _)
      .groupBy(col("grp"), col("n"))
      .agg(count(lit(1)).as("total_ngrams"),
        distinctAgg.as("distinct_ngrams"))
      .withColumn("repetition_ratio",
        lit(1.0) - col("distinct_ngrams").cast(DoubleType) /
          col("total_ngrams").cast(DoubleType))
  }

  /** Importance weighting for targeted data selection (the DSIR shape,
    * Xie et al. 2023: score raw-corpus documents by how target-like
    * their hashed n-gram distribution is, then sample by weight): each
    * corpus document gets the mean likelihood RATIO of its word bigrams
    * under an add-one-smoothed target LM vs the corpus LM,
    *   r(ng) = ((c_t(ng)+1) / (N_t+V)) / ((c_c(ng)+1) / (N_c+V))
    * with V = the joint bigram vocabulary. Documents whose bigrams are
    * characteristic of `target` score above 1, generic ones near or
    * below it — the ranking signal "train on data that looks like the
    * target domain". DSIR proper sums LOG ratios; the mean stays in
    * ratio space here for the same reason t25/t40 stay in probability
    * space — ln() would hang cross-engine equality on transcendental
    * rounding — and each ratio is quantized to an integer at 1e-12
    * before the per-document sum (exact long addition, order-independent
    * on any partitioning). Output: (id, n_ngrams, importance); corpus
    * docs with no bigram score NULL.
    *
    * Scale shape: two vocabulary-bounded word-count aggregates, one
    * full-outer join building the joint frequency table, and the
    * per-document rollup (map-side combined on id). The per-instance
    * score join — corpus bigram STREAM x joint frequency TABLE — is the
    * one stage that would otherwise exchange corpus-linear rows, so it
    * is size-gated like jaccardVerify: when the joint vocabulary fits
    * `broadcastVocabLimit` entries (it is vocabulary-bounded — real
    * corpora grow it sublinearly) the table broadcasts and the corpus
    * stream never shuffles at all (the id rollup partially aggregates
    * map-side to ~n_docs rows per partition before its exchange);
    * beyond the limit the shuffled equi-join is the bounded-memory
    * fallback. Measured at the 10x stress: 4.1x -> ~1x once the stream
    * exchange went away.
    *
    * EAGER like [[heavyHitters]]: the (V, N_t, N_c) smoothing totals
    * come from one bounded single-row probe at call time (they must be
    * literals for the size gate to pick a join strategy), so the input
    * must be deterministic across the probe and the returned frame's
    * execution — cache upstream non-determinism first. */
  def importanceWeights(corpus: DataFrame, id: Column, text: Column,
                        target: DataFrame, targetText: Column,
                        broadcastVocabLimit: Long = 1000000L): DataFrame = {
    def bigramsOf(t: Column): Column = {
      val toks = filter(split(trim(lower(t)), "\\s+"), x => x =!= lit(""))
      transform(filter(sequence(lit(1), size(toks)), i => i >= 2),
        i => concat(element_at(toks, i - 1), lit(" "), element_at(toks, i)))
    }
    val corpusBi = fanOut(corpus.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(bigramsOf(col("__t"))).as("__ng"))
    val targetBi = fanOut(target.select(targetText.as("__t")))
      .select(explode(bigramsOf(col("__t"))).as("__ng"))
    val ct = targetBi.groupBy(col("__ng")).agg(count(lit(1)).as("__ct"))
    val cc = corpusBi.groupBy(col("__ng")).agg(count(lit(1)).as("__cc"))
    // persisted (MEMORY_ONLY, evictable): the bounded probe below
    // executes this count pipeline at call time, and the returned
    // frame's scoring join reads it AGAIN — without the persist the
    // whole bigram-count stage (both corpora exploded to bigrams,
    // two aggregates, a full-outer join) ran twice per call (r19).
    // The frame is vocabulary-sized (the broadcast side when small),
    // the same bounded-cache stance as jaccardVerify's pairs.
    val joint = ct.join(cc, Seq("__ng"), "full_outer")
      .select(col("__ng"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cc"), lit(0L)).as("__cc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // bounded single-row probe: smoothing totals as literals + the
    // vocabulary size that decides the join strategy below
    val t0 = joint.agg(count(lit(1)).as("__V"),
      coalesce(sum(col("__ct")), lit(0L)).as("__Nt"),
      coalesce(sum(col("__cc")), lit(0L)).as("__Nc")).head()
    val (vocab, nt, nc) = (t0.getLong(0), t0.getLong(1), t0.getLong(2))
    // IEEE expression shape is the cross-engine contract (t40's stance):
    // pt = (ct+1)/(Nt+V), pc = (cc+1)/(Nc+V), r = pt / pc — operand
    // VALUES identical to the former column form, so scores are
    // bit-identical either way
    val pt = (col("__ct") + lit(1L)).cast(DoubleType) /
      lit(nt + vocab).cast(DoubleType)
    val pc = (col("__cc") + lit(1L)).cast(DoubleType) /
      lit(nc + vocab).cast(DoubleType)
    val jointSide =
      if (vocab <= broadcastVocabLimit) broadcast(joint) else joint
    val scored = corpusBi.join(jointSide, Seq("__ng"))
      .withColumn("__q", round((pt / pc) * 1e12).cast(LongType))
      .groupBy(col("id")).agg(count(lit(1)).as("n_ngrams"),
        sum(col("__q")).as("__sq"))
    corpus.select(id.as("id")).join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        (col("__sq").cast(DoubleType) / 1e12 / col("n_ngrams"))
          .as("importance"))
  }

  /** Vocabulary-coverage / out-of-vocabulary statistics per document:
    * (id, n_tokens, n_oov, oov_rate) — the tokenizer-fit signal a corpus
    * pipeline computes before committing to a vocabulary (high OOV =
    * wasted UNK tokens downstream). `vocab` is a caller-supplied frame of
    * in-vocabulary tokens (deduplicated here).
    *
    * Scale shape: a real vocabulary is bounded (tokenizers cap at ~10^5-6
    * entries), so the membership check is a broadcast hash join against
    * the exploded token stream — the corpus side stays narrow and the only
    * exchange is the per-document rollup, partially aggregated map-side. */
  def oovStats(df: DataFrame, id: Column, text: Column,
               vocab: DataFrame, vocabToken: Column): DataFrame = {
    val v = vocab.select(vocabToken.as("__tok")).distinct()
      .withColumn("__in_v", lit(1))
    fanOut(df.select(id.as("id"), text.as("__t")))
      .select(col("id"), explode(split(trim(col("__t")), "\\s+")).as("__tok"))
      .join(broadcast(v), Seq("__tok"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        count_if(col("__in_v").isNull).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast(DoubleType) / col("n_tokens"))
  }

  /** Normalized-content fingerprints appended to the input frame. */
  def fingerprint(df: DataFrame, text: Column): DataFrame = {
    val norm = regexp_replace(trim(text), "\\s+", " ")
    df.withColumns(Map(
      "fp_md5" -> md5(norm),
      "fp_int60" -> conv(substring(md5(norm), 1, 15), 16, 10).cast(LongType)))
  }

  /** Sequence packing — the concat-and-chop layout a pretraining pipeline
    * computes before writing training shards: documents are ordered by
    * `id`, their token streams conceptually concatenated, and the stream
    * chopped into fixed sequences of `capacity` tokens (documents straddle
    * sequence boundaries, the standard packing). Returns one row per input
    * row: (id, n_tokens, start_tok, seq_first, off_first, seq_last,
    * n_seqs) — everything a shard writer needs to place each document.
    * `id` values must be unique (ties would make the prefix sum
    * order-dependent); zero-token rows get n_seqs = 0 at their stream
    * position.
    *
    * The global prefix sum is computed scalably — NOT as a global-window
    * single-reducer sort: (1) each row gets a range-bucket id computed
    * from the VALUE of a numeric `id` against the broadcast (min, max) —
    * deterministic, and satisfiable by ONE hash exchange (an earlier
    * formulation range-partitioned first and then windowed on
    * `spark_partition_id`, which forced a SECOND full corpus exchange —
    * `RangePartitioning` cannot serve a `ClusteredDistribution` on the
    * partition id — and made bucket bounds depend on runtime sampling);
    * (2) a window per bucket computes local prefix sums; (3) per-bucket
    * totals (one row each) get their own prefix sum — a window over
    * `partitions` rows, trivially small — and broadcast-join back as
    * offsets. The corpus is exchanged exactly once; nothing funnels
    * through one task.
    *
    * Bucket bounds are approximate QUANTILES of an order-preserving
    * numeric proxy of the id (numeric ids cast directly; string ids map
    * through their zero-padded first 8 bytes, monotone because engine
    * string order is unsigned-byte-lexicographic; date/timestamp through
    * epoch), computed in-plan by `percentile_approx` and broadcast — so
    * bucket SIZES track the actual id distribution: sparse clustered ids
    * (e.g. {1..10^6} plus one id near 2^50, which put everything in one
    * equal-width bucket) still split evenly. The proxy is monotone
    * non-strict (ties past 8 string bytes or past 2^53 share a proxy and
    * hence a bucket); the within-bucket window orders by the FULL id, so
    * the global order is exact regardless of proxy ties. */
  def packSequences(df: DataFrame, id: Column, nTokens: Column,
                    capacity: Long, partitions: Int = 0): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val base0 = df.select(id.as("id"), nTokens.cast(LongType).as("n_tokens"))
    val proxy: Column = base0.schema("id").dataType match {
      case _: NumericType => col("id").cast(DoubleType)
      case StringType =>
        conv(hex(expr("rpad(encode(id, 'UTF-8'), 8, x'00')")), 16, 10)
          .cast(DoubleType)
      case DateType => col("id").cast(TimestampType).cast(DoubleType)
      case TimestampType => col("id").cast(DoubleType)
      case other => throw new IllegalArgumentException(
        s"packSequences: id must be numeric, string, date, or timestamp " +
          s"(got $other); the range-bucket prefix sum orders by id")
    }
    val base =
      if (p <= 1) base0.withColumn("__pid", lit(0))
      else {
        val probs = array((1 until p).map(k => lit(k.toDouble / p)): _*)
        val bounds = base0
          .agg(percentile_approx(proxy, probs, lit(10000)).as("__bnds"))
        base0.withColumn("__proxy", proxy)
          .crossJoin(broadcast(bounds))
          .withColumn("__pid",
            size(filter(col("__bnds"), b => b <= col("__proxy")))
              .cast(IntegerType))
          .drop("__proxy", "__bnds")
      }
    val w = Window.partitionBy(col("__pid")).orderBy(col("id"))
    val local = base.withColumn("__cum", sum(col("n_tokens")).over(w))
    val wPid = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptot"))
      .withColumn("__poff", coalesce(sum(col("__ptot")).over(wPid), lit(0L)))
      .select(col("__pid"), col("__poff"))
    // integer DIV, not double division: offsets stay exact past 2^53
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn("start_tok", col("__poff") + col("__cum") - col("n_tokens"))
      .withColumn("__end_tok",
        col("start_tok") + greatest(col("n_tokens"), lit(1L)) - 1)
      .withColumn("seq_first", expr(s"start_tok DIV $capacity"))
      .withColumn("off_first", pmod(col("start_tok"), lit(capacity)))
      .withColumn("seq_last", expr(s"__end_tok DIV $capacity"))
      .withColumn("n_seqs",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(col("seq_last") - col("seq_first") + 1))
      .select("id", "n_tokens", "start_tok", "seq_first", "off_first",
        "seq_last", "n_seqs")
  }

  /** Greedy token-budget curation — keep the best-scoring documents until
    * a global token budget fills: the data-curation selection behind
    * "train on the best N tokens" (quality-ranked subsampling to a
    * compute budget). Documents are taken in (score DESC NULLS LAST,
    * id ASC) order — fully deterministic, ties included — and a document
    * is kept iff the running token total INCLUDING it stays within
    * `budget`. Returns the kept rows as (id, score, n_tokens,
    * cum_tokens); zero-token documents inside the kept prefix ride along
    * free.
    *
    * Scale shape ([[packSequences]]' discipline): NO global sort — score
    * quantile bounds (percentile_approx, broadcast) range-bucket the
    * corpus, the running sum is a within-bucket window ordered by
    * (score, id), and bucket totals get their own tiny prefix-sum window
    * and broadcast back as offsets; the corpus is exchanged exactly once
    * and nothing funnels through one task. Equal scores always share a
    * bucket (bucketing is a pure function of the score value), so the
    * bucketed running sum equals the global-sort form exactly. That
    * parity includes NaN scores: Spark's comparison operators use the
    * same NaN-greatest total order as its sorts (NaN > every double,
    * NaN = NaN), so the band predicate `bound <= score` is true for NaN
    * against every bound and NaN rows land in the top band leading the
    * prefix — exactly their global-sort DESC position (pinned by
    * GraftApiSpec's NaN parity test). */
  def selectByTokenBudget(df: DataFrame, id: Column, score: Column,
                          nTokens: Column, budget: Long,
                          partitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val base0 = df.select(id.as("id"), score.cast(DoubleType).as("score"),
      nTokens.cast(LongType).as("n_tokens"))
    val base =
      if (p <= 1) base0.withColumn("__pid", lit(0))
      else {
        val probs = array((1 until p).map(k => lit(k.toDouble / p)): _*)
        val bounds = base0
          .agg(percentile_approx(col("score"), probs, lit(10000)).as("__bnds"))
        // higher pid = higher score band; null scores land in pid -1 and
        // sort after everything (they can never be kept before non-nulls,
        // matching DESC NULLS LAST exactly)
        base0.crossJoin(broadcast(bounds))
          .withColumn("__pid",
            when(col("score").isNull, lit(-1))
              .otherwise(size(filter(col("__bnds"), b => b <= col("score")))
                .cast(IntegerType)))
          .drop("__bnds")
      }
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("score").desc_nulls_last, col("id"))
    val local = base.withColumn("__cum", sum(col("n_tokens")).over(w))
    val wPid = Window.orderBy(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptot"))
      .withColumn("__poff", coalesce(sum(col("__ptot")).over(wPid), lit(0L)))
      .select(col("__pid"), col("__poff"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn("cum_tokens", col("__poff") + col("__cum"))
      .where(col("cum_tokens") <= budget)
      .select(col("id"), col("score"), col("n_tokens"), col("cum_tokens"))
  }

  /** Per-group token-budget curation — [[selectByTokenBudget]] with an
    * independent budget per group: the per-language / per-source token
    * quota a mixture-controlled training corpus is actually built with
    * (the token-weighted extension of the doc-count quota in
    * `quotaPerGroup`). Within each group, documents are taken in
    * (score DESC NULLS LAST, id ASC) order and kept while the group's
    * running token total stays within `budget`. Returns kept rows as
    * (group, id, score, n_tokens, cum_tokens).
    *
    * Same no-global-sort shape: score-quantile bounds (computed over the
    * whole corpus — they only need to be consistent cuts, not per-group
    * quantiles) bucket rows into (group, band) windows; per-(group, band)
    * totals get a per-group prefix-sum window over a groups x bands frame
    * and broadcast back. One corpus exchange, nothing group-global. */
  def selectByTokenBudgetPerGroup(df: DataFrame, id: Column, group: Column,
                                  score: Column, nTokens: Column,
                                  budget: Long,
                                  partitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val base0 = df.select(group.as("grp"), id.as("id"),
      score.cast(DoubleType).as("score"), nTokens.cast(LongType).as("n_tokens"))
    val base =
      if (p <= 1) base0.withColumn("__pid", lit(0))
      else {
        val probs = array((1 until p).map(k => lit(k.toDouble / p)): _*)
        val bounds = base0
          .agg(percentile_approx(col("score"), probs, lit(10000)).as("__bnds"))
        base0.crossJoin(broadcast(bounds))
          .withColumn("__pid",
            when(col("score").isNull, lit(-1))
              .otherwise(size(filter(col("__bnds"), b => b <= col("score")))
                .cast(IntegerType)))
          .drop("__bnds")
      }
    val w = Window.partitionBy(col("grp"), col("__pid"))
      .orderBy(col("score").desc_nulls_last, col("id"))
    val local = base.withColumn("__cum", sum(col("n_tokens")).over(w))
    val wPid = Window.partitionBy(col("grp")).orderBy(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("grp"), col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptot"))
      .withColumn("__poff", coalesce(sum(col("__ptot")).over(wPid), lit(0L)))
      .select(col("grp"), col("__pid"), col("__poff"))
    local.join(broadcast(offsets), Seq("grp", "__pid"))
      .withColumn("cum_tokens", col("__poff") + col("__cum"))
      .where(col("cum_tokens") <= budget)
      .select(col("grp"), col("id"), col("score"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Exact heavy hitters over a token stream, found WITHOUT shuffling the
    * full vocabulary: every token whose exact count strictly exceeds
    * `total / k`, with its exact count — the canonical two-pass
    * sketch-then-verify reduction ([[contaminationBloom]]'s stance applied
    * to frequency): a mergeable Misra–Gries sketch
    * ([[graft.functions.MgFrequencySketch]], `counters` counters, default
    * `8 * k`) finds a candidate SUPERSET in one pass — the MG bound
    * guarantees any token with count > total/(counters+1) survives, and
    * `counters >= k` makes that threshold at most total/k — then a second
    * pass counts ONLY the candidates exactly and keeps those over the
    * threshold. The output is therefore exact and partitioning-independent
    * even though the sketch's internal estimates are not. Output:
    * (token, cnt), cnt DESC, token ASC. NULL tokens are excluded from both
    * the count and the total.
    *
    * Scale shape: pass 1 is an ObjectHashAggregate whose partial phase
    * reduces each map task to one <= `counters`-entry state — the shuffle
    * carries one small buffer per partition, vs the exact
    * `groupBy(token)`'s full-vocabulary exchange ([[t04TopTokens]]'
    * shape, fine until the vocabulary itself is 100 TB-scale). Pass 2
    * pushes an IN-list of <= `counters` candidates into the scan, so the
    * verify aggregation touches only candidate rows. The one collect is a
    * single row bounded at `counters` entries by construction (the
    * hybrid-probe discipline).
    *
    * EAGER, unlike most Graft APIs: the sketch pass executes a Spark job
    * AT CALL TIME (the bounded single-row collect above), and the
    * returned frame's verify pass re-reads `df` when executed — TWO
    * passes over the same input. Exactness therefore requires both
    * passes to see the SAME rows: a non-deterministic source (fresh
    * `rand()` column, re-read of a mutating table) voids the superset
    * guarantee. Pass a deterministic input, or `.cache()` it first. */
  def heavyHitters(df: DataFrame, token: Column, k: Int,
                   counters: Int = 0): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val m = if (counters > 0) counters else 8 * k
    require(m >= k, s"counters must be >= k=$k for the superset guarantee, got $m")
    val toks = df.select(token.as("token")).where(col("token").isNotNull)
    val sk = toks
      .agg(graft.functions.MgFrequencySketch.mgSketch(col("token"), m).as("s"))
      .select(col("s.total").as("total"), col("s.candidates.token").as("cands"))
      .head()
    val total = sk.getLong(0)
    val cands = sk.getSeq[String](1)
    // candidate filter: an IN-list folds into the scan and is ideal up
    // to ~1k entries; past that the expression bloats codegen, so large
    // counter budgets switch to a broadcast semi join on the candidate
    // frame (same pushable-membership semantics, size-gated like the
    // jaccard-verify broadcast)
    val candFiltered =
      if (cands.isEmpty) toks.where(lit(false))
      else if (cands.size <= 1000) toks.where(col("token").isin(cands: _*))
      else toks.join(
        broadcast(df.sparkSession.createDataset(cands)(
          org.apache.spark.sql.Encoders.STRING).toDF("token")),
        Seq("token"), "left_semi")
    candFiltered
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * k > total)
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Frequency-ranked vocabulary construction to a coverage target — the
    * tokenizer-vocab selection step ("the smallest vocabulary covering
    * 99.9% of token occurrences"): token counts are taken in (cnt DESC,
    * token ASC) order and a token is kept iff the running total BEFORE it
    * is still below `coverage * total` — i.e. the minimal deterministic
    * prefix whose cumulative count reaches the target. Returns the kept
    * vocabulary as (token, cnt, cum_cnt).
    *
    * Scale shape ([[selectByTokenBudget]]'s discipline): NO global sort of
    * the vocabulary — count-quantile bounds (percentile_approx, computed
    * in the same aggregate pass as the grand total, broadcast) range-band
    * the vocabulary, the running sum is a within-band window ordered by
    * (cnt DESC, token), and band totals get their own tiny prefix-sum
    * window broadcast back as offsets. Equal counts always share a band
    * (banding is a pure function of the count), so the bucketed running
    * sum equals the global-sort form exactly. The counted vocabulary is
    * persisted MEMORY_ONLY for the duration of the plan (it is referenced
    * by the bounds pass, the window, and the offsets join);
    * `.unpersist()` the returned frame's source when looping corpora. */
  def vocabularyCoverage(df: DataFrame, token: Column, coverage: Double,
                         partitions: Int = 0): DataFrame = {
    require(coverage > 0.0 && coverage <= 1.0,
      s"coverage must be in (0, 1], got $coverage")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sparkContext.defaultParallelism
    val counts = df.select(token.as("token")).where(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val probs = array((1 until math.max(p, 2)).map(k =>
      lit(k.toDouble / math.max(p, 2))): _*)
    val bounds = counts.agg(
      percentile_approx(col("cnt"), probs, lit(10000)).as("__bnds"),
      sum(col("cnt")).as("__tot"))
    // higher band id = higher count; ties share a band by construction
    val base = counts.crossJoin(broadcast(bounds))
      .withColumn("__pid",
        size(filter(col("__bnds"), b => b <= col("cnt"))).cast(IntegerType))
      .drop("__bnds")
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("cnt").desc, col("token"))
    val local = base.withColumn("__cum", sum(col("cnt")).over(w))
    val wPid = Window.orderBy(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col("cnt")).as("__ptot"))
      .withColumn("__poff", coalesce(sum(col("__ptot")).over(wPid), lit(0L)))
      .select(col("__pid"), col("__poff"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn("cum_cnt", col("__poff") + col("__cum"))
      .where((col("cum_cnt") - col("cnt")).cast(DoubleType) <
        lit(coverage) * col("__tot").cast(DoubleType))
      .select(col("token"), col("cnt"), col("cum_cnt"))
  }

  /** Per-group distinctive terms — the TF-IDF family signal a corpus
    * pipeline uses to characterize a slice (language, source, cluster):
    * for each group, the `topK` tokens by score = tf_group / df_corpus
    * (group term frequency weighted by RAW inverse document frequency).
    * The raw-idf variant is deliberate: the score is ONE IEEE division of
    * two exact integers, so it is bit-identical on any engine, where
    * ln(N/df) would hang the ranking on transcendental-function rounding;
    * swapping in a log-idf changes only this one line of scoring. Ties
    * break on the token. Output: (grp, token, tf, df, score, rank).
    *
    * Scale shape: two word-count aggregates (map-side combined) off one
    * token explode, an equi-join keyed on the token, and a per-group
    * top-K window — group cardinality bounds the window partitions, the
    * vocabulary bounds the join, nothing is all-pairs or single-task. */
  def distinctiveTerms(df: DataFrame, id: Column, text: Column,
                       group: Column, topK: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = fanOut(df.select(id.as("__id"), group.as("grp"), text.as("__t")))
      .select(col("__id"), col("grp"),
        explode(split(trim(col("__t")), "\\s+")).as("token"))
      // an empty/whitespace-only document splits to [""]; "" is not a term
      // and would otherwise top a mostly-empty group's ranking
      .where(col("token") =!= "")
    val tf = toks.groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("token"))
      .agg(countDistinct(col("__id")).as("df"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .withColumn("score", col("tf").cast(DoubleType) / col("df"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= topK)
      .select(col("grp"), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Per-domain aggregation of the URLs mentioned in a corpus — the
    * crawl-curation signal (which hosts dominate, which are cited once):
    * every `https?` URL in `text` is extracted, reduced to its registrable
    * host (leading `www.` stripped), and aggregated to
    * (domain, n_urls, n_docs, urls_per_doc). One explode + one keyed
    * aggregate — the word-count shape, map-side combined. */
  def domainStats(df: DataFrame, id: Column, text: Column): DataFrame =
    fanOut(df.select(id.as("__id"), text.as("__t")))
      .select(col("__id"), explode(regexp_extract_all(col("__t"),
        lit("https?://[^\\s]+"), lit(0))).as("__url"))
      .select(col("__id"),
        regexp_replace(parse_url(col("__url"), lit("HOST")), "^www\\.", "")
          .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("__id")).as("n_docs"))
      .withColumn("urls_per_doc",
        col("n_urls").cast(DoubleType) / col("n_docs"))

  // ------------------------------------------- snapshots & table history

  /** Change-data-capture diff of two snapshots of the same logical table:
    * one row per key whose content differs between them, classified
    * `added` / `removed` / `changed`, with the compared columns from both
    * sides as `old_<c>` / `new_<c>`. Unchanged keys are absent — the
    * output is the minimal delta an incremental downstream consumer
    * replays instead of recomputing from the full new snapshot.
    *
    * Column comparison is null-safe (a NULL-to-value transition is a
    * change; NULL-to-NULL is not). Keys must identify at most one row per
    * snapshot — duplicate keys make a diff ill-defined; aggregate first —
    * and should be non-null: the key equi-join cannot match NULL to NULL,
    * so a null-keyed row reports as removed + added rather than changed.
    *
    * Scale shape: ONE full-outer equi-join on the key — each side
    * shuffles once, nothing is collected, and the output is proportional
    * to the churn rather than the table. This is the standard
    * snapshot-reconciliation shape at 100 TB; with both snapshots stored
    * bucketed+sorted by the key the exchanges drop out entirely. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff: keys must be non-empty")
    require(compareCols.nonEmpty, "snapshotDiff: compareCols must be non-empty")
    val outNames = compareCols.flatMap(c => Seq(s"old_$c", s"new_$c"))
    val clash = (outNames :+ "change").filter(keys.contains)
    require(clash.isEmpty,
      s"snapshotDiff: key column(s) ${clash.mkString(", ")} collide with " +
        "the old_/new_/change output names")
    val taken = keys.toSet ++ outNames
    val po = freshName("__in_old", taken)
    val pn = freshName("__in_new", taken + po)
    val o = oldSnap.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"old_$c")): _*).withColumn(po, lit(1))
    val n = newSnap.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"new_$c")): _*).withColumn(pn, lit(1))
    val anyDiff = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col(po).isNull, lit("added"))
          .when(col(pn).isNull, lit("removed"))
          .when(anyDiff, lit("changed")))
      .where(col("change").isNotNull)
      .select((keys.map(col) :+ col("change")) ++ outNames.map(col): _*)
  }

  /** Per-group quota cap: keep at most `n` rows per group, preferring the
    * highest `priority` (ties broken by `tiebreak`, which should be
    * per-row unique so the kept set is deterministic). The domain-cap
    * step of a crawl pipeline — no single site may dominate the training
    * mix — and the generic top-N-per-key reducer.
    *
    * One shuffle on the group key; the rank is windowed per group, never
    * a global sort. Caveat at the extreme: a degenerate group (half the
    * corpus in one domain) ranks inside one reducer — for tiny `n` over
    * monster groups prefer the partial-reducing top-k Aggregator
    * ([[annTopK]]'s reduction, `graft.functions.TopKAggregator`), which
    * cuts to `n` before the exchange; this window form is the right shape
    * for the common regime (group sizes ≪ partition size, output keeps
    * whole rows). */
  def capPerGroup(df: DataFrame, group: Column, priority: Column,
                  tiebreak: Column, n: Int): DataFrame = {
    require(n >= 1, s"capPerGroup: n must be >= 1, got $n")
    val rn = freshName("__rn", df.columns.toSet)
    df.withColumn(rn,
        row_number().over(Window.partitionBy(group).orderBy(priority.desc, tiebreak)))
      .where(col(rn) <= n).drop(rn)
  }

  /** Build a Type-2 slowly-changing-dimension history from a change log:
    * per key ordered by (`ts`, `tiebreak`), collapse runs of identical
    * `attrs` into versioned validity intervals — (key, attrs...,
    * `valid_from`, `valid_to`, `version`, `is_current`), where `valid_to`
    * is the next version's `valid_from` (NULL on the current row). The
    * lakehouse dimension-history shape: silver keeps the full log, gold
    * serves point-in-time lookups against these intervals (the interval
    * join in q34 / [[asofJoin]] are the read-side counterparts).
    *
    * Attribute comparison is null-safe; `tiebreak` must be unique per key
    * so run boundaries are deterministic. Scale shape: every step windows
    * over the SAME key partitioning with the same sort — one exchange,
    * one sort, no self-join (the naive formulation joins the log to
    * itself on adjacent version numbers). */
  def scd2FromChangeLog(df: DataFrame, key: String, ts: String,
                        tiebreak: Column, attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "scd2FromChangeLog: attrs must be non-empty")
    val outNames = Seq("valid_from", "valid_to", "version", "is_current")
    val clash = outNames.filter((Seq(key, ts) ++ attrs).contains)
    require(clash.isEmpty,
      s"scd2FromChangeLog: input column(s) ${clash.mkString(", ")} collide " +
        "with the valid_from/valid_to/version/is_current output names")
    val taken = df.columns.toSet ++ outNames
    val rnC = freshName("__rn", taken)
    val chC = freshName("__chg", taken + rnC)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), tiebreak)
    val anyDiff = attrs.map(c => !(col(c) <=> lag(col(c), 1).over(w))).reduce(_ || _)
    val marked = df
      .withColumn(rnC, row_number().over(w))
      .withColumn(chC, col(rnC) === 1 || anyDiff)
      .where(col(chC))
    // among change rows only: the next change's ts closes this interval
    val wc = Window.partitionBy(col(key)).orderBy(col(ts), tiebreak)
    marked
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(wc))
      .withColumn("version", row_number().over(wc).cast(LongType))
      .withColumn("is_current", col("valid_to").isNull)
      .select((key +: attrs).map(col) ++ outNames.map(col): _*)
  }

  /** Apply one batch of per-key updates to a Type-2 SCD history (the
    * MERGE step of a periodically-refreshed dimension): for each update
    * key, a missing dimension key inserts version 1; identical `attrs`
    * (null-safe) is a no-op; a difference closes the current row at the
    * update's `effTs` and appends the next version. History rows
    * (`is_current = false`) pass through untouched.
    *
    * `current` must be shaped like [[scd2FromChangeLog]] output; `updates`
    * must carry one row per key (pre-aggregate with [[capPerGroup]]
    * n=1 / an argmax — the merge does not guess which duplicate wins) and
    * `effTs` values after the open rows' `valid_from`. Scale shape: one
    * key-partitioned join of the OPEN slice against the batch plus a
    * pass-through of history — no windows over the full history, so cost
    * tracks the live dimension + batch size, not accumulated versions. */
  def scdMerge(current: DataFrame, updates: DataFrame, key: String,
               attrs: Seq[String], effTs: String): DataFrame = {
    require(attrs.nonEmpty, "scdMerge: attrs must be non-empty")
    // a NULL is_current (externally-loaded history) must not vanish from a
    // MERGE: treat it as closed history and pass it through
    val cur = current.where(coalesce(col("is_current"), lit(false)))
    val hist = current.where(!coalesce(col("is_current"), lit(false)))
    val taken0 = (current.columns ++ updates.columns).toSet
    val uTs = freshName("__u_ts", taken0)
    val uIn = freshName("__u_in", taken0 + uTs)
    // fold chosen names into the taken set as they are drawn, so two
    // attrs can never resolve to the same scratch name (possible when a
    // caller column collides with one attr's base and pushes it onto
    // another attr's suffix)
    val (uAttr, _) = attrs.foldLeft((Map.empty[String, String], taken0 + uTs + uIn)) {
      case ((m, taken), c) =>
        val n = freshName(s"__u_$c", taken)
        (m + (c -> n), taken + n)
    }
    val u = updates.select(col(key) +: col(effTs).as(uTs) +:
      attrs.map(c => col(c).as(uAttr(c))): _*).withColumn(uIn, lit(1))
    val j = cur.join(u, Seq(key), "full_outer")
    val differs = attrs.map(c => !(col(c) <=> col(uAttr(c)))).reduce(_ || _)
    val closes = col(uIn).isNotNull && differs
    // current rows: untouched keys and no-op updates stay open; a real
    // change closes the interval at the update's effective timestamp
    val kept = j.where(col("version").isNotNull)
      .select((key +: attrs).map(col) ++ Seq(
        col("valid_from"),
        when(closes, col(uTs)).otherwise(col("valid_to")).as("valid_to"),
        col("version"),
        when(closes, lit(false)).otherwise(col("is_current")).as("is_current")): _*)
    val inserted = j.where(col(uIn).isNotNull &&
        (col("version").isNull || differs))
      .select((col(key) +: attrs.map(c => col(uAttr(c)).as(c))) ++ Seq(
        col(uTs).as("valid_from"),
        lit(null).cast(current.schema("valid_to").dataType).as("valid_to"),
        coalesce(col("version") + 1, lit(1L)).as("version"),
        lit(true).as("is_current")): _*)
    hist.select(kept.columns.map(col): _*)
      .unionByName(kept).unionByName(inserted)
  }

  // ------------------------------------------------------------ temporal

  /** First of base, base_1, base_2, ... absent from `taken` — used so the
    * temporal operators never collide with caller columns. */
  private def freshName(base: String, taken: Set[String]): String =
    if (!taken.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i").find(n => !taken.contains(n)).get

  /** Gap-based sessionization: appends `out` (1-based session id per key) to
    * the input. One shuffle on the key. Refuses to silently replace an
    * existing `out` column — pass a fresh name instead; internal scratch
    * columns are collision-proofed against the input schema. */
  def sessionize(df: DataFrame, key: Column, ts: Column, tiebreak: Column,
                 gapSeconds: Long = 1800L, out: String = "session_id"): DataFrame = {
    require(!df.columns.contains(out),
      s"sessionize: input already has a '$out' column; pass out=<fresh name> " +
        "— the operator never silently replaces caller data")
    // the scratch name must also dodge the caller's OUTPUT name, else
    // out = "__gap" would overwrite the scratch and then drop the result
    val gap = freshName("__gap", df.columns.toSet + out)
    val w = Window.partitionBy(key).orderBy(ts, tiebreak)
    val sec = unix_timestamp(ts)
    df.withColumn(gap, sec - lag(sec, 1).over(w))
      .withColumn(out,
        sum(when(col(gap).isNull || col(gap) > gapSeconds, 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType))
      .drop(gap)
  }

  /** Skew-mitigating salted inner equi-join. Every left row gets a
    * deterministic salt in [0, salts) (a crc32 of `saltBy` — pass any
    * column with per-row entropy, e.g. a line number or event id; salts
    * must be reproducible across task retries, so no random source); the
    * right side is replicated across all salts; the join runs on
    * (key, salt), spreading one hot key over `salts` reducers. Output =
    * the plain inner equi-join's columns (salt scratch dropped), so it is
    * a drop-in for `left.join(right, leftKey === rightKey)`.
    *
    * When to reach for this: AQE's skew-join split handles the moderate
    * regime at runtime; explicit salting is for the degenerate key whose
    * single partition exceeds a task (AQE can only split what the map side
    * already wrote — a single monster key still lands in one reducer's
    * fetch). Cost: the right side is scanned/shuffled `salts` times —
    * size the factor to the skew, not higher. */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: Column, rightKey: Column, saltBy: Column,
                 salts: Int = 8): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val taken = (left.columns ++ right.columns).toSet
    val sL = freshName("__salt_l", taken)
    val sR = freshName("__salt_r", taken + sL)
    // NULL saltBy must still salt (to 0), not evaporate the row: a NULL
    // salt would fail the salt equality and silently drop a left row the
    // plain inner join this replaces would keep
    val l = left.withColumn(sL,
      pmod(coalesce(crc32(saltBy.cast(StringType)), lit(0L)), lit(salts)))
    val r = right.withColumn(sR, explode(array((0 until salts).map(lit(_)): _*)))
    l.join(r, leftKey === rightKey && col(sL) === col(sR)).drop(sL, sR)
  }

  /** As-of join: for each left row, the latest right row with
    * ts_right <= ts_left on the same key. Right columns come back under
    * `prefix` (default `asof_`). One shuffle on the key (union-tag +
    * ordered window).
    *
    * Correctness notes: right rows sharing (key, ts) are deduplicated to
    * the one with the greatest (rightCols...) tuple, so results are
    * deterministic; and the right columns are carried as ONE struct through
    * `last(ignoreNulls)`, so the output never mixes fields from different
    * right rows (a per-column carry would backfill a NULL field from an
    * older row). Output names are collision-checked against the left frame
    * and internal scratch columns are collision-proofed against both
    * inputs. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val collisions = rightCols.map(prefix + _).filter(left.columns.contains)
    require(collisions.isEmpty,
      s"asofJoin: output column(s) ${collisions.mkString(", ")} already " +
        "exist on the left frame; pass a different prefix — the operator " +
        "never silently replaces caller data")
    // scratch names must dodge caller columns AND the output names this
    // call will create (prefix = "__" with rightCols = Seq("r") would
    // otherwise collide scratch "__r" with output "__r")
    val taken = (left.columns ++ right.columns).toSet ++
      rightCols.map(prefix + _)
    val rnC = freshName("__rn", right.columns.toSet)
    val rC = freshName("__r", taken)
    val tagC = freshName("__is_left", taken)
    val dw = Window.partitionBy(col(key), col(ts))
      .orderBy(struct(rightCols.map(col): _*).desc)
    val r0 = right.select((key +: ts +: rightCols).distinct.map(col): _*)
      .withColumn(rnC, row_number().over(dw)).where(col(rnC) === 1)
      .drop(rnC)
      .select(col(key), col(ts), lit(0).as(tagC),
        struct(rightCols.map(col): _*).as(rC))
    val leftCols = left.columns.filterNot(c => c == key || c == ts)
    val rStructType = StructType(rightCols.map(c =>
      StructField(c, right.schema(c).dataType, nullable = true)))
    val unioned = r0
      .select((Seq(col(key), col(ts), col(tagC), col(rC)) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
      .unionByName(
        left.select((Seq(col(key), col(ts), lit(1).as(tagC),
          lit(null).cast(rStructType).as(rC)) ++ leftCols.map(col)): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col(tagC))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn(rC, last(col(rC), ignoreNulls = true).over(w))
    rightCols.foldLeft(carried) { (df, c) =>
      df.withColumn(s"$prefix$c", col(rC).getField(c))
    }.where(col(tagC) === 1).drop(tagC, rC)
  }
}
