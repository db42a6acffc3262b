package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up stress harness (not part of the driver contract): replicates
  * the `documents` corpus K times — each replica's text perturbed with a
  * distinct suffix, so replicas of a document form a K-clique of NEAR
  * duplicates (not exact ones) — then times the training-data operators on
  * the inflated corpus and prints one JSON line.
  *
  * What this measures that the bench cannot:
  *  - near-linear scaling of the narrow passes (minhash, contamination,
  *    repetition, quality) under a 10x corpus;
  *  - the near-dup path under HEAVY duplication: every LSH bucket holds
  *    K-cliques, so candidate pairs grow ~K^2/2 per document — the
  *    worst-case shape a crawl-scale dedup actually faces;
  *  - the jaccardVerify broadcast gate FLIPPING for real: with K >= 3 the
  *    in-pair doc count exceeds broadcastDocLimit (10 000), so the verify
  *    stage runs its shuffled-join fallback — the 100 TB code path —
  *    end to end, not just in a plan assertion;
  *  - connected components over K-sized clusters (fixpoint in
  *    ~log2(diameter) rounds regardless of K).
  *
  * Usage: sbt 'runMain graft.Stress [K]'   (default K=10, sf from
  * SPARK_GRAFT_SF_DIR, default sf0.1; cores and shuffle partitions from
  * SPARK_GRAFT_CPUS, default 32, as in `graft.Bench`)
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def secs[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def mat(df: DataFrame): Long = {
      // full materialization without driver collection
      df.write.format("noop").mode("overwrite").save()
      -1L
    }

    val base = Tables.load(spark, dir, "documents")
    // replica i shifts the id space and appends a tiny distinct suffix:
    // same shingle profile (near-dup), different content hash (not exact)
    def inflate(n: Int): DataFrame =
      (0 until n).map { i =>
        base.select(
          ($"doc_id" + lit(i.toLong * 10000000L)).as("doc_id"),
          concat($"text", lit(s" r$i")).as("text"),
          $"lang", $"source", $"n_chars")
      }.reduce(_ unionByName _)

    spark.range(1000).agg(sum("id")).collect() // session warmup

    val results = Seq(1, k).map { n =>
      val docs = inflate(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val nDocs = docs.count()

      val (tSig, _) = secs(mat(graft.api.Graft.minhashSignatures(
        docs, $"doc_id", $"text", assumeUniqueIds = true)))

      val sigs = graft.api.Graft.minhashSignatures(
        docs, $"doc_id", $"text", assumeUniqueIds = true)
      // persisted ONCE here for its three consumers (count, jaccard
      // verify, containment verify) — the verify stages' internal
      // persist-if-unpersisted then reuses these blocks, and the single
      // unpersist below honors their callers-release contract
      val pairs = graft.api.Graft.nearDupPairs(sigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val (tPairs, nPairs) = secs(pairs.count())

      // verified edges persist for two consumers: the verify count here
      // and the triangle stage below
      val edges = graft.api.Graft.jaccardVerify(docs, $"doc_id", $"text", pairs)
        .where($"jaccard" >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val (tVerify, nEdges) = secs(edges.count())

      val (tDedup, nKept) = secs(
        graft.api.Graft.dedupCorpus(docs, $"doc_id", $"text").count())

      val bench = docs.where(
        conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % 20 === 0)
      val (tContam, _) = secs(mat(graft.api.Graft.contamination(
        docs, $"doc_id", $"text", bench, $"text")))
      // t34: the same decontamination through the distributed bloom-sketch
      // prefilter — the 100 TB shape; must track (and ideally beat) the
      // exact path as the corpus grows, since non-member grams die in the
      // scan stage before the join
      val (tContamB, _) = secs(mat(graft.api.Graft.contaminationBloom(
        docs, $"doc_id", $"text", bench, $"text")))

      val (tRep, _) = secs(mat(graft.api.Graft.repetitionStats(
        docs, $"doc_id", $"text")))

      // chunk-level boilerplate removal: the replicated corpus is its
      // worst case too — every chunk recurs in K documents, so the hot
      // set is the WHOLE chunk space at K >= 2 (maxDocFreq = K keeps the
      // planted near-dup chunks only)
      val (tBp, _) = secs(mat(graft.api.Graft.dropBoilerplate(
        docs, $"doc_id", $"text", chunkWords = 10, maxDocFreq = n.toLong)))

      // full cleaning pipeline (boilerplate + repetition + dedup) — the
      // composition under the same K-clique duplication
      val (tClean, nClean) = secs(graft.api.Graft.cleanCorpus(
        docs, $"doc_id", $"text", chunkWords = 10,
        maxDocFreq = n.toLong, maxDupFrac = 0.5).count())

      // semantic dedup under K-cliques in embedding space: replica i
      // perturbs dimension 0 by i*1e-5, so a vector's replicas sit at
      // cosine ~1 (a K-clique above the 0.999 threshold) while unrelated
      // vectors stay below it — the kept count must equal the base corpus
      // at ANY K (every clique collapses to its least id)
      val embK = (0 until n).map { i =>
        Tables.load(spark, dir, "embeddings").select(
          ($"vec_id" + lit(i.toLong * 10000000L)).as("vec_id"),
          transform($"embedding",
            (x, j) => x + when(j === 0, lit(i * 1e-5f)).otherwise(lit(0.0f)))
            .as("embedding"),
          $"label")
      }.reduce(_ unionByName _)
      val (tSem, nSem) = secs(graft.api.Graft.semanticDedup(
        embK, $"vec_id", $"embedding", dim = 64, threshold = 0.999).count())

      // round-7 additions, each with a distinct scale shape:
      // BPE training collapses to the vocabulary first — a K-replicated
      // corpus adds only K suffix words, so rounds should be near-FLAT
      val (tBpe, nMergesGot) = secs(graft.api.Graft.trainBpeMerges(
        docs, $"text", nMerges = 4).count())
      // bigram fluency: corpus-linear explode + vocabulary-sized counts
      val (tFluency, _) = secs(mat(graft.api.Graft.bigramFluency(
        docs, $"doc_id", $"text")))
      // chunking and linear scoring: pure narrow projections
      val (tChunk, _) = secs(mat(graft.api.Graft.chunkDocuments(
        docs, $"doc_id", $"text", chunkTokens = 64, overlapTokens = 16)))
      val (tScore, _) = secs(mat(graft.api.Graft.scoreLinearHashed(
        docs, $"text", graft.ops.TextAnalysis.t18Weights)))

      // round-7 session-2 additions:
      // triangle counting runs on the VERIFIED edge graph, not the raw
      // candidates: at K=10 the candidate graph's mean degree is ~850
      // (21 M edges / 50 k docs), so Σ deg² is ~10^10 wedges — the raw
      // attempt filled this machine's disk with shuffle spill, which IS
      // the docstring's degree-cap warning measured. The verified graph
      // (Jaccard >= 0.5) has clique-sized degrees and is the graph whose
      // cohesion actually means something.
      val (tTri, nTri) = secs(graft.api.Graft.triangleCounts(
        edges, $"id_a", $"id_b").agg(sum($"n_triangles")).as[Long].head() / 3)
      // connected components BOTH ways on the same verified K-clique
      // graph: the size-gated driver union-find (the path a dup graph
      // under 1M edges takes) against the forced distributed fixpoint —
      // the round-9 hybrid's two regimes, measured on identical input
      val (tCcLocal, nCcL) = secs(graft.api.Graft.connectedComponents(
        edges, $"id_a", $"id_b").count())
      val (tCcDist, nCcD) = secs(graft.api.Graft.connectedComponents(
        edges, $"id_a", $"id_b", localEdgeLimit = 0L).count())
      require(nCcL == nCcD, s"CC paths disagree: $nCcL vs $nCcD")
      edges.unpersist()
      // CDC chunking under replication demonstrates shift resistance AT
      // SCALE: replicas differ only by a trailing suffix, so every
      // interior chunk boundary (and hash) is shared across the K-clique
      // and the duplicated-chunk fraction jumps to ~1 at K >= 2
      val (tCdc, nCdcChunks) = secs(graft.api.Graft.cdcChunks(
        docs, $"doc_id", $"text").count())
      // overlap matrices: replication adds (almost) no DISTINCT
      // fingerprints per source, so BOTH forms should be near-flat in K —
      // the sketch additionally has a corpus-size-independent pair stage
      val (tOv, _) = secs(mat(graft.api.Graft.corpusOverlap(
        docs, $"source", $"text")))
      val (tOvSk, _) = secs(mat(graft.api.Graft.corpusOverlapSketch(
        docs, $"source", $"text", k = 128)))
      // robust outliers: one exchange, two window passes — linear
      val (tRob, _) = secs(mat(graft.api.Graft.robustOutliers(
        docs.select($"doc_id", $"lang", $"n_chars"), $"lang", $"n_chars")))

      // round-8 additions (the amplification-heavy gates, VERDICT r7 #8):
      // t27 duplicateSpans explodes ~window x the corpus tokens — the
      // documented bounded amplification, so time must scale ~K
      val (tSpans, _) = secs(mat(graft.api.Graft.duplicateSpans(
        docs, $"doc_id", $"text", window = 20)))
      // t28 excision under K-cliques is the worst case the round-8 island
      // merge exists for: EVERY window is corpus-hot, so pre-merge the
      // per-doc flagged-window array was O(tokens) and the rebuild
      // quadratic; with islands it collapses to ~1 span per document
      val (tExcise, _) = secs(mat(graft.api.Graft.exciseDuplicateSpans(
        docs, $"doc_id", $"text", window = 20)))
      // d15 containment verify rides the same candidate stream as the
      // jaccard verify (shared persisted pairs): sorted-merge overlap +
      // the same size-gated broadcast/shuffle fallback
      val (tContain, nContain) = secs(graft.api.Graft.containmentVerify(
        docs, $"doc_id", $"text", pairs).count())
      // t33 leakage-safe split = the dedup chain + one label join; its
      // cost must track the chain (already measured above), not blow up
      // in the corpus join
      val (tSplit, nSplit) = secs(graft.api.Graft.splitCorpusLeakageSafe(
        docs, $"doc_id", $"text", Seq("train" -> 0.8, "test" -> 0.2)).count())
      pairs.unpersist()

      // round-10 additions (VERDICT r9 #5): the token-budget prefix sums.
      // The bucketed exact-prefix-sum shape is precisely what a corpus
      // scale-up tests: cost must be ~2 narrow passes (band assignment +
      // in-band window over a band-bounded slice), NEVER a global sort.
      // The budget scales with K so the selection stays mid-corpus (the
      // interesting regime: both the under- and over-budget bands are
      // populated and the boundary band's window does real work).
      val tokenLen = size(filter(split(trim($"text"), "\\s+"),
        t => t =!= lit("")))
      val (tBudget, nBudget) = secs(graft.api.Graft.selectByTokenBudget(
        docs, $"doc_id", $"n_chars", tokenLen,
        budget = 10000L * n).count())
      val (tBudgetG, nBudgetG) = secs(
        graft.api.Graft.selectByTokenBudgetPerGroup(
          docs, $"doc_id", $"lang", $"n_chars", tokenLen,
          budget = 3000L * n).count())

      // round-10 continuation: the MG heavy-hitter two-pass and the
      // bucketed vocab coverage. Sketch-pass cost must scale with the
      // token stream only (bounded per-partition state, no vocabulary
      // shuffle); the hitter SET is replication-invariant (every token's
      // share is unchanged by K-cloning), so n_hh pins correctness at
      // every scale while the verify IN-list stays fixed-size.
      val tokStream = docs.select(explode(split(trim($"text"), "\\s+"))
        .as("token")).where($"token" =!= "")
      val (tHh, nHh) = secs(graft.api.Graft.heavyHitters(
        tokStream, $"token", k = 30).count())
      val (tVocab, nVocab) = secs(graft.api.Graft.vocabularyCoverage(
        tokStream, $"token", coverage = 0.5).count())
      // the word-count-shaped scorers: all three must scale like the
      // token stream (vocabulary-bounded joins, no quadratic anywhere)
      val (tKn, _) = secs(mat(graft.api.Graft.knBigramScore(
        docs, $"doc_id", $"text")))
      val half = $"doc_id" % 2 === 0
      val (tIw, _) = secs(mat(graft.api.Graft.importanceWeights(
        docs.where(!half), $"doc_id", $"text", docs.where(half), $"text")))
      val (tDrift, _) = secs(mat(graft.api.Graft.tokenDistributionDrift(
        docs.where(half), $"text", docs.where(!half), $"text")))

      // round-11 additions (VERDICT r10 #4): the five newest gates the
      // stress did not yet cover. All five are (session, dir)-bound, so
      // the inflated corpus is materialized ONCE as a parquet side-dir
      // and the GATES THEMSELVES run against it — the stress times the
      // exact driver-contract code paths, not a re-derivation. (The
      // single-file writes mirror the testdata layout the gates expect;
      // they are setup, not measured work.)
      val gateDir = java.nio.file.Files
        .createTempDirectory(s"graft_stress_gates_$n")
      def writeOne(df: DataFrame, name: String): Unit = {
        import scala.jdk.CollectionConverters._
        val staging = gateDir.resolve(s"$name.stage")
        df.coalesce(1).write.parquet(staging.toString)
        val one = java.nio.file.Files.list(staging).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(one, gateDir.resolve(s"$name.parquet"))
      }
      writeOne(docs, "documents")
      val eventsK = (0 until n).map { i =>
        Tables.load(spark, dir, "events").select(
          ($"event_id" + lit(i.toLong * 100000000L)).as("event_id"), $"ts",
          ($"user_id" + lit(i.toLong * 10000000L)).as("user_id"),
          $"event_type", $"value", $"props")
      }.reduce(_ unionByName _)
      writeOne(eventsK, "events")
      // mm04 frame dedup: replicas share every interior content frame, so
      // the frame-hash inverted index faces K-cliques exactly like LSH —
      // pair count ~K^2 per base medium, with maxFrameDf capping the
      // corpus-hot frames (at K>=2 the cap does real work: every base
      // frame's df is multiplied by K)
      val (tMm04, nMm04) = secs(graft.ops.Multimodal.mm04FrameDedup(
        spark, gateDir.toString).count())
      // t43 mixed-language: per-segment explode + one keyed rollup — must
      // scale ~K like the token stream
      val (tT43, _) = secs(mat(graft.ops.TextAnalysis.t43MixedLanguage(
        spark, gateDir.toString)))
      // t44 domain blocklist: the suffix-EXPLODE join (each URL host fans
      // out to its suffixes) — URL-heavy corpora multiply the explode, so
      // the fan-out cost must stay ~K-linear, never quadratic
      val (tT44, _) = secs(mat(graft.ops.TextAnalysis.t44DomainBlocklist(
        spark, gateDir.toString)))
      // st09 stream->catalog ingest: K x the rows through foreachBatch
      // fast-appends (CAS'd snapshots); st10 streaming drift: complete-
      // mode word count whose state is VOCABULARY-bounded — near-flat in K
      val (tSt09, _) = secs(mat(graft.streaming.Streams.st09StreamCatalogIngest(
        spark, gateDir.toString)))
      val (tSt10, _) = secs(mat(graft.streaming.Streams.st10StreamDrift(
        spark, gateDir.toString)))
      // partition-level COW at scale (VERDICT r10 #2's stress criterion):
      // the table is partitioned by replica index, so it grows K-fold in
      // K partitions — but the merge's source keys live ONLY in replica
      // 0, so the runtime group filter prunes the rewrite to that one
      // partition and hard-links the other K-1. Merge cost must track
      // the TOUCHED partition (~flat in K), never the table.
      graft.sources.AtomicParquetCatalog.ensureRegistered(spark, "graft_sx")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sx.db")
      docs.select($"doc_id",
          ($"doc_id" / lit(10000000L)).cast("long").cast("string").as("rep"),
          $"n_chars")
        .writeTo("graft_sx.db.mcow").using("parquet")
        .partitionedBy($"rep").createOrReplace()
      docs.where($"doc_id" < 10000000L && $"doc_id" % 10 === 0)
        .select($"doc_id".as("mid"))
        .createOrReplaceTempView("mcow_src")
      val (tMergePart, _) = secs(spark.sql(
        """MERGE INTO graft_sx.db.mcow t USING mcow_src s
          |ON t.doc_id = s.mid
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
          |""".stripMargin))
      spark.sql("DROP TABLE graft_sx.db.mcow")
      // st11/st12-shape replayed CDC merge at scale (VERDICT r11 #6):
      // the streaming-upsert target partitioned by REPLICA index — the
      // table grows K-fold but the micro-batch's users live ONLY in
      // replica 0, so the touched partition is CONSTANT-size in K. The
      // guarded merge runs TWICE (st12's injected worst-case replay):
      // both the apply and the replayed no-op must price the touched
      // partition — ~flat in K — or the idempotence guard would turn
      // from a correctness device into a scale tax.
      spark.range(1).count() // fence the previous DDL
      docs.select($"doc_id".as("user_id"),
          ($"doc_id" / lit(10000000L)).cast("long").cast("string").as("rep"),
          lit(1L).as("n_events"), ($"n_chars" * 1.0).as("total"),
          lit(-1L).as("last_batch"))
        .writeTo("graft_sx.db.scdm").using("parquet")
        .partitionedBy($"rep").createOrReplace()
      docs.where($"doc_id" < 10000000L && $"doc_id" % 10 === 0)
        .select($"doc_id".as("uid"), lit(2L).as("d_n"), lit(5.0).as("d_total"),
          lit(0L).as("batch_id"),
          lit("0").as("rep"))
        .createOrReplaceTempView("scdm_src")
      val upsertSql =
        """MERGE INTO graft_sx.db.scdm t USING scdm_src s
          |ON t.user_id = s.uid
          |WHEN MATCHED AND s.batch_id > t.last_batch THEN UPDATE SET
          |  n_events = t.n_events + s.d_n, total = t.total + s.d_total,
          |  last_batch = s.batch_id
          |WHEN NOT MATCHED THEN
          |  INSERT (user_id, rep, n_events, total, last_batch)
          |  VALUES (s.uid, s.rep, s.d_n, s.d_total, s.batch_id)
          |""".stripMargin
      val (tUpsert, _) = secs(spark.sql(upsertSql))
      val (tUpsertReplay, _) = secs(spark.sql(upsertSql)) // guard: no-op
      spark.sql("DROP TABLE graft_sx.db.scdm")
      // round-12 additions: partition-spec evolution + bucket-granular
      // COW at scale. rewrite_layout is a FULL rewrite by design (the
      // documented one-time price of changing a table's layout): its
      // cost must scale ~K — linear in the data, never worse — and
      // commit atomically. The bucketed MERGE that follows touches 4
      // fixed keys → at most 4 of 16 bucket directories rewrite
      // (hard-linking the rest), so its cost must stay a small
      // fraction of the full rewrite even as every bucket grows
      // K-fold. The pair prints together: bucket_merge_s/relayout_s
      // is the measured touched-fraction.
      docs.select($"doc_id", $"text", $"n_chars")
        .writeTo("graft_sx.db.blay").using("parquet").createOrReplace()
      val (tRelayout, _) = secs(spark.sql(
        "CALL graft_sx.system.rewrite_layout('db.blay', 'bucket(16,doc_id)')")
        .collect())
      docs.where($"doc_id".isin(10L, 20L, 30L, 40L))
        .select($"doc_id".as("mid")).createOrReplaceTempView("blay_src")
      val (tBucketMerge, _) = secs(spark.sql(
        """MERGE INTO graft_sx.db.blay t USING blay_src s
          |ON t.doc_id = s.mid
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
          |""".stripMargin))
      // round-13: METADATA-ONLY spec evolution vs the rewrite above —
      // evolve_layout's cost is one hard-link pass over the FILE
      // METADATA (file count here is ~constant in K: the same
      // tasks × buckets write grid, bigger files), so it must stay
      // ~FLAT as the table grows K-fold while relayout_s grows ~K.
      // The count after proves the mixed-spec union read serves
      // everything.
      val (tEvolve, _) = secs(spark.sql(
        "CALL graft_sx.system.evolve_layout('db.blay', 'bucket(32,doc_id)')")
        .collect())
      val nEvolved = spark.table("graft_sx.db.blay").count()
      require(nEvolved == nDocs,
        s"mixed-spec read after evolve served $nEvolved of $nDocs rows")
      spark.sql("DROP TABLE graft_sx.db.blay")
      // round-14: PARTIAL spec unification — unify_layout rewrites
      // ONLY the legacy subtree and hard-links the current layout
      // forward, so with a FIXED legacy slice (the base replica) and
      // the K-growing remainder appended in the new layout, unify_s
      // must stay ~FLAT in K while relayout_s above carries the data
      // term — the cost-∝-legacy-fraction claim MEASURED. The count
      // after proves the unified single-spec read serves everything.
      docs.where($"doc_id" < 10000000L)
        .select($"doc_id", $"text", $"n_chars")
        .writeTo("graft_sx.db.ulay").using("parquet")
        .partitionedBy(org.apache.spark.sql.functions.bucket(4, $"doc_id"))
        .createOrReplace()
      spark.sql(
        "CALL graft_sx.system.evolve_layout('db.ulay', 'bucket(8,doc_id)')")
        .collect()
      if (n > 1)
        docs.where($"doc_id" >= 10000000L)
          .select($"doc_id", $"text", $"n_chars")
          .writeTo("graft_sx.db.ulay").append()
      val (tUnify, _) = secs(spark.sql(
        "CALL graft_sx.system.unify_layout('db.ulay')").collect())
      val nUnified = spark.table("graft_sx.db.ulay").count()
      require(nUnified == nDocs,
        s"unified single-spec read served $nUnified of $nDocs rows")
      spark.sql("DROP TABLE graft_sx.db.ulay")
      // round-13: merge-on-read DELETE vs COW delete at scale, plus
      // file skipping's read-side shape. cluster_s re-lays the grown
      // table range-clustered (one sampled exchange — must scale ~K
      // like any rewrite). skip_off_s/skip_on_s run the SAME selective
      // range aggregate with skipping disabled/enabled — skipping
      // plans ~1 of 32 files whatever K is, so its advantage holds as
      // files grow. mor_delete_s is the O(metadata) claim MEASURED:
      // one link pass + a predicate sidecar, ~FLAT in K, while
      // cow_delete_s (same predicate, same data, COW mode) carries the
      // whole-table rewrite term. rewrite_deletes_s materializes the
      // entry touching ONLY the stats-may-match files of the clustered
      // layout — priced by the range the delete hit, not the table.
      docs.select($"doc_id", $"text", $"n_chars").repartition(32)
        .writeTo("graft_sx.db.morst").using("parquet").createOrReplace()
      val (tCluster, _) = secs(spark.sql(
        "CALL graft_sx.system.cluster_by('db.morst', 'doc_id', 32)")
        .collect())
      def morstRange(): Long = spark.table("graft_sx.db.morst")
        .where($"doc_id" >= 100L && $"doc_id" < 200L)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).head.getLong(0)
      val (tSkipOff, _) = withConf(spark,
        "spark.sql.catalog.graft.read.fileSkipping" -> "false")(secs(morstRange()))
      val (tSkipOn, nInRange) = secs(morstRange())
      require(nInRange == 100L, s"range read served $nInRange of 100")
      val (tMorDelete, _) = withConf(spark,
          "spark.sql.catalog.graft.write.deleteMode" -> "merge-on-read") {
        secs(spark.sql(
          "DELETE FROM graft_sx.db.morst WHERE doc_id >= 100 AND doc_id < 200"))
      }
      require(spark.table("graft_sx.db.morst").count() == nDocs - 100,
        "merge-on-read delete must remove exactly the range")
      val (tRewriteDel, _) = secs(spark.sql(
        "CALL graft_sx.system.rewrite_deletes('db.morst')").collect())
      require(spark.table("graft_sx.db.morst").count() == nDocs - 100,
        "rewrite_deletes must preserve the survivor set")
      spark.sql("DROP TABLE graft_sx.db.morst")
      docs.select($"doc_id", $"text", $"n_chars").repartition(32)
        .writeTo("graft_sx.db.morcw").using("parquet").createOrReplace()
      val (tCowDelete, _) = secs(spark.sql(
        "DELETE FROM graft_sx.db.morcw WHERE doc_id >= 100 AND doc_id < 200"))
      spark.sql("DROP TABLE graft_sx.db.morcw")
      // round-15: BLOOM-FILTER FILE INDEX at scale — a point lookup on
      // a UNIFORM hash key (md5 of doc_id, arrival order): min/max
      // cannot prune, so bloom_off_s carries the whole-table scan term
      // as K grows while bloom_on_s stays ~FLAT (the index keeps ~1 of
      // 32 files at planning; text rides along so the skipped read is
      // a real data term, same trick as the COW comparison row).
      docs.select(md5($"doc_id".cast("string")).as("h"), $"text",
          $"n_chars")
        .repartition(32)
        .writeTo("graft_sx.db.blm").using("parquet")
        .tableProperty("write.bloom-cols", "h")
        .tableProperty("write.bloom-ndv", (nDocs / 32 + 1024).toString)
        .createOrReplace()
      val blmProbe = java.security.MessageDigest.getInstance("MD5")
        .digest("100".getBytes("UTF-8")).map("%02x".format(_)).mkString
      def bloomLookup(): Long = spark.table("graft_sx.db.blm")
        .where($"h" === blmProbe)
        .agg(org.apache.spark.sql.functions.sum($"n_chars"))
        .head.getLong(0)
      val (tBloomOff, hitOff) = withConf(spark,
        "spark.sql.catalog.graft.read.bloomSkipping" -> "false")(secs(bloomLookup()))
      val (tBloomOn, hitOn) = secs(bloomLookup())
      require(hitOn == hitOff && hitOn > 0L,
        s"bloom lookup must serve the same row ($hitOff vs $hitOn)")
      spark.sql("DROP TABLE graft_sx.db.blm")
      // round-13: merge-on-read MERGE vs partition-COW when the matched
      // keys SCATTER across every partition — COW's worst case (the
      // group filter keeps all 16 partitions → ~whole-table rewrite)
      // against the delta path's O(changed rows) commit. The key set is
      // FIXED (64 keys, all 16 partitions hit) at both scales, so
      // mor_merge_s must stay ~FLAT as the table grows K-fold while
      // cow_scatter_merge_s carries the table-sized rewrite term.
      def mkMergeTable(name: String, mor: Boolean): Unit = {
        // text rides along so the COW comparison row carries a REAL
        // data term (without it both paths read flat at this scale and
        // the shape difference is invisible)
        val w = docs
          .select($"doc_id", ($"doc_id" % 16).cast("string").as("p"),
            $"text", $"n_chars")
          .writeTo(s"graft_sx.db.$name").using("parquet")
          .partitionedBy($"p")
        (if (mor) w.tableProperty("write.merge.mode", "merge-on-read")
         else w).createOrReplace()
        if (mor) spark.sql(s"ALTER TABLE graft_sx.db.$name " +
          s"ADD CONSTRAINT ${name}_pk PRIMARY KEY (doc_id) NOT ENFORCED")
      }
      spark.range(64).select($"id".as("mid")).createOrReplaceTempView("mm_src")
      mkMergeTable("mmor", mor = true)
      val (tMorMerge, _) = secs(spark.sql(
        """MERGE INTO graft_sx.db.mmor t USING mm_src s ON t.doc_id = s.mid
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
          |""".stripMargin))
      require(spark.table("graft_sx.db.mmor").count() == nDocs,
        "MoR scatter merge changed the row count")
      spark.sql("DROP TABLE graft_sx.db.mmor")
      // round-14: the SAME fixed scattered merge on a PK-LESS table —
      // the POSITIONAL delta path (row id = (_file, _pos)). Must read
      // ~flat in K like the equality path: the matched-row funnel and
      // the per-file ordinal sidecar price the batch, never the table.
      locally {
        val w = docs
          .select($"doc_id", ($"doc_id" % 16).cast("string").as("p"),
            $"text", $"n_chars")
          .writeTo("graft_sx.db.mpos").using("parquet")
          .partitionedBy($"p")
          .tableProperty("write.merge.mode", "merge-on-read")
        w.createOrReplace() // NO primary key: positional or nothing
      }
      val (tPosMerge, _) = secs(spark.sql(
        """MERGE INTO graft_sx.db.mpos t USING mm_src s ON t.doc_id = s.mid
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
          |""".stripMargin))
      require(spark.table("graft_sx.db.mpos").count() == nDocs,
        "positional scatter merge changed the row count")
      spark.sql("DROP TABLE graft_sx.db.mpos")
      mkMergeTable("mcw2", mor = false)
      val (tCowScatter, _) = secs(spark.sql(
        """MERGE INTO graft_sx.db.mcw2 t USING mm_src s ON t.doc_id = s.mid
          |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
          |""".stripMargin))
      spark.sql("DROP TABLE graft_sx.db.mcw2")
      // q78-shape snapshot diff against a LONG version history (VERDICT
      // r11 #6): 2 + 3*K single-row commits deep with retention wide
      // enough to keep them all. The diff must price the TWO diffed
      // snapshots (pointer-log resolution is one file read; history
      // depth only hard-links) — ~flat in K even as the log grows.
      spark.conf.set("spark.sql.catalog.graft_sh",
        classOf[graft.sources.AtomicParquetCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_sh.warehouse",
        java.nio.file.Files.createTempDirectory("graft_sh_wh").toString)
      spark.conf.set("spark.sql.catalog.graft_sh.history", "200")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sh.db")
      docs.select($"doc_id", $"n_chars")
        .writeTo("graft_sh.db.hist").using("parquet").createOrReplace()
      spark.sql("DELETE FROM graft_sh.db.hist WHERE doc_id % 16 = 0")
      for (c <- 1 to 3 * n)
        spark.sql(s"INSERT INTO graft_sh.db.hist VALUES (${-c}L, $c)")
      val (tHist, nChanged) = secs {
        val basev = spark.sql( // the post-delete snapshot, 3n commits back
          s"SELECT * FROM graft_sh.db.hist VERSION AS OF ${3 * n}")
        val curv = spark.table("graft_sh.db.hist")
        curv.exceptAll(basev).count() + basev.exceptAll(curv).count()
      }
      spark.sql("DROP TABLE graft_sh.db.hist")
      // round-13: st13-shape admission-controlled CATCH-UP over a deep
      // commit history (VERDICT r12 #7): 30*K single-row commits, then
      // a fresh stream drains the head snapshot at 8 files/trigger.
      // Per-trigger cost must price the 8 admitted files plus ONE
      // pointer-log read — flat in history depth (the per-version
      // file-set cache keeps the diff arithmetic off the O(table)
      // re-walk path), so catchup_s / catchup_batches must not grow
      // with K even as the log is 10x deeper.
      spark.conf.set("spark.sql.catalog.graft_sc",
        classOf[graft.sources.AtomicParquetCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_sc.warehouse",
        java.nio.file.Files.createTempDirectory("graft_sc_wh").toString)
      spark.conf.set("spark.sql.catalog.graft_sc.history", "400")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sc.db")
      docs.select($"doc_id", $"n_chars").limit(1)
        .writeTo("graft_sc.db.hist2").using("parquet").createOrReplace()
      for (c <- 1 to 30 * n)
        spark.sql(s"INSERT INTO graft_sc.db.hist2 VALUES (${-c}L, $c)")
      val nCatchB = new java.util.concurrent.atomic.AtomicLong(0)
      val catchRows = new java.util.concurrent.atomic.AtomicLong(0)
      val (tCatch, _) = secs {
        val q = spark.readStream
          .option("maxFilesPerTrigger", 8)
          .table("graft_sc.db.hist2")
          .writeStream
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("graft_sc_ck").toString)
          .foreachBatch { (b: DataFrame, _: Long) =>
            nCatchB.incrementAndGet(); catchRows.addAndGet(b.count()); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        q.stop()
      }
      require(catchRows.get() == 30L * n + 1,
        s"catch-up served ${catchRows.get()} rows, expected ${30 * n + 1}")
      spark.sql("DROP TABLE graft_sc.db.hist2")
      // round-16: the CHANGELOG STREAM at scale (`.changes`,
      // ChangelogRead.scala) — the typed-CDC resume drain prices the
      // CHURN, never the snapshot. The table holds 32*K fixed-size
      // files of a uniform hash key under write.bloom-cols, so a
      // 64-key MoR merge's equality entry scopes to <=64(+fpp) files
      // REGARDLESS of K; the resumed drain reads the reinsert file
      // plus that scope. changelog_cdc_s must stay ~flat as K (and
      // the snapshot, and changelog_snap_s) grow 10x.
      spark.conf.set("spark.sql.catalog.graft_cl",
        classOf[graft.sources.AtomicParquetCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_cl.warehouse",
        java.nio.file.Files.createTempDirectory("graft_cl_wh").toString)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cl.db")
      spark.sql("CREATE TABLE graft_cl.db.cl (h STRING, v BIGINT) " +
        "TBLPROPERTIES ('write.bloom-cols'='h','write.bloom-ndv'='30000'," +
        "'write.merge.mode'='merge-on-read'," +
        "'write.cdf.typed-updates'='true')")
      spark.range(25000L * 32 * n)
        .select(md5($"id".cast("string")).as("h"), ($"id" % 97).as("v"))
        .repartition(32 * n).writeTo("graft_cl.db.cl").append()
      spark.sql("ALTER TABLE graft_cl.db.cl ADD CONSTRAINT cl_pk " +
        "PRIMARY KEY (h) NOT ENFORCED")
      val clCkpt = java.nio.file.Files
        .createTempDirectory("graft_cl_ck").toString
      // typed rows accumulate across drains (the table is
      // write.cdf.typed-updates, so update commits must serve
      // update_preimage/update_postimage — at scale, for free: the
      // typing is one marker file per commit)
      val clTyped = new java.util.concurrent.atomic.AtomicLong(0)
      def drainChanges(bytesCap: Option[String] = None): (Long, Long) = {
        val rows = new java.util.concurrent.atomic.AtomicLong(0)
        val batches = new java.util.concurrent.atomic.AtomicLong(0)
        var reader = spark.readStream
        bytesCap.foreach(c => reader =
          reader.option("maxBytesPerTrigger", c))
        val q = reader.table("graft_cl.db.cl.changes")
          .writeStream
          .option("checkpointLocation", clCkpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            batches.incrementAndGet()
            // ONE pass per batch: counting types separately would
            // recompute the batch and double the drain's read cost
            val cnts = b.groupBy("_change_type").count().collect()
            rows.addAndGet(cnts.map(_.getLong(1)).sum)
            clTyped.addAndGet(cnts
              .filter(_.getString(0).startsWith("update_"))
              .map(_.getLong(1)).sum)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        q.stop()
        (rows.get(), batches.get())
      }
      val (tClogSnap, nClogSnap) = secs { drainChanges()._1 }
      require(nClogSnap == 25000L * 32 * n,
        s"changelog snapshot served $nClogSnap rows")
      def clMd5(v: Long): String = java.security.MessageDigest
        .getInstance("MD5").digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      spark.createDataFrame(
          (0 until 64).map(i => (clMd5(i * 1000L), -1L)))
        .toDF("h", "v").createOrReplaceTempView("cl_src")
      spark.sql("""MERGE INTO graft_cl.db.cl t USING cl_src s ON t.h = s.h
                  |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      val (tClogCdc, nClogCdc) = secs { drainChanges()._1 }
      require(nClogCdc == 128,
        s"changelog CDC resume served $nClogCdc rows, expected 64+64")
      require(clTyped.get() == 128,
        s"the typed-updates merge must serve 64 preimages + 64 " +
          s"postimages, got ${clTyped.get()} typed rows")
      // round-17: the delete-aware metadata COUNT at scale (q113's
      // path, KeyGroupedScan.morCountCached): with the merge's
      // equality entry LIVE, COUNT(*) is a driver-side walk of footer
      // stats + sidecar counts — zero tasks, so mor_count_s must stay
      // ~flat as K (and the table) grow 10x. The merge was pure
      // updates (delete+reinsert), so the net row count is unchanged.
      val (tMorCount, morCountOk) =
          withConf(spark, "spark.sql.parquet.aggregatePushdown" -> "true") {
        secs {
          val df = spark.sql("SELECT count(*) FROM graft_cl.db.cl")
          val plan = df.queryExecution.executedPlan.toString
          df.collect()(0).getLong(0) == 25000L * 32 * n &&
            plan.contains("LocalTableScan")
        }
      }
      require(morCountOk,
        "mor count must serve the exact answer from metadata")
      // round-17: maintenance TRANSPARENCY at scale — a compaction
      // commit advances the changelog with ZERO rows (the marker path,
      // ChangelogRead/changeUnits): the drain after `compact` must not
      // re-snapshot and clog_maint_drain_s must stay ~flat as K grows
      // (the compact itself is table-sized by design; the FEED's
      // advance is O(chain metadata)).
      val (tClogCompact, _) = secs {
        spark.sql(s"CALL graft_cl.system.compact('db.cl', ${4 * n})")
          .collect()
      }
      val (tClogMaintDrain, nClogMaint) = secs { drainChanges()._1 }
      require(nClogMaint == 0L,
        s"changelog drain across a compaction served $nClogMaint rows")
      // round-18: BYTE-CAPPED admission + typed updates at scale — the
      // same 64-key merge shape re-runs post-compaction and the
      // resumed drain is capped at 1 byte/trigger, so every trigger
      // admits exactly ONE serving file: trigger count must track the
      // CHURN's units (the entry's bloom/stats-narrowed scope + the
      // postimage file), never the 32*K-file snapshot, and every row
      // serves once, typed. clog_bytecap_s prices the same churn as
      // changelog_cdc_s plus the per-trigger planning the cap buys.
      spark.createDataFrame(
          (0 until 64).map(i => (clMd5(i * 1000L + 7L), -2L)))
        .toDF("h", "v").createOrReplaceTempView("cl_src2")
      spark.sql("""MERGE INTO graft_cl.db.cl t USING cl_src2 s ON t.h = s.h
                  |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      val typedBefore = clTyped.get()
      val (tClogByteCap, byteCapRes) = secs { drainChanges(Some("1")) }
      val (nClogByte, nByteCapBatches) = byteCapRes
      require(nClogByte == 128,
        s"byte-capped drain served $nClogByte rows, expected 64+64")
      require(clTyped.get() - typedBefore == 128,
        "the byte-capped drain must serve the merge four-way typed")
      require(nByteCapBatches >= 2,
        s"a 1-byte cap must split the drain, got $nByteCapBatches batch")
      spark.sql("DROP TABLE graft_cl.db.cl")
      // round-13: NATIVE streaming sink at scale (writeStream.toTable,
      // VERDICT r12 #2's surface promoted to a first-class sink): the
      // K-grown events table (one commit, 32 files) drains at 8
      // files/trigger — every epoch commits one fast-append snapshot
      // into the catalog sink. Per-EPOCH cost must track the admitted
      // files (the accumulated-link work is microseconds per hard
      // link), never the history depth: stream_sink_s / epochs stays
      // ~flat in K even as the drain takes ~4x the epochs.
      spark.conf.set("spark.sql.catalog.graft_sn",
        classOf[graft.sources.AtomicParquetCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_sn.warehouse",
        java.nio.file.Files.createTempDirectory("graft_sn_wh").toString)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sn.db")
      val evCols = eventsK.select($"event_id", $"user_id", $"event_type",
        $"value")
      evCols.repartition(32)
        .writeTo("graft_sn.db.src").using("parquet").createOrReplace()
      evCols.limit(0)
        .writeTo("graft_sn.db.sink").using("parquet").createOrReplace()
      val nSrcFiles = spark.sql(
        "SELECT count(*) FROM graft_sn.db.src.files").head.getLong(0)
      val sinkEpochs = (nSrcFiles + 7) / 8
      val (tStreamSink, _) = secs {
        val q = spark.readStream
          .option("maxFilesPerTrigger", 8)
          .table("graft_sn.db.src")
          .writeStream
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("graft_sn_ck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft_sn.db.sink")
        q.awaitTermination(300000)
        q.stop()
      }
      val nSinkRows = spark.table("graft_sn.db.sink").count()
      val nSrcRows = spark.table("graft_sn.db.src").count()
      require(nSinkRows == nSrcRows,
        s"native sink served $nSinkRows of $nSrcRows rows")
      // round-13: CONCURRENT WRITERS at scale — 8 threads appending
      // disjoint eighths of the K-grown events into ONE table through a
      // barrier; every CAS loser REBASES (links only, no data copy, no
      // failed writer). The claim: the race costs retries, not
      // serialization — conc wall stays in the serial drain's order
      // (rebase link work is noise against the write itself), and every
      // row lands exactly once.
      evCols.limit(0)
        .writeTo("graft_sn.db.ser").using("parquet").createOrReplace()
      val (tSerial8, _) = secs {
        (0 until 8).foreach { i =>
          evCols.where($"event_id" % 8 === i)
            .writeTo("graft_sn.db.ser").append()
        }
      }
      evCols.limit(0)
        .writeTo("graft_sn.db.conc").using("parquet").createOrReplace()
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val pool8 = java.util.concurrent.Executors.newFixedThreadPool(8)
      val (tConc8, _) =
        try secs {
          val fs = (0 until 8).map { i =>
            pool8.submit(new java.util.concurrent.Callable[Unit] {
              override def call(): Unit = {
                val part = evCols.where($"event_id" % 8 === i)
                barrier.await()
                part.writeTo("graft_sn.db.conc").append()
              }
            })
          }
          fs.foreach(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool8.shutdown() // non-daemon workers must not pin the JVM
      require(spark.table("graft_sn.db.conc").count() == nSrcRows,
        "concurrent appends must land every row exactly once")
      spark.sql("DROP TABLE graft_sn.db.src")
      spark.sql("DROP TABLE graft_sn.db.sink")
      spark.sql("DROP TABLE graft_sn.db.ser")
      spark.sql("DROP TABLE graft_sn.db.conc")

      def rmTree(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.delete)
      }
      rmTree(gateDir)

      docs.unpersist()
      f"""{"k":$n,"n_docs":$nDocs,"sig_s":$tSig%.2f,"pairs_s":$tPairs%.2f,"n_pairs":$nPairs,"verify_s":$tVerify%.2f,"n_edges":$nEdges,"dedup_s":$tDedup%.2f,"n_kept":$nKept,"contam_s":$tContam%.2f,"contam_bloom_s":$tContamB%.2f,"repetition_s":$tRep%.2f,"boilerplate_s":$tBp%.2f,"clean_s":$tClean%.2f,"n_clean":$nClean,"semantic_s":$tSem%.2f,"n_semantic":$nSem,"bpe_s":$tBpe%.2f,"n_merges":$nMergesGot,"fluency_s":$tFluency%.2f,"chunk_s":$tChunk%.2f,"score_s":$tScore%.2f,"triangles_s":$tTri%.2f,"n_triangles":$nTri,"cc_local_s":$tCcLocal%.2f,"cc_dist_s":$tCcDist%.2f,"cdc_s":$tCdc%.2f,"n_cdc_chunks":$nCdcChunks,"overlap_s":$tOv%.2f,"overlap_sketch_s":$tOvSk%.2f,"robust_s":$tRob%.2f,"spans_s":$tSpans%.2f,"excise_s":$tExcise%.2f,"contain_s":$tContain%.2f,"n_contain":$nContain,"split_s":$tSplit%.2f,"n_split":$nSplit,"budget_s":$tBudget%.2f,"n_budget":$nBudget,"budget_group_s":$tBudgetG%.2f,"n_budget_group":$nBudgetG,"hh_s":$tHh%.2f,"n_hh":$nHh,"vocab_s":$tVocab%.2f,"n_vocab":$nVocab,"kn_s":$tKn%.2f,"iw_s":$tIw%.2f,"drift_s":$tDrift%.2f,"mm04_s":$tMm04%.2f,"n_mm04":$nMm04,"t43_s":$tT43%.2f,"t44_s":$tT44%.2f,"st09_s":$tSt09%.2f,"st10_s":$tSt10%.2f,"merge_part_s":$tMergePart%.2f,"upsert_s":$tUpsert%.2f,"upsert_replay_s":$tUpsertReplay%.2f,"relayout_s":$tRelayout%.2f,"bucket_merge_s":$tBucketMerge%.2f,"evolve_s":$tEvolve%.2f,"unify_s":$tUnify%.2f,"hist_diff_s":$tHist%.2f,"n_hist_changed":$nChanged,"st13_catchup_s":$tCatch%.2f,"st13_catchup_batches":${nCatchB.get()},"changelog_snap_s":$tClogSnap%.2f,"changelog_cdc_s":$tClogCdc%.2f,"mor_count_s":$tMorCount%.2f,"clog_compact_s":$tClogCompact%.2f,"clog_maint_drain_s":$tClogMaintDrain%.2f,"clog_bytecap_s":$tClogByteCap%.2f,"clog_bytecap_batches":$nByteCapBatches,"cluster_s":$tCluster%.2f,"skip_off_s":$tSkipOff%.2f,"skip_on_s":$tSkipOn%.2f,"bloom_off_s":$tBloomOff%.2f,"bloom_on_s":$tBloomOn%.2f,"mor_delete_s":$tMorDelete%.2f,"rewrite_deletes_s":$tRewriteDel%.2f,"cow_delete_s":$tCowDelete%.2f,"mor_merge_s":$tMorMerge%.2f,"pos_merge_s":$tPosMerge%.2f,"cow_scatter_merge_s":$tCowScatter%.2f,"stream_sink_s":$tStreamSink%.2f,"stream_sink_epochs":$sinkEpochs,"serial_append8_s":$tSerial8%.2f,"conc_append8_s":$tConc8%.2f}"""
    }
    println(s"""{"stress":[${results.mkString(",")}],"sf":"$dir"}""")
    spark.stop()
  }
}
