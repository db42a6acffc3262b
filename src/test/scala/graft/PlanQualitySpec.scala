package graft

import graft.ops._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{explode, split, trim}

/** Plan-shape assertions: the properties that make these queries survive a
  * 100 TB scale-up are checked against the optimized physical plan, not
  * just eyeballed — filter/projection pushdown into the parquet scan,
  * broadcast of dimension sides, absence of cartesian products.
  */
class PlanQualitySpec extends GraftSuite {
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val plan = planOf(Relational.q02FilterPushdown(spark, dir))
    assert(plan.contains("PushedFilters"), plan)
    // quantity/discount predicates must reach the scan
    assert(plan.contains("l_quantity") && plan.contains("LessThan"), plan)
    // projection pruning: the 16-column lineitem scan reads only what's used
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q03 broadcasts every dimension side") {
    // formatted explain lists each node in the tree and again in the
    // details section, so assert presence + absence, not exact counts
    val plan = planOf(Relational.q03DimJoin(spark, dir))
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q01 aggregates partially before the exchange") {
    val plan = planOf(Relational.q01PricingSummary(spark, dir))
    // partial-then-final hash aggregation around a hash exchange
    assert(plan.split("HashAggregate").length - 1 >= 2, plan)
    assert(plan.contains("hashpartitioning"), plan)
  }

  test("s01 keeps the corpus side shuffle-free (broadcast nested loop)") {
    val plan = planOf(Similarity.s01BruteForceTopK(spark, dir))
    assert(plan.contains("Broadcast"), plan)
    // the only exchange should be for the window/top-k, not the join input
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dedup band join is an equi-join on the band key (no cartesian)") {
    val plan = planOf(Dedup.d02MinhashLsh(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("s04 IVF probes join the corpus on the cell id (equi-join, broadcast probes)") {
    val plan = planOf(Similarity.s04IvfTopK(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("d08 LSH pair generation joins on the bucket key (no cartesian)") {
    // the whole point of d08 over the d05 exact baseline: candidates form
    // only inside (table, bucket) groups, so the plan must contain an
    // equi-join and no quadratic join strategy anywhere
    val plan = planOf(Similarity.d08EmbeddingLshPairs(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d14 incremental dedup joins the corpus only by broadcast (never shuffles it)") {
    // the scale contract of dedupIncremental: the existing corpus is
    // scanned, never exchanged — every join resolves broadcast against a
    // batch-derived side, so no sort-merge/shuffled-hash join may appear
    val plan = planOf(Dedup.d14IncrementalDedup(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("ShuffledHashJoin"), plan)
  }

  test("t14 sequence packing clusters the corpus by value buckets, never by range sampling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(graft.api.Graft.packSequences(docs, $"doc_id",
      length($"text").cast("long"), capacity = 512L))
    // the corpus-side cumulative sum rides a deterministic value-bucket
    // hash clustering + per-bucket windows; the earlier formulation
    // range-partitioned FIRST and then windowed on spark_partition_id,
    // paying a second full corpus exchange (RangePartitioning cannot serve
    // a ClusteredDistribution) with sampling-dependent bucket bounds
    assert(plan.contains("hashpartitioning(__pid"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("spark_partition_id"), plan)
    // offsets come back broadcast; the corpus never sort-merge joins
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("t06 contamination joins the benchmark n-gram set by broadcast") {
    // the corpus side must stay narrow: the benchmark membership check is
    // a broadcast hash join, never a corpus-wide shuffle join
    val plan = planOf(TextAnalysis.t06Contamination(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("t08 repetition stats are one narrow pass — no explode, no aggregate") {
    // the native NgramStats expression replaced the explode + two keyed
    // aggregates: the only remaining exchange is the gate's final
    // orderBy range partitioning; the stats themselves never shuffle
    val plan = planOf(TextAnalysis.t08RepetitionFilter(spark, dir))
    assert(plan.contains("ngram_stats"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Generate explode"), plan)
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("t09 PII redaction is a pure narrow projection (no exchange, no UDF)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(graft.api.Graft.redactPii(docs, col("text")))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
  }

  test("t18 linear classifier scores in one narrow projection (no exchange, no UDF)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val plan = planOf(
      graft.api.Graft.scoreLinearHashed(docs, col("text"), TextAnalysis.t18Weights))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
  }

  test("t19 temperature mix broadcasts the per-stratum cuts to the corpus scan") {
    val plan = planOf(TextAnalysis.t19TemperatureMix(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the corpus side must not shuffle for the membership join
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dynamic partition pruning reaches a partitioned fact scan from a dim filter") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = tmpDir("graft_dpp").toFile
    Tables.load(spark, dir, "events")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$tmp/fact")
    Seq(("purchase", "rev"), ("view", "eng"), ("click", "eng"))
      .toDF("etype", "kind")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val fact = spark.read.parquet(s"$tmp/fact")
    // the dim must come from a source (not a folded LocalRelation) so its
    // selective predicate survives to optimization — that predicate is
    // what makes the planner bother pruning
    val dim = spark.read.parquet(s"$tmp/dim").where($"kind" === "rev")
    val joined = fact.join(broadcast(dim), fact("event_type") === dim("etype"))
    val plan = planOf(joined)
    // the fact scan's PartitionFilters must carry the runtime subquery —
    // at 100 TB this is what turns a full-fact scan into one partition
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
    // and the pruned result is still correct
    val n = joined.count()
    val expected = Tables.load(spark, dir, "events")
      .where($"event_type" === "purchase").count()
    assert(n == expected, s"joined=$n expected=$expected")
  }

  test("runtime bloom filter prunes the big side of a shuffle join") {
    import org.apache.spark.sql.functions._
    // the row-level companion to DPP: when the join key is NOT a partition
    // column, a bloom filter built from the filtered dim side is pushed
    // into the fact scan. Needs a non-broadcast join (bloom injection
    // skips broadcast joins — the filter would be redundant there), so
    // force the thresholds down for this test only and restore after.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1") {
      val fact = Tables.load(spark, dir, "lineitem")
      val dim = Tables.load(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      val plan = planOf(joined)
      assert(plan.toLowerCase.contains("bloomfilter"), plan)
    }
  }

  test("d10 boilerplate removal groups chunk frequency on md5, never all-pairs") {
    val plan = planOf(Dedup.d10ParagraphDedup(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the document-frequency exchange keys on the 32-char md5, so chunk
    // text never shuffles for counting (only the per-doc rebuild carries it)
    assert(plan.contains("hashpartitioning(__h"), plan)
  }

  test("d11 semantic dedup never goes all-pairs (bucket-key equi-joins only)") {
    val plan = planOf(Similarity.d11SemanticDedup(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q54/q55 lambda forests stay in one narrow projection") {
    val p54 = planOf(Extras.q54HigherOrder(spark, dir))
    assert(!p54.contains("hashpartitioning") && !p54.contains("ScalaUDF"), p54)
    val p55 = planOf(Extras.q55MapFuncs(spark, dir))
    assert(!p55.contains("hashpartitioning") && !p55.contains("ScalaUDF"), p55)
  }

  test("t12 OOV membership joins the vocabulary by broadcast") {
    // the corpus token stream must stay narrow: vocabulary membership is a
    // broadcast hash join, never a corpus-wide shuffle join
    val plan = planOf(TextAnalysis.t12OovRate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("nested schema pruning reaches the parquet scan (struct subfield only)") {
    // a 100 TB table with wide metadata structs must not read the whole
    // struct for a one-subfield projection: ReadSchema has to show the
    // pruned struct, and the fat payload sibling must be absent
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    val tmp = tmpDir("graft_nested_").toString
    Seq((1L, ("img/jpeg", 640, "x" * 100)), (2L, ("img/png", 480, "y" * 100)))
      .toDF("id", "meta")
      .select($"id", $"meta._1".as("mime"), $"meta._2".as("width"),
        $"meta._3".as("payload"))
      .select($"id", struct($"mime", $"width", $"payload").as("meta"))
      .write.mode("overwrite").parquet(tmp)
    val plan = planOf(spark.read.parquet(tmp).select($"id", $"meta.mime"))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(readSchema.contains("mime"), plan)
    assert(!readSchema.contains("payload") && !readSchema.contains("width"),
      readSchema)
  }

  test("q42 cube runs one Expand pass with partial aggregation") {
    val plan = planOf(Extras.q42Cube(spark, dir))
    assert(plan.split("\\bExpand\\b").length - 1 >= 1, plan)
    assert(plan.split("HashAggregate").length - 1 >= 2, plan)
  }

  test("jaccard verify flips to shuffled equi-joins past the broadcast gate") {
    // above broadcastDocLimit the shingle-set sides must NOT carry broadcast
    // hints (an unbounded broadcast is the operator's one 100 TB hazard);
    // AQE auto-conversion is disabled so the assertion sees the gate's own
    // choice, not a runtime size rescue
    val docs = Tables.load(spark, dir, "documents")
    import spark.implicits._
    val sigs = graft.api.Graft.minhashSignatures(docs, $"doc_id", $"text")
    val pairs = graft.api.Graft.nearDupPairs(sigs)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val gated = graft.api.Graft.jaccardVerify(docs, $"doc_id", $"text",
        pairs, broadcastDocLimit = 0L)
      gated.collect()
      val gPlan = gated.queryExecution.executedPlan.toString
      assert(!gPlan.contains("BroadcastHashJoin"), gPlan)
      val hinted = graft.api.Graft.jaccardVerify(docs, $"doc_id", $"text", pairs)
      hinted.collect()
      val hPlan = hinted.queryExecution.executedPlan.toString
      assert(hPlan.contains("BroadcastHashJoin"), hPlan)
    }
  }

  test("semanticContamination joins on bucket keys — no cartesian, bench broadcast") {
    // the semantic decontamination gate's scale contract: corpus x bench
    // candidates form only inside shared (table, bucket) LSH keys — never
    // an all-pairs product — and the (small, corpus-size-independent)
    // benchmark side is broadcast so the corpus does not shuffle for the
    // candidate join
    val emb = Tables.load(spark, dir, "embeddings")
    import spark.implicits._
    val df = graft.api.Graft.semanticContamination(
      emb.where($"vec_id" % 7 =!= 0), $"vec_id", $"embedding",
      emb.where($"vec_id" % 7 === 0), $"vec_id", $"embedding",
      dim = 64, threshold = 0.45)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("jaccard verify builds shingle sets ABOVE the in-pair semi join") {
    // the round-10 shape: the expensive array_distinct + sort set build
    // must be gated by the in-pair semi join (Catalyst will not push a
    // semi join under an expensive projection on its own, so the ordering
    // in pairedShingleSets IS the guarantee). Each pair side re-derives
    // the tiny in-pair set build — 2x tiny beats the exchange-reused
    // 1x whole-corpus build this replaced. Assert on the optimized plan:
    // no LeftSemi subtree may contain the set expression.
    val docs = Tables.load(spark, dir, "documents")
    import spark.implicits._
    val sigs = graft.api.Graft.minhashSignatures(docs, $"doc_id", $"text")
    val pairs = graft.api.Graft.nearDupPairs(sigs)
    val df = graft.api.Graft.jaccardVerify(docs, $"doc_id", $"text", pairs)
    val opt = df.queryExecution.optimizedPlan
    val semis = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty, opt.toString)
    // r19: the set build is the native shingle_set expression (same
    // semantics as the former array_distinct+sort chain, one pass)
    semis.foreach { j =>
      assert(!j.toString.contains("shingle_set"),
        s"set build below the semi join:\n$j")
    }
    // and the set build exists somewhere above them
    assert(opt.toString.contains("shingle_set"), opt.toString)
  }

  test("robustOutliers computes both medians over ONE exchange") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 2L, 12L), ("b", 3L, 7L)).toDF("g", "rid", "v")
    val plan = graft.api.Graft.robustOutliers(df, $"g", $"v")
      .queryExecution.executedPlan.toString
    // the med and mad windows share the group partitioning: one shuffle,
    // two in-partition window passes, no join
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert("\\bWindow\\b".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("corpusOverlapSketch builds k-min sketches as a partial reduction") {
    import spark.implicits._
    val docs = Seq(("A", "a b c d e f"), ("B", "a b c d e x")).toDF("ds", "body")
    val plan = graft.api.Graft.corpusOverlapSketch(docs, $"ds", $"body", k = 4)
      .queryExecution.executedPlan.toString
    // WindowGroupLimit caps each task at its local k smallest hashes
    // before the group exchange — the sketch build never sorts a group's
    // full fingerprint set in one place
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("corpusOverlap broadcasts the group-size frames") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val df = graft.api.Graft.corpusOverlap(docs, $"source", $"text")
    val plan = planOf(df)
    // the per-group fingerprint counts are group-cardinality frames: both
    // joins onto the pair stream must be broadcasts, and pairing is an
    // equi-join on the fingerprint — never a cartesian
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("heavyHitters pushes the candidate IN-list into the verify scan") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(explode(split(trim($"text"), "\\s+")).as("token"))
      .where($"token" =!= "")
    val df = graft.api.Graft.heavyHitters(toks, $"token", k = 10)
    val plan = planOf(df)
    // pass 2 aggregates only candidate rows: the IN-list filter sits
    // directly above the token Generate (below BOTH aggregate phases —
    // with a plain-column token stream it would push into the scan
    // itself), and the exact count aggregates partially before its
    // exchange. Node numbering in formatted explain is bottom-up, so the
    // Filter's ordinal must be below the first HashAggregate's.
    val filterOrds = "Filter \\((\\d+)\\)".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    val aggOrds = "HashAggregate \\((\\d+)\\)".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    assert(aggOrds.size >= 2, plan) // partial + final
    assert(filterOrds.nonEmpty && filterOrds.min < aggOrds.min,
      s"$filterOrds $aggOrds\n$plan")
    assert(plan.contains("INSET") || plan.contains(" IN "), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("vocabularyCoverage never sorts the vocabulary in one task") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(explode(split(trim($"text"), "\\s+")).as("token"))
    val plan = graft.api.Graft.vocabularyCoverage(toks, $"token", 0.5)
      .queryExecution.executedPlan.toString
    // the running sum is a banded window: every vocabulary-wide exchange
    // must be a hash partitioning, never the SinglePartition a global
    // window would force on the counted vocabulary (the tiny band-offset
    // window is the only allowed single-partition frame, over ~p rows)
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows >= 2, plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("knBigramScore and importanceWeights broadcast only the totals row") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val kn = planOf(graft.api.Graft.knBigramScore(docs, $"doc_id", $"text"))
    // the one-row B total rides a broadcast nested loop (a 1-row
    // cartesian is the broadcast we asked for); every real join is keyed
    assert(!kn.contains("CartesianProduct"), kn)
    val iw = planOf(graft.api.Graft.importanceWeights(
      docs.where($"doc_id" % 2 === 0), $"doc_id", $"text",
      docs.where($"doc_id" % 2 === 1), $"text"))
    assert(!iw.contains("CartesianProduct"), iw)
    // the per-instance score join must BROADCAST the vocabulary-bounded
    // joint frequency table (the size gate's fast path at any vocab that
    // fits): the corpus bigram STREAM then never exchanges — its only
    // shuffle is the map-side-combined per-document rollup
    assert(iw.contains("BroadcastHashJoin"), iw)
  }

  test("mm05 perceptual dedup joins on band keys only (no cartesian)") {
    val plan = planOf(graft.ops.Multimodal.mm05PerceptualDedup(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("partitioned MERGE prunes the rewrite scan to matching partitions at runtime") {
    import spark.implicits._
    registerCatalog("graft_pq")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_pq.db")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "part", "v")
      .writeTo("graft_pq.db.prune1").using("parquet")
      .partitionedBy($"part").createOrReplace()
    Seq((1L, 9.0)).toDF("id", "nv").createOrReplaceTempView("prune1_src")
    val plan = spark.sql(
      """EXPLAIN FORMATTED
        |MERGE INTO graft_pq.db.prune1 t USING prune1_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
      .head().getString(0)
    // the group filter plants a dynamic pruning subquery over the
    // row-level scan — the partition-level COW precondition (execution
    // effects are pinned by AtomicCatalogSpec's inode tests)
    assert(plan.contains("dynamicpruning") || plan.contains("Subquery"),
      s"no runtime group filter on the merge scan:\n$plan")
    spark.sql("DROP TABLE graft_pq.db.prune1")
  }

  test("clean-count pruning (now default-on) reshapes NO plan in a " +
      "default session: consumption engages only under the " +
      "aggregatePushdown conf, so a plain filtered SELECT keeps its " +
      "Filter + pushed scan") {
    import spark.implicits._
    registerCatalog("graft_pq")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_pq.db")
    spark.range(200).select($"id".as("k"), ($"id" * 2).as("v"))
      .writeTo("graft_pq.db.clean1").using("parquet").createOrReplace()
    val df = spark.sql(
      "SELECT v FROM graft_pq.db.clean1 WHERE k >= 100")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Filter"),
      s"a default session's filtered SELECT must keep its Filter:\n$plan")
    assert(!plan.contains("LocalTableScan"), plan)
    assert(df.collect().map(_.getLong(0)).sorted ===
      (100L until 200L).map(_ * 2).toArray)
    spark.sql("DROP TABLE graft_pq.db.clean1")
  }
}
