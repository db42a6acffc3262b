package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The public API must be table-agnostic: every function is exercised here
  * on hand-built frames with caller-chosen column names (not the testdata
  * schemas the gate queries bind to).
  */
class GraftApiSpec extends GraftSuite {
  test("minhash + nearDupPairs + jaccardVerify find a planted near-dup") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (10L, base),
      (11L, base + " x"), // near-dup of 10
      (12L, "completely different words entirely unrelated content here"),
      (13L, "zebra yak xylophone wombat vulture unicorn tapir snake")
    ).toDF("my_id", "my_text")
    val sigs = Graft.minhashSignatures(docs, $"my_id", $"my_text")
    assert(sigs.count() == 4 && sigs.columns.toSet ==
      (1 to Graft.DefaultNumHashes).map("h" + _).toSet + "id")
    val pairs = Graft.nearDupPairs(sigs, minAgreement = Graft.DefaultMinAgreement)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((10L, 11L)), s"expected planted pair, got $found")
    val verified = Graft.jaccardVerify(docs, $"my_id", $"my_text", pairs)
      .filter($"jaccard" >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((10L, 11L)))
  }

  test("containmentVerify catches a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog again and again"
    val wrapper = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 4) +
      quote +
      (" eiusmod tempor incididunt ut labore et dolore magna aliqua veniam" * 4)
    val docs = Seq(
      (1L, quote),   // the short doc: every shingle also occurs in 2
      (2L, wrapper), // the long doc containing it verbatim
      (3L, "zebra yak xylophone wombat vulture unicorn tapir snake")
    ).toDF("my_id", "my_text")
    // direct pair injection: this spec pins the verify stage, not candidate
    // generation (the relaxed-agreement LSH path is pinned by the d15 gate)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Graft.containmentVerify(docs, $"my_id", $"my_text", pairs)
      .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    // full verbatim containment: the quote's shingle set is a subset of the
    // wrapper's, so containment of the smaller side is exactly 1.0 ...
    assert(out((1L, 2L)) == 1.0, out.toString)
    assert(out((1L, 3L)) < 0.2, out.toString)
    // ... while Jaccard on the same pair stays small (the score a
    // symmetric-only verify stage would have filtered away)
    val j = Graft.jaccardVerify(docs, $"my_id", $"my_text", pairs)
      .where($"id_a" === 1 && $"id_b" === 2)
      .select($"jaccard").as[Double].head()
    assert(j < 0.5, s"expected low jaccard for the contained pair, got $j")
  }

  test("full dedup composition retains exactly the keepers of a planted corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "pack my box with five dozen liquor jugs every single day now"
    val docs = Seq(
      (1L, base), // cluster keeper (near-dups 2, 3)
      (2L, base + " x"),
      (3L, base + " y z"),
      (4L, other), // exact-dup keeper (copy at 5)
      (5L, other),
      (6L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val out = Graft.dedupCorpus(docs, $"doc_id", $"text")
    // the retained frame keeps the ORIGINAL columns, no helper residue
    assert(out.columns.toSeq == Seq("doc_id", "text"), out.columns.toSeq)
    val retained = out.select($"doc_id").as[Long].collect().toSet
    // 5 dropped by exact dedup; 2,3 dropped as near-dups of 1
    assert(retained == Set(1L, 4L, 6L), retained.toString)
  }

  test("dedupCorpus keepBy reranks keepers: longest near-dup, best exact copy") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely unrelated content here"
    val docs = Seq(
      (1L, base, 0.0),
      (2L, base + " extra tail", 0.0), // longer near-dup of 1
      (3L, other, 1.0),
      (4L, other, 2.0) // exact copy of 3 with the higher quality score
    ).toDF("doc_id", "text", "q")
    // keep-longest: the near-dup cluster keeps 2 (longest); the exact pair
    // has equal lengths, so the tiebreak keeps the least id 3
    val byLen = Graft.dedupCorpus(docs, $"doc_id", $"text",
      keepBy = Some(length($"text")))
      .select($"doc_id").as[Long].collect().toSet
    assert(byLen == Set(2L, 3L), byLen.toString)
    // keep-best-quality: the exact pair keeps 4 (q=2.0); the near-dup pair
    // has equal q, so the tiebreak keeps the least id 1
    val byQ = Graft.dedupCorpus(docs, $"doc_id", $"text", keepBy = Some($"q"))
      .select($"doc_id").as[Long].collect().toSet
    assert(byQ == Set(1L, 4L), byQ.toString)
  }

  test("exactDedup groups identical payloads") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("k", "payload")
    val out = Graft.exactDedup(df, $"k", $"payload")
    assert(out.count() == 2)
    assert(out.filter($"n_copies" === 2).head().getAs[Long]("keeper_id") == 1L)
  }

  test("simhash of identical texts is identical, different texts differ") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta iota kappa")).toDF("i", "t")
    val out = Graft.simhash(df, $"i", $"t").as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L) && out(1L) != out(3L))
  }

  test("annTopK returns exact nearest neighbors on a constructed corpus") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))).toDF("cid", "emb")
    val queries = corpus.where($"cid" === 0L)
    val out = Graft.annTopK(corpus, $"cid", $"emb", queries, $"cid", $"emb", k = 2)
      .as[(Long, Long, Long)].collect().toSeq
    // nearest to [1,0] excluding self: 1 (cos~0.994), then 2 (cos 0)
    assert(out == Seq((0L, 1L, 1L), (0L, 2L, 2L)))
  }

  test("textStats + fingerprint append columns to arbitrary frames") {
    import spark.implicits._
    val df = Seq((5L, "the cat sat on the mat")).toDF("id", "body")
    val out = Graft.fingerprint(Graft.textStats(df, $"body"), $"body").head()
    assert(out.getAs[Long]("n_tokens") == 6)
    assert(out.getAs[Long]("n_distinct_tokens") == 5)
    assert(out.getAs[String]("fp_md5").length == 32)
  }

  test("sessionize splits on the gap and asofJoin carries the latest right row") {
    import spark.implicits._
    val ev = Seq(
      (7L, 1000L, 1L), (7L, 1100L, 2L), (7L, 9000L, 3L), (8L, 500L, 4L)
    ).toDF("uid", "sec", "eid")
      .withColumn("etime", timestamp_seconds($"sec")).drop("sec")
    val sess = Graft.sessionize(ev, $"uid", $"etime", $"eid")
      .select($"eid", $"session_id").as[(Long, Long)].collect().toMap
    assert(sess == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))

    val left = Seq((1L, 2000L, "L1"), (1L, 50L, "L0")).toDF("k", "t", "tag")
      .withColumn("t", timestamp_seconds($"t"))
    val right = Seq((1L, 1000L, 10.0), (1L, 1500L, 20.0)).toDF("k", "t", "price")
      .withColumn("t", timestamp_seconds($"t"))
    val joined = Graft.asofJoin(left, right, "k", "t", Seq("price"))
      .select($"tag", $"asof_price").as[(String, Option[Double])].collect().toMap
    assert(joined == Map("L1" -> Some(20.0), "L0" -> None))
  }

  test("asofJoin carries the latest right row wholesale (no torn rows)") {
    import spark.implicits._
    // latest right row has a NULL field: the output must NOT backfill it
    // from the older row — that would mix fields of two different rows
    val left = Seq((1L, 300L, "L")).toDF("k", "t", "tag")
      .withColumn("t", timestamp_seconds($"t"))
    val right = Seq((1L, 100L, Some(1.0), Some(2.0)), (1L, 200L, None, Some(3.0)))
      .toDF("k", "t", "a", "b")
      .withColumn("t", timestamp_seconds($"t"))
    val out = Graft.asofJoin(left, right, "k", "t", Seq("a", "b")).head()
    assert(out.isNullAt(out.fieldIndex("asof_a")), "null field backfilled from older row")
    assert(out.getAs[Double]("asof_b") == 3.0)
  }

  test("sessionize and asofJoin are collide-proof on hostile schemas") {
    import spark.implicits._
    // a frame that ALREADY has session_id and the internal scratch name:
    // sessionize must refuse the default (never silently replace caller
    // data) and work under a caller-chosen output name, preserving both
    // pre-existing columns untouched
    val ev = Seq((7L, 1000L, 1L, 99L, "x"), (7L, 9000L, 2L, 98L, "y"))
      .toDF("uid", "sec", "eid", "session_id", "__gap")
      .withColumn("etime", timestamp_seconds($"sec")).drop("sec")
    val err = intercept[IllegalArgumentException] {
      Graft.sessionize(ev, $"uid", $"etime", $"eid")
    }
    assert(err.getMessage.contains("session_id"))
    val sess = Graft.sessionize(ev, $"uid", $"etime", $"eid", out = "sess2")
    assert(sess.columns.count(_ == "__gap") == 1) // caller's column survives
    val rows = sess.select($"eid", $"session_id", $"__gap", $"sess2")
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows(1L) == ((99L, "x", 1L)) && rows(2L) == ((98L, "y", 2L)))

    // left frame already carrying asof_price and the scratch names: default
    // prefix refuses; a caller prefix works and every hostile column is
    // carried through unchanged
    val left = Seq((1L, 2000L, "L1", 7.0, 5, 6, 8))
      .toDF("k", "t", "tag", "asof_price", "__r", "__is_left", "__rn")
      .withColumn("t", timestamp_seconds($"t"))
    val right = Seq((1L, 1000L, 10.0), (1L, 1500L, 20.0), (2L, 10L, 9.0))
      .toDF("k", "t", "price")
      .withColumn("t", timestamp_seconds($"t"))
    val err2 = intercept[IllegalArgumentException] {
      Graft.asofJoin(left, right, "k", "t", Seq("price"))
    }
    assert(err2.getMessage.contains("asof_price"))
    val out = Graft.asofJoin(left, right, "k", "t", Seq("price"), prefix = "r_").head()
    assert(out.getAs[Double]("r_price") == 20.0)
    assert(out.getAs[Double]("asof_price") == 7.0) // caller column untouched
    assert(out.getAs[Int]("__r") == 5 && out.getAs[Int]("__is_left") == 6 &&
      out.getAs[Int]("__rn") == 8)

    // output names that collide with the DEFAULT scratch names must still
    // come through: sessionize(out = "__gap") and asofJoin outputs "__r"
    val ev2 = Seq((7L, 1000L, 1L)).toDF("uid", "sec", "eid")
      .withColumn("etime", timestamp_seconds($"sec")).drop("sec")
    val s2 = Graft.sessionize(ev2, $"uid", $"etime", $"eid", out = "__gap")
    assert(s2.select($"__gap").as[Long].head() == 1L)
    val l2 = Seq((1L, 2000L)).toDF("k", "t")
      .withColumn("t", timestamp_seconds($"t"))
    val r2 = Seq((1L, 1000L, 5.0)).toDF("k", "t", "r")
      .withColumn("t", timestamp_seconds($"t"))
    val o2 = Graft.asofJoin(l2, r2, "k", "t", Seq("r"), prefix = "__").head()
    assert(o2.getAs[Double]("__r") == 5.0)
  }

  test("saltedJoin equals the plain inner join and survives hostile schemas") {
    import spark.implicits._
    val facts = Seq((1L, 10L, "a"), (1L, 11L, "b"), (2L, 12L, "c"), (9L, 13L, "d"))
      .toDF("fk", "line_no", "payload")
    val dims = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("dk", "dname")
    val plain = facts.join(dims, $"fk" === $"dk")
      .select($"line_no", $"dname").as[(Long, String)].collect().toSet
    val salted = Graft.saltedJoin(facts, dims, $"fk", $"dk", $"line_no", salts = 4)
    assert(salted.columns.toSeq == Seq("fk", "line_no", "payload", "dk", "dname"))
    val got = salted.select($"line_no", $"dname").as[(Long, String)].collect().toSet
    assert(got == plain && got.size == 3)
    // caller columns named like the scratch salts pass through untouched
    val hostile = facts.withColumnRenamed("payload", "__salt_l")
    val got2 = Graft.saltedJoin(hostile, dims.withColumn("__salt_r", lit(7)),
      $"fk", $"dk", $"line_no", salts = 2)
    assert(got2.columns.count(_ == "__salt_l") == 1 &&
      got2.columns.count(_ == "__salt_r") == 1)
    assert(got2.count() == 3 && got2.where($"__salt_r" === 7).count() == 3)

    // a NULL saltBy value must salt (to 0), not evaporate the row — the
    // plain inner join this replaces would keep it
    val withNull = Seq((Some(1L), Option.empty[Long], Some("n")))
      .toDF("fk", "line_no", "payload")
    val kept = Graft.saltedJoin(withNull, dims, $"fk", $"dk", $"line_no",
      salts = 4)
    assert(kept.count() == 1 && kept.head().getAs[String]("dname") == "one")
  }

  test("redactPii counts and redacts planted emails, phones, and IPs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@ex-ample.co.uk or x@y.io, call (555) 123-4567 from 192.168.0.1"),
      (2L, "no pii here, 1234 is not an ip and a@b is not an email"),
      (3L, "(12) 34-56 is not a phone; 999.999.999.999999 has no boundary match")
    ).toDF("k", "body")
    val out = Graft.redactPii(docs, $"body").orderBy($"k").collect()
    assert(out(0).getAs[Long]("n_emails") == 2)
    assert(out(0).getAs[Long]("n_phones") == 1)
    assert(out(0).getAs[Long]("n_ips") == 1)
    assert(out(0).getAs[String]("text_redacted") ==
      "mail <EMAIL> or <EMAIL>, call <PHONE> from <IP>")
    assert(out(1).getAs[Long]("n_emails") == 0 &&
      out(1).getAs[Long]("n_phones") == 0 && out(1).getAs[Long]("n_ips") == 0)
    assert(out(1).getAs[String]("text_redacted") ==
      "no pii here, 1234 is not an ip and a@b is not an email")
    // 999.999.999.999999: the last quad is 6 digits, but the regex still
    // matches a 3-digit prefix of it ("999.999.999.999") ONLY if a word
    // boundary follows — a digit follows, so no match
    assert(out(2).getAs[Long]("n_ips") == 0)

    // a dotted-quad NESTED in an email's domain is part of the email:
    // redacted once as <EMAIL>, counted in n_emails only (counts always
    // equal the placeholders actually inserted)
    val nested = Seq((1L, "contact x@1.2.3.44.com now")).toDF("k", "body")
    val n = Graft.redactPii(nested, $"body").head()
    assert(n.getAs[Long]("n_emails") == 1 && n.getAs[Long]("n_ips") == 0)
    assert(n.getAs[String]("text_redacted") == "contact <EMAIL> now")
  }

  test("dropBoilerplate drops only corpus-repeated chunks and rebuilds in order") {
    import spark.implicits._
    val banner = (1 to 10).map(i => s"w$i").mkString(" ") // one exact chunk
    val docs = Seq(
      (1L, s"$banner alpha beta gamma"),
      (2L, s"$banner delta epsilon"),
      (3L, "unique content only nothing repeated here at all")
    ).toDF("k", "body")
    val out = Graft.dropBoilerplate(docs, $"k", $"body", chunkWords = 10,
      maxDocFreq = 1).orderBy($"id").collect()
    assert(out(0).getAs[Long]("n_chunks") == 2 && out(0).getAs[Long]("n_dropped") == 1)
    assert(out(0).getAs[String]("clean_text") == "alpha beta gamma")
    assert(out(1).getAs[String]("clean_text") == "delta epsilon")
    assert(out(2).getAs[Long]("n_dropped") == 0)
    assert(out(2).getAs[String]("clean_text") ==
      "unique content only nothing repeated here at all")
    // a doc that is ALL boilerplate comes back empty, not missing
    val all = Seq((1L, banner), (2L, banner)).toDF("k", "body")
    val gone = Graft.dropBoilerplate(all, $"k", $"body", 10, 1).orderBy($"id").collect()
    assert(gone.length == 2 && gone.forall(_.getAs[String]("clean_text") == ""))
  }

  test("hashSample/stratifiedSample are pure row properties with nested membership") {
    import spark.implicits._
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("s", when($"k" % 2 === 0, "a").otherwise("b"))
    val ids1 = Graft.hashSample(df, $"k", 0.25).select("k").as[Long].collect().toSet
    assert(math.abs(ids1.size - 2500.0) / 2500 < 0.1, ids1.size.toString)
    // membership survives re-partitioning (df.sample's RNG does not)
    val ids2 = Graft.hashSample(df.repartition(7), $"k", 0.25)
      .select("k").as[Long].collect().toSet
    assert(ids1 == ids2)
    // samples nest: the 25% sample is a strict subset of the 50% one
    val half = Graft.hashSample(df, $"k", 0.5).select("k").as[Long].collect().toSet
    assert(ids1.subsetOf(half) && half.size > ids1.size)
    // stratified: stratum a keeps everything, default drops the rest
    val strat = Graft.stratifiedSample(df, $"k", $"s", Map("a" -> 1.0))
    assert(strat.select($"s").distinct().as[String].collect().toSeq == Seq("a"))
    assert(strat.count() == 5000)
  }

  test("pageRank on a path graph: center outranks symmetric leaves, ranks sum to 1") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val ranks = Graft.pageRank(edges, $"s", $"d", iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(ranks.keySet == Set(1L, 2L, 3L))
    assert(ranks(1L) == ranks(3L), "symmetric leaves must have identical rank")
    assert(ranks(2L) > ranks(1L), "the center must outrank the leaves")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    // determinism across re-evaluation (decimal sums are order-free)
    val again = Graft.pageRank(edges, $"s", $"d", iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(again == ranks)
  }

  test("oovStats counts out-of-vocabulary tokens per document") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a a a a"), (3L, "x y")).toDF("k", "body")
    val vocab = Seq("a", "b", "a").toDF("w") // dup entry must not double-count
    val out = Graft.oovStats(docs, $"k", $"body", vocab, $"w")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate")))).toMap
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))
    assert(out(2L) == ((4L, 0L, 0.0)))
    assert(out(3L) == ((2L, 2L, 1.0)))
  }

  test("cleanCorpus composes boilerplate removal, repetition filter, and dedup") {
    import spark.implicits._
    val banner = (1 to 10).map(i => s"nav$i").mkString(" ")
    val body = "the quick brown fox jumps over the lazy dog again and again tonight"
    val loop = Seq.fill(30)("buy now").mkString(" ")
    val docs = Seq(
      (1L, s"$banner $body"),       // banner stripped, keeper of near-dup pair
      (2L, s"$banner $body x"),     // near-dup of 1 after banner strip
      (3L, loop),                   // degenerate repetition
      (4L, "completely different words entirely unrelated content here today"),
      (5L, "completely different words entirely unrelated content here today"),
      (6L, banner)                  // all boilerplate
    ).toDF("doc_id", "body")
    val out = Graft.cleanCorpus(docs, $"doc_id", $"body",
      chunkWords = 10, maxDocFreq = 2, maxDupFrac = 0.3)
    assert(out.columns.toSeq == Seq("id", "n_chunks", "n_dropped", "clean_text"))
    val rows = out.collect().map(r =>
      r.getAs[Long]("id") -> r.getAs[String]("clean_text")).toMap
    // 2 near-dup of 1; 3 repetitive; 5 exact dup of 4; 6 empty after strip
    assert(rows.keySet == Set(1L, 4L), rows.keySet.toString)
    assert(rows(1L) == body) // the banner chunk is gone, body rebuilt in order
    assert(rows(4L) == "completely different words entirely unrelated content here today")
  }

  test("semanticDedup keeps least id per planted cosine cluster") {
    import spark.implicits._
    val dim = 8
    def vec(base: Array[Double], eps: Double): Seq[Double] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }.toSeq
    val a = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val b = Array(0.0, 0, 0, 1.0, 1.0, 0, 0, 0)
    val rows = Seq(
      (10L, vec(a, 0.0), "a0"), (11L, vec(a, 1e-6), "a1"), (12L, vec(a, 2e-6), "a2"),
      (20L, vec(b, 0.0), "b0"), (21L, vec(b, 1e-6), "b1"),
      (30L, Seq(0.0, 1.0, 0, 0, 0, 0, -1.0, 0), "solo")
    ).toDF("vid", "v", "tag")
    val kept = Graft.semanticDedup(rows, $"vid", $"v", dim = dim,
      threshold = 0.99, numTables = 4, bitsPerBucket = 2)
      .select($"vid").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 30L), s"got $kept")
    // a threshold nothing reaches: empty edge graph, everything survives
    val keptAll = Graft.semanticDedup(rows, $"vid", $"v", dim = dim,
      threshold = 1.5, numTables = 4, bitsPerBucket = 2)
      .select($"vid").as[Long].collect().toSet
    assert(keptAll.size == 6)
    // a caller column named like the scratch id survives untouched
    val hostile = rows.withColumn("__sem_id", lit("keep"))
    val out2 = Graft.semanticDedup(hostile, $"vid", $"v", dim = dim,
      threshold = 0.99, numTables = 4, bitsPerBucket = 2)
    assert(out2.columns.count(_ == "__sem_id") == 1)
    assert(out2.select($"__sem_id").distinct().head().getString(0) == "keep")
  }

  test("connectedComponents labels every vertex with its least reachable id") {
    import spark.implicits._
    // component {1,2,3,4} is a path (diameter 3, needs real propagation),
    // {10,11} a pair, {20,21,22} a triangle with edges listed "backwards"
    val edges = Seq(
      (2L, 1L), (3L, 2L), (4L, 3L),
      (10L, 11L),
      (22L, 21L), (21L, 20L), (22L, 20L)).toDF("x", "y")
    val cc = Graft.connectedComponents(edges, $"x", $"y")
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(cc == expected, s"got $cc")
  }

  test("connectedComponents converges on a long chain (diameter 16)") {
    import spark.implicits._
    val edges = (1L to 16L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Graft.connectedComponents(edges, $"a", $"b")
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 17 && cc.values.forall(_ == 1L), s"got $cc")
  }

  test("connectedComponents edge cases: empty graph, null endpoints parity") {
    import spark.implicits._
    // empty edge list -> empty labels, correct schema, both paths
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val eFast = Graft.connectedComponents(empty, $"a", $"b")
    assert(eFast.columns.toSeq == Seq("id", "component") && eFast.isEmpty)
    assert(Graft.connectedComponents(empty, $"a", $"b",
      localEdgeLimit = 0L).isEmpty)
    // a null endpoint (caller bug, but behavior must be DEFINED): the
    // local gate steps aside so both paths give the same observable
    // result as the distributed loop always has
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("a", "b")
    val gotFast = Graft.connectedComponents(withNull, $"a", $"b")
      .as[(Option[Long], Option[Long])].collect().toSet
    val gotDist = Graft.connectedComponents(withNull, $"a", $"b",
      localEdgeLimit = 0L).as[(Option[Long], Option[Long])].collect().toSet
    assert(gotFast == gotDist, s"null-endpoint paths diverged: $gotFast vs $gotDist")
  }

  test("connectedComponents local fast path matches the distributed fixpoint") {
    import spark.implicits._
    // two components with backwards edges + a diameter-5 path; run the
    // size-gated driver union-find against the forced distributed loop
    // (localEdgeLimit = 0) — labels must be bit-identical, on long AND
    // string ids (string order = unsigned UTF-8 bytes on both paths)
    val el = Seq((9L, 3L), (3L, 7L), (7L, 1L), (12L, 11L), (5L, 4L), (4L, 3L))
    val edges = el.toDF("a", "b")
    val fast = Graft.connectedComponents(edges, $"a", $"b")
      .as[(Long, Long)].collect().toMap
    val dist = Graft.connectedComponents(edges, $"a", $"b",
      localEdgeLimit = 0L).as[(Long, Long)].collect().toMap
    assert(fast == dist, s"long ids diverged: $fast vs $dist")
    val sEdges = el.map { case (x, y) => (s"d$x", s"d$y") }.toDF("a", "b")
    val sFast = Graft.connectedComponents(sEdges, $"a", $"b")
      .as[(String, String)].collect().toMap
    val sDist = Graft.connectedComponents(sEdges, $"a", $"b",
      localEdgeLimit = 0L).as[(String, String)].collect().toMap
    assert(sFast == sDist, s"string ids diverged: $sFast vs $sDist")
    // an empty corpus trains zero merges on both BPE paths too
    val noDocs = Seq.empty[(Long, String)].toDF("id", "body")
    assert(Graft.trainBpeMerges(noDocs, $"body", nMerges = 3).isEmpty)
    assert(Graft.trainBpeMerges(noDocs, $"body", nMerges = 3,
      localVocabLimit = 0L).isEmpty)
  }

  test("graph loops converge identically under reliable checkpointing") {
    import spark.implicits._
    // the cluster-posture mode: rounds materialize through a reliable
    // checkpoint dir instead of executor-resident localCheckpoint blocks;
    // results must be bit-identical in both modes
    val dir = tmpDir("graft_ckpt").toString
    val edges = ((1L to 16L).map(i => (i, i + 1)) ++ Seq((30L, 31L)))
      .toDF("a", "b")
    val local = Graft.connectedComponents(edges, $"a", $"b")
      .as[(Long, Long)].collect().toMap
    val reliable = Graft.connectedComponents(edges, $"a", $"b",
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(local == reliable, s"CC diverged: $local vs $reliable")
    val prLocal = Graft.pageRank(edges, $"a", $"b", iters = 3)
      .as[(Long, Double)].collect().toMap
    val prReliable = Graft.pageRank(edges, $"a", $"b", iters = 3,
      checkpointDir = Some(dir)).as[(Long, Double)].collect().toMap
    assert(prLocal == prReliable, "pageRank diverged across modes")
    // the reliable mode actually wrote RDD checkpoint data to the dir
    assert(new java.io.File(dir).listFiles.nonEmpty,
      "reliable mode left no checkpoint data")
  }

  test("dedupCorpus rejects a signature/banding mismatch loudly") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Graft.dedupCorpus(df, $"doc_id", $"text", numHashes = 16)
    }
    assert(e.getMessage.contains("bands * rowsPerBand"), e.getMessage)
  }

  test("distinctiveTerms surfaces the group-specific token over shared ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "alpha alpha shared"),
      (2L, "x", "alpha shared"),
      (3L, "y", "beta shared"),
      (4L, "y", "beta beta shared")
    ).toDF("k", "g", "body")
    val out = Graft.distinctiveTerms(docs, $"k", $"body", $"g", topK = 1)
      .select("grp", "token", "tf", "df", "score")
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // alpha: tf=3 in x, df=2 -> 1.5; shared: tf=2, df=4 -> 0.5
    assert(out("x") == (("alpha", 3L, 2L, 1.5)))
    assert(out("y") == (("beta", 3L, 2L, 1.5)))
  }

  test("domainStats strips www and counts mentions vs documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a https://www.foo.com/x b https://foo.com/y"),
      (2L, "c http://bar.org/z"),
      (3L, "plain text, no urls")
    ).toDF("k", "body")
    val out = Graft.domainStats(docs, $"k", $"body")
      .select("domain", "n_urls", "n_docs", "urls_per_doc")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map("foo.com" -> ((2L, 1L, 2.0)), "bar.org" -> ((1L, 1L, 1.0))))
  }

  test("packSequences chops the concatenated token stream exactly") {
    import spark.implicits._
    // capacity 10: doc 1 (7 tok) fills [0,7); doc 2 (6 tok) straddles into
    // seq 1; doc 3 (0 tok) sits at offset 3 of seq 1 with no sequences;
    // doc 4 (25 tok) spans seqs 1..3
    val df = Seq((1L, 7L), (2L, 6L), (3L, 0L), (4L, 25L)).toDF("k", "n")
    val out = Graft.packSequences(df, $"k", $"n", capacity = 10L,
      partitions = 3)
      .orderBy("id")
      .select("id", "start_tok", "seq_first", "off_first", "seq_last", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 0L, 0L, 1L),
      (2L, 7L, 0L, 7L, 1L, 2L),
      (3L, 13L, 1L, 3L, 1L, 0L),
      (4L, 13L, 1L, 3L, 3L, 3L)))
    // partition count must not change the packing (exact global prefix sum)
    val one = Graft.packSequences(df, $"k", $"n", 10L, partitions = 1)
      .orderBy("id").select("start_tok").as[Long].collect().toSeq
    assert(one == Seq(0L, 7L, 13L, 13L))
  }

  test("packSequences orders string ids and survives sparse clustered ids") {
    import spark.implicits._
    // string ids: stream order is engine string order (binary lexicographic),
    // including ids that tie on the 8-byte bucketing prefix
    val s = Seq(("aardvark1", 7L), ("aardvark2", 6L), ("b", 25L), ("c", 2L))
      .toDF("k", "n")
    val sOut = Graft.packSequences(s, $"k", $"n", capacity = 10L,
      partitions = 3)
      .orderBy("id").select("id", "start_tok").as[(String, Long)]
      .collect().toSeq
    assert(sOut == Seq(("aardvark1", 0L), ("aardvark2", 7L), ("b", 13L),
      ("c", 38L)))
    // the equal-width degenerate case: dense ids plus one near 2^50 —
    // quantile buckets must still produce the exact id-order prefix sum
    // for any partition count
    val sparse = ((1L to 100L) :+ (1L << 50)).map(i => (i, 3L)).toDF("k", "n")
    val a = Graft.packSequences(sparse, $"k", $"n", 10L, partitions = 8)
      .orderBy("id").select("start_tok").as[Long].collect().toSeq
    assert(a == (0L until 101L).map(_ * 3L))
  }

  test("dedupIncremental admits only batch rows new to the corpus") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "zebra yak xylophone wombat vulture unicorn tapir snake"
    val existing = Seq((1L, a), (2L, b)).toDF("k", "body")
    val incoming = Seq(
      (10L, a),                      // exact copy -> dropped by the exact pass
      (11L, a + " x"),               // near-dup of 1 -> dropped by verify
      (12L, "completely different words entirely unrelated content here"),
      (13L, b + " y"),               // near-dup of 2 -> dropped
      (14L, "brand new payload shared by two batch rows exactly alike"),
      (15L, "brand new payload shared by two batch rows exactly alike")
    ).toDF("bid", "btxt")
    val out = Graft.dedupIncremental(existing, $"k", $"body",
      incoming, $"bid", $"btxt")
    // 14 and 15 BOTH stay: within-batch dedup is dedupCorpus's job
    assert(out.select("bid").as[Long].collect().toSet == Set(12L, 14L, 15L))
    assert(out.columns.toSeq == Seq("bid", "btxt"))
    out.unpersist()
    // a precomputed signature index and a non-broadcast run agree
    val idx = Graft.minhashSignatures(existing, $"k", $"body",
      assumeUniqueIds = true)
    val viaIdx = Graft.dedupIncremental(existing, $"k", $"body",
      incoming, $"bid", $"btxt", existingSigs = Some(idx))
    assert(viaIdx.select("bid").as[Long].collect().toSet == Set(12L, 14L, 15L))
    viaIdx.unpersist()
    val shuffled = Graft.dedupIncremental(existing, $"k", $"body",
      incoming, $"bid", $"btxt", broadcastIncoming = false)
    assert(shuffled.select("bid").as[Long].collect().toSet == Set(12L, 14L, 15L))
    shuffled.unpersist()
  }

  test("dedupCorpus keepBy rejects a non-integral id instead of returning empty") {
    import spark.implicits._
    val df = Seq(("a", "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Graft.dedupCorpus(df, $"doc_id", $"text", keepBy = Some(length($"text")))
    }
    assert(e.getMessage.contains("integral id"), e.getMessage)
    // without keepBy a string id is fine (least-id keeper is type-agnostic)
    assert(Graft.dedupCorpus(df, $"doc_id", $"text").count() == 1)
  }

  test("hashSample/stratifiedSample never silently drop NULL-key rows") {
    import spark.implicits._
    val df = Seq((Some(1L), "a"), (None, "a"), (None, "b"))
      .toDF("k", "s")
    // fraction 1.0 keeps EVERY row, null keys included
    assert(Graft.hashSample(df, $"k", 1.0).count() == 3)
    assert(Graft.stratifiedSample(df, $"k", $"s", Map("a" -> 1.0, "b" -> 1.0))
      .count() == 3)
    // and null keys are a deterministic bucket, not a coin flip: both
    // null-key rows share the empty-string bucket so they move together
    val kept = Graft.hashSample(df, $"k", 0.5).where($"k".isNull).count()
    assert(kept == 0 || kept == 2, s"null keys split across buckets: $kept")
  }

  test("dedupCorpus returns a persisted, already-materialized frame and releases its scratch") {
    import spark.implicits._
    val docs = Seq((1L, "p q r s t u v w"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val out = Graft.dedupCorpus(docs, $"doc_id", $"text")
    assert(out.storageLevel.useMemory, "result should be persisted MEMORY_ONLY")
    assert(out.count() == 1)
    out.unpersist(blocking = true)
    assert(!out.storageLevel.useMemory)
  }

  test("contamination is 1.0 for a benchmark copy, 0 for unrelated text") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, benchText), // verbatim benchmark leak
      (2L, "one two three four five six seven eight nine"), // clean
      (3L, "tiny") // < n tokens: dropped
    ).toDF("k", "body")
    val bench = Seq(Tuple1(benchText)).toDF("btext")
    val out = Graft.contamination(corpus, $"k", $"body", bench, $"btext")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L), out.toSeq)
    assert(out(0)._4 == 1.0 && out(1)._4 == 0.0, out.toSeq)
  }

  test("contaminationBloom is bit-identical to contamination, including the empty-benchmark branch") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, benchText),
      (2L, "one two three four five six seven eight nine"),
      (3L, "alpha beta gamma delta epsilon completely different tail here"),
      (4L, "tiny")
    ).toDF("k", "body")
    val bench = Seq(Tuple1(benchText)).toDF("btext")
    val exact = Graft.contamination(corpus, $"k", $"body", bench, $"btext")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val bloom = Graft.contaminationBloom(corpus, $"k", $"body", bench, $"btext")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    // Empty benchmark: the bloom agg returns NULL; every doc must still
    // report its denominator with zero hits, like the exact path.
    val emptyBench = bench.where(lit(false))
    val exactE = Graft.contamination(corpus, $"k", $"body", emptyBench, $"btext")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val bloomE = Graft.contaminationBloom(corpus, $"k", $"body", emptyBench, $"btext")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(bloomE == exactE, s"bloom=$bloomE exact=$exactE")
  }

  test("repetitionStats separates a repeated phrase from distinct text") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"), // one repeated 2-gram
      (2L, "every word here is fully unique") // all distinct 2-grams
    ).toDF("k", "body")
    val out = Graft.repetitionStats(df, $"k", $"body")
      .select($"id", $"dup_ngram_frac", $"max_ngram_count")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    // doc 1: 5 2-grams, 1 distinct -> frac 0.8, mode count 5
    assert(out(0)._2 == 0.8 && out(0)._3 == 5L, out.toSeq)
    assert(out(1)._2 == 0.0 && out(1)._3 == 1L, out.toSeq)
  }

  test("qualitySignals computes char-class ratios on a crafted string") {
    import spark.implicits._
    // 20 chars: 2 punct, 3 digits, 1 upper; 5 words, no newline
    val s0 = "Ab cd, ef! 123 ghijk"
    val df = Seq(Tuple1(s0)).toDF("body")
    val r = Graft.qualitySignals(df, $"body")
      .select($"n_chars", $"punct_ratio", $"digit_ratio", $"upper_ratio",
        $"n_lines")
      .head()
    assert(r.getLong(0) == 20L)
    assert(r.getDouble(1) == 2.0 / 20 && r.getDouble(2) == 3.0 / 20 &&
      r.getDouble(3) == 1.0 / 20, r.toString)
    assert(r.getLong(4) == 1L)
  }

  test("annTopKLsh and annTopKIvf find a planted nearest neighbor") {
    import spark.implicits._
    val dim = 4
    // query 900 points almost exactly along corpus vector 7's direction
    val corpus = Seq(
      (7L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (8L, Seq(-1.0f, 0.5f, -2.0f, 1.0f)),
      (9L, Seq(0.0f, -1.0f, 0.0f, -1.0f))
    ).toDF("cid", "cvec")
    val queries = Seq((900L, Seq(1.01f, 2.01f, 3.01f, 4.01f))).toDF("qid", "qvec")
    val lsh = Graft.annTopKLsh(corpus, $"cid", $"cvec",
      queries, $"qid", $"qvec", dim = dim, k = 1,
      numTables = 2, bitsPerBucket = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(lsh == Seq((900L, 1L, 7L)), lsh.toString)
    val ivf = Graft.annTopKIvf(corpus, $"cid", $"cvec",
      queries, $"qid", $"qvec",
      corpus, $"cid", $"cvec", // every corpus vector its own centroid
      k = 1, nProbe = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ivf == Seq((900L, 1L, 7L)), ivf.toString)
  }

  test("semanticContamination flags the planted benchmark-parallel vector only") {
    import spark.implicits._
    val dim = 4
    val corpus = Seq(
      (10L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),  // parallel to bench 500 -> hit
      (11L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)), // opposed to bench 501 -> no hit
      (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),  // orthogonal-ish -> no hit
      (13L, Seq(0.0f, 0.0f, 0.0f, 0.0f))   // zero norm: cannot match
    ).toDF("cid", "cvec")
    val bench = Seq(
      (500L, Seq(2.0f, 4.0f, 6.0f, 8.0f)),
      (501L, Seq(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("bid", "bvec")
    val full = Graft.semanticContamination(corpus, $"cid", $"cvec",
        bench, $"bid", $"bvec", dim = dim, threshold = 0.95,
        numTables = 2, bitsPerBucket = 2)
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // every corpus row reports, including the zero-norm one
    assert(full.map(_._1) == Seq(10L, 11L, 12L, 13L), full)
    assert(full.find(_._1 == 10L).get == ((10L, 1L, true)), full)
    assert(full.filter(_._1 != 10L).forall(r => r._2 == 0L && !r._3), full)
  }

  test("embeddingNearDupPairs ranks a planted identical-direction pair first") {
    import spark.implicits._
    val dim = 4
    // 100, 101 point the same way (cosine 1); the rest are axis-aligned
    val rows = Seq(
      (100L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (101L, Seq(2.0f, 4.0f, 6.0f, 8.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)) // zero norm: must never pair
    ).toDF("eid", "emb")
    val out = Graft.embeddingNearDupPairs(rows, $"eid", $"emb", dim = dim,
      numTables = 2, bitsPerBucket = 2, topN = 10)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty && out.head == ((100L, 101L, 1L)), out.toSeq)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), out.toSeq)
  }

  test("lshBucketStats predicts bucket sizes; maxBucketSize fails fast naming the bucket") {
    import spark.implicits._
    // 20 signature rows sharing band 1's bucket (h1=h2=7); bands 2-4 unique
    val hot = (1L to 20L).map(i => (i, 7L, 7L, 100 + i, 200 + i, 300 + i, 400 + i, 500 + i, 600 + i))
      .toDF("id", "h1", "h2", "h3", "h4", "h5", "h6", "h7", "h8")
    val stats = Graft.lshBucketStats(hot, bands = 4, rowsPerBand = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // band 1: one bucket of 20 -> 190 candidate pairs; bands 2-4: all singletons
    assert(stats == Seq(
      (1L, 1L, 20L, 20L, 190L),
      (2L, 20L, 20L, 1L, 0L),
      (3L, 20L, 20L, 1L, 0L),
      (4L, 20L, 20L, 1L, 0L)), stats)
    // uncapped: the hot bucket generates its 190 pairs (n_match >= 2 via band 1)
    assert(Graft.nearDupPairs(hot, 4, 2, minAgreement = 2).count() == 190L)
    val e = intercept[Exception] { // SparkRuntimeException (USER_RAISED_EXCEPTION)
      Graft.nearDupPairs(hot, 4, 2, minAgreement = 2, maxBucketSize = 10).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("1:7:7") && msg.contains("maxBucketSize = 10"), msg)
    // a cap the buckets respect changes nothing
    assert(Graft.nearDupPairs(hot, 4, 2, minAgreement = 2, maxBucketSize = 20).count() == 190L)
  }

  test("snapshotDiff classifies added/removed/changed and omits unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("k", "grp", "cnt")
    val neu = Seq((2L, "a", 21L), (3L, "b", 30L), (4L, "d", 40L), (5L, "e", 50L))
      .toDF("k", "grp", "cnt")
    val d = Graft.snapshotDiff(old, neu, Seq("k"), Seq("grp", "cnt"))
      .select($"k", $"change").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "removed", 2L -> "changed", 4L -> "changed", 5L -> "added"))
    // null-safe compare: NULL -> NULL is unchanged, NULL -> value is a change
    val o2 = Seq((1L, Option.empty[String]), (2L, Option.empty[String])).toDF("k", "v")
    val n2 = Seq((1L, Option.empty[String]), (2L, Option("x"))).toDF("k", "v")
    val d2 = Graft.snapshotDiff(o2, n2, Seq("k"), Seq("v"))
      .select($"k", $"change").as[(Long, String)].collect().toMap
    assert(d2 == Map(2L -> "changed"))
    val err = intercept[IllegalArgumentException](
      Graft.snapshotDiff(old.withColumnRenamed("k", "change"),
        neu.withColumnRenamed("k", "change"), Seq("change"), Seq("cnt")))
    assert(err.getMessage.contains("collide"))
  }

  test("capPerGroup keeps the top-n by priority with a deterministic tiebreak") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 9L), ("a", 3L, 9L), ("a", 4L, 1L),
      ("b", 5L, 7L)).toDF("dom", "rid", "score")
    val kept = Graft.capPerGroup(df, $"dom", $"score", $"rid", n = 2)
      .select($"rid").as[Long].collect().toSet
    // group a: score-9 rows win, rid 2 beats rid 3 on the tiebreak — both kept at n=2
    assert(kept == Set(2L, 3L, 5L))
    assert(Graft.capPerGroup(df, $"dom", $"score", $"rid", n = 1)
      .select($"rid").as[Long].collect().toSet == Set(2L, 5L))
    assert(intercept[IllegalArgumentException](
      Graft.capPerGroup(df, $"dom", $"score", $"rid", n = 0))
      .getMessage.contains("n must be"))
  }

  test("scd2FromChangeLog collapses runs into versioned intervals") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "bronze"),
      (1L, t("2024-01-02 00:00:00"), 2L, "bronze"), // same state: collapsed
      (1L, t("2024-01-03 00:00:00"), 3L, "silver"),
      (1L, t("2024-01-04 00:00:00"), 4L, "gold"),
      (2L, t("2024-01-01 12:00:00"), 5L, "bronze")
    ).toDF("uid", "at", "seq", "tier")
    val scd = Graft.scd2FromChangeLog(log, "uid", "at", $"seq", Seq("tier"))
    val rows = scd.orderBy($"uid", $"version")
      .select($"uid", $"tier", $"version", $"is_current", $"valid_to")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1L, "bronze", 1L, false), (1L, "silver", 2L, false),
        (1L, "gold", 3L, true), (2L, "bronze", 1L, true)))
    // each closed interval's valid_to is the successor's valid_from
    assert(rows(0).getTimestamp(4) == t("2024-01-03 00:00:00"))
    assert(rows(1).getTimestamp(4) == t("2024-01-04 00:00:00"))
  }

  test("scdMerge inserts, versions, and passes history through") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "bronze"),
      (1L, t("2024-01-03 00:00:00"), 2L, "silver"),
      (2L, t("2024-01-01 00:00:00"), 3L, "gold")
    ).toDF("uid", "at", "seq", "tier")
    val current = Graft.scd2FromChangeLog(log, "uid", "at", $"seq", Seq("tier"))
    val updates = Seq(
      (1L, "gold", t("2024-01-10 00:00:00")),   // change: close + version 3
      (2L, "gold", t("2024-01-10 00:00:00")),   // no-op
      (9L, "bronze", t("2024-01-10 00:00:00"))  // brand-new key
    ).toDF("uid", "tier", "at")
    val merged = Graft.scdMerge(current, updates, "uid", Seq("tier"), "at")
    val got = merged.orderBy($"uid", $"version")
      .select($"uid", $"tier", $"version", $"is_current").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (1L, "bronze", 1L, false), (1L, "silver", 2L, false), (1L, "gold", 3L, true),
      (2L, "gold", 1L, true), (9L, "bronze", 1L, true)))
    // the closed row was sealed at the update's effective timestamp
    val closed = merged.where($"uid" === 1L && $"version" === 2L)
      .select($"valid_to").as[java.sql.Timestamp].head()
    assert(closed == t("2024-01-10 00:00:00"))
  }

  test("scoreLinearHashed averages bucket weights and is length-invariant") {
    import spark.implicits._
    val w = (0 until 16).map(i => BigDecimal(i) / 10) // bucket i weighs i/10
    val docs = Seq((1L, "alpha alpha alpha"), (2L, "alpha"), (3L, ""),
      (4L, "alpha beta")).toDF("id", "body")
    val scored = Graft.scoreLinearHashed(docs, $"body", w, bias = BigDecimal(0))
    val byId = scored.select($"id", $"n_tokens", $"quality_score")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    // a one-token doc and its triple repeat score identically (mean, not sum)
    assert(byId(1L)._2 == byId(2L)._2 && byId(1L)._1 == 3 && byId(2L)._1 == 1)
    // empty text: zero tokens, NULL score — not NaN, not a crash
    assert(byId(3L) == ((0L, None)))
    // mixed doc scores the mean of its two bucket weights
    val a = byId(2L)._2.get.asInstanceOf[Double]
    val ab = byId(4L)._2.get.asInstanceOf[Double]
    assert(ab != a || w.distinct.size == 1)
  }

  test("temperatureMix flattens a skewed mix toward the rare stratum") {
    import spark.implicits._
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (901 to 1000).map(i => (i.toLong, "small"))).toDF("id", "grp")
    val kept = Graft.temperatureMix(df, $"id", $"grp", targetRows = 200L, alpha = 0.5)
      .groupBy($"grp").count().as[(String, Long)].collect().toMap
    // sqrt weighting allocates 3:1 (sqrt(900):sqrt(100)), not 9:1 — the
    // small stratum keeps a ~3x higher fraction of itself than the big one
    val fBig = kept("big").toDouble / 900
    val fSmall = kept("small").toDouble / 100
    assert(fSmall > 2 * fBig, s"fSmall=$fSmall fBig=$fBig")
    // expected total ~200 (hash-bucket noise allowed)
    val total = kept.values.sum
    assert(total > 150 && total < 250, s"total=$total")
    // alpha = 1.0 reduces to proportional sampling: uniform fraction
    val prop = Graft.temperatureMix(df, $"id", $"grp", targetRows = 200L, alpha = 1.0)
      .groupBy($"grp").count().as[(String, Long)].collect().toMap
    val pBig = prop("big").toDouble / 900
    val pSmall = prop.getOrElse("small", 0L).toDouble / 100
    assert(math.abs(pBig - pSmall) < 0.1, s"pBig=$pBig pSmall=$pSmall")
  }

  test("chunkDocuments windows overlap and cover every token") {
    import spark.implicits._
    // 10 tokens, chunk 5, overlap 2 (stride 3): starts 1, 4, 7
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, "")).toDF("k", "body")
    val chunks = Graft.chunkDocuments(df, $"k", $"body", chunkTokens = 5, overlapTokens = 2)
      .orderBy($"id", $"chunk_id")
      .select($"id", $"start_token", $"n_chunk_tokens", $"chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(chunks.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1L, 5L, "w1 w2 w3 w4 w5"),
      (1L, 4L, 5L, "w4 w5 w6 w7 w8"),
      (1L, 7L, 4L, "w7 w8 w9 w10")))
    // short doc: one short window; empty doc: one empty chunk row, not absence
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 2L, "a b")))
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 1L, 0L, "")))
  }

  test("splitCorpus labels are disjoint, exhaustive, and repartition-invariant") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("k")
    val split = Graft.splitCorpus(df, $"k", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 1000) // exhaustive: every row exactly one label
    assert(counts("train") > 700 && counts("val") > 50 && counts("test") > 50, counts.toString)
    // membership is a pure row property: a different partitioning yields
    // the identical assignment for every key
    val again = Graft.splitCorpus(df.repartition(7), $"k",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.except(again).isEmpty && again.except(split).isEmpty)
    assert(intercept[IllegalArgumentException](
      Graft.splitCorpus(df, $"k", Seq("a" -> 0.5, "b" -> 0.4)))
      .getMessage.contains("sum to 1"))
  }

  test("trainBpeMerges counts overlaps, tiebreaks lexically, and stops when dry") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa ab"), (2L, "aaa")).toDF("id", "body")
    // words: aa x2, ab x1, aaa x1
    // R1: (a,a) = 2 (from aa) + 2 (overlapping adjacencies in aaa) = 4; (a,b) = 1
    //     -> merge (a,a). Greedy rewrite: aa -> [aa], aaa -> [aa, a]
    // R2: (a,b) = 1 ties (aa,a) = 1; 'a' < 'aa' lexically -> merge (a,b)
    // R3: (aa,a) = 1 -> merged; R4: no pairs left -> early stop
    val merges = Graft.trainBpeMerges(docs, $"body", nMerges = 8)
      .orderBy($"merge_rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(merges == Seq(
      (1L, "a", "a", 4L), (2L, "a", "b", 1L), (3L, "aa", "a", 1L)))
  }

  test("trainBpeMerges local fast path matches the distributed rounds") {
    import spark.implicits._
    // includes the same-symbol-run divergence ("aaaa") and multi-byte
    // symbols, so the local String.replace replication is pinned on the
    // exact corners where a naive leftmost-greedy scan would differ
    val docs = Seq((1L, "aaaa abab banana édition"), (2L, "ab ab aa naan"))
      .toDF("id", "body")
    val dist = Graft.trainBpeMerges(docs, $"body", nMerges = 6,
        localVocabLimit = 0L).orderBy($"merge_rank")
      .as[(Long, String, String, Long)].collect().toSeq
    val local = Graft.trainBpeMerges(docs, $"body", nMerges = 6)
      .orderBy($"merge_rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local.nonEmpty)
  }

  test("tokenizeBpe applies merges in rank order with greedy rewrites") {
    import spark.implicits._
    val docs = Seq((1L, "aab aaab xy"), (2L, "")).toDF("id", "body")
    val merges = Seq(("a", "a"), ("aa", "b"))
    val out = Graft.tokenizeBpe(docs, $"body", merges)
      .select($"id", $"bpe_tokens", $"n_bpe_tokens")
      .as[(Long, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val (toks, n) = (out(1L)._1, out(1L)._2)
    // aab: [a,a,b] -> (a,a) -> [aa,b] -> (aa,b) -> [aab]
    // aaab: [a,a,a,b] -> greedy (a,a) -> [aa,a,b]; (aa,b) doesn't apply (aa
    // is followed by a) -> stays [aa,a,b]. xy: untouched chars
    assert(toks == Seq("aab", "aa", "a", "b", "x", "y"), toks.toString)
    assert(n == 6L)
    assert(out(2L) == ((Seq.empty[String], 0L)))
    // training then applying on the training corpus reproduces segmentations
    // consistent with the learned merge table (the t23 gate pins this
    // cross-engine; here just the row contract on an empty merge list)
    val plain = Graft.tokenizeBpe(docs, $"body", Seq.empty)
    assert(plain.where($"id" === 1L).select($"n_bpe_tokens").as[Long].head() == 9L)
  }

  test("selectByTokenBudget fills greedily with exact boundary and tie behavior") {
    import spark.implicits._
    // scores plant: a tie straddling the kept/cut boundary (ids break it),
    // a zero-token doc riding free inside the prefix, null scores last,
    // and a budget that lands MID-document (that document is cut)
    val docs = Seq(
      (1L, Some(9.0), 4L), (2L, Some(9.0), 4L), // tie: id order decides
      (3L, Some(8.0), 0L),                      // zero tokens, rides free
      (4L, Some(7.0), 5L),                      // cum 13 > 10 -> cut
      (5L, Some(6.0), 1L),                      // after a cut doc: also cut
      (6L, None, 1L)                            // null score sorts last
    ).toDF("id", "score", "n")
    val kept = Graft.selectByTokenBudget(docs, $"id", $"score", $"n", 10L)
      .orderBy($"id").as[(Long, Option[Double], Long, Long)].collect().toSeq
    assert(kept == Seq(
      (1L, Some(9.0), 4L, 4L), (2L, Some(9.0), 4L, 8L),
      (3L, Some(8.0), 0L, 8L)), kept.toString)
    // bucketed form == brute-force global sort on random data, any p
    val rnd = new scala.util.Random(7)
    val big = (1L to 500L).map(i =>
      (i, rnd.nextInt(20).toDouble, rnd.nextInt(10).toLong))
    val bigDf = big.toDF("id", "score", "n")
    val want = big.sortBy { case (i, s, _) => (-s, i) }
      .scanLeft((0L, 0L, 0.0, 0L)) { case ((cum, _, _, _), (i, s, n)) =>
        (cum + n, i, s, n) }
      .tail.filter(_._1 <= 800L).map { case (c, i, s, n) => (i, s, n, c) }.toSet
    for (p <- Seq(1, 3, 8)) {
      val got = Graft.selectByTokenBudget(bigDf, $"id", $"score", $"n",
        800L, partitions = p).as[(Long, Double, Long, Long)].collect().toSet
      assert(got == want, s"p=$p: ${got.size} vs ${want.size}")
    }
  }

  test("selectByTokenBudget: NaN scores lead the prefix (DESC order parity)") {
    import spark.implicits._
    // Spark orders NaN above every double (total order: x < NaN for all
    // x, NaN = NaN), in BOTH sorts and comparison predicates — so the
    // band assignment's `bound <= score` is TRUE for NaN against every
    // bound and NaN rows land in the TOP band, exactly where the
    // global-sort form puts them. Pinned here against the brute-force
    // reference so a Spark comparison-semantics change would surface.
    val docs = Seq(
      (1L, Double.NaN, 3L), (2L, 9.0, 4L), (3L, Double.NaN, 2L),
      (4L, 8.0, 4L), (5L, 7.0, 2L)).toDF("id", "score", "n")
    for (p <- Seq(1, 4)) {
      val got = Graft.selectByTokenBudget(docs, $"id", $"score", $"n",
          9L, partitions = p)
        .select($"id", $"n_tokens", $"cum_tokens")
        .as[(Long, Long, Long)].collect().toSet
      // DESC NULLS LAST with NaN-greatest: 1(3) -> 3(5) -> 2(9) -> cut
      assert(got == Set((1L, 3L, 3L), (3L, 2L, 5L), (2L, 4L, 9L)),
        s"p=$p: $got")
    }
  }

  test("selectByTokenBudgetPerGroup fills each group's quota independently") {
    import spark.implicits._
    val docs = Seq(
      ("en", 1L, 9.0, 4L), ("en", 2L, 8.0, 4L), ("en", 3L, 7.0, 4L),
      ("fr", 4L, 1.0, 5L), ("fr", 5L, 0.5, 6L)).toDF("g", "id", "score", "n")
    val kept = Graft.selectByTokenBudgetPerGroup(
        docs, $"id", $"g", $"score", $"n", 8L)
      .orderBy($"id").as[(String, Long, Double, Long, Long)].collect().toSeq
    // en: 4+4=8 <= 8, third doc cut; fr: best doc 5 <= 8, next would be 11
    assert(kept == Seq(("en", 1L, 9.0, 4L, 4L), ("en", 2L, 8.0, 4L, 8L),
      ("fr", 4L, 1.0, 5L, 5L)), kept.toString)
    // equals the brute-force per-group global sort at several bucket counts
    val rnd = new scala.util.Random(11)
    val big = (1L to 400L).map(i =>
      (s"g${i % 3}", i, rnd.nextInt(9).toDouble, rnd.nextInt(8).toLong))
    val want = big.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy { case (_, i, s, _) => (-s, i) }
        .scanLeft(("", 0L, 0.0, 0L, 0L)) { case ((_, _, _, _, cum), (g, i, s, n)) =>
          (g, i, s, n, cum + n) }
        .tail.filter(_._5 <= 300L)
    }.toSet
    for (p <- Seq(1, 4)) {
      val got = Graft.selectByTokenBudgetPerGroup(big.toDF("g", "id", "score", "n"),
          $"id", $"g", $"score", $"n", 300L, partitions = p)
        .as[(String, Long, Double, Long, Long)].collect().toSet
      assert(got == want, s"p=$p: ${got.size} vs ${want.size}")
    }
  }

  test("weightedSample clamps weights and keeps/drops deterministically") {
    import spark.implicits._
    val df = (1L to 400L).map(i =>
      (i, if (i <= 100) 0.0 else if (i <= 200) 1.0
          else if (i <= 300) 5.0 else -1.0)).toDF("k", "w")
    val kept = Graft.weightedSample(df, $"k", $"w")
      .select($"k").as[Long].collect().toSet
    // weight 0 and negative (clamped to 0) keep nothing; weight 1 and
    // above-1 (clamped to 1) keep everything
    assert(kept == ((101L to 300L).toSet))
    // NULL weight keeps nothing rather than crashing
    val withNull = Seq((1L, Option(0.5)), (2L, Option.empty[Double])).toDF("k", "w")
    val k2 = Graft.weightedSample(withNull, $"k", $"w").count()
    assert(k2 <= 1)
    // repartition-invariant membership at a fractional weight
    val half = Graft.weightedSample(df.repartition(7), $"k", lit(0.5))
      .select($"k").as[Long].collect().toSet
    val half2 = Graft.weightedSample(df, $"k", lit(0.5))
      .select($"k").as[Long].collect().toSet
    assert(half == half2)
  }

  test("profile summarizes nulls, distincts, and native-type min/max per column") {
    import spark.implicits._
    val df = Seq((Option(9L), Option("b")), (Option(10L), None),
      (Option(10L), Option("a")), (None, Option("a"))).toDF("num", "s")
    val p = Graft.profile(df, Seq("num", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    // min/max computed on the NATIVE type then rendered: 9 < 10 numerically
    // even though "10" < "9" as strings
    assert(p("num") == ((3L, 1L, 2L, "9", "10")))
    assert(p("s") == ((3L, 1L, 2L, "a", "b")))
    // the approx form returns the same shape with sketched distincts
    val a = Graft.profile(df, Seq("num"), exact = false).collect().head
    assert(a.getLong(3) >= 1L)
    assert(intercept[IllegalArgumentException](
      Graft.profile(df, Seq("nope"))).getMessage.contains("no such column"))
  }

  test("bigramFluency scores mean conditional bigram probability") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("k", "body")
    // corpus counts: (a,b)=3, (b,a)=1, (b,c)=1; prev counts: a=3, b=2
    // doc1: P(ab)+P(ba)+P(ab) = 1 + 1/2 + 1 -> mean 2.5/3
    // doc2: P(ab)+P(bc) = 1 + 1/2 -> mean 0.75; doc3: no bigrams -> NULL
    val got = Graft.bigramFluency(docs, $"k", $"body")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L && got(3L) == ((0L, None)))
    assert(got(1L)._2.get.asInstanceOf[Double] == 2.5 / 3)
    assert(got(2L)._2.get.asInstanceOf[Double] == 0.75)
  }

  test("describeCorpus reports volumes, percentiles, and duplication per slice") {
    import spark.implicits._
    val docs = Seq(
      ("a", "one two three"), ("a", "one two three"), // exact dup pair
      ("a", "four"), ("a", ""),
      ("b", "x y")).toDF("src", "body")
    val r = Graft.describeCorpus(docs, $"body", $"src")
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getLong(1) == 4 && a.getLong(2) == 7)       // n_docs, total_tokens
    assert(a.getDouble(3) == 7.0 / 4)                    // mean_tokens
    assert(a.getLong(6) == 3 && a.getLong(7) == 1)       // n_distinct, n_empty
    assert(a.getDouble(8) == 1.0 - 3.0 / 4)              // dup_rate
    assert(r("b").getLong(1) == 1 && r("b").getDouble(8) == 0.0)
  }

  test("lshBandPlan picks the most selective feasible banding") {
    // at threshold 0.8, 8 hashes: r=4,b=2 gives 1-(1-0.8^4)^2 = 0.648 —
    // below 0.7; the next-most-selective feasible plan is r=3,b=2:
    // 1-(1-0.8^3)^2 = 0.762
    val (b, r, rec) = Graft.lshBandPlan(threshold = 0.8, minRecall = 0.7,
      maxHashes = 8)
    assert((b, r) == ((2, 3)), s"got ($b, $r)")
    assert(math.abs(rec - (1 - math.pow(1 - math.pow(0.8, 3), 2))) < 1e-12)
    // prefers the larger r (fewer false candidates) whenever feasible
    val (b2, r2, _) = Graft.lshBandPlan(0.8, minRecall = 0.6, maxHashes = 8)
    assert((b2, r2) == ((2, 4)), s"got ($b2, $r2)")
    // infeasible demand names the best achievable plan
    val err = intercept[IllegalArgumentException](
      Graft.lshBandPlan(0.2, 0.99, maxHashes = 4))
    assert(err.getMessage.contains("best achievable"))
  }

  test("duplicateSpans merges overlapping flagged windows into exact spans") {
    import spark.implicits._
    def words(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val shared = words("s", 8) // an 8-token passage planted in two docs
    val docs = Seq(
      (1L, s"${words("a", 6)} $shared ${words("b", 6)}"), // 20 tokens, shared at 7..14
      (2L, s"$shared ${words("c", 12)}"),                 // 20 tokens, shared at 1..8
      (3L, words("z", 3))                                 // shorter than the window
    ).toDF("k", "body")
    val r = Graft.duplicateSpans(docs, $"k", $"body", window = 5)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5)))).toMap
    // the 8-token shared passage yields 4 flagged 5-windows per doc
    // (alignments 0..3 within the passage), merging into ONE 8-token span
    assert(r(1L) == ((20L, 16L, 4L, 8L, 8.0 / 20)), r(1L).toString)
    assert(r(2L) == ((20L, 16L, 4L, 8L, 8.0 / 20)), r(2L).toString)
    // a doc shorter than the window has zero windows and zero spans
    assert(r(3L) == ((3L, 0L, 0L, 0L, 0.0)), r(3L).toString)
  }

  test("exciseDuplicateSpans removes exactly the duplicated passage from all copies") {
    import spark.implicits._
    def words(tag: String, n: Int): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val shared = words("s", 8)
    val docs = Seq(
      (1L, s"${words("a", 6)} $shared ${words("b", 6)}"),
      (2L, s"$shared ${words("c", 12)}"),
      (3L, words("z", 3))).toDF("k", "body")
    val r = Graft.exciseDuplicateSpans(docs, $"k", $"body", window = 5)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getString(3)))).toMap
    // both copies lose the whole 8-token passage — the surrounding text
    // survives contiguously, in order
    assert(r(1L) == ((20L, 8L, words("a", 6) + " " + words("b", 6))), r(1L).toString)
    assert(r(2L) == ((20L, 8L, words("c", 12))), r(2L).toString)
    // untouched short doc passes through whole
    assert(r(3L) == ((3L, 0L, words("z", 3))), r(3L).toString)
    // excision agrees with duplicateSpans' accounting on the same corpus
    val measured = Graft.duplicateSpans(docs, $"k", $"body", window = 5)
      .select($"id", $"dup_tokens").as[(Long, Long)].collect().toMap
    assert(measured == r.map { case (k, v) => k -> v._2 })
  }

  test("trainCentroids recovers two planted directions and is deterministic") {
    import spark.implicits._
    val dim = 4
    // two tight direction clusters plus a ragged and a zero vector to drop
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.01f)),
      (2L, Seq(1.0f, 0.0f, 0.01f, 0.0f)),
      (3L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f, 0.01f)),
      (5L, Seq(0.0f, 1.0f, 0.01f, 0.0f)),
      (6L, Seq(0.01f, 1.0f, 0.0f, 0.0f)),
      (7L, Seq(1.0f, 1.0f)),             // ragged: filtered
      (8L, Seq(0.0f, 0.0f, 0.0f, 0.0f))  // zero norm: filtered
    ).toDF("eid", "emb")
    def train() = Graft.trainCentroids(rows, $"eid", $"emb", dim = dim,
      k = 2, iters = 2).orderBy($"c_id")
      .as[(Long, Seq[Double])].collect().toSeq
    val cents = train()
    assert(cents.map(_._1) == Seq(0L, 1L), cents)
    // each centroid is dominated by one of the planted directions
    val domAxes = cents.map(_._2.zipWithIndex.maxBy(_._1)._2).toSet
    assert(domAxes == Set(0, 1), cents)
    // pure DataFrame computation, no random state: re-running is identical
    assert(train() == cents)
    // trained centroids slot into annTopKIvf as the coarse quantizer
    val centsDf = Graft.trainCentroids(rows, $"eid", $"emb", dim = dim,
      k = 2, iters = 2)
    val nn = Graft.annTopKIvf(
      rows.where($"eid" <= 6), $"eid", $"emb",
      rows.where($"eid" === 1L), $"eid", $"emb",
      centsDf, $"c_id", $"centroid", k = 2, nProbe = 1)
      .as[(Long, Long, Long)].collect().toSeq
    // probing the query's own cell finds its same-direction mates
    assert(nn.map(_._3).toSet == Set(2L, 3L), nn)
  }

  test("cdcChunks is lossless and chunk hashes survive a mid-document edit") {
    import spark.implicits._
    // deterministic pseudo-random text: hex of chained md5s (no literal
    // periodicity, so boundary hashes are spread like real content)
    def blob(seed: String, blocks: Int): String =
      (1 to blocks).map(i => java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed$i".getBytes("UTF-8")).map("%02x".format(_)).mkString)
        .mkString
    val a = blob("left", 20)   // 640 chars
    val b = blob("right", 40)  // 1280 chars
    val docs = Seq(
      (1L, a + b),
      (2L, a + "EDIT-INSERTED-HERE" + b), // same content, one mid-doc edit
      (3L, "short"),                      // under the window: one whole chunk
      (4L, "")                            // empty: no chunks at all
    ).toDF("did", "body")
    val ch = Graft.cdcChunks(docs, $"did", $"body").cache()
    // lossless segmentation: in-order concat rebuilds each document exactly
    val rebuilt = ch.orderBy($"id", $"chunk_idx")
      .groupBy($"id").agg(concat_ws("", collect_list($"chunk")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(rebuilt(1L) == a + b && rebuilt(3L) == "short", "rebuild mismatch")
    assert(!rebuilt.contains(4L))
    // shift resistance: the edit re-chunks only its neighborhood — chunks
    // of the unedited prefix/suffix keep their hashes (fixed-offset
    // chunking would lose every hash after the insertion point)
    def hashes(id: Long) = ch.where($"id" === id)
      .select($"chunk_md5").as[String].collect().toSet
    val h1 = hashes(1L); val h2 = hashes(2L)
    val shared = (h1 intersect h2).size
    assert(shared >= h1.size - 3,
      s"expected all but the edited neighborhood shared; got $shared of ${h1.size}")
    assert(h1 != h2, "the edited chunk itself must differ")
    ch.unpersist()
  }

  test("corpusOverlap reports shared fingerprints with exact jaccard/containment") {
    import spark.implicits._
    val docs = Seq(
      ("A", "a b c d e f"),   // 5-gram fps: "a b c d e", "b c d e f"
      ("B", "a b c d e x"),   // fps: "a b c d e", "b c d e x" — shares 1 with A
      ("C", "p q r s t"),     // single disjoint fp: overlaps nobody
      ("C", "tiny")           // under 5 tokens: contributes no fingerprint
    ).toDF("ds", "body")
    val out = Graft.corpusOverlap(docs, $"ds", $"body")
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSeq
    // only the (A, B) pair overlaps: 1 shared of 2+2 fps -> J = 1/3,
    // containment = 1/2; C appears in no row at all
    assert(out == Seq(("A", "B", 1L, 2L, 2L, 1.0 / 3.0, 0.5)), out.toString)
  }

  test("splitCorpusLeakageSafe keeps near-dup clusters on one side of the split") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "pack my box with five dozen liquor jugs every single day now"
    val docs = Seq(
      (1L, base), (2L, base + " x"), (3L, base + " y z"), // one near-dup cluster
      (4L, other),                                        // singleton
      (5L, "completely different words entirely unrelated content here")
    ).toDF("did", "body")
    val w = Seq("train" -> 0.5, "test" -> 0.5)
    val out = Graft.splitCorpusLeakageSafe(docs, $"did", $"body", w)
      .select($"did", $"split").as[(Long, String)].collect().toMap
    // the whole cluster lands on ONE side — the leakage id-hash splitting
    // would commit with probability 1 - 0.5^2 for this cluster
    assert(Set(out(1L), out(2L), out(3L)).size == 1, out.toString)
    // singletons split exactly as plain splitCorpus does (same hash, own id)
    val plain = Graft.splitCorpus(docs.where($"did" >= 4), $"did", w)
      .select($"did", $"split").as[(Long, String)].collect().toMap
    assert(out(4L) == plain(4L) && out(5L) == plain(5L), (out, plain).toString)
    // appended column only; original schema intact
    assert(Graft.splitCorpusLeakageSafe(docs, $"did", $"body", w).columns.toSeq
      == Seq("did", "body", "split"))
  }

  test("lexicalTopK ranks by rare-term relevance with length normalization") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "zygote protein fold study"),  // both query terms
      (2L, "the common words study appear here the common words study appear here"),
      (3L, "zygote"),                     // rare term only, shortest doc
      (4L, "protein study of the common words appear")
    ).toDF("cid", "ctext")
    // df(zygote) = 2 docs, df(study) = 3 docs
    val queries = Seq((100L, "zygote study")).toDF("kid", "ktext")
    val out = Graft.lexicalTopK(corpus, $"cid", $"ctext",
        queries, $"kid", $"ktext", k = 4)
      .select($"rank", $"doc_id", $"score")
      .as[(Long, Long, Double)].collect().toSeq
    // doc 1 matches BOTH terms and tops the list; rare-term-only doc 3
    // outranks the common-term-only docs; among those, tf saturation
    // still favors doc 2's repeated "study" over doc 4's single one
    assert(out.map(_._2) == Seq(1L, 3L, 2L, 4L), out.toString)
    // scores strictly decrease and are exactly reproducible (quantized)
    assert(out.map(_._3) == out.map(_._3).sorted.reverse, out.toString)
    val again = Graft.lexicalTopK(corpus, $"cid", $"ctext",
        queries, $"kid", $"ktext", k = 4)
      .select($"score").as[Double].collect().toSeq
    assert(again.toSet == out.map(_._3).toSet, "scores must be deterministic")
    // the df cap prunes the commoner term BEFORE the postings join:
    // "study" (df 3) is dropped at maxDf = 2, so only "zygote" carriers
    // are ever scored and the common-term-only docs vanish entirely
    val capped = Graft.lexicalTopK(corpus, $"cid", $"ctext",
        queries, $"kid", $"ktext", k = 4, maxDf = Some(2L))
      .select($"doc_id").as[Long].collect().toSet
    assert(capped == Set(1L, 3L), capped.toString)
  }

  test("triangleCounts separates a clique from a chain") {
    import spark.implicits._
    // 4-clique (a template farm) + a 3-chain of incidental matches; edge
    // direction and duplication must not matter
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 3L),            // duplicate reversed edge: ignored
      (10L, 11L), (11L, 12L)
    ).toDF("u", "v")
    val out = Graft.triangleCounts(edges, $"u", $"v")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // every clique vertex: degree 3, C(3,2)=3 triangles, clustering 1.0
    for (id <- 1L to 4L) assert(out(id) == ((3L, 3L, 1.0)), s"$id -> ${out(id)}")
    // the chain carries no triangles; degree-1 endpoints get coeff 0
    assert(out(11L) == ((2L, 0L, 0.0)), out(11L).toString)
    assert(out(10L) == ((1L, 0L, 0.0)), out(10L).toString)
  }

  test("corpusOverlapSketch recovers exact Jaccard when k covers the union") {
    import spark.implicits._
    val docs = Seq(
      ("A", "a b c d e f g h"), // 4 5-gram fps
      ("B", "a b c d e f x y"), // 4 fps, shares 2 with A -> J = 2/6
      ("C", "p q r s t u")      // 2 disjoint fps
    ).toDF("ds", "body")
    // k >= |union|: the sketch holds every fingerprint, so the KMV
    // estimate IS the exact Jaccard of corpusOverlap
    val est = Graft.corpusOverlapSketch(docs, $"ds", $"body", k = 100)
      .select($"grp_a", $"grp_b", $"j_est")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exact = Graft.corpusOverlap(docs, $"ds", $"body")
      .select($"grp_a", $"grp_b", $"jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est(("A", "B")) == exact(("A", "B")) && est(("A", "B")) == 1.0 / 3.0, est.toString)
    // the sketch reports zero-overlap pairs too (exact omits them)
    assert(est(("A", "C")) == 0.0 && est(("B", "C")) == 0.0, est.toString)
    // truncation bound: k_used is min(k, |union|)
    val kUsed = Graft.corpusOverlapSketch(docs, $"ds", $"body", k = 3)
      .select($"k_used").as[Long].collect().toSet
    assert(kUsed == Set(3L), kUsed.toString)
  }

  test("robustOutliers flags by median/MAD and a scale-less group flags nothing") {
    import spark.implicits._
    val rows = Seq(
      // group a: values 10,12,14,16,1000 -> med 14, absdevs {4,2,0,2,986}
      // -> mad 2; z(1000) = 986/(1.4826*2) ≈ 332 (outlier), z(10) ≈ -1.35
      ("a", 1L, 10L), ("a", 2L, 12L), ("a", 3L, 14L),
      ("a", 4L, 16L), ("a", 5L, 1000L),
      // group b: majority-constant -> mad 0 -> robust_z NULL, never flagged
      // (even for the deviant 99)
      ("b", 6L, 7L), ("b", 7L, 7L), ("b", 8L, 7L), ("b", 9L, 99L)
    ).toDF("g", "rid", "v")
    val out = Graft.robustOutliers(rows, $"g", $"v", zCut = 3.5)
      .select($"rid", $"med", $"mad", $"robust_z", $"is_outlier")
      .as[(Long, Double, Double, Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(5L)._2 == 14.0 && out(5L)._3 == 2.0, out(5L).toString)
    assert(out(5L)._5 && out(5L)._4.exists(_ > 100), out(5L).toString)
    assert(!out(1L)._5, out(1L).toString)
    // original columns survive the append; helper scratch does not
    val cols = Graft.robustOutliers(rows, $"g", $"v").columns.toSeq
    assert(cols == Seq("g", "rid", "v", "med", "mad", "robust_z", "is_outlier"), cols)
    assert(out(9L)._3 == 0.0 && out(9L)._4.isEmpty && !out(9L)._5, out(9L).toString)
    // refuses to silently replace caller data; scratch names dodge clashes
    val clash = intercept[IllegalArgumentException] {
      Graft.robustOutliers(rows.withColumn("mad", lit(1)), $"g", $"v")
    }
    assert(clash.getMessage.contains("mad"), clash.getMessage)
    val hostile = rows.withColumn("__ro_v", lit(99))
    assert(Graft.robustOutliers(hostile, $"g", $"v").columns.contains("__ro_v"))
  }

  test("clusterCorpus datasheets planted clusters with exact sizes and coherence") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)),  // axis-x cluster
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f)),  // axis-y cluster
      (5L, Seq(0.0f, 1.0f)),
      (6L, Seq(1.0f)),        // ragged: excluded
      (7L, Seq(0.0f, 0.0f))   // zero norm: excluded
    ).toDF("eid", "emb")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("k_id", "k_vec")
    val out = Graft.clusterCorpus(rows, $"eid", $"emb",
        cents, $"k_id", $"k_vec", dim = 2)
      .orderBy($"c_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // exact membership: ids 1-3 on axis x (cluster 0), 4-5 on axis y
    // (cluster 1); ragged and zero-norm rows never reach a cluster
    assert(out == Seq(
      (0L, 3L, 1L, 3L, 1.0),
      (1L, 2L, 4L, 5L, 1.0)), out)
  }

  test("knBigramScore applies discount and continuation back-off exactly") {
    import spark.implicits._
    // corpus: "a b a b" + "a c" -> c2: (a,b)=2 (b,a)=1 (a,c)=1;
    // contexts: c1(a)=3 T(a)=2, c1(b)=1 T(b)=1; ctx(.)=1 each; B=3
    val rows = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x"))
      .toDF("did", "txt")
    val out = Graft.knBigramScore(rows, $"did", $"txt")
      .orderBy($"id").collect()
    // replicate the exact IEEE op order: (max(c2-d,0) + d*T*(ctx/B)) / c1
    def p(c2: Double, t: Double, ctx: Double, b: Double, c1: Double) =
      (math.max(c2 - 0.75, 0.0) + 0.75 * t * (ctx / b)) / c1
    val pba = math.round(p(2, 2, 1, 3, 3) * 1e12) // P(b|a), twice in doc 1
    val pab = math.round(p(1, 1, 1, 3, 1) * 1e12) // P(a|b)
    val pca = math.round(p(1, 2, 1, 3, 3) * 1e12) // P(c|a)
    assert(out(0).getLong(1) == 3L &&
      out(0).getDouble(2) == (2 * pba + pab).toDouble / 1e12 / 3)
    assert(out(1).getLong(1) == 1L &&
      out(1).getDouble(2) == pca.toDouble / 1e12 / 1)
    // a one-token document has no bigram: count 0, NULL score
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(2))
    // discounted mass really moved: the smoothed P(b|a) is BELOW the ML
    // estimate 2/3 and the unseen-in-context back-off keeps every seen
    // bigram strictly positive
    assert(out(0).getDouble(2) < 2.0 / 3)
    assert(out(1).getDouble(2) > 0.0)
  }

  test("domainBlocklistFlags matches subdomains but never lookalike hosts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://a.bad.com/x and https://ok.org/y"), // subdomain hit
      (2L, "see https://bad.com/x"),                        // exact hit
      (3L, "see https://notbad.com/x"),     // LOOKALIKE: must not match
      (4L, "see https://www.bad.com/x"),    // www-stripped exact hit
      (5L, "no urls at all"),
      (6L, "https://bad.com/a https://bad.com/b https://fine.io/c")
    ).toDF("did", "txt")
    val out = Graft.domainBlocklistFlags(docs, $"did", $"txt", Seq("bad.com"))
      .orderBy($"id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, true),
      (2L, 1L, 1L, true),
      (3L, 1L, 0L, false),
      (4L, 1L, 1L, true),
      (5L, 0L, 0L, false),
      (6L, 3L, 2L, true)), out)
  }

  test("tokenDistributionDrift ranks the planted shift first, zero on identical slices") {
    import spark.implicits._
    val a = Seq("common words here", "common words there", "spike spike spike")
      .toDF("txt")
    val b = Seq("common words here", "common words there").toDF("txt")
    val out = Graft.tokenDistributionDrift(a, $"txt", b, $"txt", topK = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // "spike": pa = 3/9, pb = 0 -> drift (1/3)^2/(1/3) = 1/3; every
    // other token moved far less — the planted shift must rank 1
    assert(out.head._1 == "spike" && out.head._6 == 1L, out)
    assert(out.head._4 == math.round(1.0 / 3 * 1e12), out)
    // total repeats identically on every row
    assert(out.map(_._5).distinct.size == 1)
    // identical slices: every contribution is exactly zero
    val zero = Graft.tokenDistributionDrift(b, $"txt", b, $"txt", topK = 5)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(zero.forall(r => r._4 == 0L && r._5 == 0L), zero)
  }

  test("frameNearDupPairs joins through the frame index with a df cap") {
    import spark.implicits._
    // media 1/2 share frames f1,f2 (near-dup); 3 shares only f1 with
    // them; EVERY medium carries boilerplate frame bb (df 4 > cap)
    val frames = Seq(
      (1L, "f1"), (1L, "f2"), (1L, "bb"), (1L, "bb"), // repeated frame
      (2L, "f1"), (2L, "f2"), (2L, "bb"),
      (3L, "f1"), (3L, "x3"), (3L, "bb"),
      (4L, "y1"), (4L, "y2"), (4L, "bb")
    ).toDF("mid", "fh")
    val out = Graft.frameNearDupPairs(frames, $"mid", $"fh",
        minShared = 2, maxFrameDf = 3)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Long)].collect().toSeq
    // bb is capped out (df 4 > 3) AND a repeated frame counts once, so
    // only (1,2) reaches 2 shared frames; (1,3)/(2,3) stop at 1
    assert(out == Seq((1L, 2L, 2L)), out)
    // with the cap off, bb contributes a shared frame to EVERY pair:
    // (1,3) and (2,3) now reach 2 shared (f1 + bb) — boilerplate frames
    // manufacturing spurious near-dups is exactly what the cap stops
    val uncapped = Graft.frameNearDupPairs(frames, $"mid", $"fh",
        minShared = 2, maxFrameDf = 1000)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Long)].collect().toSeq
    assert(uncapped == Seq((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L)),
      uncapped)
  }

  test("importanceWeights ranks target-like docs above generic ones") {
    import spark.implicits._
    val target = Seq("alpha beta alpha beta", "alpha beta gamma")
      .toDF("ttxt")
    val corpus = Seq(
      (1L, "alpha beta alpha beta"), // bigrams all target-frequent
      (2L, "delta epsilon delta"),   // bigrams unseen in target
      (3L, "solo")                   // no bigram
    ).toDF("cid", "ctxt")
    for (parts <- Seq(1, 5)) {
      val out = Graft.importanceWeights(corpus.repartition(parts),
          $"cid", $"ctxt", target, $"ttxt")
        .orderBy($"id").collect()
      assert(out(0).getLong(1) == 3L && out(1).getLong(1) == 2L)
      val targetLike = out(0).getDouble(2)
      val generic = out(1).getDouble(2)
      // the target-like doc's ratios are (ct+1)/(cc+1)-shaped with ct>0;
      // the generic doc's have ct=0 -> strictly below 1 after the
      // (Nt+V)/(Nc+V) normalization on this corpus
      assert(targetLike > generic,
        s"target-like $targetLike !> generic $generic")
      assert(targetLike > 1.0 && generic < 1.0,
        s"$targetLike / $generic")
      // no-bigram doc: zero count, NULL importance
      assert(out(2).getLong(1) == 0L && out(2).isNullAt(2))
    }
  }

  test("heavyHitters is exact, strict-threshold, and partitioning-invariant") {
    import spark.implicits._
    // 500 a + 300 b + 120 c + 200 two-count noise tokens = 1320 total.
    // k=10 -> threshold 132: {a, b} qualify; c (120) does not.
    val toks =
      Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(120)("c") ++
        (1 to 200).flatMap(i => Seq(s"n$i", s"n$i"))
    val expected = Seq(("a", 500L), ("b", 300L))
    for (parts <- Seq(1, 4, 13)) {
      val df = toks.toDF("tok").repartition(parts, $"tok".substr(0, 2))
      val got = Graft.heavyHitters(df, $"tok", k = 10)
        .as[(String, Long)].collect().toSeq
      assert(got == expected, s"parts=$parts: $got")
    }
    // exactly total/k is EXCLUDED (strict >): 10 x + 90 filler, k=10
    val edge = (Seq.fill(10)("x") ++ (1 to 90).map(i => s"f$i")).toDF("tok")
    assert(Graft.heavyHitters(edge, $"tok", k = 10).count() == 0)
    // nulls are excluded from both counts and total
    val withNulls = toks.map(Option(_)).toDF("tok")
      .union(Seq.fill(5000)(None: Option[String]).toDF("tok"))
    assert(Graft.heavyHitters(withNulls, $"tok", k = 10)
      .as[(String, Long)].collect().toSeq == expected)
    // a counter budget past the IN-list gate takes the broadcast
    // semi-join path and must agree exactly
    assert(Graft.heavyHitters(toks.toDF("tok"), $"tok", k = 10,
      counters = 1500).as[(String, Long)].collect().toSeq == expected)
  }

  test("vocabularyCoverage equals the global-sort minimal prefix, ties included") {
    import spark.implicits._
    // counts: a=6, b=4, c=4, d=4, e=1, f=1 (total 20). Ties b/c/d break
    // lexically. coverage 0.5 -> target 10: prefix a(6), b(10) — c starts
    // at cum 10 which is NOT < 10, so exactly {a, b} survive.
    val toks = (Seq.fill(6)("a") ++ Seq.fill(4)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(4)("d") ++ Seq("e", "f")).toDF("tok").repartition(5)
    val got = Graft.vocabularyCoverage(toks, $"tok", coverage = 0.5)
      .orderBy($"cum_cnt").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 6L, 6L), ("b", 4L, 10L)), got)
    // coverage 1.0 keeps the whole vocabulary with an exact running sum
    val all = Graft.vocabularyCoverage(toks, $"tok", coverage = 1.0)
      .orderBy($"cum_cnt").as[(String, Long, Long)].collect().toSeq
    assert(all == Seq(("a", 6L, 6L), ("b", 4L, 10L), ("c", 4L, 14L),
      ("d", 4L, 18L), ("e", 1L, 19L), ("f", 1L, 20L)), all)
    // a sub-single-token coverage still returns the first token (the
    // minimal prefix reaching a nonzero target is never empty)
    val tiny = Graft.vocabularyCoverage(toks, $"tok", coverage = 0.01)
      .as[(String, Long, Long)].collect().toSeq
    assert(tiny == Seq(("a", 6L, 6L)), tiny)
  }

  test("normalizeText is idempotent and canonicalizes quotes/dashes/controls/whitespace") {
    import spark.implicits._
    val df = Seq(
      "  “hello” — it’s\ta\u0007test  ",
      "already clean text",
      "", "   ", "a–b—c―d",
      "tabs\t\tand\nnewlines\r\nmixed"
    ).toDF("t")
    val once = df.select(Graft.normalizeText($"t").as("n1"))
    val twice = once.select($"n1",
      Graft.normalizeText($"n1").as("n2"))
    assert(twice.where($"n1" =!= $"n2").count() == 0,
      "normalizeText must be idempotent")
    val got = once.as[String].collect().toSeq
    assert(got == Seq("\"hello\" - it's a test", "already clean text",
      "", "", "a-b-c-d", "tabs and newlines mixed"), got)
  }

  test("luhnCardFlags: the canonical test PAN validates, off-by-one fails, boundaries respected") {
    import spark.implicits._
    val df = Seq(
      (1L, "pay with 4111111111111111 now"),        // canonical valid PAN
      (2L, "order 4111111111111112 shipped"),       // check digit off: invalid
      (3L, "id 41111111111111112 long"),            // 17 digits: no \b16\b match
      (4L, "4111111111111111 and 4111111111111112"),// one of each
      (5L, "no digits at all")
    ).toDF("doc_id", "text")
    val got = Graft.luhnCardFlags(df, $"doc_id", $"text")
      .orderBy($"id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 0L, 0L),
      (4L, 2L, 1L), (5L, 0L, 0L)), got)
  }

  test("binaryAucPerGroup: hand-computed AUC with ties, perfect and degenerate groups") {
    import spark.implicits._
    // group g1: pos scores {3, 2}, neg scores {2, 1}.
    // Pairs (pos vs neg): (3,2) win, (3,1) win, (2,2) TIE, (2,1) win
    // -> AUC = (3 + 0.5) / 4 = 0.875
    // group g2: perfectly separated -> AUC = 1.0
    // group g3: positives only -> AUC undefined (NULL)
    val df = Seq(
      ("g1", 3L, true), ("g1", 2L, true), ("g1", 2L, false), ("g1", 1L, false),
      ("g2", 9L, true), ("g2", 1L, false),
      ("g3", 5L, true), ("g3", 6L, true)
    ).toDF("g", "s", "y").repartition(3)
    val got = Graft.binaryAucPerGroup(df, $"g", $"s", $"y")
      .orderBy($"grp")
      .as[(String, Long, Long, Option[Double])].collect().toSeq
    assert(got == Seq(("g1", 2L, 2L, Some(0.875)),
      ("g2", 1L, 1L, Some(1.0)), ("g3", 2L, 0L, None)), got)
    // anti-learner symmetry: flipping the label flips AUC around 0.5
    val flipped = Graft.binaryAucPerGroup(df.where($"g" === "g1"),
      $"g", $"s", !$"y").select($"auc").head().getDouble(0)
    assert(flipped == 1.0 - 0.875, flipped)
  }

  test("ngramRepetitionProfile: hand-computed distinct/total ratios") {
    import spark.implicits._
    // "a b a b": 1-grams 4 total {a,b}=2 distinct -> ratio 0.5
    //            2-grams 3 total {a b, b a}=2 -> 1 - 2/3
    //            3-grams 2 total {a b a, b a b}=2 -> 0.0
    val df = Seq(("x", "a b a b")).toDF("g", "t")
    val got = Graft.ngramRepetitionProfile(df, $"g", $"t", maxN = 3)
      .orderBy($"n").as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("x", 1, 4L, 2L, 0.5),
      ("x", 2, 3L, 2L, 1.0 - 2.0 / 3.0), ("x", 3, 2L, 2L, 0.0)), got)
    // a document shorter than n contributes nothing at that n
    val short = Graft.ngramRepetitionProfile(
      Seq(("y", "solo")).toDF("g", "t"), $"g", $"t", maxN = 3)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    assert(short == Seq(("y", 1, 1L, 1L, 0.0)), short)
  }
}
