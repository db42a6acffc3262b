package graft

/** Recall FLOOR for the approximate retrieval paths — s05 measures
  * recall@k of every ANN path against its exact baseline but asserted
  * nothing, so an index regression (a banding typo, a broken bucket
  * join, hyperplane seed drift) would sail through the hash-matched
  * gate: the recall NUMBER would still hash-match its oracle while
  * silently cratering. This suite pins the floor.
  *
  * Floors are set from the measured sf0.01 operating point of the
  * round-6 banding retune (8 tables x 4 bits over 500 vectors: top-k
  * recall 0.58-0.60, pair mining 0.80; see Similarity.scala's grid
  * comment) with ~0.08 headroom for the integer-count granularity of 50
  * expected hits — NOT aspirational 0.9s that the tuned-for-runtime
  * banding never promised. A change that drops any path below its
  * historical band fails here loudly instead of costing a future round.
  */
class RecallFloorSpec extends GraftSuite {
  test("ANN paths hold their recall floors at sf0.01 (ivf/lsh >= 0.5, pairs >= 0.7)") {
    val floors = Map("ivf" -> 0.5, "lsh" -> 0.5, "pairs" -> 0.7)
    val got = graft.ops.Similarity.s05AnnRecall(spark, "/root/testdata/sf0.01")
      .select("path", "recall").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == floors.keySet, s"paths changed: $got")
    for ((path, floor) <- floors)
      assert(got(path) >= floor,
        s"$path recall ${got(path)} fell below its $floor floor " +
          s"(historical band: ivf 0.58, lsh 0.60, pairs 0.80)")
  }
}
