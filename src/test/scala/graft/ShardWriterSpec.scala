package graft

import graft.api.Graft
import graft.medallion.Maintenance
import org.apache.spark.sql.functions._

/** The end of the packing story: packSequences assigns every document a
  * place in the token stream; writeShards materializes those assignments
  * as directory-per-shard parquet a trainer can ship around whole. The
  * spec pins the arithmetic shard boundaries, in-shard ordering, and that
  * a shard directory is prunable by its partition value.
  */
class ShardWriterSpec extends GraftSuite {
  test("writeShards groups consecutive sequences and stays shard-prunable") {
    import spark.implicits._
    val out = tmpDir("graft_shards").toString
    // 40 docs x 100 tokens = 4000 tokens; capacity 128 -> 32 sequences;
    // 8 seqs/shard -> shards 0..3
    val docs = (1L to 40L).map(i => (i, 100L)).toDF("doc_id", "toks")
    val packed = Graft.packSequences(docs, $"doc_id", $"toks", capacity = 128L)
    val nShards = Maintenance.writeShards(packed, out, seqsPerShard = 8L)
    assert(nShards == 4L, s"got $nShards shards")
    val back = spark.read.parquet(out)
    // every row landed in the shard its FIRST sequence belongs to
    assert(back.where(col("shard") =!= expr("seq_first DIV 8")).count() == 0)
    // shard pruning: one shard's predicate reads only that directory
    val files = back.where(col("shard") === 2)
      .select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("shard=2")), files.mkString(","))
    // the token stream is contiguous: global start_tok ordering by doc id
    val starts = back.orderBy($"id").select($"start_tok").as[Long].collect()
    assert(starts.toSeq == (0L until 4000L by 100L).toSeq)
  }
}
