package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B: FileOutputCommitter algorithm v1 (job-commit merges every task's
  * output on the DRIVER, sequentially) vs v2 (tasks rename their own
  * files at task commit, in parallel) on the pinned-width 240-dir
  * composite append — the writeLayout shape every catalog commit uses.
  * The catalog stages each version into a fresh directory that becomes
  * visible only through the CAS pointer swap, so v2's weaker
  * partial-output visibility is immaterial here; the question is purely
  * whether v1's driver-side merge is a measurable share of the ~1 s
  * write job. Counterbalanced block order across reps, ambient control
  * (a fixed single-file write) each block. Harness only.
  */
object QProfile10 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm the JIT/scan path once
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_regionkey")
      .count().write.format("noop").mode("overwrite").save()

    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .where($"event_id" % 3 === 1)
      .withColumn("_d", to_date($"ts"))
      .withColumn("_b", pmod(hash($"user_id"), lit(8)))

    val hc = spark.sparkContext.hadoopConfiguration
    def withAlgo[A](v: Int)(f: => A): A = {
      // save/restore the prior value (ADVICE r18): an unconditional
      // unset would drop a value the session had set on the shared conf
      val key = "mapreduce.fileoutputcommitter.algorithm.version"
      val prev = Option(hc.get(key))
      hc.setInt(key, v)
      try f
      finally prev.fold(hc.unset(key))(hc.set(key, _))
    }
    def clustered(v: Int, path: String): Double = withAlgo(v) {
      time {
        ev.repartition(32, $"_d", $"_b")
          .write.mode("overwrite").partitionBy("_d", "_b").parquet(path)
      }
    }
    def ambient(): Double = time {
      ev.limit(1000).coalesce(1)
        .write.mode("overwrite").parquet("/tmp/qp10_amb")
    }

    val v1s = scala.collection.mutable.ArrayBuffer.empty[Double]
    val v2s = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to 6).foreach { rep =>
      val a = ambient()
      val (x, y) =
        if (rep % 2 == 1)
          (clustered(1, "/tmp/qp10_v1"), clustered(2, "/tmp/qp10_v2"))
        else {
          val y0 = clustered(2, "/tmp/qp10_v2")
          val x0 = clustered(1, "/tmp/qp10_v1")
          (x0, y0)
        }
      v1s += x; v2s += y
      println(f"[qp10] rep $rep ambient $a%6.3f  v1 $x%6.3f  v2 $y%6.3f  (order ${if (rep % 2 == 1) "v1-first" else "v2-first"})")
    }
    def stats(xs: Seq[Double]): String = {
      val sorted = xs.sorted
      // true median: average the two middle elements on even length
      val med =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
      f"min ${sorted.head}%6.3f  med $med%6.3f"
    }
    println(s"[qp10] v1: ${stats(v1s.toSeq)}")
    println(s"[qp10] v2: ${stats(v2s.toSeq)}")
    spark.stop()
  }
}
