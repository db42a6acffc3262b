package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its scratch directory inside
  * the checkout, the inputs run.py generated, and the tracer when traced. */
final case class Ctx(spark: SparkSession, work: String, data: String, seed: Long,
                     trace: Option[Trace])

/** Times the operations of one pass. Untimed work between operations
  * (result checks) stays out of the pass time and the pass CPU time. */
final class Pass(ctx: Ctx, val index: Int, val warmup: Boolean) {
  val ops: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var wallS = 0.0
  var cpuS = 0.0
  var jitS = 0.0
  var attempted = 0
  var failed = 0

  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    ctx.trace.foreach(_.begin(index, name))
    val c0 = Main.processCpuNs()
    val j0 = Main.jitCpuNs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(f)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] pass $index op $name failed: $e")
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val jit = (Main.jitCpuNs() - j0) / 1e9
    cpuS += (Main.processCpuNs() - c0) / 1e9 - jit
    jitS += jit
    ctx.trace.foreach(_.end(startMs, dt))
    wallS += dt
    ops(name) = ops.getOrElse(name, 0.0) + dt
    r
  }
}

trait Workload {
  /** Untimed, once, before any pass. */
  def prepare(): Unit = ()
  /** Untimed, before every pass: remove what the previous pass made. */
  def reset(): Unit
  /** One pass: every timed operation goes through `p.op`. */
  def run(p: Pass): Unit
  /** Untimed, after the timed passes: values and files run.py checks. */
  def finish(out: Json.Obj): Unit
  /** Per-layer metrics of one traced pass. */
  def layers(t: Trace, pass: Int): Map[String, Double]
}

/** One benchmark run in one JVM: prepare, warm up, then time whole passes
  * for the requested seconds. Before every pass, untimed, the session's
  * cached plans, persisted RDDs and the workload's tables of the previous
  * pass are released. */
object Main {
  /** Task parallelism: a constant of the benchmark, capped by the host. */
  val Parallelism: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Untimed passes before timing. The first pass pays class loading, JIT
    * and codegen compilation (2-3x a warm pass); a fixed count keeps the
    * set-up time comparable from run to run (README.md). */
  val Warmup = 1
  /** Timed passes at least, whatever `--seconds` says; the result is their
    * median. The JIT compiler is still busy in the first timed passes
    * (README.md), so one pass alone repeats badly from run to run. A traced
    * run times two at least, so that its check that every timed pass ran the
    * same Spark stages has two passes to compare. */
  def minTimed(workload: String): Int = if (workload == "sql_queries") 5 else 2

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** CPU nanoseconds of the JIT compiler threads so far, from
    * /proc/self/task (0 where there is none). run.py starts the JVM with
    * -XX:-UseDynamicNumberOfCompilerThreads, so these threads live as long
    * as the JVM and the difference of two readings is what they used in
    * between. Thread names are cut to 15 characters there. */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          // fields 14 and 15 of stat: user and system clock ticks
          (f(11).toLong + f(12).toLong) * (1000000000L / ClockTicks)
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Clock ticks per second of /proc's CPU times (run.py passes the host's). */
  lazy val ClockTicks: Long = sys.props.getOrElse("perfbench.clk_tck", "100").toLong

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Parallelism]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Ctx(spark, work, a("data"), a("seed").toLong,
      if (traced) Some(new Trace(spark)) else None)
    def workload(name: String): Workload = name match {
      case "medallion_etl" => new MedallionEtl(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "catalog_upserts" => new CatalogUpserts(ctx)
      case "sql_queries" => new SqlQueries(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (a.get("dump").contains("1")) {
      // the class-data archive run of run.py's build: one untimed pass of
      // each listed workload, so the archive holds the classes they load
      try a("workload").split(',').foreach { name =>
        val wl = workload(name)
        wl.prepare()
        wl.reset()
        wl.run(new Pass(ctx, 0, warmup = true))
        wl.reset()
      } finally spark.stop()
      return
    }
    val wl = workload(a("workload"))
    val out = new Json.Obj
    try {
      wl.prepare()
      var index = 0
      def onePass(warmup: Boolean): Pass = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        wl.reset()
        System.gc()
        index += 1
        val p = new Pass(ctx, index, warmup)
        wl.run(p)
        p
      }
      val warm = Seq.fill(Warmup)(onePass(warmup = true))
      val firstTimed = System.currentTimeMillis() / 1e3
      val t0 = System.nanoTime()
      val timed = mutable.ArrayBuffer.empty[Pass]
      while (timed.size < minTimed(a("workload")) || (System.nanoTime() - t0) / 1e9 < seconds)
        timed += onePass(warmup = false)
      out("first_timed_epoch_s") = firstTimed
      out("parallelism") = Parallelism
      out("warmup_pass_s") = warm.map(_.wallS).toSeq
      out("pass_s") = timed.map(_.wallS).toSeq
      out("cpu_s") = timed.map(_.cpuS).toSeq
      out("jit_cpu_s") = timed.map(_.jitS).toSeq
      out("attempted") = timed.map(_.attempted).sum
      out("failed") = timed.map(_.failed).sum
      val opNames = timed.flatMap(_.ops.keys).distinct
      out("ops") = Json.Obj(opNames.map(n => n -> (timed.map(_.ops.getOrElse(n, 0.0)).toSeq: Any)).toSeq: _*)
      ctx.trace.foreach { t =>
        out("stages_per_pass") = timed.map(p => t.stagesInPass(p.index)).toSeq
        val per = timed.map(p => wl.layers(t, p.index))
        val keys = per.flatMap(_.keys).distinct.sorted
        out("layers") = Json.Obj(keys.map(k => k -> (median(per.map(_.getOrElse(k, 0.0)).toSeq): Any)).toSeq: _*)
      }
      wl.finish(out)
    } finally {
      Files.writeString(Paths.get(work, "jvm.json"), out.render)
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A minimal JSON writer for the run's result file. */
object Json {
  final class Obj(init: (String, Any)*) {
    private val m = mutable.LinkedHashMap[String, Any](init: _*)
    def update(k: String, v: Any): Unit = m(k) = v
    def render: String = m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }
  object Obj { def apply(kv: (String, Any)*): Obj = new Obj(kv: _*) }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case o: Obj => o.render
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case null => "null"
    case other => str(other.toString)
  }
}
