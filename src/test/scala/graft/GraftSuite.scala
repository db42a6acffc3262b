package graft

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one test fixture every graft spec extends. All specs run in one
  * forked JVM and so share one session: a builder in a spec would only
  * re-apply its runtime confs to that session and leak them into every
  * later suite. Specs therefore never build a session; a spec that needs
  * a conf scopes it with [[withConf]], which puts the session's own
  * setting back afterwards. */
trait GraftSuite extends AnyFunSuite {

  /** The test JVM's one session, built on first use. */
  final lazy val spark: SparkSession = GraftSuite.session

  /** A fresh directory, deleted with its contents when the JVM exits. */
  protected def tmpDir(prefix: String): Path = TempDirs.create(prefix)

  /** Register catalog `name` on the session (if absent) and return its
    * warehouse path. */
  protected def registerCatalog(name: String): String =
    sources.AtomicParquetCatalog.ensureRegistered(spark, name)

  /** Run `f` with the session confs set, then restore each to the
    * session's own setting. */
  protected def withConf[A](confs: (String, String)*)(f: => A): A =
    graft.withConf(spark, confs: _*)(f)
}

object GraftSuite {
  private lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", TempDirs.create("graft_test_wh").toString)
    .getOrCreate()
}
