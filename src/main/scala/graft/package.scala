import org.apache.spark.sql.SparkSession

package object graft {

  /** Set each session conf `key -> value` for the duration of `f`, then
    * restore the session's own settings: each key's previous value, or
    * unset again when it had none. graft's one set-and-restore rule for
    * session confs — a scope that unsets where the session had a value
    * erases that value, and one without `finally` leaks its override on
    * an exception. The settings are session-wide, so two overlapping
    * scopes on the same key from different threads can restore each
    * other's value. */
  def withConf[A](spark: SparkSession, confs: (String, String)*)(f: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
