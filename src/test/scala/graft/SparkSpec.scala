package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM — the production
  * recipe, pinned to 4 cores so the suite's partition-count assertions
  * do not follow the width of the machine running it. */
object TestSpark {
  lazy val spark: SparkSession = graft.tools.Harness.session("4", "local[4]")

  /** Run `body` with session conf `key` = `value`, then put back the
    * value it had before — or unset it if it had none. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
