package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main and the spec suite run on:
  * `local[cpus]` with one shuffle partition per core, UTC session
  * time, no UI, WARN logging and [[GraftExtensions]] always on, so the
  * plan that is verified is the plan that is benched and documented.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
