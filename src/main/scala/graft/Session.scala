package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory shared by every dev `main` and the
  * test suites, so their sessions cannot drift apart: `local[cpus]`, one
  * shuffle partition per core, UTC session time zone, no UI, WARN
  * logging. Callers that need more (the graft SQL functions, an AQE-off
  * profile, another shuffle width) adjust the built session themselves.
  */
object Session {

  /** Core count for dev runs: `$SPARK_GRAFT_CPUS`, else the machine's
    * processor count. The only reader of that variable. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
