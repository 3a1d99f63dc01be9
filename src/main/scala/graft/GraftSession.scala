package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every main in this library, so the
  * session policy lives in one place: `local[$SPARK_GRAFT_CPUS]` (the
  * machine's core count when unset), one shuffle partition per core,
  * UTC session time zone, UI off, log level WARN. `conf` pairs are set
  * after the policy and override it (e.g. `spark.local.dir`, or a
  * shuffle-partition count above the core count). */
object GraftSession {
  def local(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val policy = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = (policy ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
