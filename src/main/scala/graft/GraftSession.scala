package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: `local[n]` with one shuffle
  * partition per core, the engine's SQL extensions, no UI, WARN logging.
  *
  * `n` is `$SPARK_GRAFT_CPUS` when set and otherwise the host's
  * processor count, so nothing asks a 4-core box for 32 threads.
  * The session time zone is pinned to UTC: the fixtures' naive
  * `TIMESTAMP_NTZ` wall clock is UTC by convention (see `Tables.events`).
  *
  * `extra` carries caller-specific settings, e.g. a test warehouse dir.
  */
object GraftSession {
  def create(extra: (String, String)*): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
