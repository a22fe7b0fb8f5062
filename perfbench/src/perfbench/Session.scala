package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session, sized from the host: `local[cores]`, one
  * shuffle partition per core, UTC, the graft extensions. The driver heap
  * is the JVM's `-Xmx`, which the runner derives from MemTotal. Scratch
  * directories live under the run's work directory.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The settings every record carries. */
  def settings(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "cores" -> cores,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "session_time_zone" -> spark.conf.get("spark.sql.session.timeZone"),
    "extensions" -> spark.conf.get("spark.sql.extensions"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"))
}
