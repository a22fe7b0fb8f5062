package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Host gauges and JVM memory readings. `spin` and `bare` are the floor
  * probes of `graft.Bench`: 50M single-thread LCG steps, and one
  * `spark.range(1000)` stage into the noop sink. They are stored beside a
  * run's metrics, ungated, so a throttled window shows in the record.
  */
object Host {
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def bare(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1000).toDF("i").write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def gauges(spark: SparkSession): Map[String, Double] =
    Map("spin_s" -> spin(), "bare_s" -> bare(spark))

  /** Heap occupancy in MB right after a full collection: the live set.
    * The least of three collections, half a second apart. A requested
    * collection is skipped while another thread holds a JNI critical region
    * (the parquet writers' native compression), and the reading is then the
    * whole heap; and Spark's ContextCleaner frees the broadcast blocks of
    * finished jobs only after a collection found them unreachable.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(500)
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  /** Cold start: JVM uptime (boot, class loading, session start, first
    * jobs and codegen) and the process's CPU time, both so far.
    */
  def coldStart(rec: Record): Unit = {
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    rec.set("cold_start_s", (System.currentTimeMillis() - mx.getStartTime) / 1e3)
    os match {
      case o: com.sun.management.OperatingSystemMXBean =>
        rec.set("cold_start_cpu_s", o.getProcessCpuTime / 1e9)
      case _ =>
    }
  }

  /** JIT code-cache occupancy in MB. */
  def codeCacheMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0
}
