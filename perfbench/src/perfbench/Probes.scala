package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, split}

import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry

/** Single-layer timings the traced run adds: the frame codec (median of
  * five repetitions) and the SQL-registered sketch kernels (median of three).
  */
object Probes {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(reps: Int)(f: => Unit): Double =
    median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
    })

  /** ns per frame of `ProtoLogCodec` deframe, decode and encode. */
  def codec(seed: Long, rec: Record): Unit = {
    val rnd = new Random(seed)
    val n = 100000
    val entries = (0 until n).map(i => LogEntry("stdout", 1700000000000000000L + i,
      s"level=info req=$i latency_ms=${rnd.nextInt(900)} user=u${rnd.nextInt(5000)}"
        .getBytes("UTF-8"), partial = false, None))
    val messages = entries.map(ProtoLogCodec.encode)
    val out = new java.io.ByteArrayOutputStream(n * 80)
    messages.foreach(m => out.write(ProtoLogCodec.frame(m)))
    val stream = out.toByteArray
    var sink = 0L
    val deframe = timed(5) { ProtoLogCodec.deframe(stream).foreach(f => sink += f.length) }
    val decode = timed(5) { messages.foreach(m => sink += ProtoLogCodec.decode(m).timeNano) }
    val encode = timed(5) { entries.foreach(e => sink += ProtoLogCodec.encode(e).length) }
    if (sink == 42L) System.err.print("")
    rec.set("codec.deframe_ns_per_frame", deframe / n)
    rec.set("codec.decode_ns_per_frame", decode / n)
    rec.set("codec.encode_ns_per_frame", encode / n)
  }

  /** ns per row of each kernel over sf0.1 `documents` and `embeddings`
    * (fifty copies, each vector against its reverse), net of projecting
    * the kernel's inputs alone.
    */
  def kernels(spark: SparkSession, fixture: String, rec: Record): Unit = {
    val docs = spark.read.parquet(s"$fixture/documents.parquet")
      .select(split(col("text"), " ").as("tokens"))
      .selectExpr("tokens", "word_shingles(tokens, 3) AS sh")
      .selectExpr("tokens", "sh", "minhash_sig(sh, 64) AS sig")
      .selectExpr("tokens", "sh", "sig", "reverse(sig) AS sig2")
      .cache()
    val emb = spark.read.parquet(s"$fixture/embeddings.parquet")
      .crossJoin(spark.range(50).toDF("copy"))
      .selectExpr("embedding AS e1", "reverse(embedding) AS e2")
      .cache()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    def run(df: DataFrame, e: Seq[String]): Double =
      timed(3) { df.select(e.map(expr): _*).write.format("noop").mode("overwrite").save() }
    // the baseline projects the kernel's own inputs, so the difference is the kernel
    def kernel(name: String, df: DataFrame, rows: Double, inputs: Seq[String], e: String): Unit = {
      run(df, Seq(e)) // compile once before timing
      rec.set(s"kernel.${name}_ns_per_row", (run(df, Seq(e)) - run(df, inputs)) / rows)
    }
    kernel("word_shingles", docs, nDocs, Seq("tokens"), "word_shingles(tokens, 3)")
    kernel("minhash_sig", docs, nDocs, Seq("sh"), "minhash_sig(sh, 64)")
    kernel("simhash64", docs, nDocs, Seq("tokens"), "simhash64(tokens)")
    kernel("sig_match_frac", docs, nDocs, Seq("sig", "sig2"), "sig_match_frac(sig, sig2)")
    kernel("cosine_sim", emb, nEmb, Seq("e1", "e2"), "cosine_sim(e1, e2)")
    docs.unpersist()
    emb.unpersist()
  }
}
