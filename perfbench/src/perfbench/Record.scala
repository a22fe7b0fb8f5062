package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Everything one run measured, as raw numbers: scalar values, sample
  * lists (percentiles are taken by the runner), attempted operations and
  * named failures.
  */
final class Record {
  val values = TrieMap.empty[String, Any]
  private val samples = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  private val failures = new ConcurrentLinkedQueue[Map[String, String]]()
  private val attempted = new AtomicLong(0)

  def set(name: String, v: Any): Unit = values(name) = v
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def attempt(n: Long = 1): Unit = attempted.addAndGet(n)
  /** An operation that failed or was refused. */
  def fail(name: String, reason: String): Unit = failure(name, reason, "failed")
  /** An output check that found a wrong result: the run is not correct. */
  def wrong(name: String, reason: String): Unit = failure(name, reason, "wrong")
  private def failure(name: String, reason: String, kind: String): Unit =
    failures.add(Map("name" -> name, "kind" -> kind, "reason" -> reason.take(300)))
  def failed: Int = failures.size

  /** Progress note on stderr. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - Record.t0) / 1e9}%7.2fs] $msg")

  def toMap: Map[String, Any] = Map(
    "values" -> values.toMap,
    "samples" -> samples.map { case (k, q) => k -> q.asScala.toSeq }.toMap,
    "attempted" -> attempted.get,
    "failures" -> failures.asScala.toSeq)
}

object Record {
  private val t0 = System.nanoTime()
}
