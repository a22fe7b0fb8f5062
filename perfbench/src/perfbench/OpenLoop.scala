package perfbench

/** Open-loop schedule: item `i` is due at `startNanos + i * 1e9 / rate`,
  * whatever happened to earlier items. A sender stamps each item with its
  * due time (so downstream latency counts any wait a stall imposed on
  * later items) and records how late it actually went out.
  */
final class OpenLoop(startNanos: Long, ratePerSec: Double) {
  def dueNanos(i: Long): Long = startNanos + (i * (1e9 / ratePerSec)).toLong

  /** Items due by `now`, from `next` on: the half-open range to send. */
  def dueBy(next: Long, now: Long): Long = {
    var n = next
    while (dueNanos(n) <= now) n += 1
    n
  }

  /** Lateness of item `i` sent at `sentNanos` (never negative). */
  def lateNanos(i: Long, sentNanos: Long): Long = math.max(0L, sentNanos - dueNanos(i))
}
