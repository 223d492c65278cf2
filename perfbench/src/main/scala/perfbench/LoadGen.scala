package perfbench

import java.util.concurrent.{Executors, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.locks.LockSupport

/** One request of an open-loop stream. Times are `System.nanoTime`:
  * `due` is when the schedule says it is sent, `sent` when the
  * generator handed it over, `start`/`end` when a worker ran it. */
final case class Sample[T](index: Int, dueNs: Long, sentNs: Long, startNs: Long,
                           endNs: Long, result: Either[Throwable, T]) {
  /** Latency counted from the due time, so a stall delays later requests too. */
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def lateMs: Double = (sentNs - dueNs) / 1e6
  def queueWaitMs: Double = (startNs - sentNs) / 1e6
}

/** Open-loop generator: request i is due at `i / rate` seconds after the
  * start, whether or not earlier requests have finished, and waits in
  * an unbounded queue for one of `workers` threads. It sends `count`
  * requests, or fewer if `stop` turns true first. */
object LoadGen {
  def run[T](rate: Double, count: Int, workers: Int, stop: () => Boolean = () => false)
            (work: Int => T): Seq[Sample[T]] = {
    val pool = new ThreadPoolExecutor(workers, workers, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), Executors.defaultThreadFactory())
    val out = new Array[Sample[T]](count)
    val intervalNs = (1e9 / rate).toLong
    val t0 = System.nanoTime()
    var sent = 0
    try {
      while (sent < count && !stop()) {
        val i = sent
        val due = t0 + i * intervalNs
        var now = System.nanoTime()
        while (now < due && !stop()) { LockSupport.parkNanos(math.min(due - now, 10000000L)); now = System.nanoTime() }
        if (now >= due) {
          val sentNs = now
          pool.execute { () =>
            val start = System.nanoTime()
            val r = try Right(work(i)) catch { case e: Throwable => Left(e) }
            out(i) = Sample(i, due, sentNs, start, System.nanoTime(), r)
          }
          sent += 1
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
    out.take(sent).toSeq
  }
}
