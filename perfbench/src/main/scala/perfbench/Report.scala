package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** What one run measured: the counts and checks the result line needs,
  * end-to-end metrics, per-layer metrics and free-form detail. */
final class Report {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  val heap = new HeapPeak

  /** Runs one operation that counts toward `attempted`; a throw is
    * recorded under `name` and turned into None, never swallowed. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    synchronized { attempted += 1 }
    try Some(body)
    catch { case e: Throwable => fail(name, e); None }
  }

  def fail(name: String, e: Throwable): Unit = synchronized {
    failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized { checkFailures += what }

  def correct: Boolean = checkFailures.isEmpty

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val det = detail.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${Json.arr(failures.toSeq)},"check_failures":${Json.arr(checkFailures.toSeq)},""" +
      s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(perLayer)},"detail":$det}"""
  }
}

/** Highest heap in use right after a full collection, over the run.
  * Collections are forced at fixed points of the workload so the same
  * run reads the same live set; young collections in between would
  * count whatever old garbage happened to be uncollected. */
final class HeapPeak {
  private val peak = new AtomicLong(0)
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  def checkpoint(): Unit = {
    // Spark's ContextCleaner frees the blocks of collected RDDs and
    // broadcasts on its own thread, polling every 100 ms, after the
    // collection that cleared them; collect again once it has run
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    seen.add(used)
    peak.accumulateAndGet(used, math.max)
  }

  def mb: Double = peak.get / (1024.0 * 1024.0)

  /** Each checkpoint's heap in use, in MB, in the order taken. */
  def checkpointsMb: Seq[Double] = seen.toArray.toSeq.map(_.asInstanceOf[Long] / (1024.0 * 1024.0))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Fixed CPU-only work, timed: SHA-256 over the same 8 MiB 24 times,
    * after one untimed round so the JIT has compiled it. The same number
    * on the same box; box drift shows as a change. */
  def canaryMs(): Double = {
    val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31).toByte)
    def round(): Int = (0 until 24).map { _ =>
      java.security.MessageDigest.getInstance("SHA-256").digest(buf)(0).toInt
    }.sum
    val warm = round()
    val t0 = System.nanoTime()
    val x = round()
    val ms = (System.nanoTime() - t0) / 1e6
    if (warm + x == Int.MinValue) println("") // keep the digests live
    ms
  }

  /** GC time of this JVM so far, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
