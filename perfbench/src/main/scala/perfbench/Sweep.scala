package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** `analytics_sweep`: one pass, in numeric order, over a fixed subset of
  * `SparkEntry.queries` at sf0.1, by one client in a closed loop. Each
  * result is collected in full (a `count()` would let the optimizer
  * prune columns) and its order-insensitive digest is checked against
  * `expected_sweep.tsv`. The subset and each line's module are listed in
  * `sweep_subset.tsv`; the README says how they were chosen. */
object Sweep {
  // line latency limit: twice the median of the slowest selected line
  // run cold at local[4] (q127, about 3.7 s). A box slowdown with no code
  // change took q127 to 6.4 s and q172 to 5.6 s in one of 17 runs, so a
  // tighter limit measures the box; a line that doubles crosses this one.
  // (Bench's warm 3.5 s gate sits inside this workload's cold spread.)
  val SloMs = 7500.0

  final case class Line(name: String, module: String)

  /** The registry lines `sweep_subset.tsv` names, in numeric order. */
  def subset(benchDir: Path): Seq[Line] = {
    val byPrefix = prefixes(benchDir).toMap
    graft.SparkEntry.queries.keys.toSeq
      .flatMap(n => byPrefix.get(n.takeWhile(_ != '_')).map(Line(n, _)))
      .sortBy(_.name.stripPrefix("q").takeWhile(_.isDigit).toInt)
  }

  def prefixes(benchDir: Path): Seq[(String, String)] =
    tsv(benchDir.resolve("sweep_subset.tsv")).map(r => r(0) -> r(1))

  def expected(benchDir: Path): Map[String, String] =
    tsv(benchDir.resolve("expected_sweep.tsv")).map(r => r(0) -> r(1)).toMap

  /** One line's full result. */
  def runLine(spark: SparkSession, sf: String, line: Line): Array[Row] =
    graft.SparkEntry.queries(line.name)(spark, sf).collect()

  def tsv(p: Path): Seq[Array[String]] =
    Files.readAllLines(p).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))

  /** Order-insensitive digest: row count and the sum of the first 8
    * bytes of each row's MD5, over a canonical text form of the row. */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def run(spark: SparkSession, cfg: Config, report: Report, ready: () => Unit): Unit = {
    val sc = spark.sparkContext
    val listener = if (cfg.trace) Some(JobListener.install(sc)) else None
    def tag[A](t: String)(body: => A): A = if (cfg.trace) JobListener.tagged(sc, t)(body) else body
    val lines = subset(cfg.benchDir)
    val expected = Sweep.expected(cfg.benchDir)
    // every listed prefix and every expected line must run, or the pass
    // would silently shrink
    prefixes(cfg.benchDir).foreach { case (prefix, _) =>
      report.check(lines.count(_.name.takeWhile(_ != '_') == prefix) == 1,
        s"sweep_subset.tsv: $prefix names ${lines.count(_.name.takeWhile(_ != '_') == prefix)} registry lines, not 1")
    }
    expected.keys.toSeq.sorted.foreach { name =>
      report.check(lines.exists(_.name == name), s"expected_sweep.tsv: $name is not in the sweep")
    }
    val sf = s"${cfg.testdata}/sf0.1"
    // the first Spark job of a JVM pays class loading and JIT; run the
    // registry's first query at sf0.001 so line 1 does not carry it
    report.attempt("warmup")(
      graft.SparkEntry.queries("q1_pricing_summary")(spark, s"${cfg.testdata}/sf0.001").collect())
    ready()

    // the build half of q181 (its frozen corpus), as Bench prepares it
    val b0 = System.nanoTime()
    report.attempt("prepare frozen corpus")(tag("build")(
      graft.streaming.DedupStream.prepareFrozen(spark, sf)))
    report.endToEnd("build_s") = ((System.nanoTime() - b0) / 1e9, "s")
    report.heap.checkpoint()

    case class Done(line: Line, ms: Double, gcMs: Long, startMs: Long, endMs: Long,
                    ok: Boolean, matched: Boolean)
    val done = lines.zipWithIndex.map { case (line, i) =>
      val gc0 = Stats.gcMs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val rows = report.attempt(line.name)(tag(line.name) {
        if (cfg.plantFailure && line == lines.head) throw new IllegalStateException("planted failure")
        runLine(spark, sf, line)
      })
      val ms = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      val gcMs = Stats.gcMs() - gc0
      graft.ops.Materialize.release(spark)
      if ((i + 1) % 8 == 0) report.heap.checkpoint()
      val digests = rows.map(digest)
      val matched = digests.exists(d => expected.get(line.name).contains(d))
      digests.foreach(d => report.check(matched,
        s"${line.name}: digest $d, expected ${expected.getOrElse(line.name, "none")}"))
      Done(line, ms, gcMs, w0, w1, rows.isDefined, matched)
    }

    val lat = done.map(d => if (d.ok) d.ms else Double.PositiveInfinity)
    report.endToEnd("query_p50_ms") = (Stats.pct(lat, 0.50), "ms")
    report.endToEnd("query_p90_ms") = (Stats.pct(lat, 0.90), "ms")
    report.endToEnd("query_slo_share") = (lat.count(_ <= SloMs).toDouble / lat.size, "share")
    report.endToEnd("pass_s") = (done.filter(_.ok).map(_.ms).sum / 1e3, "s")
    report.endToEnd("result_recall") = (done.count(_.matched).toDouble / done.size, "share")
    report.detail("lines") = Json.obj(done.map(d => d.line.name -> Json.num(d.ms)))

    listener.foreach { l =>
      org.apache.spark.PerfbenchBridge.drain(sc)
      // streaming lines run jobs on their own threads: attribute every
      // job to the line whose wall interval contains its start
      val jobs = l.jobs
      def jobsOf(d: Done) = jobs.filter(j => j.tag == d.line.name ||
        (j.tag != "build" && j.startMs >= d.startMs && j.startMs <= d.endMs))
      val perLine = done.map(d => d -> jobsOf(d))
      report.detail("per_line") = Json.obj(perLine.map { case (d, js) =>
        d.line.name -> Json.obj(Seq(
          "module" -> Json.str(d.line.module), "ms" -> Json.num(d.ms),
          "jobs" -> js.size.toString, "stages" -> js.map(_.stages).sum.toString,
          "tasks" -> js.map(_.tasks).sum.toString,
          "task_s" -> Json.num(js.map(_.taskNs).sum / 1e9),
          "gc_ms" -> d.gcMs.toString))
      })
      perLine.groupBy(_._1.line.module).toSeq.sortBy(_._1).foreach { case (m, ds) =>
        report.perLayer(s"$m.s") = (ds.map(_._1.ms).sum / 1e3, "s")
        report.perLayer(s"$m.jobs") = (ds.map(_._2.size).sum.toDouble, "count")
      }
      val lineJobs = perLine.flatMap(_._2).distinct
      Layers.sparkPerOp(lineJobs, done.size).foreach { case (k, v) => report.perLayer(k) = v }
      report.perLayer("jvm.gc_ms") = (done.map(_.gcMs).sum.toDouble / done.size, "ms")
      Layers.sparkPerOp(jobs.filter(_.tag == "build"), 1).foreach { case (k, v) => report.perLayer("build." + k) = v }
    }
  }
}
