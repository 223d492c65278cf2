package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One chat query split into its layers. `jobMs` is the Spark job time
  * on the query thread (the kNN window); `selfMs` is what is left of the
  * wall time, never below 0; `rawResidualMs` is the same before the
  * clamp (job times have millisecond resolution). */
final case class QueryBreakdown(wallMs: Double, childMs: Map[String, Double],
                                jobMs: Double, selfMs: Double, rawResidualMs: Double)

object Layers {
  /** Span name -> per-layer metric name. */
  val ChildMetric: Seq[(String, String)] = Seq(
    "Llm.classify" -> "Llm.classify_ms",
    "Llm.hyde" -> "Llm.hyde_ms",
    "Llm.synthesize" -> "Llm.synthesize_ms",
    "Embedder" -> "Embedder.query_ms",
    "Reranker" -> "Reranker.ms")

  /** `roots`: tag of each query -> its root span id; jobs carry the tag. */
  def breakdown(spans: Seq[Span], roots: Map[String, Long],
                jobs: Seq[JobRecord]): Seq[QueryBreakdown] = {
    val byRoot = spans.groupBy(_.root)
    val jobsByTag = jobs.groupBy(_.tag)
    roots.toSeq.flatMap { case (tag, rootId) =>
      byRoot.get(rootId).flatMap(_.find(_.id == rootId)).map { root =>
        val children = byRoot(rootId).filter(_.parent == rootId)
        val childMs = children.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.ms).sum }
        val childSum = childMs.values.sum
        val jobMs = jobsByTag.getOrElse(tag, Nil).map(_.ms.toDouble).sum
        val raw = root.ms - childSum - jobMs
        val knn = math.min(jobMs, root.ms - childSum)
        QueryBreakdown(root.ms, childMs, knn, root.ms - childSum - knn, raw)
      }
    }
  }

  /** Mean per query of each layer; the means add up to the mean wall time. */
  def meanLayers(qs: Seq[QueryBreakdown]): Seq[(String, Double)] = {
    val n = math.max(1, qs.size).toDouble
    ChildMetric.map { case (span, metric) => metric -> qs.map(_.childMs.getOrElse(span, 0.0)).sum / n } ++
      Seq("AnnIndex.knn_job_ms" -> qs.map(_.jobMs).sum / n,
        "ChatPipeline.self_ms" -> qs.map(_.selfMs).sum / n)
  }

  /** Spark work per operation over `ops` operations. */
  def sparkPerOp(jobs: Seq[JobRecord], ops: Double): Seq[(String, (Double, String))] = {
    val n = math.max(ops, 1.0)
    Seq(
      "spark.jobs" -> (jobs.size / n, "count"),
      "spark.stages" -> (jobs.map(_.stages).sum / n, "count"),
      "spark.tasks" -> (jobs.map(_.tasks).sum / n, "count"),
      "spark.task_s" -> (jobs.map(_.taskNs).sum / 1e9 / n, "s"),
      "spark.sched_delay_ms" -> (jobs.map(_.schedDelayMs).sum / n, "ms"),
      "spark.failed_tasks" -> (jobs.map(_.failedTasks).sum / n, "count"))
  }

  def timeMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def listFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit =
    listFiles(from).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      Files.createDirectories(t.getParent)
      Files.copy(f, t)
    }

  /** path -> (size, mtime) of every file under `root`. */
  def fileStamps(root: Path): Map[String, (Long, Long)] =
    listFiles(root).map { f =>
      f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap
}
