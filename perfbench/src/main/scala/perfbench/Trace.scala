package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.chat.{ChatClient, Embedder, Reranker}
import graft.chat.Schemas.{QueryClassification, RepoProfile}

/** One timed interval at a layer boundary. Spans of one request share
  * `root`; `parent` is the span that was open on the calling thread. */
final case class Span(id: Long, parent: Long, root: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends; with
  * tracing off nothing is recorded and `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (id, root)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def current: Option[(Long, Long)] = open.get().headOption

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val (parent, root) = current match {
        case Some((p, r)) => (p, r)
        case None => (0L, id)
      }
      open.set((id, root) :: open.get())
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, root, name, t0, System.nanoTime()))
        open.set(open.get().tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
}

/** Executor-side busy time of the embedder during index builds: tasks
  * run in this JVM under `local[n]`, on threads with no open span. */
object EmbedBusy {
  val nanos = new AtomicLong(0)
}

/** Delegating LLM client: one span per touchpoint. Synthesis is
  * consumed inside its span, as the pipeline consumes it at once. */
final class TracedChatClient(inner: ChatClient, tracer: Tracer) extends ChatClient {
  override def classify(query: String): QueryClassification =
    tracer.span("Llm.classify")(inner.classify(query))
  override def hyde(query: String, c: QueryClassification,
                    profile: Option[RepoProfile]): String =
    tracer.span("Llm.hyde")(inner.hyde(query, c, profile))
  override def synthesize(query: String, c: QueryClassification,
                          profile: Option[RepoProfile],
                          snippets: Seq[(String, String, Double)]): Iterator[String] =
    tracer.span("Llm.synthesize")(
      inner.synthesize(query, c, profile, snippets).toVector).iterator
}

/** Delegating embedder: a span when called under an open span (the
  * query path), executor busy time otherwise (the index build). The
  * tracer is transient: task-side copies only count busy time. */
final class TracedEmbedder(inner: Embedder, @transient tracer: Tracer) extends Embedder {
  override def dim: Int = inner.dim
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    Option(tracer).filter(_.current.isDefined) match {
      case Some(t) => t.span("Embedder")(inner.embedBatch(texts))
      case None =>
        val t0 = System.nanoTime()
        try inner.embedBatch(texts)
        finally EmbedBusy.nanos.addAndGet(System.nanoTime() - t0)
    }
}

final class TracedReranker(inner: Reranker, tracer: Tracer) extends Reranker {
  override def rerank(query: String, docs: Seq[String]): Seq[Double] =
    tracer.span("Reranker")(inner.rerank(query, docs))
}

/** One finished Spark job as the listener saw it. `site` is the first
  * program frame of its call site, e.g. `AnnIndex.save`; `tag` is the
  * `perfbench.tag` local property of the submitting thread. */
final case class JobRecord(jobId: Int, tag: String, site: String,
                           startMs: Long, endMs: Long, stages: Int,
                           tasks: Int, failedTasks: Int, taskNs: Long,
                           schedDelayMs: Long) {
  def ms: Long = endMs - startMs
}

/** SparkListener attributing each job to the thread tag that submitted
  * it and to the program frame in its call site. */
final class JobListener extends SparkListener {
  private case class Acc(tag: String, site: String, start: Long, stageIds: Seq[Int])
  private case class StageAcc(tasks: AtomicLong = new AtomicLong, failed: AtomicLong = new AtomicLong,
                              runNs: AtomicLong = new AtomicLong, delayMs: AtomicLong = new AtomicLong)
  private val live = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  private val finished = new ConcurrentLinkedQueue[JobRecord]()

  // SQL execution id -> the program frame that started the execution.
  // Jobs Spark submits from its own pool for an execution (adaptive
  // query stages, broadcasts) carry the id but no program frame.
  private val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId.toString, JobListener.siteOf(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val fromExec = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id))).filter(_.nonEmpty)
    val site = fromExec.getOrElse(JobListener.siteOf(
      e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")))
    live.put(e.jobId, Acc(prop(JobListener.TagKey).getOrElse(""), site, e.time, e.stageIds))
    e.stageIds.foreach(stages.putIfAbsent(_, StageAcc()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, _ => StageAcc())
    s.tasks.incrementAndGet()
    if (!e.taskInfo.successful) s.failed.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      s.runNs.addAndGet(m.executorRunTime * 1000000L)
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      s.delayMs.addAndGet(math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(live.remove(e.jobId)).foreach { a =>
      val ss = a.stageIds.flatMap(id => Option(stages.remove(id)))
      val ran = ss.filter(_.tasks.get > 0)
      finished.add(JobRecord(e.jobId, a.tag, a.site, a.start, e.time, ran.size,
        ss.map(_.tasks.get).sum.toInt, ss.map(_.failed.get).sum.toInt,
        ss.map(_.runNs.get).sum, ss.map(_.delayMs.get).sum))
    }

  def jobs: Seq[JobRecord] = finished.asScala.toSeq.sortBy(_.jobId)
}

object JobListener {
  val TagKey = "perfbench.tag"

  private val Frame =
    """^(?:graft|perfbench)\.(?:[a-z]+\.)*([A-Z][A-Za-z0-9]*)\$?\.(?:\$anonfun\$)?([A-Za-z0-9]+)[($].*""".r

  /** `graft.chat.AnnIndex$.save(AnnIndex.scala:148)` -> `AnnIndex.save`;
    * empty when no program frame submitted the job. */
  def siteOf(details: String): String =
    details.linesIterator.map(_.trim).collectFirst {
      case Frame(obj, method) => s"$obj.$method"
    }.getOrElse("")

  def install(sc: SparkContext): JobListener = {
    val l = new JobListener
    sc.addSparkListener(l)
    l
  }

  /** Runs `body` with every job it submits tagged `tag`. */
  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}
