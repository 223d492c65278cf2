package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import graft.ops.{Dedup, Hybrid, Materialize, Scale, Similarity, TextAnalytics}

/** The measuring harness behind Bench, Profile, Verify, Scaling, Explain
  * and ServeBench: the one session recipe, line selection and ordering,
  * the untimed prepares and the timer. The mains add only what is their
  * own (ServeBench's serving confs, Scaling's shuffle override, Bench's
  * gate), so the confs the bench times are the confs Verify checks. */
object Harness {
  type Line = (SparkSession, String) => DataFrame

  /** SPARK_GRAFT_CPUS: local-mode threads, and the shuffle width. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** SPARK_GRAFT_AQE=0 pins static plans, =1 pins adaptive; unset keeps
    * Spark's default (adaptive since 3.2). AqeParitySpec proves the two
    * modes row-identical across every declared query, so the mode is a
    * measurement label, not a semantics switch. */
  val aqe: Option[Boolean] = sys.env.get("SPARK_GRAFT_AQE").map(_ != "0")

  /** The bench session recipe. Static confs must precede getOrCreate. */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 200-query
      // sweep holds thousands of codegen stages, so the default evicts
      // constantly and each min-of-2 pass re-pays Janino compilation
      // for work the warmup already compiled (measured: isolated q85 =
      // 0.9 s vs 2.0 s inside the full sweep, zero GC attribution)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // let AQE re-plan the physical partitioning UNDER cached relations
      // too — off by default, which pins every InMemoryRelation consumer
      // to the static shuffle width regardless of size. Measured at
      // sf0.1: q195 268→19 tasks / 35→0.7 task-seconds, q175 −49% wall;
      // row sets unchanged (re-verified against the DuckDB oracle)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    aqe.foreach(on => b.config("spark.sql.adaptive.enabled", on.toString))
    b
  }

  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- line selection -------------------------------------------------

  /** SPARK_GRAFT_ONLY=name,name,...: the dev-loop line filter. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** The lines `only` names (all when None), in numeric order of their
    * `qN` prefix; lines sharing a number keep their given order. */
  def select[A](lines: Seq[(String, A)], only: Option[Set[String]]): Seq[(String, A)] =
    lines.filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) => n.stripPrefix("q").takeWhile(_.isDigit).toInt }

  // ---- untimed prepares -----------------------------------------------

  /** One untimed prepare: the build half (an artifact write, a frozen
    * reference, a pool of copies) of the lines in `consumers`, which
    * serve from it. `run` gets the session, the SF dir and every line
    * invocation the main will make at that dir after the prepares. */
  final case class Prepare(name: String, consumers: Set[String],
                           run: (SparkSession, String, Seq[String]) => Unit)

  /** A prepare's result: None, or the failure it raised. */
  final case class Outcome(name: String, error: Option[String])

  /** Lines that take one graph-snapshot copy per invocation. */
  val SnapshotConsumers: Set[String] = Set("q165_graph_append", "q166_stream_graph_append")

  /** Snapshot copies to pool for `invocations`: one per invocation of
    * a consumer, so no timed invocation pays a copy inline. */
  def snapshotCount(invocations: Seq[String]): Int = invocations.count(SnapshotConsumers)

  /** The prepare table. Consumers come from the call graph of each
    * prepare's `prepared*` function up to the `SparkEntry.queries`
    * lines that reach it. */
  val prepares: Seq[Prepare] = {
    val bits = Dedup.OracleHashBits
    Seq(
      Prepare("buckets", Set("q41_bucketed_join"),
        (s, d, _) => { Scale.prepareBuckets(s, d); () }),
      Prepare("ivf_index", Set("q81_semantic_dedup_ix", "q82_hard_negatives_ix"),
        (s, d, _) => { Similarity.preparedIvfIndex(s, d); () }),
      Prepare("jsonl", Set("q101_jsonl_roundtrip"),
        (s, d, _) => { graft.sources.JsonlCorpus.preparedJsonl(s, d); () }),
      Prepare("frozen_corpus", Set("q99_incremental_dedup", "q102_stream_admission",
          "q180_admission_split_guard", "q181_stream_split_guard"),
        (s, d, _) => { graft.streaming.DedupStream.prepareFrozen(s, d); () }),
      Prepare("dedup_index", Set("q105_indexed_admission") ++ SnapshotConsumers,
        (s, d, _) => { Dedup.preparedDedupIndex(s, d, bits); () }),
      Prepare("postings_index", Set("q153_bm25_served"),
        (s, d, _) => { TextAnalytics.preparedPostingsIndex(s, d); () }),
      Prepare("dedup_graph", Set("q74_dedup_survivors", "q91_cluster_split",
          "q93_pagerank_iter", "q106_quality_survivors", "q133_quality_dup_audit",
          "q146_cluster_cohesion", "q152_cross_source_matrix", "q154_retrieval_eval",
          "q155_consensus_clusters", "q158_dup_graph_walks", "q159_dup_loss_weights",
          "q161_training_triplets", "q177_split_leakage", "q190_fs_linkage"),
        (s, d, _) => { Dedup.preparedDedupGraph(s, d, bits); () }),
      Prepare("eval_scores", Set("q154_retrieval_eval", "q161_training_triplets"),
        (s, d, _) => { Hybrid.preparedEvalScores(s, d, bits); () }),
      Prepare("winnow_index", Set("q163_winnow_attribution"),
        (s, d, _) => { Dedup.preparedWinnowIndex(s, d, bits); () }),
      Prepare("overlap_postings", Set("q203_jaccard_served", "q204_containment_served"),
        (s, d, _) => { Dedup.preparedOverlapPostings(s, d, bits); () }),
      // the per-invocation copies are q165/q166's harness-isolation
      // half (a real deployment appends in place, once — the copy
      // exists so min-of-N cannot double-append a wave)
      Prepare("graph_snapshots", SnapshotConsumers,
        (s, d, inv) => Dedup.prepareGraphSnapshots(s, d, snapshotCount(inv), bits)))
  }

  /** Run, in table order, every prepare with a consumer among
    * `invocations`. A failure is printed and returned, never swallowed. */
  def prepare(spark: SparkSession, sfDir: String, invocations: Seq[String],
              table: Seq[Prepare] = prepares): Seq[Outcome] = {
    val wanted = invocations.toSet
    table.filter(_.consumers.exists(wanted)).map { p =>
      val error =
        try { p.run(spark, sfDir, invocations); None }
        catch { case e: Throwable => Some(describe(e)) }
      error.foreach(m => System.err.println(s"prepare ${p.name} FAILED: $m"))
      Outcome(p.name, error)
    }
  }

  /** Untimed pass over `lines` at `dir` (JIT/codegen warm-up). Shared
    * caches are dropped after each line, or once at the end. Returns
    * the lines that failed, each printed. */
  def warm(spark: SparkSession, dir: String, lines: Seq[(String, Line)],
           releaseEach: Boolean): Seq[String] = {
    val failed = lines.flatMap { case (name, fn) =>
      val err =
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          System.err.println(s"warm-up: $name FAILED at $dir: ${describe(e)}")
          Some(name)
        }
      if (releaseEach) Materialize.release(spark)
      err
    }
    if (!releaseEach) Materialize.release(spark)
    failed
  }

  private def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  // ---- the timer ------------------------------------------------------

  /** One timed invocation: wall seconds, success, rows counted (−1 on
    * failure), GC millis, and the Spark jobs, stages, tasks and summed
    * executor task seconds it ran. */
  final case class Timing(sec: Double, ok: Boolean, rows: Long, gcMs: Long,
                          jobs: Int, stages: Int, tasks: Int, taskSec: Double)

  /** Per-session job/stage/task counters. Counts are read after the
    * listener bus drains, so they describe exactly one invocation. */
  final class Meter extends SparkListener {
    private[Harness] val jobs = new AtomicInteger(0)
    private[Harness] val stages = new AtomicInteger(0)
    private[Harness] val tasks = new AtomicInteger(0)
    private[Harness] val taskMs = new AtomicLong(0L)
    // stageId → (tasks, summed executorRunTime ms); names carry the call site
    private val perStage = new ConcurrentHashMap[Int, (Int, Long)]()
    private val stageNames = new ConcurrentHashMap[Int, String]()

    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      stageNames.put(sc.stageInfo.stageId, sc.stageInfo.name.takeWhile(_ != '\n'))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (te.taskMetrics != null) {
        taskMs.addAndGet(te.taskMetrics.executorRunTime)
        perStage.merge(te.stageId, (1, te.taskMetrics.executorRunTime),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }

    private[Harness] def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      perStage.clear(); stageNames.clear()
    }

    /** The `n` costliest stages since the last reset, by task time:
      * (stageId, tasks, task ms, call site). */
    def topStages(n: Int): Seq[(Int, Int, Long, String)] = {
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._2._2).take(n).map { case (sid, (k, ms)) =>
        (sid, k, ms, Option(stageNames.get(sid)).getOrElse("?"))
      }
    }
  }

  private val meters = new ConcurrentHashMap[SparkSession, Meter]()

  def meter(spark: SparkSession): Meter =
    meters.computeIfAbsent(spark, s => {
      val m = new Meter
      s.sparkContext.addSparkListener(m)
      m
    })

  /** Cumulative JVM GC millis: per-invocation deltas surface cache-leak
    * regressions (the q48 0.7→9.2 s incident class) in the artifact. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Time `body` (which returns the rows it counted) as one invocation
    * of `name`. Shared caches are released after the clock stops, so
    * the next pass measures full compute, not this pass's cached
    * blocks. A failure is printed and reported as `ok = false`. Not
    * for concurrent use on one session. */
  def timed(spark: SparkSession, name: String)(body: => Long): Timing = {
    val m = meter(spark)
    Bridge.drainListenerBus(spark.sparkContext)
    m.reset()
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val rows =
      try Some(body)
      catch { case e: Throwable =>
        System.err.println(s"$name FAILED: ${describe(e)}")
        None
      }
    val sec = (System.nanoTime() - t0) / 1e9
    Materialize.release(spark)
    Bridge.drainListenerBus(spark.sparkContext)
    Timing(sec, rows.isDefined, rows.getOrElse(-1L), gcMs() - gc0, m.jobs.get(),
      m.stages.get(), m.tasks.get(), m.taskMs.get() / 1000.0)
  }
}
