package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Consts, Tables}
import graft.ops.TextAnalytics.{tokens, shingles3, sqlShingles}

/** The persisted dedup GRAPH artifact: build/load/append/compact,
  * snapshot pooling for the bench harness, hygiene status and compact
  * advisory, and the ten graph-served consumer entry points.
  *
  * One mixin slice of [[Dedup]] (round-12 file split along the family
  * seams; no behavior change — every member keeps its `Dedup.` call
  * surface through the mixin).
  */
trait DedupGraphArtifact { this: Dedup.type =>


  // -------------------------------------------------------------------
  // Persisted dedup GRAPH — the q105/q153 build/serve discipline
  // applied to the PAIR LIST itself. Eleven consumer reports
  // (survivorship, splits, weights, walks, consensus, ...) are built
  // on the verified near-dup relation; recomputing full-corpus
  // candidate generation inside every one of them is the dominant
  // operational cost of a dedup-graph consumer at 100 TB. The graph is
  // computed ONCE per corpus snapshot and persisted; every report is
  // then an artifact read (the persisted generalization of the
  // reference's build/search split, ann.rs:252-268, carried from the
  // admission index to the graph the reports consume). Layout:
  //   path/pairs/bucket=<k>/    (doc_a, doc_b, inter, uni, jaccard)  verified q14 pairs
  //   path/signals/signal=<s>/  (doc_a, doc_b)           3-detector tagged edges
  //   path/exact/               (doc_a, doc_b)           exact-hash edges
  //   path/cc/                  (node, label)            CC over exact ∪ minhash
  //   path/pair_cc/             (node, label)            CC over minhash pairs only
  //   path/consensus_cc/        (node, label)            CC over the 3-signal pairs
  // pairs/ keeps the integer (inter, uni) overlap alongside the double
  // jaccard so integer-exact consumers (q146's jacc_permille) stay
  // bit-identical through the artifact. THREE label tables because the
  // consumer families resolve DIFFERENT graphs: survivorship/split/
  // audit merge on exact ∪ verified-minhash edges (the q49/q74
  // contract), weights/cohesion cluster the pair list alone, and the
  // consensus report clusters the union of all three detectors.
  // Storing each keeps every served report bit-identical to its
  // inline oracle.
  // -------------------------------------------------------------------

  /** pairs/ partition fan: doc_a mod this many hive buckets. The
    * value is layout parallelism (concurrent readers/writers per
    * bucket dir), not pruning — consumers read the whole answer-sized
    * relation. */
  val GraphPairBuckets = 16L

  /** Write the dedup-graph artifact for `sfDir`'s corpus. Build-time
    * caps (`bandCap` for LSH hot buckets, `dfCap` for the shared-run
    * gram index, `winnowDfCap` for the winnow fingerprint index)
    * freeze into the artifact the same way [[saveDedupIndex]]'s do:
    * every serving job inherits the bounded relation without
    * re-deciding. Defaults match the inline detectors' defaults
    * (winnow capped at [[WinnowDfCap]], the rest uncapped) — the
    * oracle-checked configuration. Each projection is written once
    * and downstream projections READ BACK the persisted form (pairs
    * feed signals and cc from parquet, not from a re-run detector),
    * so the three detectors run exactly once per build. */
  def saveDedupGraph(spark: SparkSession, sfDir: String, path: String,
                     bits: Int = DefaultHashBits,
                     bandCap: Option[Int] = None,
                     dfCap: Option[Int] = None,
                     winnowDfCap: Option[Int] = Some(WinnowDfCap)): Unit = {
    candidateOverlap(spark, sfDir, bits, bandCap)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= Consts.MinhashJaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jaccard"))
      .withColumn("bucket", pmod(col("doc_a"), lit(GraphPairBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/pairs")
    val mh = loadGraphPairs(spark, path).select("doc_a", "doc_b")
    sharedRunPairs(spark, sfDir, bits, dfCap)
      .select(col("doc_a"), col("doc_b"), lit("runs").as("signal"))
      .unionAll(winnowPairs(spark, sfDir, bits, winnowDfCap)
        .select(col("doc_a"), col("doc_b"), lit("winnow").as("signal")))
      .unionAll(mh.withColumn("signal", lit("minhash")))
      .write.mode("overwrite").partitionBy("signal").parquet(s"$path/signals")
    exactDupEdges(spark, sfDir)
      .write.mode("overwrite").parquet(s"$path/exact")
    starComponents(spark.read.parquet(s"$path/exact").unionAll(mh))
      .write.mode("overwrite").parquet(s"$path/cc")
    starComponents(mh)
      .write.mode("overwrite").parquet(s"$path/pair_cc")
    starComponents(loadGraphSignals(spark, path)
        .select("doc_a", "doc_b").distinct())
      .write.mode("overwrite").parquet(s"$path/consensus_cc")
  }

  /** The verified pair list from an artifact (bucket partition column
    * dropped — it is layout, not data). */
  def loadGraphPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/pairs")
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")

  /** The tagged 3-detector edge relation from an artifact. `signal`
    * comes back as a hive partition column; the cast pins it to the
    * string the in-memory union emits. */
  def loadGraphSignals(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/signals")
      .select(col("doc_a"), col("doc_b"), col("signal").cast("string").as("signal"))

  @transient private val dedupGraphs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  /** JVM-lifetime artifact build (the q41/q81/q105 discipline: the
    * graph WRITE is the untimed build half; the timed consumer query
    * is the serving read). Keyed like `dedupIndexes`: the cached value
    * is an on-disk path any session can read. */
  def preparedDedupGraph(spark: SparkSession, sfDir: String,
                         bits: Int = DefaultHashBits): String =
    dedupGraphs.computeIfAbsent((sfDir, bits), _ => {
      val path = graft.streaming.StreamScratch.dir(s"graft_dedupgraph_b$bits")
      saveDedupGraph(spark, sfDir, path, bits)
      path
    })

  /** q74 SERVED from the persisted graph (shares q74's oracle — the
    * artifact round-trip must be verdict-invisible). The timed work is
    * the corpus's narrow (doc_id, source, n_tokens) projection plus
    * one left join against the persisted cc/ labels; candidate
    * generation and component resolution are build-time. */
  def dedupSurvivorsFromGraph(spark: SparkSession, sfDir: String,
                              bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedDedupGraph(spark, sfDir, bits)
    dedupSurvivorsOf(
      survivorFlagsWith(spark, sfDir, spark.read.parquet(s"$path/cc")))
  }

  /** q155 SERVED from the persisted graph (shares q155's oracle): the
    * timed work is two keyed aggs over the answer-sized signals/ and
    * consensus_cc/ reads — the three-detector regeneration that made
    * the inline form the bench's worst line is build-time. */
  def consensusClustersFromGraph(spark: SparkSession, sfDir: String,
                                 bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedDedupGraph(spark, sfDir, bits)
    consensusReport(loadGraphSignals(spark, path),
      spark.read.parquet(s"$path/consensus_cc"))
  }

  /** q158 SERVED from the persisted graph (shares q158's oracle): the
    * walker runs over the persisted pair relation; each step stays an
    * answer-sized equi-join, now rooted at a parquet scan instead of a
    * full LSH regeneration. */
  def dupGraphWalksFromGraph(spark: SparkSession, sfDir: String,
                             bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedDedupGraph(spark, sfDir, bits)
    walksOverPairs(spark, loadGraphPairs(spark, path).select("doc_a", "doc_b"))
  }

  /** q91 SERVED from the persisted graph (shares q91's oracle): split
    * assignment is scan-local hashing; the only graph input is the
    * persisted cc/ labels. */
  def clusterSplitFromGraph(spark: SparkSession, sfDir: String,
                            bits: Int = DefaultHashBits): DataFrame =
    clusterSplitWith(spark, sfDir,
      spark.read.parquet(s"${preparedDedupGraph(spark, sfDir, bits)}/cc"))

  /** q93 SERVED from the persisted graph (shares q93's oracle). */
  def pagerankIterFromGraph(spark: SparkSession, sfDir: String,
                            bits: Int = DefaultHashBits): DataFrame =
    pagerankIterWith(spark,
      loadGraphPairs(spark, preparedDedupGraph(spark, sfDir, bits))
        .select("doc_a", "doc_b"))

  /** q106 SERVED from the persisted graph (shares q106's oracle). */
  def qualitySurvivorsFromGraph(spark: SparkSession, sfDir: String,
                                bits: Int = DefaultHashBits): DataFrame =
    qualitySurvivorsWith(spark, sfDir,
      spark.read.parquet(s"${preparedDedupGraph(spark, sfDir, bits)}/cc"))

  /** q133 SERVED from the persisted graph (shares q133's oracle). */
  def qualityDupAuditFromGraph(spark: SparkSession, sfDir: String,
                               bits: Int = DefaultHashBits): DataFrame =
    qualityDupAuditWith(spark, sfDir,
      spark.read.parquet(s"${preparedDedupGraph(spark, sfDir, bits)}/cc"))

  /** q146 SERVED from the persisted graph (shares q146's oracle): the
    * artifact's integer (inter, uni) columns reproduce jacc_permille
    * exactly; labels come from pair_cc/ (the pair-only graph q146
    * audits). */
  def clusterCohesionFromGraph(spark: SparkSession, sfDir: String,
                               bits: Int = DefaultHashBits): DataFrame = {
    val path = preparedDedupGraph(spark, sfDir, bits)
    clusterCohesionWith(
      loadGraphPairs(spark, path)
        .withColumn("jacc_permille", expr("inter * 1000 div uni"))
        .select("doc_a", "doc_b", "jacc_permille"),
      spark.read.parquet(s"$path/pair_cc"))
  }

  /** q152 SERVED from the persisted graph (shares q152's oracle). */
  def crossSourceMatrixFromGraph(spark: SparkSession, sfDir: String,
                                 bits: Int = DefaultHashBits): DataFrame =
    crossSourceMatrixWith(spark, sfDir,
      loadGraphPairs(spark, preparedDedupGraph(spark, sfDir, bits))
        .select("doc_a", "doc_b"))

  /** q159 SERVED from the persisted graph (shares q159's oracle):
    * labels from pair_cc/ — q159's graph is the pair list without the
    * exact-dup arm. */
  def dupLossWeightsFromGraph(spark: SparkSession, sfDir: String,
                              bits: Int = DefaultHashBits): DataFrame =
    dupLossWeightsWith(spark, sfDir,
      spark.read.parquet(s"${preparedDedupGraph(spark, sfDir, bits)}/pair_cc"))

  /** q49 SERVED from the persisted graph — offered as API (spec-pinned
    * identical to the inline recompute) but deliberately NOT the
    * registry's q49: the inline form stays the bench's one timed
    * end-to-end CC pipeline, so component-resolution cost keeps a
    * measured line instead of disappearing entirely into build halves. */
  def nearDupClustersFromGraph(spark: SparkSession, sfDir: String,
                               bits: Int = DefaultHashBits): DataFrame =
    spark.read.parquet(s"${preparedDedupGraph(spark, sfDir, bits)}/pair_cc")
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** Append a wave of newly VERIFIED near-dup pairs (doc_a, doc_b,
    * inter, uni, jaccard — e.g. the matches an admission job emitted
    * for an ingested batch) to a persisted graph — the add() half of the
    * lifecycle, mirroring [[appendToDedupIndex]]: pairs/ and signals/
    * get the same projections the build writes, in append mode, and
    * both label tables get ATTACH rows for the delta's previously
    * unseen nodes (label = min over each new edge's endpoint labels,
    * aggregated across the wave's edges).
    *
    * Exactness contract, stated: attach labels are exact under the
    * admission lifecycle's id discipline (appended doc_ids are fresh
    * and larger than every snapshot id, so an edge into an existing
    * cluster inherits that cluster's min label). An edge BRIDGING two
    * existing clusters is recorded in pairs/ but does not relabel the
    * old clusters until [[compactDedupGraph]] recomputes exact CC —
    * the same snapshot+delta-then-compact contract as the admission
    * index. Appended waves carry only the minhash signal (runs/winnow
    * are corpus-report detectors; they refresh at the next full
    * build), so consensus agreement counts for delta edges start at 1
    * by construction. */
  def appendToDedupGraph(spark: SparkSession, path: String,
                         pairs: DataFrame,
                         labelSnapshot: Option[String] = None): Unit = {
    // labelSnapshot: where the seen-node labels are READ from (appends
    // still land in `path`). A wave appended in ONE call leaves it at
    // the default (= path). A wave split across micro-batches passes
    // the frozen pre-wave snapshot: resolving every batch against the
    // frozen labels makes each appended row the single-pass attach
    // rule's m over that batch's edges, and attachReport's min()
    // reduction over the accumulated rows reproduces exactly the
    // wave-wide min a one-call append computes — resolving against the
    // evolving copy instead would both drop re-touched nodes (their
    // own earlier append makes them look "seen") and leak transitive
    // labels the single-pass contract defers to compaction.
    val snap = labelSnapshot.getOrElse(path)
    val d = pairs.select("doc_a", "doc_b", "inter", "uni", "jaccard")
      .localCheckpoint(true)
    try {
      // the five appended projections are independent (distinct target
      // dirs, all rooted at the checkpointed wave) — run them as
      // CONCURRENT jobs: an append is ~wave-sized work per projection,
      // so sequential execution is job-scheduling floor, not compute
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes: Seq[Future[Unit]] = Seq(
        Future {
          // round 16 (guide §6): repartition BY BUCKET before the
          // partitioned write. Without it the dynamic-partition writer
          // emits up to 16 bucket files PER INPUT TASK — sequentially
          // when the checkpointed wave is one answer-sized partition
          // (Profile: this write was q165/q166's single largest stage,
          // 5.2 task-s in one task), and P×16 small files per wave at
          // scale. Keyed on bucket, each task writes exactly its
          // buckets' rows: ≤16 files per wave, created in parallel.
          d.withColumn("bucket", pmod(col("doc_a"), lit(GraphPairBuckets)))
            .repartition(GraphPairBuckets.toInt, col("bucket"))
            .write.mode("append").partitionBy("bucket").parquet(s"$path/pairs")
        },
        Future {
          d.select(col("doc_a"), col("doc_b"), lit("minhash").as("signal"))
            .write.mode("append").partitionBy("signal").parquet(s"$path/signals")
        },
        Future {
          // hygiene sidecar for graphStatus: one row per appended wave.
          // A fresh build has no waves/ dir and compaction writes none,
          // so waves-since-build is the dir's row count by construction
          import spark.implicits._
          Seq(d.count()).toDF("wave_pairs")
            .coalesce(1).write.mode("append").parquet(s"$path/waves")
        }) ++ Seq("cc", "pair_cc", "consensus_cc").map { cc => Future {
        val labels = spark.read.parquet(s"$snap/$cc")
        val e = d.select(col("doc_a"), col("doc_b"))
          .join(labels.select(col("node").as("doc_a"), col("label").as("la")),
            Seq("doc_a"), "left")
          .join(labels.select(col("node").as("doc_b"), col("label").as("lb")),
            Seq("doc_b"), "left")
          .withColumn("m", least(coalesce(col("la"), col("doc_a")),
            coalesce(col("lb"), col("doc_b"))))
        // previously seen nodes keep their snapshot label; unseen ones
        // take the wave-wide min over their incident edges' labels
        e.select(col("doc_a").as("node"), col("m"), col("la").as("have"))
          .unionAll(e.select(col("doc_b").as("node"), col("m"), col("lb").as("have")))
          .filter(col("have").isNull)
          .groupBy("node").agg(min(col("m")).as("label"))
          .write.mode("append").parquet(s"$path/$cc")
      }}
      Await.result(Future.sequence(writes),
        scala.concurrent.duration.Duration.Inf)
      ()
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(d)
  }

  // -------------------------------------------------------------------
  // q165/q166: admission-wave graph ATTACH — the lifecycle moment the
  // append path exists for: a wave of incoming documents is verified
  // against the frozen corpus (and against itself), its pairs append
  // to the persisted graph, and the report states which cluster each
  // incoming doc landed in. This is the ingest-everything/dedup-later
  // curation mode's bookkeeping (survivorship and loss-weighting read
  // the updated graph), and the single-pass attach rule is the
  // documented append contract — exact under the fresh-id discipline,
  // wave-internal chains deferred to compaction.
  // -------------------------------------------------------------------

  /** Verified near-dup pairs of an admission wave: wave ↔ frozen-corpus
    * (banded probe against the admission index's postings, broadcast
    * wave side — the q99 shape) PLUS wave ↔ wave (self band join of the
    * batch's own summary). Emitted as (doc_a, doc_b, inter, uni,
    * jaccard) with doc_a < doc_b (cross pairs are (old, new) under the
    * fresh-id contract), i.e. exactly [[appendToDedupGraph]]'s input
    * schema. Exact byte-duplicates need no special arm: they verify at
    * jaccard 1.0 through the same shingle screen. */
  private[graft] def admissionPairs(newDocs: DataFrame, corpus: FrozenCorpus,
                                    bits: Int = DefaultHashBits): DataFrame =
    admissionPairsWithPrior(newDocs, None, corpus, bits)._1

  /** [[admissionPairs]] generalized to a wave that arrives in several
    * micro-batches: `priorSum` is the (doc_id, source, s, bands)
    * summary of the wave docs earlier batches already appended. Emits
    * this batch's NEW pairs only — batch↔frozen, batch↔batch, and
    * batch↔prior (the cross-batch within-wave pairs a per-batch-only
    * verify would silently miss) — plus the batch's own summary so the
    * caller can persist it as the next batch's prior. prior↔prior and
    * prior↔frozen pairs were emitted by the batches that introduced
    * those docs and are never recomputed, so the union over all
    * batches is exactly the single-batch [[admissionPairs]] pair set. */
  private[graft] def admissionPairsWithPrior(
      newDocs: DataFrame, priorSum: Option[DataFrame], corpus: FrozenCorpus,
      bits: Int = DefaultHashBits): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    val nsum = Materialize.tracked(spark,
      docShingleSummaryOf(newDocs.select("doc_id", "source", "text"), bits)
        .localCheckpoint(true))
    def bandsOf(sum: DataFrame) = sum.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val nb = bandsOf(nsum)
    val candNO = corpus.banded.alias("y").join(broadcast(nb.alias("x")),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash"))
      .select(col("y.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
      .distinct()
    val withNO = candNO
      .join(corpus.sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(nsum.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
    val candNN = nb.alias("p").join(nb.alias("q"),
        col("p.band_idx") === col("q.band_idx") &&
        col("p.band_hash") === col("q.band_hash") &&
        col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"))
      .distinct()
    val withNN = candNN
      .join(nsum.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(nsum.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
    // cross-batch within-wave arm: this batch's bands against the
    // prior batches' summaries, endpoints normalized to doc_a < doc_b
    // (wave ids carry no arrival-order guarantee); no prior↔prior join
    // ever runs, so per-batch work stays batch × (frozen + wave-so-far)
    val withNP = priorSum.map { ps =>
      val candNP = bandsOf(ps).alias("p").join(broadcast(nb.alias("q")),
          col("p.band_idx") === col("q.band_idx") &&
          col("p.band_hash") === col("q.band_hash"))
        .select(least(col("p.doc_id"), col("q.doc_id")).as("doc_a"),
          greatest(col("p.doc_id"), col("q.doc_id")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .distinct()
      val allSets = ps.select(col("doc_id"), col("s"))
        .unionByName(nsum.select(col("doc_id"), col("s")))
      candNP
        .join(allSets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
        .join(allSets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
    }
    val pairs = (withNO.unionAll(withNN) :: withNP.toList)
      .reduce(_ unionAll _)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= Consts.MinhashJaccardThreshold)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
    (pairs, nsum.select("doc_id", "source", "s", "bands"))
  }

  @transient private val frozenGraphDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (String, String)]()

  /** (frozenCorpusDir, frozenGraphPath) for `sfDir`: the non-incremental
    * corpus written once as its own corpus dir (so every sfDir-shaped
    * builder runs on it unchanged) and the graph artifact built over it
    * — the snapshot an admission wave appends to. JVM-cached build
    * (the q41/q81 discipline). */
  private[graft] def preparedFrozenGraph(spark: SparkSession, sfDir: String,
                                         bits: Int = DefaultHashBits): (String, String) =
    frozenGraphDirs.computeIfAbsent((sfDir, bits), _ => {
      val corpusDir = graft.streaming.StreamScratch.dir("graft_frozen_corpus")
      Tables.documents(spark, sfDir)
        .filter(col("source") =!= IncrementalSource)
        .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
      val g = graft.streaming.StreamScratch.dir(s"graft_frozengraph_b$bits")
      saveDedupGraph(spark, corpusDir, g, bits)
      (corpusDir, g)
    })

  /** Filesystem copy of a graph artifact — harness isolation for the
    * attach report: a real deployment appends each wave ONCE; a
    * re-run report (bench pass 2, a verify after a bench) must not
    * double-append the same wave into the shared snapshot, so each
    * invocation appends into its own copy. */
  private[graft] def copyGraph(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  @transient private val graphSnapshots =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-copied graph snapshots for the attach harness (untimed build
    * half — the q81/q105 discipline applied to the copy itself): the
    * filesystem copy in [[graphAppendReport]]/q166 is harness
    * isolation, not operator work — a real deployment appends each
    * wave ONCE, in place — so the harness pools `n` fresh copies here
    * before the timed passes and each invocation dequeues one; the timed line
    * then measures append + report only. Invocations beyond the pool
    * fall back to copying inline (Verify and specs are untimed), so
    * the isolation invariant — every invocation appends into a dir no
    * other invocation has touched — holds either way. */
  def prepareGraphSnapshots(spark: SparkSession, sfDir: String, n: Int,
                            bits: Int = DefaultHashBits): Unit = {
    val (_, frozenG) = preparedFrozenGraph(spark, sfDir, bits)
    val q = graphSnapshots.computeIfAbsent((sfDir, bits),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    (1 to n).foreach { _ =>
      val d = graft.streaming.StreamScratch.dir("graft_graphsnap")
      copyGraph(frozenG, d)
      q.add(d)
    }
  }

  private[graft] def takeGraphSnapshot(sfDir: String, bits: Int,
                                       frozenG: String): String =
    Option(graphSnapshots.get((sfDir, bits))).flatMap(q => Option(q.poll()))
      .getOrElse {
        val d = graft.streaming.StreamScratch.dir("graft_graphappend")
        copyGraph(frozenG, d)
        d
      }

  /** Graph-artifact hygiene accounting — the check-index discipline
    * applied to the dedup graph: one row stating how far the artifact
    * has drifted from a fresh build, so an operator knows when to run
    * [[compactDedupGraph]]. `waves_appended` counts append calls since
    * the build (the waves/ sidecar; a fresh build has none and
    * compaction writes none). The `bridge_*` columns are the deferred-
    * relabeling debt the append contract documents: recorded edges
    * whose endpoints resolve to DIFFERENT labels in the corresponding
    * label table — zero on a fresh build by starComponents' fixpoint,
    * zero again after compaction recomputes the labels.
    * `multi_label_nodes` counts nodes holding more than one cc/ row
    * (multi-batch appends; benign — attachReport min()-reduces them —
    * but rewritten away by compaction). All columns are answer-sized
    * aggregates over artifact reads; no detector runs. */
  def graphStatus(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    def rows(sub: String): Long =
      try spark.read.parquet(s"$path/$sub").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    def bridge(edges: DataFrame, labelDir: String): Long = {
      val lab = spark.read.parquet(s"$path/$labelDir")
        .groupBy("node").agg(min(col("label")).as("label"))
      edges
        .join(lab.select(col("node").as("doc_a"), col("label").as("la")),
          Seq("doc_a"), "left")
        .join(lab.select(col("node").as("doc_b"), col("label").as("lb")),
          Seq("doc_b"), "left")
        .filter(coalesce(col("la"), col("doc_a")) =!=
          coalesce(col("lb"), col("doc_b")))
        .count()
    }
    val pairs = loadGraphPairs(spark, path).select("doc_a", "doc_b")
    val exact = spark.read.parquet(s"$path/exact").select("doc_a", "doc_b")
    val sig = loadGraphSignals(spark, path).select("doc_a", "doc_b").distinct()
    val multiLabel = spark.read.parquet(s"$path/cc")
      .groupBy("node").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    Seq((rows("waves"), rows("pairs"), rows("signals"), rows("exact"),
        rows("cc"), rows("pair_cc"), rows("consensus_cc"),
        bridge(exact.unionAll(pairs), "cc"), bridge(pairs, "pair_cc"),
        bridge(sig, "consensus_cc"), multiLabel))
      .toDF("waves_appended", "pairs_rows", "signal_rows", "exact_rows",
        "cc_rows", "pair_cc_rows", "consensus_cc_rows", "bridge_cc",
        "bridge_pair_cc", "bridge_consensus_cc", "multi_label_nodes")
  }

  /** Waves appended since build beyond which [[compactAdvisory]] fires
    * even with zero bridge debt: every wave fragments pairs/ and can
    * leave benign multi-label rows, and sixteen of them is well past
    * "occasional append" into "the artifact deserves a fold". */
  val CompactAdviseWaves = 16L

  /** The consumer [[graphStatus]] was missing: one advisory line, or
    * None when the artifact is clean. Some(...) when the graph carries
    * deferred-relabeling debt (bridged edges whose endpoints resolve
    * to different labels), multi-label nodes, or more than
    * [[CompactAdviseWaves]] appended waves — exactly the states
    * [[compactDedupGraph]] exists to fold away. Runs graphStatus's
    * artifact-read aggregates, so it belongs on operator surfaces
    * (REPL `graph-status`, post-maintenance hooks), never inside a
    * timed serving read. */
  def compactAdvisory(spark: SparkSession, path: String): Option[String] = {
    val r = graphStatus(spark, path).collect().head
    val debt = r.getAs[Long]("bridge_cc") + r.getAs[Long]("bridge_pair_cc") +
      r.getAs[Long]("bridge_consensus_cc")
    val multi = r.getAs[Long]("multi_label_nodes")
    val waves = r.getAs[Long]("waves_appended")
    if (debt > 0L || multi > 0L || waves > CompactAdviseWaves)
      Some(s"ADVISE: dedup graph at '$path' carries $debt bridged edge(s), " +
        s"$multi multi-label node(s), $waves appended wave(s) since build — " +
        "run compactDedupGraph to recompute exact labels and fold the appends")
    else None
  }

  /** The attach-label read both q165 (batch) and q166 (stream) share:
    * every incremental doc with its post-append cluster (own id when
    * nothing matched) and whether the append attached it. min() over
    * the label guards the read against harness double-appends
    * (identical attach rows are label-identical, so the report is
    * append-idempotent by construction). */
  private[graft] def attachReport(spark: SparkSession, sfDir: String,
                                  graphPath: String): DataFrame = {
    val cc = spark.read.parquet(s"$graphPath/cc")
    Tables.documents(spark, sfDir)
      .filter(col("source") === IncrementalSource)
      .select("doc_id")
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("label"), col("doc_id"))).as("cluster"),
        max(col("label").isNotNull).as("attached"))
      .orderBy("doc_id")
  }

  /** q165: admission-wave graph attach — verify the incremental wave
    * (against the frozen snapshot AND within itself), append the
    * verified pairs to a copy of the frozen graph artifact via the
    * real [[appendToDedupGraph]] path, and report each incoming doc's
    * landing cluster.
    *
    * Scale shape: wave candidates ride the broadcast banded probe
    * (q99's shape) and the wave-sized self band join; the append
    * writes wave-sized projections; the report is one left join of the
    * wave's ids against the artifact's labels. The frozen graph and
    * admission index are build-half artifacts (untimed, JVM-cached),
    * and the per-invocation isolation snapshot comes from the
    * [[prepareGraphSnapshots]] pool when the harness pre-filled it — the
    * timed line is append + report, not the harness copy. */
  def graphAppendReport(spark: SparkSession, sfDir: String,
                        bits: Int = DefaultHashBits): DataFrame = {
    val (_, frozenG) = preparedFrozenGraph(spark, sfDir, bits)
    val work = takeGraphSnapshot(sfDir, bits, frozenG)
    val newDocs = Tables.documents(spark, sfDir)
      .filter(col("source") === IncrementalSource)
      .select("doc_id", "source", "text")
    val idx = loadDedupIndex(spark, preparedDedupIndex(spark, sfDir, bits))
    appendToDedupGraph(spark, work, admissionPairs(newDocs, idx, bits))
    attachReport(spark, sfDir, work)
  }

  /** q165/q166 oracle: the frozen-corpus CC (exact ∪ verified pairs,
    * non-incremental docs only), the wave's verified cross and
    * within-wave pairs, and the single-pass attach rule — the SQL
    * restatement of [[appendToDedupGraph]]'s label attachment. */
  def graphAppendSql: String = {
    val inc = IncrementalSource
    def joins(cond: String) = (0 until Consts.LshBands).map { b =>
      s"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM banded x JOIN banded y ON x.band$b = y.band$b AND $cond"
    }.mkString("\n    UNION\n    ")
    val fcand = joins(s"x.source <> '$inc' AND y.source <> '$inc' AND x.doc_id < y.doc_id")
    val ncand = joins(s"x.source <> '$inc' AND y.source = '$inc'")
    val wcand = joins(s"x.source = '$inc' AND y.source = '$inc' AND x.doc_id < y.doc_id")
    val thr = Consts.MinhashJaccardThreshold
    def verified(cand: String) =
      s"""SELECT doc_a, doc_b FROM $cand
         |  JOIN sets sa ON doc_a = sa.doc_id
         |  JOIN sets sb ON doc_b = sb.doc_id
         |  WHERE cast(len(list_intersect(sa.s, sb.s)) as double) / cast(len(list_distinct(sa.s || sb.s)) as double) >= $thr""".stripMargin
    s"""WITH RECURSIVE sets AS (
       |  SELECT doc_id, source, list_distinct([${shingleHashExpr("strpos", "md5(x)")} for x in s0]) AS s
       |  FROM (SELECT doc_id, source, $sqlShingles s0
       |        FROM (SELECT doc_id, source, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') t FROM documents))),
       |exploded AS (SELECT doc_id, source, unnest(s) AS hv FROM sets),
       |sig AS (SELECT doc_id, source,
       |    $minColsSql
       |  FROM exploded GROUP BY doc_id, source),
       |banded AS (SELECT doc_id, source,
       |    $bandColsSql
       |  FROM sig),
       |fcand AS (
       |    $fcand),
       |fpairs AS (${verified("fcand")}),
       |fh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE source <> '$inc'),
       |fmh AS (SELECT h, min(doc_id) AS r FROM fh GROUP BY h),
       |fexact AS (SELECT r AS doc_a, doc_id AS doc_b FROM fh JOIN fmh USING (h) WHERE doc_id != r),
       |fedges AS (SELECT doc_a, doc_b FROM fexact UNION ALL SELECT doc_a, doc_b FROM fpairs),
       |fsym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM fedges
       |  UNION ALL SELECT doc_b, doc_a FROM fedges),
       |reach AS (
       |  SELECT src AS doc_id, src AS label FROM fsym
       |  UNION
       |  SELECT e.dst AS doc_id, r.label FROM reach r JOIN fsym e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(label) AS cluster FROM reach GROUP BY doc_id),
       |ncand AS (
       |    $ncand),
       |npairs AS (${verified("ncand")}),
       |wcand AS (
       |    $wcand),
       |wpairs AS (${verified("wcand")}),
       |m_no AS (
       |  SELECT doc_b AS node, least(coalesce(c.cluster, doc_a), doc_b) AS m
       |  FROM npairs LEFT JOIN comp c ON c.doc_id = doc_a),
       |m_nn AS (
       |  SELECT doc_a AS node, least(doc_a, doc_b) AS m FROM wpairs
       |  UNION ALL SELECT doc_b, least(doc_a, doc_b) FROM wpairs),
       |att AS (SELECT node, min(m) AS label
       |        FROM (SELECT node, m FROM m_no UNION ALL SELECT node, m FROM m_nn)
       |        GROUP BY node)
       |SELECT d.doc_id, coalesce(a.label, d.doc_id) AS cluster,
       |  a.node IS NOT NULL AS attached
       |FROM documents d LEFT JOIN att a ON a.node = d.doc_id
       |WHERE d.source = '$inc'
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Rewrite an appended graph into `dst` with exact CC labels — the
    * hygiene pass that resolves the bridging debt [[appendToDedupGraph]]
    * documents: pairs/signals/exact normalize by distinct and both
    * label tables are RECOMPUTED from the persisted edge relations via
    * the same starComponents machinery the build uses. Writes a new
    * versioned path (the [[compactDedupIndex]] quiesce contract: a
    * read-and-overwrite of the same parquet dir races the lazy scan). */
  def compactDedupGraph(spark: SparkSession, src: String, dst: String): Unit = {
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    require(norm(src) != norm(dst), "compaction writes a new versioned path")
    loadGraphPairs(spark, src).distinct()
      .withColumn("bucket", pmod(col("doc_a"), lit(GraphPairBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dst/pairs")
    loadGraphSignals(spark, src).distinct()
      .write.mode("overwrite").partitionBy("signal").parquet(s"$dst/signals")
    spark.read.parquet(s"$src/exact").distinct()
      .write.mode("overwrite").parquet(s"$dst/exact")
    starComponents(spark.read.parquet(s"$dst/exact")
        .unionAll(loadGraphPairs(spark, dst).select("doc_a", "doc_b")))
      .write.mode("overwrite").parquet(s"$dst/cc")
    starComponents(loadGraphPairs(spark, dst).select("doc_a", "doc_b"))
      .write.mode("overwrite").parquet(s"$dst/pair_cc")
    starComponents(loadGraphSignals(spark, dst)
        .select("doc_a", "doc_b").distinct())
      .write.mode("overwrite").parquet(s"$dst/consensus_cc")
  }
}
