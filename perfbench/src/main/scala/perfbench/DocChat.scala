package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.chat._
import graft.chat.Schemas.QueryClassification

/** `doc_chat_refresh`: a chat session over a prose corpus that is edited
  * while it is being queried. The corpus is the sf0.1 `documents.parquet`
  * written out as 625 markdown files of 8 documents each (2,103 chunks):
  * below the brute/index crossover, so the build and repair paths carry
  * most of the cost. The run times a full `ChatPipeline.index` in the
  * session, then an open-loop question stream beside a seeded edit of
  * 2% of the files, and the `refreshIndex` that repairs the index with
  * probe questions sent beside it. */
object DocChat {
  val Rate = 5.0            // questions per second, open loop
  val Workers = 4           // = local[4]: one query thread per core
  val WarmupS = 4.0
  val EditShare = 0.02      // share of files the edit touches
  val SloMs = 1000.0        // latency limit for query_slo_share
  val RecallSample = 10
  val K = 3
  val DocsPerFile = 8
  val MaxProbes = 600       // more than a refresh lasts at Rate

  final case class Question(text: String, rerank: Boolean, repeat: Boolean)

  /** Seeded question mix. No record of chat traffic exists to take the
    * shares from; each is an assumption, argued in README.md: a quarter
    * repeats of an earlier question of the session, doc and code intents
    * half each, half the questions with a folder or extension hint, and
    * `--use-rerank` on a fifth. The shares are exact for every seed, so
    * seeds differ only in phrases and order, not in how much of each kind
    * of work they ask for. */
  def questions(rng: Random, docs: IndexedSeq[String], n: Int): IndexedSeq[Question] = {
    def exact[A](shares: (A, Double)*)(m: Int): Iterator[A] = {
      val xs = shares.flatMap { case (a, p) => Seq.fill(math.round(p * m).toInt)(a) }
      rng.shuffle(xs.padTo(m, shares.head._1).take(m)).iterator
    }
    val repeats = exact(true -> 0.25, false -> 0.75)(n)
    val slots = (0 until n).map(i => i > 0 && repeats.next())
    val m = slots.count(!_)
    // MockChatClient reads "explain" as a doc question, "how does" as a code one
    val intents = exact("explain %s" -> 0.5, "how does %s work" -> 0.5)(m)
    val hints = exact("%s" -> 0.5, "%s in docs/" -> 0.25, "%s in .md files" -> 0.25)(m)
    val reranks = exact(false -> 0.8, true -> 0.2)(m)
    val out = scala.collection.mutable.ArrayBuffer.empty[Question]
    slots.foreach { repeat =>
      if (repeat) out += out(rng.nextInt(out.size)).copy(repeat = true)
      else {
        val words = docs(rng.nextInt(docs.size)).split("\\s+").filter(_.nonEmpty)
        val len = 3 + rng.nextInt(4)
        val from = rng.nextInt(math.max(1, words.length - len))
        val phrase = words.slice(from, from + len).mkString(" ")
        out += Question(hints.next().format(intents.next().format(phrase)),
          rerank = reranks.next(), repeat = false)
      }
    }
    out.toIndexedSeq
  }

  /** `n` seeded questions none of which is in `taken`, each asked once. */
  def otherQuestions(seed: Long, docs: IndexedSeq[String], n: Int,
                     taken: Set[String]): IndexedSeq[Question] =
    questions(new Random(seed), docs, n * 2).filterNot(q => q.repeat || taken(q.text))
      .distinctBy(_.text).take(n)

  /** Writes the pristine corpus once per build directory. */
  def ensureCorpus(spark: SparkSession, testdata: String, dir: Path): Unit =
    if (!Files.isDirectory(dir.resolve("docs"))) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      Fs.rm(tmp)
      val docs = spark.read.parquet(s"$testdata/sf0.1/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      docs.grouped(DocsPerFile).zipWithIndex.foreach { case (g, i) =>
        val body = g.map { case (id, t) => s"## doc $id\n\n$t\n" }.mkString("\n")
        val p = tmp.resolve(f"docs/part$i%05d.md")
        Files.createDirectories(p.getParent)
        Files.writeString(p, body)
      }
      Files.move(tmp, dir)
    }

  private def chunkKey(file: String, code: String): String = file + "\u0000" + code

  private def indexKeys(spark: SparkSession, idx: String): Set[String] =
    AnnIndex.load(spark, idx).select("file", "code").collect()
      .map(r => chunkKey(r.getString(0), r.getString(1))).toSet

  /** Exact filtered top-k computed here, on the driver, from the index
    * rows: cosine distance over every chunk, the k*2 window by (distance,
    * chunk_id), then the pipeline's own filter rules. */
  final class ExactReference(spark: SparkSession, idx: String) {
    private val rows = AnnIndex.load(spark, idx)
      .select("chunk_id", "file", "code", "language", "extension", "vector").collect()
      .map { r =>
        (r.getLong(0), Retrieval.LocalHit(r.getString(1), r.getString(2),
          Option(r.getString(3)), Option(r.getString(4)), 0.0),
          r.getSeq[Float](5).toArray)
      }
    private val profile = ChatPipeline.readProfile(idx)
    val keys: Set[String] = rows.map { case (_, h, _) => chunkKey(h.file, h.code) }.toSet

    def topK(question: String): (Seq[Retrieval.LocalHit], QueryClassification) = {
      val client = new MockChatClient()
      val c = client.classify(question)
      val q = new HashingEmbedder().embed(client.hyde(question, c, profile))
      val window = rows.map { case (id, h, v) => (id, h.copy(distance = cosine(q, v))) }
        .sortBy { case (id, h) => (h.distance, id) }.take(K * 2).map(_._2).toSeq
      (Retrieval.applyFiltersLocal(window, c, K).sortBy(_.distance), c)
    }

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  /** Share of the exact top-k the pipeline returned. A returned chunk
    * tied in distance with a missing exact one counts as a match. */
  def recall(got: Seq[Schemas.RetrievalResult], exact: Seq[Retrieval.LocalHit]): Double =
    if (exact.isEmpty) { if (got.isEmpty) 1.0 else 0.0 }
    else {
      val keys = got.map(r => chunkKey(r.file, r.code)).toSet
      val missing = exact.filterNot(h => keys.contains(chunkKey(h.file, h.code)))
      val spare = got.filterNot(r => exact.exists(h => chunkKey(h.file, h.code) == chunkKey(r.file, r.code)))
      val tied = missing.count(m => spare.exists(s => math.abs(s.distance - m.distance) < 1e-9))
      (exact.size - missing.size + tied).toDouble / exact.size
    }

  def run(spark: SparkSession, cfg: Config, report: Report, ready: () => Unit): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(cfg.trace)
    val listener = if (cfg.trace) Some(JobListener.install(sc)) else None
    def tag[A](t: String)(body: => A): A = if (cfg.trace) JobListener.tagged(sc, t)(body) else body
    val pristine = cfg.buildDir.resolve("corpus/docs_sf0.1")
    report.attempt("corpus")(ensureCorpus(spark, cfg.testdata, pristine))
      .getOrElse(return)
    val runDir = Files.createTempDirectory(cfg.buildDir.resolve("runs"), "doc_chat_refresh")
    val repo = runDir.resolve("repo")
    Fs.copyTree(pristine, repo)
    val idx = runDir.resolve("index").toString
    val files = Fs.listFiles(repo.resolve("docs")).sorted
    val docTexts = files.map(p => Files.readString(p)).toIndexedSeq
    val rng = new Random(cfg.seed)
    val nQuestions = math.max(1, (Rate * cfg.seconds).toInt)
    val qs = questions(rng, docTexts, nQuestions)
    // warm-up and probe questions come from their own seeds and share no
    // text with the stream, so the stream's repeat share is the one asked
    val warmQs = otherQuestions(cfg.seed ^ 0x3a7L, docTexts, 200, qs.map(_.text).toSet)
    val probeQs = otherQuestions(cfg.seed ^ 0x9b0L, docTexts, MaxProbes,
      (qs ++ warmQs).map(_.text).toSet)
    val nEdited = math.max(1, math.ceil(files.size * EditShare).toInt)
    val edits = rng.shuffle(files.indices.toList).take(nEdited).map { f =>
      val words = docTexts(rng.nextInt(docTexts.size)).split("\\s+").filter(_.nonEmpty)
      val note = Seq.fill(40)(words(rng.nextInt(words.length))).mkString(" ")
      (files(f), s"\n## note $f\n\n$note\n")
    }
    val client: ChatClient =
      if (cfg.trace) new TracedChatClient(new MockChatClient(), tracer) else new MockChatClient()
    val embedder: Embedder =
      if (cfg.trace) new TracedEmbedder(new HashingEmbedder(), tracer) else new HashingEmbedder()
    val reranker: Reranker =
      if (cfg.trace) new TracedReranker(new TfidfReranker(), tracer) else new TfidfReranker()
    ready()

    // ---- build: a full index in this session, as `ChatCli index` pays it
    EmbedBusy.nanos.set(0)
    val gcBuild0 = Stats.gcMs()
    val b0 = System.nanoTime()
    report.attempt("build")(tag("build")(
      ChatPipeline.index(spark, repo.toString, idx, embedder))).getOrElse(return)
    val buildS = (System.nanoTime() - b0) / 1e9
    val buildGc = Stats.gcMs() - gcBuild0
    val buildEmbedNs = EmbedBusy.nanos.get
    report.heap.checkpoint()
    val builtFiles = Fs.listFiles(java.nio.file.Paths.get(idx)).size
    val valid = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    valid.addAll(indexKeys(spark, idx).asJava)

    val roots = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def ask(q: Question, label: String): ChatPipeline.QueryOutput =
      tag(label)(tracer.span("ChatPipeline.query") {
        tracer.current.foreach { case (id, _) => roots.put(label, id) }
        ChatPipeline.query(spark, idx, q.text, K, rerank = q.rerank, client = client,
          embedder = embedder, reranker = Some(reranker))
      })
    // the session's first questions plan and compile the query path: a
    // closed loop on every query thread for WarmupS seconds, not samples
    val warmEnd = System.nanoTime() + (WarmupS * 1e9).toLong
    val warmers = (0 until Workers).map { w =>
      new Thread(() => {
        var i = w
        while (System.nanoTime() < warmEnd) {
          report.attempt(s"warmup $i")(ask(warmQs(i % warmQs.size), "warmup"))
          i += Workers
        }
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())

    // ---- an edit wave beside an open-loop question stream. The stream
    // runs in two halves: the edits land in the middle of the first (the
    // index is then stale while it is queried), `refreshIndex` runs
    // between them, and the second half starts on the swapped index.
    // Beside the refresh, probe questions go out at the stream's rate.
    // Today most of them fail (the session's pinned serving listing names
    // files the refresh's rewrite removed); their failures are named and
    // counted in the probe metrics, apart from `failed`, so that the
    // benchmark runs to the end and a fix shows as a drop to 0.
    val half = qs.size / 2
    def stream(from: Int, n: Int) = LoadGen.run(Rate, n, Workers) { i =>
      if (cfg.plantFailure && from + i == 2) throw new IllegalStateException("planted failure")
      ask(qs(from + i), s"q${from + i}")
    }.map(s => s.copy(index = from + s.index))
    val editor = new Thread(() => {
      Thread.sleep((cfg.seconds * 1000L) / 4)
      edits.foreach { case (p, text) => Files.writeString(p, text, java.nio.file.StandardOpenOption.APPEND) }
    }, "perfbench-edits")
    val served0 = graft.plans.PreparedKnn.served.get
    val phase0 = graft.plans.PreparedKnn.phaseNanos.map(_.get)
    val gcStream0 = Stats.gcMs()
    editor.start()
    val first = stream(0, half)
    editor.join()
    report.heap.checkpoint()
    val changedBytes = edits.map(_._1).distinct.map(p => Files.size(p)).sum
    val before = Fs.fileStamps(java.nio.file.Paths.get(idx))
    val refreshDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var probes = Seq.empty[Sample[ChatPipeline.QueryOutput]]
    val prober = new Thread(() => {
      probes = LoadGen.run(Rate, probeQs.size, Workers, () => refreshDone.get)(i => ask(probeQs(i), "probe"))
    }, "perfbench-probes")
    prober.start()
    val r0 = System.nanoTime()
    val refreshed = try report.attempt("refresh")(tag("refresh")(
      ChatPipeline.refreshIndex(spark, repo.toString, idx, embedder)))
    finally refreshDone.set(true)
    val refreshS = (System.nanoTime() - r0) / 1e9
    prober.join()
    val written = Fs.fileStamps(java.nio.file.Paths.get(idx)).collect {
      case (f, (size, mtime)) if !before.get(f).contains((size, mtime)) => size
    }.sum
    refreshed.foreach(_ => report.attempt("index snapshot")(valid.addAll(indexKeys(spark, idx).asJava)))
    report.heap.checkpoint()
    val samples = first ++ stream(half, qs.size - half)
    val streamGc = Stats.gcMs() - gcStream0
    report.attempted += samples.size
    samples.foreach { s =>
      s.result match {
        case Left(e) => report.fail(s"query ${s.index}", e)
        case Right(out) =>
          out.results.foreach { r =>
            report.check(valid.contains(chunkKey(r.file, r.code)),
              s"query ${s.index} returned a chunk the index never held: ${r.file}")
          }
      }
    }
    probes.foreach(_.result.foreach(_.results.foreach { r =>
      report.check(valid.contains(chunkKey(r.file, r.code)),
        s"probe returned a chunk the index never held: ${r.file}")
    }))
    val probeFailures = probes.flatMap(_.result.left.toOption)

    // ---- recall against the exact filtered top-k, on the final index
    val reference = report.attempt("exact reference")(new ExactReference(spark, idx))
    val sample = new Random(cfg.seed ^ 0x5eed)
      .shuffle(qs.filterNot(_.rerank).distinctBy(_.text).toList).take(RecallSample)
    val recalls = reference.toSeq.flatMap { ref =>
      sample.flatMap { q =>
        report.attempt(s"recall query '${q.text}'")(ask(q, "recall")).map { out =>
          out.results.foreach { r =>
            report.check(ref.keys.contains(chunkKey(r.file, r.code)),
              s"recall query '${q.text}' returned a chunk not in the index: ${r.file}")
          }
          val r = recall(out.results, ref.topK(q.text)._1)
          report.check(r >= 1.0 - 1e-9, s"recall query '${q.text}': recall@$K $r, not 1")
          r
        }
      }
    }

    // ---- end-to-end metrics
    val lat = samples.map(s => if (s.result.isRight) s.latencyMs else Double.PositiveInfinity)
    val okLat = lat.filterNot(_.isInfinite)
    report.endToEnd("build_s") = (buildS, "s")
    report.endToEnd("query_p50_ms") = (Stats.pct(lat, 0.50), "ms")
    report.endToEnd("query_p90_ms") = (Stats.pct(lat, 0.90), "ms")
    report.endToEnd("query_slo_share") = (lat.count(_ <= SloMs).toDouble / lat.size, "share")
    report.endToEnd("pass_s") = (refreshS, "s")
    report.endToEnd("result_recall") = (Stats.mean(recalls), "share")
    report.detail("samples") = okLat.size.toString
    report.detail("repeat_share") = Json.num(qs.count(_.repeat).toDouble / qs.size)
    report.detail("rerank_share") = Json.num(qs.count(_.rerank).toDouble / qs.size)
    report.detail("recall_sample") = recalls.size.toString
    report.detail("refresh_probes") = Json.obj(Seq(
      "sent" -> probes.size.toString, "failed" -> probeFailures.size.toString,
      "failures_by_kind" -> Json.obj(probeFailures
        .groupBy(e => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(60)}")
        .toSeq.sortBy(_._1).map { case (kind, es) => kind -> es.size.toString })))

    // ---- per-layer metrics (traced run)
    if (cfg.trace) {
      val served = graft.plans.PreparedKnn.served.get - served0
      val phase = graft.plans.PreparedKnn.phaseNanos.map(_.get).zip(phase0).map { case (a, b) => a - b }
      val jobs = listener.map { l => org.apache.spark.PerfbenchBridge.drain(sc); l.jobs }.getOrElse(Nil)
      val queryJobs = jobs.filter(_.tag.startsWith("q"))
      val n = samples.size.toDouble
      val streamRoots = samples.indices.flatMap(i => Option(roots.get(s"q$i")).map(s"q$i" -> _)).toMap
      val perQuery = Layers.breakdown(tracer.spans, streamRoots, queryJobs)
      Layers.meanLayers(perQuery).foreach { case (k, v) => report.perLayer(k) = (v, "ms") }
      report.perLayer("PreparedKnn.served_share") = (served / n, "share")
      report.perLayer("PreparedKnn.cand_job_ms") = (phase(1) / 1e6 / n, "ms")
      report.perLayer("PreparedKnn.payload_job_ms") = (phase(3) / 1e6 / n, "ms")
      report.perLayer("Retrieval.empty_share") =
        (samples.count(_.result.exists(_.results.isEmpty)) / n, "share")
      // build stages, timed directly through their public functions
      val buildJobs = jobs.filter(_.tag == "build")
      def jobMs(sites: String*) = buildJobs.filter(j => sites.contains(j.site)).map(_.ms).sum.toDouble
      report.perLayer("Chunker.ms") = (Layers.timeMs(Chunker.chunkRepo(spark, repo.toString).collect()), "ms")
      report.perLayer("Embedder.index_busy_s") = (buildEmbedNs / 1e9, "s")
      report.perLayer("Profile.ms") = (Layers.timeMs(
        Profile.profile(ChatPipeline.filesFrame(spark, repo.toString), "repo")), "ms")
      report.perLayer("ChatPipeline.manifest_ms") = (Layers.timeMs(ChatPipeline.repoManifest(repo.toString)), "ms")
      report.perLayer("AnnIndex.save_ms") = (jobMs("AnnIndex.save"), "ms")
      report.perLayer("AnnIndex.forest_ms") = (jobMs("AnnIndex.saveForestIndex", "AnnIndex.buildForestIndex"), "ms")
      report.perLayer("AnnIndex.leaf_skew_ms") = (jobMs("AnnIndex.leafSkew"), "ms")
      report.perLayer("AnnIndex.files") = (builtFiles.toDouble, "count")
      report.detail("build_job_ms_by_site") = Json.obj(buildJobs.groupBy(_.site).toSeq.sortBy(_._1)
        .map { case (site, js) => site -> js.map(_.ms).sum.toString })
      val refreshJobs = jobs.filter(_.tag == "refresh")
      report.perLayer("ChatPipeline.refresh_jobs") = (refreshJobs.size.toDouble, "count")
      report.perLayer("ChatPipeline.refresh_write_amp") = (written.toDouble / changedBytes, "ratio")
      report.perLayer("ChatPipeline.refresh_probe_failed_share") =
        (probeFailures.size.toDouble / math.max(1, probes.size), "share")
      Layers.sparkPerOp(queryJobs, n).foreach { case (k, v) => report.perLayer(k) = v }
      report.perLayer("jvm.gc_ms") = (streamGc / n, "ms")
      Layers.sparkPerOp(buildJobs, 1).foreach { case (k, v) => report.perLayer("build." + k) = v }
      report.perLayer("build.jvm.gc_ms") = (buildGc.toDouble, "ms")
      report.perLayer("loadgen.late_ms_p95") = (Stats.pct(samples.map(_.lateMs), 0.95), "ms")
      report.perLayer("loadgen.queue_wait_ms_p95") = (Stats.pct(samples.map(_.queueWaitMs), 0.95), "ms")
      report.detail("worst_raw_residual_ms") = Json.num(perQuery.map(_.rawResidualMs).minOption.getOrElse(0.0))
    }
  }
}
