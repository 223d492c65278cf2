package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.chat._

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private val dir = Files.createTempDirectory("perfbench-trace")

  override def afterAll(): Unit = {
    spark.stop()
    Fs.rm(dir)
  }

  /** A small prose corpus and its index. */
  private lazy val (docs, idx) = {
    val rng = new scala.util.Random(7)
    val vocab = Seq("spark", "column", "window", "stream", "index", "query", "table", "batch",
      "merge", "sort", "hash", "vector", "filter", "group", "value", "row")
    val texts = (0 until 12).map(_ => Seq.fill(60)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    texts.zipWithIndex.foreach { case (t, i) =>
      val p = dir.resolve(f"repo/docs/part$i%02d.md")
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"## doc $i\n\n$t\n")
    }
    val idx = dir.resolve("index").toString
    ChatPipeline.index(spark, dir.resolve("repo").toString, idx)
    (texts, idx)
  }

  private def answer(tracer: Tracer, qs: Seq[DocChat.Question]) = {
    val client = new TracedChatClient(new MockChatClient(), tracer)
    val embedder = new TracedEmbedder(new HashingEmbedder(), tracer)
    val reranker = new TracedReranker(new TfidfReranker(), tracer)
    val roots = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val outs = qs.zipWithIndex.map { case (q, i) =>
      JobListener.tagged(spark.sparkContext, s"q$i")(tracer.span("ChatPipeline.query") {
        tracer.current.foreach { case (id, _) => roots(s"q$i") = id }
        ChatPipeline.query(spark, idx, q.text, DocChat.K, rerank = q.rerank, client = client,
          embedder = embedder, reranker = Some(reranker))
      })
    }
    (outs, roots.toMap)
  }

  test("traced and untraced runs of one seed return identical results") {
    val qs = DocChat.questions(new scala.util.Random(3), docs.toIndexedSeq, 12)
    val (plain, _) = answer(new Tracer(false), qs)
    val (traced, _) = answer(new Tracer(true), qs)
    assert(plain.map(_.results) == traced.map(_.results))
    assert(plain.map(_.answer) == traced.map(_.answer))
    assert(plain.exists(_.results.nonEmpty))
  }

  test("child spans, job time and the residual add up to each query's wall time") {
    val listener = JobListener.install(spark.sparkContext)
    val tracer = new Tracer(true)
    val qs = DocChat.questions(new scala.util.Random(5), docs.toIndexedSeq, 10)
      .map(_.copy(rerank = true))
    val (_, roots) = answer(tracer, qs)
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    val parts = Layers.breakdown(tracer.spans, roots, listener.jobs)
    assert(parts.size == qs.size)
    parts.foreach { b =>
      assert(math.abs(b.childMs.values.sum + b.jobMs + b.selfMs - b.wallMs) < 1e-6)
      assert(b.selfMs >= 0)
      // job times have millisecond resolution
      assert(b.rawResidualMs > -2.0)
      assert(Layers.ChildMetric.map(_._1).toSet.subsetOf(b.childMs.keySet))
      assert(b.jobMs > 0)
    }
    val means = Layers.meanLayers(parts).toMap
    assert(math.abs(means.values.sum - parts.map(_.wallMs).sum / parts.size) < 1e-6)
  }

  test("job call sites name the program frame") {
    assert(JobListener.siteOf(
      "graft.chat.AnnIndex$.save(AnnIndex.scala:148)\nperfbench.Main$.run(Main.scala:1)") == "AnnIndex.save")
    assert(JobListener.siteOf(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\ngraft.chat.ChatPipeline$.$anonfun$query$3(ChatPipeline.scala:185)") ==
      "ChatPipeline.query")
    assert(JobListener.siteOf("java.base/java.lang.Thread.run(Thread.java:840)") == "")
  }

  test("recall counts distance ties as matches") {
    def hit(f: String, d: Double) = Retrieval.LocalHit(f, "c" + f, None, Some("md"), d)
    def res(f: String, d: Double) = Schemas.RetrievalResult(f, "c" + f, None, Some("md"), d, 0)
    val exact = Seq(hit("a", 0.1), hit("b", 0.2), hit("c", 0.3))
    assert(DocChat.recall(Seq(res("a", 0.1), res("b", 0.2), res("c", 0.3)), exact) == 1.0)
    assert(DocChat.recall(Seq(res("a", 0.1), res("b", 0.2), res("x", 0.3)), exact) == 1.0)
    assert(math.abs(DocChat.recall(Seq(res("a", 0.1), res("b", 0.2), res("x", 0.9)), exact) - 2.0 / 3) < 1e-9)
    assert(DocChat.recall(Nil, Nil) == 1.0)
  }
}
