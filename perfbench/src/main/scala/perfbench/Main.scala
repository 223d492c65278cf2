package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        benchDir: Path, buildDir: Path, testdata: String,
                        resultFile: Path, plantFailure: Boolean = false)

/** The benchmark's JVM side: runs one workload against the program's
  * public API and writes what it measured as JSON to `--result`.
  * `run.py` builds this, launches it, and prints the result line. */
object Main {
  val Workloads: Map[String, (SparkSession, Config, Report, () => Unit) => Unit] = Map(
    "doc_chat_refresh" -> DocChat.run,
    "analytics_sweep" -> Sweep.run)

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    Config(workload, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("bench-dir")).toAbsolutePath, Paths.get(need("build-dir")).toAbsolutePath,
      need("testdata"), Paths.get(need("result")).toAbsolutePath,
      plantFailure = kv.get("plant-failure").contains("1"))
  }

  /** Chat sessions copy `ChatCli.main`'s builder; the sweep copies Bench's. */
  def session(cfg: Config, cores: Int): SparkSession = {
    val tmp = cfg.buildDir.resolve("tmp")
    Files.createDirectories(tmp)
    val b = SparkSession.builder()
      .appName("perfbench-" + cfg.workload)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    val s =
      if (cfg.workload == "analytics_sweep")
        b.master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.codegen.cache.maxEntries", "10000")
          .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
          .getOrCreate()
      else
        b.master("local[4]").config("spark.sql.shuffle.partitions", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(cfg: Config): Report = {
    val report = new Report
    val canary0 = Stats.canaryMs()
    // only the latest run's working files are kept
    Fs.rm(cfg.buildDir.resolve("runs"))
    Files.createDirectories(cfg.buildDir.resolve("runs"))
    val spark = session(cfg, Runtime.getRuntime.availableProcessors())
    try {
      val ready = () => { report.detail("ready_epoch_ms") = System.currentTimeMillis().toString }
      val body = Workloads(cfg.workload)
      body(spark, cfg, report, ready)
    } finally {
      report.heap.checkpoint()
      report.endToEnd("heap_peak_mb") = (report.heap.mb, "MB")
      report.detail("heap_checkpoints_mb") = report.heap.checkpointsMb.map(Json.num).mkString("[", ",", "]")
      val canary1 = Stats.canaryMs()
      report.perLayer("box.canary_ms") = ((canary0 + canary1) / 2, "ms")
      report.detail("canary_ms") = s"[${Json.num(canary0)},${Json.num(canary1)}]"
      spark.stop()
    }
    report
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val report = run(cfg)
    Files.writeString(cfg.resultFile, report.toJson)
    System.exit(0)
  }
}
