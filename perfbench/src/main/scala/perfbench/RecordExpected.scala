package perfbench

import java.nio.file.{Files, Paths}

/** Writes `expected_sweep.tsv`: the digest of each sweep line's result at
  * sf0.1. Run it once by hand when a line's correct output changes, and
  * check the new digests before committing them; the benchmark only
  * reads the file.
  *
  *     cd perfbench && sbt "runMain perfbench.RecordExpected <testdata dir>"
  */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val testdata = args.headOption.getOrElse(sys.error("usage: RecordExpected <testdata dir>"))
    val benchDir = Paths.get("").toAbsolutePath
    val cfg = Config("analytics_sweep", 0L, 0, trace = false, benchDir,
      benchDir.resolveSibling(".bench_build").resolve("perfbench"), testdata,
      benchDir.resolve("expected_sweep.tsv"))
    val spark = Main.session(cfg, Runtime.getRuntime.availableProcessors())
    try {
      val sf = s"$testdata/sf0.1"
      graft.streaming.DedupStream.prepareFrozen(spark, sf)
      val lines = Sweep.subset(benchDir).flatMap { line =>
        val rows = Sweep.runLine(spark, sf, line)
        graft.ops.Materialize.release(spark)
        Seq(s"${line.name}\t${Sweep.digest(rows)}")
      }
      Files.writeString(cfg.resultFile,
        "# query\trows:digest (Sweep.digest at sf0.1)\n" + lines.mkString("", "\n", "\n"))
      println(s"wrote ${lines.size} digests to ${cfg.resultFile}")
    } finally spark.stop()
  }
}
