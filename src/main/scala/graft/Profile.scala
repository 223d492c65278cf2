package graft

/** Overhead-attribution main (guide §1: measure first). For each named
  * query, runs the same timed action the bench uses and reports WHERE
  * the wall-clock goes: job count, stage count, task count, summed
  * executor task time, and GC delta. At bench SF the inputs are tiny
  * (5k docs / 100k events), so a multi-second line is scheduling
  * structure — jobs × stages × task dispatch — not data volume; this
  * tool names the structure so the optimization (fewer passes, fewer
  * exchanges, fewer eager jobs) can be chosen per query instead of
  * guessed. On a Scaling corpus decade (SPARK_GRAFT_SCALING_MODE=generate
  * writes them) it attributes a line's growth. Usage:
  * runMain graft.Profile [sfDir] [q...] (default: all). Exits non-zero
  * if a prepare failed.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val wanted = Some(args.drop(1).toSet).filter(_.nonEmpty)
    val builder = Harness.builder()
    // A/B lever: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies arbitrary
    // session confs so config hypotheses can be measured side by side
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      // tolerate malformed entries (trailing ';', missing '=') instead
      // of crashing the profiler with an opaque MatchError
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => builder.config(k.trim, v.trim)
        case _ if kv.trim.isEmpty => ()
        case _ => System.err.println(
          s"Profile: ignoring malformed SPARK_GRAFT_EXTRA_CONF entry '$kv'")
      }
    })
    val spark = Harness.start(builder)
    // per-stage attribution (SPARK_GRAFT_PROFILE_STAGES=1): the costliest
    // stages of each line, named by call site
    val stageDetail = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    val ordered = Harness.select(SparkEntry.queries.toSeq, wanted)

    // same warmup discipline as Bench so JIT/codegen is not charged
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val warmupFailed =
      if (warmDir.nonEmpty) Harness.warm(spark, warmDir, ordered, releaseEach = false)
      else Nil
    // each line runs twice at sfDir: one untimed pass, one timed
    val prepared = Harness.prepare(spark, sfDir, ordered.flatMap { case (n, _) => Seq(n, n) })

    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskSec"}%8s ${"gcMs"}%5s")
    val lineWarmFailed = ordered.flatMap { case (name, fn) =>
      // one untimed pass so the measured pass is steady-state
      val failed = Harness.warm(spark, sfDir, Seq(name -> fn), releaseEach = true)
      val t = Harness.timed(spark, name)(fn(spark, sfDir).count())
      println(f"$name%-28s ${if (t.ok) t.sec else -t.sec}%7.3f ${t.jobs}%5d ${t.stages}%7d ${t.tasks}%6d ${t.taskSec}%8.2f ${t.gcMs}%5d")
      if (stageDetail) Harness.meter(spark).topStages(12).foreach { case (sid, n, ms, nm) =>
        println(f"    stage $sid%5d $n%4d tasks ${ms / 1000.0}%8.2f s  $nm")
      }
      failed
    }
    spark.stop()
    val warmFailed = warmupFailed ++ lineWarmFailed
    if (warmFailed.nonEmpty)
      System.err.println(s"Profile: ${warmFailed.size} warm-up failures: ${warmFailed.mkString(", ")}")
    val prepareFailed = prepared.collect { case Harness.Outcome(n, Some(_)) => n }
    if (prepareFailed.nonEmpty) {
      System.err.println(s"Profile FAILED prepares: ${prepareFailed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
