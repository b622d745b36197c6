package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload's timed phase yields. `rate`, `latencyMs` and
  * `latencyP99Ms` are the workload's own end-to-end figures (see
  * perfbench/README.md); `extra` carries workload figures reported in
  * the traced run. */
final case class Outcome(attempted: Long, failed: Long, rate: Double,
                         latencyMs: Double, latencyP99Ms: Double, extra: Map[String, Double])

trait Workload {
  def name: String
  def cores: Int
  /** Extra session configuration. */
  def conf: Map[String, String] = Map.empty
  /** Generate inputs and warm up on a fresh session. Run several times;
    * each run must leave the same state behind. */
  def setUp(spark: SparkSession, args: Args): Unit
  def measure(spark: SparkSession, args: Args, probe: Probe): Outcome
}

/** Benchmark entry point; the last stdout line is the result JSON. */
object Main {
  val SetupRounds = 3
  val Workloads: Seq[Workload] = Seq(TailOpenLoop, CatchupDrain, QueryMix)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads.find(_.name == args.workload).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${args.workload}; known: ${Workloads.map(_.name).mkString(", ")}"))
    val probe = Probe.load(args.trace)

    // set-up is repeated and its median reported, so work moved into
    // set-up shows up in setup_s
    var spark: SparkSession = null
    val setupTimes = (1 to SetupRounds).map { _ =>
      if (spark != null) Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = Sessions.start(workload.cores, workload.conf)
      workload.setUp(spark, args)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $s%.3f s")
      s
    }
    probe.start(spark, workload.name, args.seed)
    val t1 = System.nanoTime()
    val out = workload.measure(spark, args, probe)
    System.err.println(f"[perfbench] timed phase and checks ${(System.nanoTime() - t1) / 1e9}%.3f s")
    val heapMb = Jvm.liveHeapMb()

    val e2e = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("heap_live_mb", heapMb, "MB"),
      ("rate_per_s", out.rate, "1/s"),
      ("latency_ms", out.latencyMs, "ms"),
      ("latency_p99_ms", out.latencyP99Ms, "ms"))
    val failedFrac = out.failed.toDouble / out.attempted
    val metrics = if (args.trace) probe.layerMetrics(e2e, failedFrac, out.extra) else e2e
    Sessions.stop(spark)
    val result = RunResult(out.failed == 0, out.attempted, out.failed, metrics)
    System.out.flush()
    println(result.json)
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }
}
