package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
  }
}

/** Outcome of one benchmark run. `metrics` maps name -> (value, unit). */
final case class RunResult(correct: Boolean, attempted: Long, failed: Long,
                           metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile of a sample given as (value, weight) pairs. */
  def weightedQuantile(vw: Seq[(Double, Long)], q: Double): Double = {
    val s = vw.filter(_._2 > 0).sortBy(_._1)
    require(s.nonEmpty, "quantile of an empty sample")
    val total = s.map(_._2).sum
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.get._1
  }
}

/** Paths inside the checkout the benchmark runs from. Everything the
  * run writes lands under `.bench_build/run`. */
object Paths {
  val root: File = new File(sys.props.getOrElse("perfbench.root", ".")).getAbsoluteFile
  val work: File = new File(root, ".bench_build/run")
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def freshDir(name: String): File = {
    val d = new File(work, name)
    deleteRecursively(d)
    d.mkdirs()
    d
  }
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

object Sessions {
  /** A local session configured like the repository's own mains, with
    * every scratch location inside the checkout. */
  def start(cores: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", Paths.dir("warehouse").getPath)
      .config("spark.local.dir", Paths.dir("spark-local").getPath)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Jvm {
  /** Live heap after forced collections, in MiB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(20) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Hooks a workload calls at layer boundaries. The untraced run uses
  * [[Probe.Off]]; the traced implementation lives in `perfbench.trace`
  * and is loaded by class name only when `--trace 1` is given, so an
  * untraced run never loads a tracing class. */
trait Probe {
  /** DSv2 format the workload reads and writes shard streams with. */
  def shardFormat: String
  /** The timed phase of `workload` starts on `spark`. */
  def start(spark: SparkSession, workload: String, seed: Long): Unit
  def phaseStart(name: String): Unit
  def phaseEnd(): Unit
  /** Wraps one generator `putRecord` call. */
  def timedPut(put: () => Long): Long
  /** Every write into shard stream `name` has completed. */
  def streamDone(name: String): Unit
  /** One timed `query_mix` query; `stream` marks the stream class. */
  def queryStart(name: String): Unit
  def queryEnd(name: String, stream: Boolean, wallS: Double): Unit
  /** Per-layer metrics once the timed phase is over; `e2e` are the
    * run's own end-to-end figures, reported under `trace.` names. */
  def layerMetrics(e2e: Seq[(String, Double, String)], failedFrac: Double,
                   extra: Map[String, Double]): Seq[(String, Double, String)]
}

object Probe {
  val TracerClass = "perfbench.trace.Tracer"

  def load(trace: Boolean): Probe =
    if (!trace) Off
    else Class.forName(TracerClass).getDeclaredConstructor().newInstance().asInstanceOf[Probe]

  object Off extends Probe {
    def shardFormat: String = "shardstream"
    def start(spark: SparkSession, workload: String, seed: Long): Unit = ()
    def phaseStart(name: String): Unit = ()
    def phaseEnd(): Unit = ()
    def timedPut(put: () => Long): Long = put()
    def streamDone(name: String): Unit = ()
    def queryStart(name: String): Unit = ()
    def queryEnd(name: String, stream: Boolean, wallS: Double): Unit = ()
    def layerMetrics(e2e: Seq[(String, Double, String)], failedFrac: Double,
                     extra: Map[String, Double]): Seq[(String, Double, String)] = Seq.empty
  }
}
