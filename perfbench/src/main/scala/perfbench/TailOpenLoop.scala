package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.locks.LockSupport

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.shard.{ShardServiceRegistry, ShardStream}

/** A live consumer keeping up with producers: one generator thread puts
  * records on a fixed (open-loop) schedule into a 64-shard stream while
  * a `shardstream` query decodes them and writes them through the
  * `shardstream` sink into a second 64-shard stream. Before the schedule
  * starts, the query drains a backlog of whole batch budgets, which
  * gives the pipeline's delivery capacity. */
object TailOpenLoop extends Workload {
  val name = "tail_openloop"
  val cores = 3
  val Shards = 64
  val Keys = 10000
  val ZipfExponent = 1.0
  val PayloadBytes = 100
  val MaxRecordsPerBatch = 200000
  /** Rate steps in records/s and their share of the run; 20k is nominal. */
  val Steps: Seq[(Int, Double)] = Seq(10000 -> 0.1, 20000 -> 0.75, 40000 -> 0.15)
  val NominalStep = 1
  val LatencyWindows = 3
  /** Records put before the query starts: three whole batch budgets, so
    * the first epochs run full and give the delivery capacity. */
  val BacklogRecords: Int = 3 * MaxRecordsPerBatch
  val GeneratorTickNs = 1000000L
  /** Nominal-rate seconds per set-up round. The per-epoch and per-task
    * code paths keep getting faster for about 20 s of pipeline time (JIT),
    * so three rounds of this bring the timed phase onto the flat part. */
  val WarmUpSeconds = 7.0

  /** The generated input: record i goes to key `keys(i)`. The first
    * `backlog` records are put before the query starts (`stepOf` -1); the
    * others are due `dueNs(i)` after the schedule origin, in rate step
    * `stepOf(i)`. */
  final class Plan(val keys: Array[String], val dueNs: Array[Long], val stepOf: Array[Int],
                   val payloads: Array[Array[Byte]], val rates: Seq[Int], val backlog: Int) {
    def size: Int = keys.length
  }

  def plan(seed: Long, seconds: Double, steps: Seq[(Int, Double)] = Steps,
           backlog: Int = BacklogRecords): Plan = {
    val rnd = new Random(seed)
    val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfExponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    // the Zipf rank -> key mapping is a seeded permutation too
    val keyOfRank = rnd.shuffle((0 until Keys).toVector).map(k => f"k$k%05d").toArray
    val keys = Array.newBuilder[String]
    val due = Array.newBuilder[Long]
    val step = Array.newBuilder[Int]
    def add(dueNs: Long, j: Int): Unit = {
      val r = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      keys += keyOfRank(math.min(if (r >= 0) r else -r - 1, Keys - 1))
      due += dueNs
      step += j
    }
    (0 until backlog).foreach(_ => add(0L, -1))
    var origin = 0L
    steps.zipWithIndex.foreach { case ((rate, share), j) =>
      val durNs = (share * seconds * 1e9).toLong
      val n = (rate.toLong * durNs / 1000000000L).toInt
      (0 until n).foreach(k => add(origin + k * 1000000000L / rate, j))
      origin += durNs
    }
    val ks = keys.result()
    val filler = Array.fill(PayloadBytes)(('a' + rnd.nextInt(26)).toByte)
    val payloads = ks.indices.map { i =>
      val head = s"$i;".getBytes(US_ASCII)
      val p = filler.clone()
      System.arraycopy(head, 0, p, 0, head.length)
      p
    }.toArray
    new Plan(ks, due.result(), step.result(), payloads, steps.map(_._1), backlog)
  }

  /** Generator index carried at the head of a payload (`<index>;...`). */
  def indexOf(payload: Array[Byte]): Int = {
    var i = 0
    var v = 0
    while (payload(i) != ';') { v = v * 10 + (payload(i) - '0'); i += 1 }
    v
  }

  private def startPipeline(spark: SparkSession, fmt: String, in: String, out: String,
                            ckpt: String): StreamingQuery =
    spark.readStream.format(fmt)
      .option("stream", in)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", MaxRecordsPerBatch.toString)
      .load()
      // stateless decode: the generator index heads the payload
      .withColumn("gen", substring_index(col("data").cast("string"), ";", 1).cast("long"))
      .filter(col("gen").isNotNull)
      .select(col("partitionKey"), col("sequenceNumber"), col("data"))
      .writeStream.format(fmt)
      .option("stream", out)
      .option("orderBy", "sequenceNumber")
      .option("checkpointLocation", ckpt)
      .start()

  /** Put the backlog records as fast as the service takes them. */
  private def putBacklog(p: Plan, svc: ShardStream, probe: Probe): Unit = {
    if (p.backlog > 0) probe.phaseStart("backlog")
    var i = 0
    while (i < p.backlog) {
      val k = p.keys(i); val d = p.payloads(i)
      probe.timedPut(() => svc.putRecord(k, d))
      i += 1
    }
    if (p.backlog > 0) probe.phaseEnd()
  }

  /** Put every scheduled record at its due time; returns each one's
    * lateness in ns. Each rate step is one phase of the trace. */
  private def generate(p: Plan, svc: ShardStream, originNs: Long, probe: Probe): Array[Long] = {
    val late = new Array[Long](p.size - p.backlog)
    var i = p.backlog
    while (i < p.size) {
      if (i == p.backlog || p.stepOf(i) != p.stepOf(i - 1)) {
        if (i > p.backlog) probe.phaseEnd()
        probe.phaseStart(s"step_${p.rates(p.stepOf(i))}")
      }
      val due = originNs + p.dueNs(i)
      // park, never spin: the generator must not take a core from Spark.
      // It wakes at most once a tick and then puts every record that is
      // due, so its wake-ups do not grow with the rate
      var now = System.nanoTime()
      while (now < due) {
        LockSupport.parkNanos(math.max(due - now, GeneratorTickNs))
        now = System.nanoTime()
      }
      late(i - p.backlog) = now - due
      val k = p.keys(i); val d = p.payloads(i)
      probe.timedPut(() => svc.putRecord(k, d))
      i += 1
    }
    if (p.size > p.backlog) probe.phaseEnd()
    late
  }

  private def awaitSize(svc: ShardStream, n: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (svc.shardIds.map(svc.size).sum < n) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"output stream ${svc.name} did not reach $n records")
      Thread.sleep(20)
    }
  }

  final case class Run(in: ShardStream, out: ShardStream, epochs: Seq[Epoch],
                       lateNs: Array[Long], originWallMs: Double, backlogPutS: Double)

  private def runOnce(spark: SparkSession, p: Plan, tag: String, fmt: String, probe: Probe,
                      log: ProgressLog): Run = {
    val inName = s"tail_in_$tag"; val outName = s"tail_out_$tag"
    val in = ShardServiceRegistry.create(inName, Shards)
    val out = ShardServiceRegistry.create(outName, Shards)
    val t0 = System.nanoTime()
    putBacklog(p, in, probe)
    val backlogPutS = (System.nanoTime() - t0) / 1e9
    val q = startPipeline(spark, fmt, inName, outName, Paths.freshDir(s"ckpt_$tag").getPath)
    try {
      awaitSize(out, p.backlog, 60000)
      val originNs = System.nanoTime() + 100000000L
      val originWallMs = System.currentTimeMillis() + (originNs - System.nanoTime()) / 1e6
      val late = generate(p, in, originNs, probe)
      awaitSize(out, p.size, 60000)
      log.awaitRows(q, p.size)
      probe.streamDone(outName)
      Run(in, out, log.epochs(q.id), late, originWallMs, backlogPutS)
    } finally q.stop()
  }

  private var planned: Plan = _

  def setUp(spark: SparkSession, args: Args): Unit = {
    planned = plan(args.seed, args.seconds)
    // warm-up: the nominal rate through the same pipeline, no backlog
    val log = ProgressLog.attach(spark)
    val warm = plan(args.seed + 1, WarmUpSeconds, Seq(Steps(NominalStep)._1 -> 1.0), backlog = 0)
    runOnce(spark, warm, "warmup", "shardstream", Probe.Off, log)
    spark.streams.removeListener(log)
    ShardServiceRegistry.drop("tail_in_warmup")
    ShardServiceRegistry.drop("tail_out_warmup")
  }

  /** Records lost, duplicated or out of per-key order in the output. */
  def outputFailures(p: Plan, out: ShardStream): Long = {
    val seen = new Array[Int](p.size)
    var bad = 0L
    out.shardIds.foreach { sh =>
      val lastOfKey = scala.collection.mutable.Map.empty[String, Int]
      out.getRecords(sh, 0, out.size(sh).toInt).foreach { r =>
        val i = indexOf(r.data)
        if (i < 0 || i >= p.size || p.keys(i) != r.partitionKey) bad += 1
        else {
          seen(i) += 1
          if (lastOfKey.get(r.partitionKey).exists(_ > i)) bad += 1
          lastOfKey(r.partitionKey) = i
        }
      }
    }
    bad + seen.count(_ != 1)
  }

  def measure(spark: SparkSession, args: Args, probe: Probe): Outcome = {
    val p = planned
    val log = ProgressLog.attach(spark)
    val run = runOnce(spark, p, "run", probe.shardFormat, probe, log)

    // record latency: due time -> end of the micro-batch that wrote it
    val genOf: Map[String, Array[Int]] = run.in.shardIds.map { sh =>
      sh -> run.in.getRecords(sh, 0, run.in.size(sh).toInt).map(r => indexOf(r.data)).toArray
    }.toMap
    val latencyMs = new Array[Double](p.size)
    // the rate steps whose records each epoch delivered
    val stepsOf = run.epochs.map { e =>
      val steps = scala.collection.mutable.Set.empty[Int]
      e.until.foreach { case (sh, u) =>
        var k = e.from.getOrElse(sh, 0L).toInt
        while (k < u) {
          val i = genOf(sh)(k)
          latencyMs(i) = e.endMs - (run.originWallMs + p.dueNs(i) / 1e6)
          steps += p.stepOf(i)
          k += 1
        }
      }
      e -> steps.toSet
    }
    def epochsOf(step: Int): Seq[Epoch] = stepsOf.collect { case (e, s) if s(step) => e }
    (-1 +: p.rates.indices).foreach { j =>
      System.err.println(s"[perfbench] ${if (j < 0) "backlog" else s"step ${p.rates(j)}"}: micro-batch ms " +
        epochsOf(j).map(e => e.endMs - e.startMs).mkString(","))
    }
    // the nominal step in consecutive windows; the best window is
    // reported, as graft.Bench takes the fastest pass: interference from
    // the rest of the host only ever adds latency
    val nominal = p.stepOf.indices.filter(p.stepOf(_) == NominalStep).map(latencyMs(_))
    val windows = nominal.grouped(math.max(1, (nominal.size + LatencyWindows - 1) / LatencyWindows)).toSeq
    // delivery capacity: rows per second of micro-batch time over the
    // epochs that drained the backlog, each bounded by the batch budget
    val full = epochsOf(-1)
    val capacity = full.map(_.rows).sum * 1000.0 / full.map(e => e.endMs - e.startMs).sum
    val failed = outputFailures(p, run.out)
    val lateMs = run.lateNs.toSeq.map(_ / 1e6)
    Outcome(
      attempted = p.size.toLong,
      failed = failed,
      rate = capacity,
      latencyMs = windows.map(Stats.quantile(_, 0.5)).min,
      latencyP99Ms = windows.map(Stats.quantile(_, 0.99)).min,
      extra = Map("workload.gen_late_p99_ms" -> Stats.quantile(lateMs, 0.99),
        "workload.produce_rps" -> p.backlog / run.backlogPutS))
  }
}
