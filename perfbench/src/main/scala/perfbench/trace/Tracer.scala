package perfbench.trace

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.shard.ShardServiceRegistry
import perfbench.{Json, Paths, Probe, QueryMix}

/** The traced [[Probe]]: layer timings from the delegating provider and
  * the generator, engine figures from Spark's public listener hooks,
  * spans written to `.bench_build/run/trace/` at the end of the run. */
class Tracer extends Probe {
  import Tracer._
  private var workload = ""
  private var seed = 0L
  private var runStartNs = 0L
  private var phaseName = ""
  private var phaseStartNs = 0L
  private var gcBaseMs = 0L

  private val queries = new ConcurrentLinkedQueue[QueryWindow]()
  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val lastEventNs = new AtomicLong(System.nanoTime())
  @volatile private var queryStartMs = 0L

  def shardFormat: String = classOf[TracedShardStreamProvider].getName

  def start(spark: SparkSession, workload: String, seed: Long): Unit = {
    this.workload = workload
    this.seed = seed
    TraceState.runId = s"$workload-$seed-${java.util.UUID.randomUUID()}"
    TraceState.runSpan = TraceState.newId()
    TraceState.phaseSpan = TraceState.runSpan
    runStartNs = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStarts.add(e.time); lastEventNs.set(System.nanoTime())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
        lastEventNs.set(System.nanoTime())
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.add(e.progress); lastEventNs.set(System.nanoTime())
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    gcBaseMs = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def phaseStart(name: String): Unit = {
    TraceState.phaseSpan = TraceState.newId()
    phaseName = name
    phaseStartNs = System.nanoTime()
  }

  def phaseEnd(): Unit = {
    TraceState.spans.add(Span(TraceState.phaseSpan, TraceState.runSpan, phaseName, phaseStartNs,
      System.nanoTime() - phaseStartNs, Map.empty))
    TraceState.phaseSpan = TraceState.runSpan
  }

  /** Sink appends beyond the records that landed in the stream were
    * suppressed as idempotent replays. */
  def streamDone(name: String): Unit = {
    val appends = TraceState.appendsByStream.remove(name)
    if (appends != null) {
      val svc = ShardServiceRegistry.get(name)
      TraceState.replaysSuppressed.addAndGet(appends.get - svc.shardIds.map(svc.size).sum)
    }
  }

  def timedPut(put: () => Long): Long = {
    val t0 = System.nanoTime()
    val seq = put()
    TraceState.generatorPutNs.add(System.nanoTime() - t0)
    seq
  }

  def queryStart(name: String): Unit = queryStartMs = System.currentTimeMillis()
  def queryEnd(name: String, stream: Boolean, wallS: Double): Unit =
    queries.add(QueryWindow(name, stream, queryStartMs, System.currentTimeMillis(), wallS))

  /** Listener events arrive asynchronously; wait for the bus to go quiet. */
  private def awaitListeners(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs.get < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** Operator counters of the jobs and tasks that started inside the
    * windows of `ws` (queries run one at a time). */
  private def operatorFigures(ws: Seq[QueryWindow]): Seq[(String, Double)] = {
    val all = tasks.asScala.toSeq
    val perQuery = ws.map { w =>
      val ts = all.filter(t => t.launchMs >= w.startMs && t.launchMs <= w.endMs)
      // wall time during which at least one task ran
      var busy = 0L
      var coveredTo = w.startMs
      ts.sortBy(_.launchMs).foreach { t =>
        val from = math.max(t.launchMs, coveredTo)
        val to = math.min(t.finishMs, w.endMs)
        if (to > from) { busy += to - from; coveredTo = to }
      }
      (w, ts, jobsIn(w), busy)
    }
    val wallMs = perQuery.map(_._1.wallS * 1000).sum
    Seq(
      "jobs" -> perQuery.map(_._3).sum.toDouble,
      "stages" -> perQuery.map(_._2.map(_.stageId).distinct.size).sum.toDouble,
      "tasks" -> perQuery.map(_._2.size).sum.toDouble,
      "task_time_s" -> perQuery.flatMap(_._2.map(_.runMs)).sum / 1000.0,
      "outside_tasks_share" ->
        (if (wallMs <= 0) 0.0 else 1.0 - math.min(wallMs, perQuery.map(_._4).sum.toDouble) / wallMs),
      "shuffle_read_bytes" -> perQuery.flatMap(_._2.map(_.shuffleRead)).sum.toDouble,
      "shuffle_write_bytes" -> perQuery.flatMap(_._2.map(_.shuffleWrite)).sum.toDouble,
      "spill_bytes" -> perQuery.flatMap(_._2.map(_.spill)).sum.toDouble)
  }

  private def jobsIn(w: QueryWindow): Int = jobStarts.asScala.count(t => t >= w.startMs && t <= w.endMs)

  def layerMetrics(e2e: Seq[(String, Double, String)], failedFrac: Double,
                   extra: Map[String, Double]): Seq[(String, Double, String)] = {
    awaitListeners()
    val S = TraceState
    val out = Seq.newBuilder[(String, Double, String)]
    def m(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

    m("shard_service.put_calls", (S.generatorPutNs.count + S.sinkPutNs.count).toDouble, "count")
    val puts = new Samples
    Seq(S.generatorPutNs, S.sinkPutNs).foreach { s => val a = s.snapshot(); puts.addAll(a, a.length) }
    m("shard_service.put_us_p50", puts.quantile(0.5) / 1000.0, "us")
    m("shard_service.put_us_p99", puts.quantile(0.99) / 1000.0, "us")

    m("shard_source.admission_ms_p50", S.admissionNs.quantile(0.5) / 1e6, "ms")
    m("shard_source.plan_ms_p50", S.planNs.quantile(0.5) / 1e6, "ms")
    m("shard_source.partitions_per_epoch", S.partitionsPerEpoch.quantile(0.5), "count")
    val readerBusyS = S.readerBusyNs.get / 1e9
    m("shard_source.reader_rows", S.readerRows.get.toDouble, "count")
    m("shard_source.reader_busy_s", readerBusyS, "s")
    m("shard_source.rows_per_core_s", if (readerBusyS > 0) S.readerRows.get / readerBusyS else 0.0, "1/s")
    m("shard_source.backlog_rows_max", S.backlogRowsMax.get.toDouble, "count")
    m("shard_source.gated_shards_max", S.gatedShardsMax.get.toDouble, "count")

    val sinkBusyS = S.sinkBusyNs.get / 1e9
    m("shard_sink.appends", S.sinkAppends.get.toDouble, "count")
    m("shard_sink.write_busy_s", sinkBusyS, "s")
    m("shard_sink.appends_per_s", if (sinkBusyS > 0) S.sinkAppends.get / sinkBusyS else 0.0, "1/s")
    m("shard_sink.replays_suppressed", S.replaysSuppressed.get.toDouble, "count")

    val epochs = progress.asScala.toSeq.filter(_.numInputRows > 0)
    def mean(k: String): Double = if (epochs.isEmpty) 0.0 else epochs.map(durMs(_, k)).sum / epochs.size
    val trigger = epochs.map(durMs(_, "triggerExecution").toDouble)
    m("microbatch.epochs", epochs.size.toDouble, "count")
    m("microbatch.trigger_ms_p50", if (trigger.isEmpty) 0.0 else perfbench.Stats.median(trigger), "ms")
    m("microbatch.latest_offset_ms", mean("latestOffset"), "ms")
    m("microbatch.query_planning_ms", mean("queryPlanning"), "ms")
    m("microbatch.add_batch_ms", mean("addBatch"), "ms")
    m("microbatch.wal_commit_ms", mean("walCommit"), "ms")
    m("microbatch.commit_offsets_ms", mean("commitOffsets"), "ms")
    m("microbatch.fixed_share",
      if (trigger.sum <= 0) 0.0 else 1.0 - epochs.map(durMs(_, "addBatch")).sum / trigger.sum, "ratio")

    val ops = epochs.map(_.stateOperators.toSeq)
    def maxOf(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      if (ops.isEmpty) 0.0 else ops.map(_.map(f).sum).max.toDouble
    m("state_store.rows_total", maxOf(_.numRowsTotal), "count")
    m("state_store.memory_bytes", maxOf(_.memoryUsedBytes), "bytes")
    m("state_store.commit_ms", ops.flatten.map(_.commitTimeMs).sum.toDouble, "ms")
    m("state_store.instances", maxOf(_.numStateStoreInstances.toLong), "count")

    val ws = queries.asScala.toSeq
    Seq("batch" -> false, "stream" -> true).foreach { case (cls, stream) =>
      operatorFigures(ws.filter(_.stream == stream)).foreach { case (k, v) =>
        m(s"operators.$cls.$k", v, unitOf(k))
      }
    }
    QueryMix.All.foreach { q =>
      val qs = ws.filter(_.name == q)
      m(s"operators.$q.wall_s", if (qs.isEmpty) 0.0 else perfbench.Stats.median(qs.map(_.wallS)), "s")
      m(s"operators.$q.jobs", if (qs.isEmpty) 0.0 else qs.map(jobsIn).sum.toDouble / qs.size, "count")
    }

    m("jvm.gc_s", (gcMs() - gcBaseMs) / 1000.0, "s")
    m("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), "MB")

    e2e.foreach { case (n, v, u) => m(s"trace.$n", v, u) }
    m("workload.ops_failed_frac", failedFrac, "ratio")
    Seq("workload.gen_late_p99_ms" -> "ms", "workload.produce_rps" -> "1/s",
      "workload.batch_s" -> "s", "workload.stream_s" -> "s").foreach { case (n, u) =>
      m(n, extra.getOrElse(n, 0.0), u)
    }
    writeSpans()
    out.result()
  }

  private def unitOf(k: String): String = k match {
    case "task_time_s" => "s"
    case "outside_tasks_share" => "ratio"
    case k if k.endsWith("_bytes") => "bytes"
    case _ => "count"
  }

  private def writeSpans(): Unit = {
    val S = TraceState
    // epoch spans: timed by the engine's own progress report where known
    val prog = progress.asScala.map(p => (p.id.toString, p.batchId) -> p).toMap
    S.epochSpans.asScala.foreach { case ((qid, batch), (id, parent)) =>
      val (start, d) = prog.get((qid, batch)).map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        // progress times are wall-clock; map them onto the nanoTime axis
        val startNs = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
        (startNs, durMs(p, "triggerExecution") * 1000000L)
      }.getOrElse((0L, 0L))
      S.spans.add(Span(id, parent, "epoch", start, d, Map("query" -> qid, "batch" -> batch)))
    }
    S.spans.add(Span(S.runSpan, 0L, "run", runStartNs, System.nanoTime() - runStartNs,
      Map("workload" -> workload, "seed" -> seed)))
    val f = new File(Paths.dir("trace"), s"$workload-seed$seed.json")
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(s"""{"run_id": ${Json.str(S.runId)}, "spans": [""")
      w.println(S.spans.asScala.toSeq.sortBy(_.id).map { s =>
        val attrs = s.attrs.map { case (k, v) =>
          s"${Json.str(k)}: ${v match { case n: Number => n.toString; case o => Json.str(o.toString) }}"
        }.mkString("{", ", ", "}")
        s"""  {"run_id": ${Json.str(S.runId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
          s""""name": ${Json.str(s.name)}, "start_ns": ${s.startNs - runStartNs}, """ +
          s""""dur_ns": ${s.durNs}, "attrs": $attrs}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
    System.err.println(s"[perfbench] trace written to $f")
  }

  private def durMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}

object Tracer {
  private final case class QueryWindow(name: String, stream: Boolean, startMs: Long,
                                       endMs: Long, wallS: Double)
  private final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                                   shuffleRead: Long, shuffleWrite: Long, spill: Long)
}
