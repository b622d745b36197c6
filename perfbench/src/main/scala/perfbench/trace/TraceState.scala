package perfbench.trace

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext

/** A growable sample of longs, safe to share between task threads. */
final class Samples {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = synchronized {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v
    n += 1
  }
  def addAll(vs: Array[Long], len: Int): Unit = synchronized {
    var i = 0
    while (i < len) { add(vs(i)); i += 1 }
  }
  def count: Long = synchronized(n.toLong)
  def snapshot(): Array[Long] = synchronized(java.util.Arrays.copyOf(a, n))
  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(q: Double): Double = {
    val s = snapshot()
    if (s.isEmpty) 0.0
    else {
      java.util.Arrays.sort(s)
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))).toDouble
    }
  }
}

/** One span of the run's tree: run -> phase -> epoch -> {admission,
  * plan, read, sink_write}. Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, durNs: Long,
                      attrs: Map[String, Any])

/** JVM-global trace state. Executor-side wrappers run in the driver JVM
  * (local mode) and record here directly. */
object TraceState {
  @volatile var runId: String = ""
  @volatile var runSpan: Long = 0L
  @volatile var phaseSpan: Long = 0L
  private val ids = new AtomicLong(0L)
  def newId(): Long = ids.incrementAndGet()

  val spans = new ConcurrentLinkedQueue[Span]()
  /** (streaming query id, batch id) -> epoch span id and its parent phase. */
  val epochSpans = new ConcurrentHashMap[(String, Long), (Long, Long)]()

  val generatorPutNs = new Samples
  val sinkPutNs = new Samples
  val admissionNs = new Samples
  val planNs = new Samples
  val partitionsPerEpoch = new Samples
  val readerRows = new AtomicLong
  val readerBusyNs = new AtomicLong
  val backlogRowsMax = new AtomicLong
  val gatedShardsMax = new AtomicLong
  val sinkAppends = new AtomicLong
  val sinkBusyNs = new AtomicLong
  val replaysSuppressed = new AtomicLong
  /** sink appends per target stream, settled against the stream size
    * when the phase that wrote it ends */
  val appendsByStream = new ConcurrentHashMap[String, AtomicLong]()

  def record(name: String, parent: Long, startNs: Long, durNs: Long,
             attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(newId(), parent, name, startNs, durNs, attrs))

  /** Parent span for work of streaming batch `batchId` of query `queryId`:
    * its epoch span, created on first use under the current phase. */
  def epochParent(queryId: String, batchId: Long): Long =
    if (queryId == null || batchId < 0) phaseSpan
    else epochSpans.computeIfAbsent((queryId, batchId), _ => (newId(), phaseSpan))._1

  /** The streaming query and batch the calling task or driver thread
    * works for, from the local properties the engine sets. */
  def currentEpoch(): (String, Long) = {
    val tc = TaskContext.get()
    def prop(k: String): String =
      if (tc != null) tc.getLocalProperty(k)
      else org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.getLocalProperty(k)).orNull
    val qid = prop("sql.streaming.queryId")
    val batch = Option(prop("streaming.sql.batchId")).map(_.toLong).orElse {
      Option(prop("spark.job.description"))
        .flatMap(d => "batch = (\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong))
    }.getOrElse(-1L)
    (qid, batch)
  }

  def maxInto(cell: AtomicLong, v: Long): Unit = cell.accumulateAndGet(v, math.max)
}
