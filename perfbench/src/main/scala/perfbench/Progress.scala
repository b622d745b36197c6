package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.shard.ShardStreamOffset

/** One micro-batch as the engine reported it: wall-clock end time and
  * the per-shard offset range it read from its (single) source. */
final case class Epoch(batchId: Long, startMs: Long, endMs: Long, rows: Long,
                       from: Map[String, Long], until: Map[String, Long])

/** Collects `StreamingQueryProgress` events through Spark's public
  * listener hook. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = events.add(event.progress)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def progress(id: UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** Epochs of query `id` that read rows. */
  def epochs(id: UUID): Seq[Epoch] = progress(id).filter(_.numInputRows > 0).map { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val src = p.sources.head
    def offsets(json: String): Map[String, Long] =
      if (json == null) Map.empty else ShardStreamOffset.fromJson(json).indexes
    Epoch(p.batchId, start, start + p.durationMs.get("triggerExecution").longValue,
      p.numInputRows, offsets(src.startOffset), offsets(src.endOffset))
  }

  /** Wait until the listener bus has delivered progress covering
    * `rows` input rows of query `q` (events are asynchronous). */
  def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (epochs(q.id).map(_.rows).sum < rows) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"progress for ${q.id} covers ${epochs(q.id).map(_.rows).sum} of $rows rows")
      Thread.sleep(10)
    }
  }
}

object ProgressLog {
  def attach(spark: SparkSession): ProgressLog = {
    val l = new ProgressLog
    spark.streams.addListener(l)
    l
  }
}
