package graft.sources.shard

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 write path for `shardstream` — the reference's producer half
  * (`PutRecord` with `sequenceNumberForOrdering` chaining,
  * `ShardPublisherVerification.scala:44-51`) as a first-class Spark
  * sink: `df.write.format("shardstream")` and
  * `df.writeStream.format("shardstream")` both work.
  *
  * Ordering contract, expressed THROUGH the engine rather than by a
  * helper: the write declares `RequiresDistributionAndOrdering` —
  * clustered on the partition-key column and sorted by
  * (key, orderBy...) — so Spark plans the shuffle + sort that makes
  * each task see one key's rows contiguously and in order, and the
  * writer chains each key's sequence numbers. Per-key total order is
  * guaranteed; cross-key writes stay parallel (Kinesis semantics,
  * SURVEY §7.4).
  *
  * Options: `stream` (required), `keyCol` (default `partitionKey`),
  * `payloadCol` (default `data`), `orderBy` (comma-separated columns
  * ordering rows within a key — required for a deterministic replay
  * order, since a sort on the key alone is not stable).
  *
  * Delivery: task delivery is at-least-once (Spark re-executes failed
  * and speculative tasks), but the VISIBLE effect per (key, sequence
  * chain) is exactly-once: each writer sends an idempotent per-key
  * record index scoped by (write job, epoch), and the service treats a
  * replayed index as a no-op ([[ShardStream.putIdempotent]] — the
  * Kafka idempotent-producer design; an upgrade over the reference's
  * fire-and-forget `PutRecord`). The replay order a retried task
  * produces is deterministic because the engine plans the clustering +
  * sort this write declares. Scope: exactly-once under task retries
  * within one write job / streaming run, and under epoch re-execution
  * within a run; a query RESTART from a checkpoint re-plans epochs
  * under a fresh write id, where delivery degrades to at-least-once
  * (pair with the read side's dedup, s07/s14).
  */
final case class ShardSinkOptions(stream: String, keyCol: String,
                                  payloadCol: String, orderBy: Seq[String])

object ShardSinkOptions {
  def apply(options: CaseInsensitiveStringMap): ShardSinkOptions = ShardSinkOptions(
    Option(options.get("stream")).getOrElse(
      throw new IllegalArgumentException("shardstream sink: option 'stream' is required")),
    Option(options.get("keyCol")).getOrElse("partitionKey"),
    Option(options.get("payloadCol")).getOrElse("data"),
    Option(options.get("orderBy")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty))
}

class ShardWriteBuilder(opts: ShardSinkOptions, schema: StructType) extends WriteBuilder {
  override def build(): Write = new ShardWrite(opts, schema)
}

class ShardWrite(opts: ShardSinkOptions, schema: StructType)
    extends Write with RequiresDistributionAndOrdering {

  // one id per logical write: generated on the driver when the write is
  // planned and serialized into every task's factory, so all attempts
  // of one task share it (the idempotence scope) while distinct jobs
  // never collide
  private val writeId = java.util.UUID.randomUUID().toString

  // fail at planning, not mid-write after the shuffle already ran
  locally {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    def fieldType(name: String) = schema.fields(schema.fieldIndex(name)).dataType
    require(fieldType(opts.keyCol).isInstanceOf[StringType],
      s"shardstream sink: keyCol '${opts.keyCol}' must be STRING, " +
        s"got ${fieldType(opts.keyCol).catalogString} (cast it before writing)")
    require(fieldType(opts.payloadCol) == BinaryType,
      s"shardstream sink: payloadCol '${opts.payloadCol}' must be BINARY, " +
        s"got ${fieldType(opts.payloadCol).catalogString} (cast it before writing)")
  }

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity(opts.keyCol)))

  override def requiredOrdering(): Array[SortOrder] =
    (opts.keyCol +: opts.orderBy).map { c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)
    }.toArray

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      ShardWriterFactory(opts, schema, writeId)
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      ShardWriterFactory(opts, schema, writeId)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }
}

final case class ShardWriterFactory(opts: ShardSinkOptions, schema: StructType,
                                    writeId: String)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(opts, schema, s"$writeId/batch")
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(opts, schema, s"$writeId/$epochId")
}

/** Per-task writer. `scope` identifies one logical write (job or
  * micro-batch epoch); within it the writer numbers each key's rows
  * 0,1,2,… and the service deduplicates on (scope, key, idx), so a
  * retried or speculative task — which replays the same sorted rows —
  * re-sends the same indexes and the service no-ops them. Keys are
  * disjoint across partitions (the write clusters on the key), so two
  * healthy tasks never share a (scope, key).
  *
  * Rows are buffered into pages of [[ShardDataWriter.PageSize]] and each
  * page is one [[ShardStream.putIdempotentPage]] call, i.e. one
  * acquisition of the stream lock that all writer tasks share; the last
  * partial page is put in `commit()`. */
class ShardDataWriter(opts: ShardSinkOptions, schema: StructType, scope: String)
    extends DataWriter[InternalRow] {
  import ShardDataWriter.PageSize
  private val keyIdx = schema.fieldIndex(opts.keyCol)
  private val payloadIdx = schema.fieldIndex(opts.payloadCol)
  private val stream = ShardServiceRegistry.get(opts.stream)
  private val nextIdx = scala.collection.mutable.Map.empty[String, Long]
  private val keys = new Array[String](PageSize)
  private val idxs = new Array[Long](PageSize)
  private val payloads = new Array[Array[Byte]](PageSize)
  private var buffered = 0

  override def write(row: InternalRow): Unit = {
    val key = row.getUTF8String(keyIdx).toString
    val idx = nextIdx.getOrElse(key, 0L)
    keys(buffered) = key
    idxs(buffered) = idx
    payloads(buffered) = row.getBinary(payloadIdx)
    buffered += 1
    nextIdx(key) = idx + 1
    if (buffered == PageSize) flush()
  }

  private def flush(): Unit = if (buffered > 0) {
    stream.putIdempotentPage(scope, keys, idxs, payloads, buffered)
    buffered = 0
  }

  override def commit(): WriterCommitMessage = {
    flush()
    ShardWriteCommit(nextIdx.size)
  }
  override def abort(): Unit = buffered = 0
  override def close(): Unit = ()
}

object ShardDataWriter {
  /** Rows per put page: one stream-lock acquisition per this many
    * rows (sized on perfbench `tail_openloop`). */
  val PageSize = 512
}

final case class ShardWriteCommit(keysWritten: Int) extends WriterCommitMessage
