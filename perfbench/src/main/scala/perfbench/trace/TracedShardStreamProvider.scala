package perfbench.trace

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.Distribution
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.shard.{ShardServiceRegistry, ShardStreamOffset, ShardStreamProvider}

/** Delegating `shardstream` provider that times each layer call on its
  * way to the real one. It is used by class name
  * (`format("perfbench.trace.TracedShardStreamProvider")`) and is not
  * registered as a data source, so nothing loads it in untraced runs. */
class TracedShardStreamProvider extends TableProvider {
  private val inner = new ShardStreamProvider
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inner.inferSchema(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TracedTable(inner.getTable(schema, partitioning, properties))
}

class TracedTable(inner: Table) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val b = inner.asInstanceOf[SupportsRead].newScanBuilder(options)
    () => new TracedScan(b.build(), options.get("stream"))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val b = inner.asInstanceOf[SupportsWrite].newWriteBuilder(info)
    new WriteBuilder {
      override def build(): Write = new TracedWrite(b.build(), info.options().get("stream"))
    }
  }
}

class TracedScan(inner: Scan, stream: String) extends Scan {
  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = inner.toBatch
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TracedMicroBatchStream(inner.toMicroBatchStream(checkpointLocation), stream)
}

class TracedMicroBatchStream(inner: MicroBatchStream, stream: String)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private def admission = inner.asInstanceOf[SupportsAdmissionControl]

  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
  override def latestOffset(): Offset = inner.latestOffset()
  override def getDefaultReadLimit: ReadLimit = admission.getDefaultReadLimit
  override def reportLatestOffset(): Offset = admission.reportLatestOffset()
  override def prepareForTriggerAvailableNow(): Unit =
    inner.asInstanceOf[SupportsTriggerAvailableNow].prepareForTriggerAvailableNow()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t0 = System.nanoTime()
    val end = admission.latestOffset(start, limit)
    val dur = System.nanoTime() - t0
    TraceState.admissionNs.add(dur)
    // backlog left behind this batch and shards held by the
    // parent-before-child gate, read from the service's public API
    val cur = start.asInstanceOf[ShardStreamOffset].indexes
    val until = end.asInstanceOf[ShardStreamOffset].indexes
    val svc = ShardServiceRegistry.get(stream)
    val ids = svc.shardIds
    val backlog = ids.map(id => svc.size(id) - until.getOrElse(id, 0L)).sum
    val gated = ids.count(id => svc.parentsOf(id).exists(p =>
      !svc.isShardSealed(p) || cur.getOrElse(p, 0L) < svc.size(p)))
    TraceState.maxInto(TraceState.backlogRowsMax, backlog)
    TraceState.maxInto(TraceState.gatedShardsMax, gated.toLong)
    val (qid, batch) = TraceState.currentEpoch()
    TraceState.record("admission", TraceState.epochParent(qid, batch), t0, dur,
      Map("backlog_rows" -> backlog, "gated_shards" -> gated))
    end
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val t0 = System.nanoTime()
    val parts = inner.planInputPartitions(start, end)
    val dur = System.nanoTime() - t0
    TraceState.planNs.add(dur)
    TraceState.partitionsPerEpoch.add(parts.length.toLong)
    val (qid, batch) = TraceState.currentEpoch()
    TraceState.record("plan", TraceState.epochParent(qid, batch), t0, dur,
      Map("partitions" -> parts.length))
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TracedReaderFactory(inner.createReaderFactory())
}

final case class TracedReaderFactory(inner: PartitionReaderFactory) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TracedReader(inner.createReader(partition))
}

/** Times the time spent inside the shard reader (not the operators
  * pulling from it) and counts its rows. */
class TracedReader(inner: PartitionReader[InternalRow]) extends PartitionReader[InternalRow] {
  private val startNs = System.nanoTime()
  private var busyNs = 0L
  private var rows = 0L
  override def next(): Boolean = {
    val t0 = System.nanoTime()
    val more = inner.next()
    busyNs += System.nanoTime() - t0
    if (more) rows += 1
    more
  }
  override def get(): InternalRow = {
    val t0 = System.nanoTime()
    val r = inner.get()
    busyNs += System.nanoTime() - t0
    r
  }
  override def close(): Unit = {
    inner.close()
    TraceState.readerRows.addAndGet(rows)
    TraceState.readerBusyNs.addAndGet(busyNs)
    val (qid, batch) = TraceState.currentEpoch()
    TraceState.record("read", TraceState.epochParent(qid, batch), startNs,
      System.nanoTime() - startNs, Map("rows" -> rows, "busy_ns" -> busyNs))
  }
}

class TracedWrite(inner: Write, stream: String) extends Write with RequiresDistributionAndOrdering {
  private def rdo = inner.asInstanceOf[RequiresDistributionAndOrdering]
  override def description(): String = inner.description()
  override def requiredDistribution(): Distribution = rdo.requiredDistribution()
  override def distributionStrictlyRequired(): Boolean = rdo.distributionStrictlyRequired()
  override def requiredNumPartitions(): Int = rdo.requiredNumPartitions()
  override def advisoryPartitionSizeInBytes(): Long = rdo.advisoryPartitionSizeInBytes()
  override def requiredOrdering(): Array[SortOrder] = rdo.requiredOrdering()

  override def toBatch: BatchWrite = {
    val b = inner.toBatch
    new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        TracedWriterFactory(b.createBatchWriterFactory(info), stream)
      override def commit(messages: Array[WriterCommitMessage]): Unit = b.commit(messages)
      override def abort(messages: Array[WriterCommitMessage]): Unit = b.abort(messages)
    }
  }

  override def toStreaming: StreamingWrite = {
    val s = inner.toStreaming
    new StreamingWrite {
      override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
        TracedWriterFactory(s.createStreamingWriterFactory(info), stream)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        s.commit(epochId, messages)
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        s.abort(epochId, messages)
    }
  }
}

final case class TracedWriterFactory(inner: AnyRef, stream: String)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TracedDataWriter(inner.asInstanceOf[DataWriterFactory].createWriter(partitionId, taskId),
      stream, -1L)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new TracedDataWriter(inner.asInstanceOf[StreamingDataWriterFactory]
      .createWriter(partitionId, taskId, epochId), stream, epochId)
}

/** Times each append (one idempotent put on the service). */
class TracedDataWriter(inner: DataWriter[InternalRow], stream: String, epochId: Long)
    extends DataWriter[InternalRow] {
  private val startNs = System.nanoTime()
  private var puts = new Array[Long](256)
  private var n = 0
  override def write(row: InternalRow): Unit = {
    val t0 = System.nanoTime()
    inner.write(row)
    if (n == puts.length) puts = java.util.Arrays.copyOf(puts, n * 2)
    puts(n) = System.nanoTime() - t0
    n += 1
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = {
    inner.close()
    var busy = 0L
    var i = 0
    while (i < n) { busy += puts(i); i += 1 }
    TraceState.sinkPutNs.addAll(puts, n)
    TraceState.sinkAppends.addAndGet(n.toLong)
    TraceState.sinkBusyNs.addAndGet(busy)
    TraceState.appendsByStream.computeIfAbsent(stream, _ => new java.util.concurrent.atomic.AtomicLong)
      .addAndGet(n.toLong)
    val (qid, batch) = TraceState.currentEpoch()
    TraceState.record("sink_write", TraceState.epochParent(qid, if (epochId >= 0) epochId else batch),
      startNs, System.nanoTime() - startNs, Map("appends" -> n, "busy_ns" -> busy))
  }
}
