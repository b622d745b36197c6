package graft.sources.shard

import java.util
import scala.jdk.CollectionConverters._
import scala.collection.immutable.SortedMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 `shardstream` source — the Spark-native re-expression of the
  * reference's backpressured shard Publisher
  * (`/root/reference/src/main/scala/com/syntaxjockey/reactivestreams/kinesis/ShardSubscription.java`).
  *
  * Mapping (SURVEY §2/§3.4):
  *  - S1 starting position: option `startingPosition` ∈ `trim_horizon |
  *    latest | at_sequence_number:<n> | after_sequence_number:<n> |
  *    at_timestamp:<epoch_micros>` (reference
  *    `ShardSubscription.java:76-86`; AT_TIMESTAMP is the fifth public
  *    enum member its KCL 1.0 pin predates);
  *  - S3 bounded fetch: `SupportsAdmissionControl` with
  *    `maxRecordsPerBatch` (default 100 — the reference's
  *    `queuedMaximum`, `ShardSubscription.java:31,141-146`), split
  *    fairly ACROSS shards each trigger (the reference's computed
  *    fetch limit is per shard — one subscription per shard,
  *    `ShardSubscription.java:141-146` — so a hot low-ordinal shard
  *    must not starve later shards within a trigger);
  *  - S4 cursor: per-shard index offsets, JSON-serialized and
  *    checkpointed by the engine (upgrade over the reference's
  *    in-memory-only iterator, `ShardSubscription.java:159-161`);
  *  - S7 emit: `PartitionReader` pull loop (`ShardSubscription.java:156-186`);
  *  - S8/S9 finite take-N: option `maxElements` (−1 = unbounded; the
  *    reference's `elementsLeft`, `ShardSubscription.java:38,67-68,174-181`),
  *    applied as a total budget across shards in shardId order;
  *  - S16 discovery: one `InputPartition` per shard
  *    (`ShardPublisherVerification.scala:31-38`), re-polled every
  *    trigger so shards opened by a mid-query split/merge are picked
  *    up without a restart.
  *
  * Per-shard total order is preserved (records of one shard are read by
  * one partition in index order); no cross-shard order — the same
  * contract as the reference (SURVEY §1.1). Across a RESHARDING event
  * the stronger per-KEY order also holds: a child shard's offsets only
  * advance once every parent is sealed and fully consumed at the
  * current offset, so a key's post-split records are always emitted in
  * a later micro-batch than its last parent record (the KCL
  * parent-before-child rule).
  *
  * Scale: at 100 TB / 1000 executors the registry lookup becomes a
  * network client to the real sharded log; offsets, admission control
  * and partition planning are already per-shard and need no change —
  * parallelism is "one reader task per shard", the engine checkpoints
  * offsets, and `maxRecordsPerBatch` bounds per-trigger memory exactly
  * like the reference's computed fetch limit bounds its queue.
  */
object ShardStreamTable {
  val Schema: StructType = StructType(Seq(
    StructField("streamName", StringType, nullable = false),
    StructField("shardId", StringType, nullable = false),
    StructField("sequenceNumber", StringType, nullable = false),
    StructField("partitionKey", StringType, nullable = false),
    StructField("data", BinaryType, nullable = true)))

  /** Kinesis-style sequence string: zero-padded to 20 digits so lexical
    * == numeric — the `%020d` rendering, written out by hand for the
    * non-negative sequence numbers the service assigns. */
  def seqString(seq: Long): String =
    if (seq < 0) f"$seq%020d"
    else {
      val digits = new Array[Char](20)
      var v = seq
      var i = 19
      while (i >= 0) {
        digits(i) = ('0' + v % 10).toChar
        v /= 10
        i -= 1
      }
      new String(digits)
    }
}

final case class ShardSourceOptions(
    stream: String,
    iteratorType: String,
    startSeq: Option[Long],
    maxRecordsPerBatch: Long,
    maxElements: Long) {
  def bounded: Boolean = maxElements >= 0
}

object ShardSourceOptions {
  def apply(options: CaseInsensitiveStringMap): ShardSourceOptions = {
    val stream = Option(options.get("stream")).getOrElse(
      throw new IllegalArgumentException("shardstream: option 'stream' is required"))
    val pos = Option(options.get("startingPosition")).getOrElse("trim_horizon").toLowerCase
    val (itype, startSeq) = pos match {
      case "trim_horizon" => (IteratorType.TrimHorizon, None)
      case "latest" => (IteratorType.Latest, None)
      case p if p.startsWith("at_sequence_number:") =>
        (IteratorType.AtSequenceNumber, Some(p.stripPrefix("at_sequence_number:").toLong))
      case p if p.startsWith("after_sequence_number:") =>
        (IteratorType.AfterSequenceNumber, Some(p.stripPrefix("after_sequence_number:").toLong))
      case p if p.startsWith("at_timestamp:") =>
        (IteratorType.AtTimestamp, Some(p.stripPrefix("at_timestamp:").toLong))
      case other =>
        throw new IllegalArgumentException(s"shardstream: bad startingPosition '$other'")
    }
    // default 100 = the reference's queuedMaximum high-water
    val maxPerBatch = Option(options.get("maxRecordsPerBatch")).map(_.toLong).getOrElse(100L)
    // TCK mapping `elements == 0 ? -1 : elements`
    // (ShardPublisherVerification.scala:62) is the caller's job; here
    // −1 (default) = unbounded.
    val maxElements = Option(options.get("maxElements")).map(_.toLong).getOrElse(-1L)
    ShardSourceOptions(stream, itype, startSeq, maxPerBatch, maxElements)
  }
}

class ShardStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "shardstream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardStreamTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ShardStreamTable(new CaseInsensitiveStringMap(properties))
}

class ShardStreamTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val opts = ShardSourceOptions(options)
  override def name(): String = s"shardstream(${opts.stream})"
  override def schema(): StructType = ShardStreamTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardScan(opts)
    }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ShardWriteBuilder(ShardSinkOptions(info.options()), info.schema())
}

class ShardScan(opts: ShardSourceOptions) extends Scan {
  override def readSchema(): StructType = ShardStreamTable.Schema
  override def toBatch: Batch = new ShardBatch(opts)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardMicroBatchStream(opts, checkpointLocation)
}

/** Offset = per-shard consumed-record index (count). Stable JSON with
  * sorted keys so offset equality is representation-independent. */
final case class ShardStreamOffset(indexes: SortedMap[String, Long]) extends Offset {
  override def json(): String =
    indexes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}

object ShardStreamOffset {
  def apply(m: Map[String, Long]): ShardStreamOffset = ShardStreamOffset(SortedMap.empty[String, Long] ++ m)
  /** Keys are `shardId-%012d` (no quotes/commas/colons inside), so a
    * tiny hand parser is exact. */
  def fromJson(s: String): ShardStreamOffset = {
    val body = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) ShardStreamOffset(Map.empty[String, Long])
    else ShardStreamOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
    }.toMap)
  }
}

/** Shared position logic for batch + micro-batch paths. */
private[shard] object ShardPositions {
  /** Resolve the starting index per shard (S1). */
  def startIndexes(opts: ShardSourceOptions): Map[String, Long] = {
    val svc = ShardServiceRegistry.get(opts.stream)
    svc.shardIds.map(id => id -> svc.resolveIndex(id, opts.iteratorType, opts.startSeq)).toMap
  }

  /** Current end index per shard, capped by the `maxElements` total
    * budget (S8), allocated deterministically in shardId order. */
  def cappedEnd(opts: ShardSourceOptions, start: Map[String, Long]): Map[String, Long] = {
    val svc = ShardServiceRegistry.get(opts.stream)
    val sizes = svc.shardIds.map(id => id -> svc.size(id)).toMap
    if (!opts.bounded) sizes
    else {
      var budget = opts.maxElements
      SortedMap.empty[String, Long] ++ sizes.toSeq.sortBy(_._1).map { case (id, end) =>
        val from = start.getOrElse(id, 0L)
        val take = math.max(0L, math.min(end - from, budget))
        budget -= take
        id -> (from + take)
      }
    }
  }

  /** Advance `cur` toward `end` honoring a row budget (S3's computed
    * fetch limit → admission control).
    *
    * Two semantics layered on the plain per-trigger advance:
    *  - resharding gate: a shard with parents advances only once every
    *    parent is sealed AND fully consumed at `cur` — so per-key
    *    order survives a split/merge (a key's child-shard records land
    *    in a strictly later micro-batch than its last parent record);
    *  - per-shard fairness: the row budget is waterfilled across the
    *    eligible shards (equal share per round, remainder re-offered
    *    to still-hungry shards in shardId order) — the reference
    *    computes its fetch limit PER SHARD (one subscription each,
    *    `ShardSubscription.java:141-146`), so under a tight
    *    `maxRecordsPerBatch` every shard with pending data advances
    *    every trigger instead of draining in shardId order.
    */
  def advance(opts: ShardSourceOptions, cur: Map[String, Long],
              end: Map[String, Long], rowBudget: Long): Map[String, Long] = {
    val svc = ShardServiceRegistry.get(opts.stream)
    def parentsDrained(id: String): Boolean = svc.parentsOf(id).forall { p =>
      svc.isShardSealed(p) && cur.getOrElse(p, 0L) >= svc.size(p)
    }
    val ids = end.keys.toSeq.sorted
    val pending: Map[String, Long] = ids.map { id =>
      val c = cur.getOrElse(id, 0L)
      id -> (if (parentsDrained(id)) math.max(0L, end(id) - c) else 0L)
    }.toMap
    val takes = scala.collection.mutable.Map(ids.map(_ -> 0L): _*)
    var remaining = rowBudget
    var hungry = ids.filter(pending(_) > 0)
    while (remaining > 0 && hungry.nonEmpty) {
      // equal share per round; max(1,...) guarantees progress when the
      // budget is smaller than the shard count
      val share = math.max(1L, remaining / hungry.size)
      for (id <- hungry if remaining > 0) {
        val t = math.min(math.min(share, pending(id) - takes(id)), remaining)
        takes(id) += t
        remaining -= t
      }
      hungry = hungry.filter(id => takes(id) < pending(id))
    }
    SortedMap.empty[String, Long] ++ ids.map(id => id -> (cur.getOrElse(id, 0L) + takes(id)))
  }

  def partitions(opts: ShardSourceOptions, from: Map[String, Long],
                 until: Map[String, Long]): Array[InputPartition] =
    until.toSeq.sortBy(_._1).flatMap { case (id, u) =>
      val f = from.getOrElse(id, 0L)
      if (u > f) Some(ShardInputPartition(opts.stream, id, f, u): InputPartition) else None
    }.toArray
}

/** Batch read: everything from the starting position to the current end
  * (capped by `maxElements`) — the `df.limit(n)`-style bounded-read
  * shape of S8/S14. */
class ShardBatch(opts: ShardSourceOptions) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val start = ShardPositions.startIndexes(opts)
    val end = ShardPositions.cappedEnd(opts, start)
    ShardPositions.partitions(opts, start, end)
  }
  override def createReaderFactory(): PartitionReaderFactory = ShardReaderFactory
}

class ShardMicroBatchStream(opts: ShardSourceOptions, checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // Start positions are resolved from the live service exactly once per
  // QUERY (not per run) and persisted beside the engine's offset log —
  // on checkpoint restart they are recovered, so the `maxElements` /
  // `latest` budget baseline cannot drift across restarts. Hadoop FS
  // API so the checkpoint may live on HDFS/S3 on a real cluster.
  private lazy val start: Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets.UTF_8
    val path = new Path(checkpointLocation, "shardstream-start.json")
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)

    // Only a missing, empty or unparsable file counts as absent. An
    // open or read failure propagates: mapping it to None would
    // re-resolve the start from the live service and overwrite the
    // persisted baseline (a silent `latest` drift).
    def readPersisted(): Option[Map[String, Long]] = {
      val text =
        try {
          val in = fs.open(path)
          try {
            val bytes = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
            in.readFully(bytes)
            new String(bytes, UTF_8)
          } finally in.close()
        } catch { case _: java.io.FileNotFoundException => "" }
      // a stream always has >= 1 shard; empty means a truncated write
      // (crash between create and close)
      try Some(ShardStreamOffset.fromJson(text).indexes).filter(_.nonEmpty)
      catch { case scala.util.control.NonFatal(_) => None }
    }

    def resolveAndPersist(): Map[String, Long] = {
      val resolved = ShardPositions.startIndexes(opts)
      // write-temp + rename so a crash never leaves a partial file
      // where the next start would read a wrong (empty) baseline; the
      // tmp name is per-attempt unique so two starters never clobber
      // each other's in-flight writes
      val tmp = new Path(checkpointLocation,
        s"shardstream-start.json.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(ShardStreamOffset(resolved).json().getBytes(UTF_8))
      finally out.close()
      // rename-onto-existing-dest fails on HDFS: the dest is either a
      // concurrent starter's valid file (theirs wins — re-read AFTER
      // every failed rename so a file that landed between our delete
      // and retry is adopted, never deleted twice) or a corrupt
      // leftover that must be REPLACED, not left to poison every
      // future restart into re-resolving. Structured-Streaming's model
      // is one driver per checkpoint dir; the bounded loop below only
      // has to converge for crash debris, not sustained contention —
      // concurrent starters sharing one checkpoint dir are out of
      // scope (same contract as the engine's own offset log).
      var adopted: Option[Map[String, Long]] = None
      var renamed = fs.rename(tmp, path)
      var attempt = 0
      while (!renamed && adopted.isEmpty && attempt < 3) {
        adopted = readPersisted()
        if (adopted.isEmpty) {
          fs.delete(path, false)
          renamed = fs.rename(tmp, path)
        }
        attempt += 1
      }
      if (!renamed) fs.delete(tmp, false)
      adopted.getOrElse {
        if (renamed) resolved
        // loop exhausted (pathological FS): adopt whatever file won,
        // falling back to our own resolution only if nothing persisted
        else readPersisted().getOrElse(resolved)
      }
    }

    if (fs.exists(path)) readPersisted().getOrElse(resolveAndPersist())
    else resolveAndPersist()
  }
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None

  override def initialOffset(): Offset = ShardStreamOffset(start)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(opts.maxRecordsPerBatch)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ShardPositions.cappedEnd(opts, start))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "shardstream uses admission control; latestOffset(start, limit) is the entry point")

  private def rowBudget(limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows => r.maxRows()
    case _: ReadAllAvailable => Long.MaxValue
    case c: CompositeReadLimit =>
      c.getReadLimits.map(rowBudget).min
    case _ => Long.MaxValue // min-rows etc.: no cap
  }

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val cur = startOffset.asInstanceOf[ShardStreamOffset].indexes
    val end = availableNowTarget.getOrElse(ShardPositions.cappedEnd(opts, start))
    ShardStreamOffset(ShardPositions.advance(opts, cur, end, rowBudget(limit)))
  }

  override def reportLatestOffset(): Offset =
    ShardStreamOffset(ShardPositions.cappedEnd(opts, start))

  override def planInputPartitions(startOffset: Offset, endOffset: Offset): Array[InputPartition] =
    ShardPositions.partitions(opts,
      startOffset.asInstanceOf[ShardStreamOffset].indexes,
      endOffset.asInstanceOf[ShardStreamOffset].indexes)

  override def createReaderFactory(): PartitionReaderFactory = ShardReaderFactory

  override def deserializeOffset(json: String): Offset = ShardStreamOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = () // S10: engine-driven; service outlives the query
}

final case class ShardInputPartition(stream: String, shardId: String,
                                     from: Long, until: Long) extends InputPartition

object ShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardPartitionReader(partition.asInstanceOf[ShardInputPartition])
}

/** S7's emit loop as a pull-based reader. Fetches in bounded pages
  * (the reference's bounded `GetRecords`, `ShardSubscription.java:144-147`)
  * rather than materializing the whole range. */
class ShardPartitionReader(p: ShardInputPartition) extends PartitionReader[InternalRow] {
  private val pageSize = 1000
  private var pos: Long = p.from
  private var page: Seq[StoredRecord] = Vector.empty
  private var pageIdx: Int = 0
  private var current: StoredRecord = _
  private val streamNameUtf8 = UTF8String.fromString(p.stream)
  private val shardIdUtf8 = UTF8String.fromString(p.shardId)

  override def next(): Boolean = {
    if (pos >= p.until) return false
    if (pageIdx >= page.length) {
      val limit = math.min(pageSize.toLong, p.until - pos).toInt
      page = ShardServiceRegistry.get(p.stream).getRecords(p.shardId, pos, limit)
      pageIdx = 0
      // the log is append-only, so a planned range can never shrink
      if (page.isEmpty)
        throw new ShardServiceException(
          s"stream ${p.stream} shard ${p.shardId} has no records in [$pos, ${p.until}) " +
            "although the read was planned over them")
    }
    current = page(pageIdx)
    pageIdx += 1
    pos += 1
    true
  }

  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    streamNameUtf8,
    shardIdUtf8,
    UTF8String.fromString(ShardStreamTable.seqString(current.seq)),
    UTF8String.fromString(current.partitionKey),
    current.data))

  override def close(): Unit = ()
}
