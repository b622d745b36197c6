package graft.sources.shard

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

/** One record in a shard — mirrors the reference's record envelope
  * (`/root/reference/src/main/scala/com/syntaxjockey/reactivestreams/kinesis/ShardSubscription.java:37`,
  * data/partitionKey/sequenceNumber usage at
  * `ShardPublisherVerification.scala:45-51`). `seq` is the per-stream
  * monotone position; rendered as a zero-padded string on the wire so
  * lexical order == numeric order (like Kinesis sequence numbers).
  * `arrivalTs` is the server-side arrival stamp (micros) backing the
  * AT_TIMESTAMP start position — Kinesis' ApproximateArrivalTimestamp;
  * the deterministic substrate lets the producer supply it (defaulting
  * to the sequence number as a logical clock) but enforces the
  * real-service invariant that stamps are monotone per shard.
  */
final case class StoredRecord(seq: Long, partitionKey: String, data: Array[Byte],
                              arrivalTs: Long)

/** Thrown by the service on injected failures — counterpart of the
  * reference's error path (`ShardSubscription.java:240-244,258-262`)
  * and its (dead) wrapper `AmazonKinesisException.java:3-7`. */
final class ShardServiceException(msg: String) extends RuntimeException(msg)

/** Starting-position types accepted by `getShardIterator` — the four
  * the reference passes through verbatim
  * (`ShardSubscription.java:76-86`, SURVEY §1.1) plus AT_TIMESTAMP,
  * the fifth member of the public Kinesis enum that post-dates the
  * reference's KCL 1.0 pin but that every real consumer expects. */
object IteratorType {
  val TrimHorizon = "TRIM_HORIZON"
  val Latest = "LATEST"
  val AtSequenceNumber = "AT_SEQUENCE_NUMBER"
  val AfterSequenceNumber = "AFTER_SEQUENCE_NUMBER"
  val AtTimestamp = "AT_TIMESTAMP"
}

/** Deterministic in-memory shard service — the test substrate of
  * SURVEY §7.1. Implements exactly the API slice the reference
  * consumes: DescribeStream (`ShardPublisherVerification.scala:31-38`),
  * GetShardIterator + GetRecords (`ShardSubscription.java:79-84,144-147`)
  * and PutRecord with `sequenceNumberForOrdering` chaining
  * (`ShardPublisherVerification.scala:42-52`) — plus the shard
  * split/merge lifecycle the reference punts on entirely (it
  * hard-asserts a 1-shard stream, `ShardPublisherVerification.scala:34-37`):
  * a split seals the parent and opens two children; a merge seals both
  * parents and opens one child. Sealed shards accept no new records;
  * routing always targets the open set, so a key's records move to a
  * child shard only AFTER its final parent record — which is what lets
  * the source preserve per-key order across a resharding event by
  * draining parents before starting children.
  *
  * Scale note: this is the LOCAL stand-in for a remote sharded log
  * service (zero-egress sandbox). The DSv2 source/sink talk to it
  * through [[ShardServiceRegistry]]; on a real cluster the registry
  * lookup would be replaced by a network client configured from the
  * same options — the partition/offset/ordering model is unchanged.
  * All mutation is synchronized per stream; readers take immutable
  * snapshots, so concurrent Spark tasks never observe torn state.
  */
final class ShardStream(val name: String, val numShards: Int) {
  require(numShards > 0, s"numShards must be positive: $numShards")

  private final class Shard(val id: String, val parents: Seq[String]) {
    val buf = new ArrayBuffer[StoredRecord]
    var isSealed: Boolean = false
    // arrival stamp of the newest record (monotone per shard)
    var lastArrivalTs: Long = Long.MinValue
  }

  // per-key state of one idempotent write scope: the high-water index
  // and the sequence number it was appended at
  private final class HighWater(var idx: Long, var seq: Long)

  private val shardList = new ArrayBuffer[Shard]
  private val shardById = new java.util.HashMap[String, Shard]()
  // the open shards in shardList order — the routing table; only a
  // split or merge changes it
  private var openShards: Array[Shard] = Array.empty
  private var nextSeq: Long = 0L
  // last sequence number assigned per partitionKey (ordering chain)
  private val lastSeqForKey = new java.util.HashMap[String, Long]()
  // exactly-once producer ledger: scope -> key -> high-water. Scope =
  // one logical write (job/epoch); a retried task replaying the same
  // per-key index sequence is a no-op. The substrate keeps one entry
  // per (scope, key); a real service keeps the same thing as a
  // per-producer-epoch high-water (O(active keys), snapshotted with
  // the log — the Kafka idempotent-producer design).
  private val producerHighWater = new java.util.HashMap[String, java.util.HashMap[String, HighWater]]()

  (0 until numShards).foreach(i => addShard(new Shard(shardIdOf(i), Seq.empty)))
  reroute()

  def shardIds: Seq[String] = synchronized { shardList.map(_.id).toSeq }
  def shardIdOf(i: Int): String = f"shardId-$i%012d"

  private def addShard(s: Shard): Unit = {
    shardList += s
    shardById.put(s.id, s)
  }
  private def reroute(): Unit = openShards = shardList.filter(!_.isSealed).toArray
  private def shardOf(shardId: String): Shard = {
    val s = shardById.get(shardId)
    if (s == null) throw new ShardServiceException(s"unknown shard $shardId in stream $name")
    s
  }

  def isShardSealed(shardId: String): Boolean = synchronized { shardOf(shardId).isSealed }
  def parentsOf(shardId: String): Seq[String] = synchronized { shardOf(shardId).parents }

  private def route(partitionKey: String): Shard =
    openShards(math.floorMod(MurmurHash3.stringHash(partitionKey, 42), openShards.length))

  /** Deterministic shard routing by partition key (murmur3, stable
    * across JVMs) — the role Kinesis' md5-of-key hashing plays. Routes
    * over the OPEN shards only, so after a split/merge a key's new
    * records land in a live child, never a sealed parent. */
  def shardFor(partitionKey: String): String = synchronized { route(partitionKey).id }

  /** Split `parentId`: seal it and open two children — the Kinesis
    * SplitShard lifecycle the reference's 1-shard assertion avoids.
    * Returns the child ids. */
  def splitShard(parentId: String): (String, String) = synchronized {
    val p = shardOf(parentId)
    if (p.isSealed) throw new ShardServiceException(s"shard $parentId is already sealed")
    p.isSealed = true
    val c1 = new Shard(shardIdOf(shardList.size), Seq(parentId))
    addShard(c1)
    val c2 = new Shard(shardIdOf(shardList.size), Seq(parentId))
    addShard(c2)
    reroute()
    (c1.id, c2.id)
  }

  /** Merge two open shards: seal both and open one child carrying both
    * as parents (Kinesis MergeShards). */
  def mergeShards(aId: String, bId: String): String = synchronized {
    require(aId != bId, "cannot merge a shard with itself")
    val a = shardOf(aId); val b = shardOf(bId)
    if (a.isSealed || b.isSealed)
      throw new ShardServiceException(s"cannot merge sealed shard(s) $aId/$bId")
    a.isSealed = true; b.isSealed = true
    val c = new Shard(shardIdOf(shardList.size), Seq(aId, bId))
    addShard(c)
    reroute()
    c.id
  }

  /** Append under the stream lock; enforces per-shard arrival-stamp
    * monotonicity (the real-service invariant AT_TIMESTAMP relies on). */
  private def append(partitionKey: String, data: Array[Byte], arrivalTs: Long): Long = {
    val seq = nextSeq
    val shard = route(partitionKey)
    if (arrivalTs < shard.lastArrivalTs)
      throw new ShardServiceException(
        s"arrival timestamp $arrivalTs regresses below ${shard.lastArrivalTs} in shard ${shard.id}")
    nextSeq += 1
    shard.buf += StoredRecord(seq, partitionKey, data, arrivalTs)
    shard.lastArrivalTs = arrivalTs
    lastSeqForKey.put(partitionKey, seq)
    seq
  }

  /** Append a record; returns its sequence number. When
    * `seqForOrdering` is given, enforces the chain invariant the
    * reference's harness relies on (`ShardPublisherVerification.scala:47-49`):
    * the new record must land after the cited sequence number for the
    * same key. */
  def putRecord(partitionKey: String, data: Array[Byte],
                seqForOrdering: Option[Long] = None,
                arrivalTs: Option[Long] = None): Long = synchronized {
    ShardServiceRegistry.maybeFail(name, "putRecord")
    seqForOrdering.foreach { prev =>
      val last = lastSeqForKey.getOrDefault(partitionKey, -1L)
      if (prev != last)
        throw new ShardServiceException(
          s"ordering violation for key $partitionKey: chained after $prev but last is $last")
    }
    append(partitionKey, data, arrivalTs.getOrElse(nextSeq)) // logical clock default
  }

  /** Idempotent producer append of one record — the n = 1 case of
    * [[putIdempotentPage]]; returns its sequence number. */
  def putIdempotent(scope: String, partitionKey: String, idx: Long, data: Array[Byte]): Long =
    putIdempotentPage(scope, Array(partitionKey), Array(idx), Array(data), 1)(0)

  /** Idempotent producer append — the write-side exactly-once contract
    * ([[ShardDataWriter]]) for the first `n` entries of a page of
    * records, in array order, under one acquisition of the stream lock.
    * `idxs(i)` is the caller's per-(scope, key) running index for
    * `keys(i)`, starting at 0 and contiguous. A replay of an
    * already-applied index (a retried/speculative Spark task re-running
    * the same sorted partition) is a no-op returning the original
    * sequence number, so the visible effect per (scope, key) chain is
    * exactly-once even though task delivery is at-least-once. Per-key
    * ordering is chained internally under the same lock. Each record is
    * one `putRecord` call to the failure seam; a failure mid-page keeps
    * the records before it, which a retry then replays as no-ops.
    * Returns the records' sequence numbers. */
  def putIdempotentPage(scope: String, keys: Array[String], idxs: Array[Long],
                        data: Array[Array[Byte]], n: Int): Array[Long] = synchronized {
    var chains = producerHighWater.get(scope)
    if (chains == null) {
      chains = new java.util.HashMap[String, HighWater]()
      producerHighWater.put(scope, chains)
    }
    val seqs = new Array[Long](n)
    var i = 0
    while (i < n) {
      ShardServiceRegistry.maybeFail(name, "putRecord")
      val key = keys(i)
      val idx = idxs(i)
      val hw = chains.get(key)
      val top = if (hw == null) -1L else hw.idx
      seqs(i) =
        if (hw != null && idx <= top) {
          if (idx == top) hw.seq
          else lastSeqForKey.getOrDefault(key, -1L) // older dup: chain tip
        } else if (idx != top + 1)
          throw new ShardServiceException(
            s"producer gap for key $key in scope $scope: idx $idx after high-water $top")
        else {
          val seq = append(key, data(i), nextSeq)
          if (hw == null) chains.put(key, new HighWater(idx, seq))
          else { hw.idx = idx; hw.seq = seq }
          seq
        }
      i += 1
    }
    seqs
  }

  /** Number of records currently in a shard (the shard's end index). */
  def size(shardId: String): Long = synchronized { shardOf(shardId).buf.length.toLong }

  /** Index of the first record at/after a starting position — the
    * GetShardIterator resolution (`ShardSubscription.java:76-86`).
    * For AT_TIMESTAMP, `startSeq` carries epoch micros; arrival stamps
    * are monotone per shard (enforced on append), so the first index
    * at/after the stamp is the full suffix with `arrivalTs >= t`. */
  def resolveIndex(shardId: String, iteratorType: String, startSeq: Option[Long]): Long =
    synchronized {
      val buf = shardOf(shardId).buf
      iteratorType match {
        case IteratorType.TrimHorizon => 0L
        case IteratorType.Latest => buf.length.toLong
        case IteratorType.AtSequenceNumber =>
          val s = startSeq.getOrElse(throw new ShardServiceException("AT_SEQUENCE_NUMBER needs a sequence number"))
          buf.indexWhere(_.seq >= s) match { case -1 => buf.length.toLong; case i => i.toLong }
        case IteratorType.AfterSequenceNumber =>
          val s = startSeq.getOrElse(throw new ShardServiceException("AFTER_SEQUENCE_NUMBER needs a sequence number"))
          buf.indexWhere(_.seq > s) match { case -1 => buf.length.toLong; case i => i.toLong }
        case IteratorType.AtTimestamp =>
          val t = startSeq.getOrElse(throw new ShardServiceException("AT_TIMESTAMP needs epoch micros"))
          buf.indexWhere(_.arrivalTs >= t) match { case -1 => buf.length.toLong; case i => i.toLong }
        case other => throw new ShardServiceException(s"unknown iterator type $other")
      }
    }

  /** Bounded fetch — GetRecords with a computed limit
    * (`ShardSubscription.java:139-150`). Returns an immutable snapshot
    * of records [from, from+limit). */
  def getRecords(shardId: String, fromIndex: Long, limit: Int): Seq[StoredRecord] =
    synchronized {
      ShardServiceRegistry.maybeFail(name, "getRecords")
      val buf = shardOf(shardId).buf
      val from = math.min(fromIndex, buf.length.toLong).toInt
      val until = math.min(from.toLong + math.max(limit, 0), buf.length.toLong).toInt
      buf.slice(from, until).toVector
    }
}

/** JVM-global registry binding stream names to in-memory shard
  * services. In `local[*]` the driver and executors share this JVM, so
  * DSv2 readers/writers resolve streams here; a cluster deployment
  * would swap this object for a client to the external service (same
  * interface, same semantics). */
object ShardServiceRegistry {
  private val streams = new ConcurrentHashMap[String, ShardStream]()
  // error-injection flags: (stream, op) → message
  private val failures = new ConcurrentHashMap[(String, String), String]()
  // one-shot countdown failures: (stream, op) → calls remaining until
  // the single throw (task-retry tests: fail attempt 1 mid-write, let
  // attempt 2 through)
  private val oneShot = new ConcurrentHashMap[(String, String), java.util.concurrent.atomic.AtomicLong]()

  def create(name: String, numShards: Int): ShardStream = {
    val s = new ShardStream(name, numShards)
    streams.put(name, s)
    s
  }

  def get(name: String): ShardStream = {
    val s = streams.get(name)
    if (s == null) throw new ShardServiceException(s"unknown stream $name")
    ShardServiceRegistry.maybeFail(name, "describeStream")
    s
  }

  def exists(name: String): Boolean = streams.containsKey(name)

  def drop(name: String): Unit = {
    streams.remove(name)
    failures.keySet.removeIf(_._1 == name)
    oneShot.keySet.removeIf(_._1 == name)
  }

  /** Make `op` on `stream` throw — the reference's error-injection
    * seam (`ShardSubscription.java:240-244,258-262`). */
  def injectFailure(stream: String, op: String, msg: String = "injected failure"): Unit =
    failures.put((stream, op), msg)

  /** Make the (`afterCalls`+1)-th call of `op` on `stream` throw ONCE,
    * then clear — the fault shape of a transient task failure. */
  def injectFailureOnce(stream: String, op: String, afterCalls: Long): Unit =
    oneShot.put((stream, op), new java.util.concurrent.atomic.AtomicLong(afterCalls))

  def clearFailure(stream: String, op: String): Unit = {
    failures.remove((stream, op))
    oneShot.remove((stream, op))
  }

  // the key tuples are only built while some fault is armed
  private[shard] def maybeFail(stream: String, op: String): Unit =
    if (!failures.isEmpty || !oneShot.isEmpty) {
      val msg = failures.get((stream, op))
      if (msg != null) throw new ShardServiceException(s"$op on $stream failed: $msg")
      val counter = oneShot.get((stream, op))
      if (counter != null && counter.getAndDecrement() == 0L) {
        oneShot.remove((stream, op))
        throw new ShardServiceException(s"$op on $stream failed: injected one-shot failure")
      }
    }
}
