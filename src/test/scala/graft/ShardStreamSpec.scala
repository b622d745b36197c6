package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.shard._

/** TCK-spirit behavioral suite for the `shardstream` source/sink —
  * replicates the *spirit* of the reference's Reactive Streams TCK
  * conformance run (`ShardPublisherVerification.scala:15-16`, SURVEY §5):
  * start positions, per-shard order, bounded batches, finite take-N
  * termination, stop/cancel, error propagation, multi-shard planning,
  * and the ordered producer half — against the deterministic in-memory
  * shard service instead of live AWS.
  */
class ShardStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val nameCounter = new AtomicInteger(0)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4, 2]") // 2 task attempts: the idempotent-write test needs a real retry
      .appName("shardstream-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def freshName(prefix: String): String =
    s"${prefix}_${nameCounter.incrementAndGet()}"

  /** The reference TCK fixture: 1 shard, 10 ordered `testData-%d`
    * records, constant partition key, chained sequence numbers
    * (`ShardPublisherVerification.scala:40-52`). */
  private def seeded10(): String = {
    val name = freshName("tck10")
    val s = ShardServiceRegistry.create(name, 1)
    var prev: Option[Long] = None
    (0 until 10).foreach { i =>
      prev = Some(s.putRecord("partitionKey", s"testData-$i".getBytes(UTF_8), prev))
    }
    name
  }

  /** 4-shard fixture, round-robin keys (FIXTURES.md §A.5). */
  private def seededMulti(n: Int): String = {
    val name = freshName("multi4")
    val s = ShardServiceRegistry.create(name, 4)
    (0 until n).foreach(i => s.putRecord(s"key-${i % 8}", s"payload-$i".getBytes(UTF_8), None))
    name
  }

  private def readStreamDf(stream: String, extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format("shardstream").option("stream", stream)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  /** Drain an AvailableNow run into a memory table; returns collected rows
    * (payload decoded) in sink arrival order. */
  private def drain(df: DataFrame, checkpoint: Option[String] = None): DataFrame = {
    val qn = freshName("out")
    var w = df.writeStream.format("memory").queryName(qn).trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    q.awaitTermination()
    spark.table(qn)
  }

  private def payloads(df: DataFrame): Seq[String] =
    df.select(col("data").cast("string")).collect().map(_.getString(0)).toSeq

  /** Progress offsets as a per-shard index map; the first batch reports
    * a null startOffset (= the query's initial position: nothing read). */
  private def parseOffset(json: String): Map[String, Long] =
    if (json == null) Map.empty else ShardStreamOffset.fromJson(json).indexes

  // ---- service unit behavior ----------------------------------------

  test("service: sequence numbers are monotone and per-key chaining is enforced") {
    val s = ShardServiceRegistry.create(freshName("svc"), 2)
    val s0 = s.putRecord("a", "x".getBytes(UTF_8), None)
    val s1 = s.putRecord("a", "y".getBytes(UTF_8), Some(s0))
    assert(s1 > s0)
    // chaining after a stale sequence number is an ordering violation
    val ex = intercept[ShardServiceException](s.putRecord("a", "z".getBytes(UTF_8), Some(s0)))
    assert(ex.getMessage.contains("ordering violation"))
  }

  test("service: shard routing is deterministic and total order holds within a shard") {
    val s = ShardServiceRegistry.create(freshName("svc"), 4)
    assert(s.shardFor("user-7") == s.shardFor("user-7"))
    (0 until 100).foreach(i => s.putRecord(s"k${i % 5}", Array[Byte](i.toByte), None))
    s.shardIds.foreach { id =>
      val seqs = s.getRecords(id, 0, 1000).map(_.seq)
      assert(seqs == seqs.sorted, s"shard $id out of order")
    }
  }

  test("service: resolveIndex implements all four iterator types (S1)") {
    val name = seeded10()
    val s = ShardServiceRegistry.get(name)
    val shard = s.shardIds.head
    assert(s.resolveIndex(shard, IteratorType.TrimHorizon, None) == 0L)
    assert(s.resolveIndex(shard, IteratorType.Latest, None) == 10L)
    val seq3 = s.getRecords(shard, 3, 1).head.seq
    assert(s.resolveIndex(shard, IteratorType.AtSequenceNumber, Some(seq3)) == 3L)
    assert(s.resolveIndex(shard, IteratorType.AfterSequenceNumber, Some(seq3)) == 4L)
  }

  test("offset JSON round-trips exactly") {
    val o = ShardStreamOffset(Map("shardId-000000000001" -> 5L, "shardId-000000000000" -> 7L))
    assert(ShardStreamOffset.fromJson(o.json()) == o)
    assert(o.json() == """{"shardId-000000000000":7,"shardId-000000000001":5}""")
  }

  // ---- start positions (S1) -----------------------------------------

  test("trim_horizon replays everything in order") {
    val got = payloads(drain(readStreamDf(seeded10())))
    assert(got == (0 until 10).map(i => s"testData-$i"))
  }

  test("latest sees nothing already in the stream") {
    val df = drain(readStreamDf(seeded10(), Map("startingPosition" -> "latest")))
    assert(df.count() == 0)
  }

  test("at_sequence_number starts inclusively; after_sequence_number exclusively") {
    val name = seeded10()
    val s = ShardServiceRegistry.get(name)
    val seq5 = s.getRecords(s.shardIds.head, 5, 1).head.seq
    val at = payloads(drain(readStreamDf(name,
      Map("startingPosition" -> s"at_sequence_number:$seq5"))))
    assert(at == (5 until 10).map(i => s"testData-$i"))
    val after = payloads(drain(readStreamDf(name,
      Map("startingPosition" -> s"after_sequence_number:$seq5"))))
    assert(after == (6 until 10).map(i => s"testData-$i"))
  }

  // ---- finite take-N (S8/S9) ----------------------------------------

  test("maxElements bounds the read (take 1, 3, 10) and completes") {
    for (n <- Seq(1, 3, 10)) {
      val got = payloads(drain(readStreamDf(seeded10(), Map("maxElements" -> n.toString))))
      assert(got == (0 until n).map(i => s"testData-$i"), s"maxElements=$n")
    }
  }

  test("maxElements beyond available yields all available (budget not exhausted)") {
    val got = payloads(drain(readStreamDf(seeded10(), Map("maxElements" -> "99"))))
    assert(got.size == 10)
  }

  test("maxElements=0 is an empty bounded read (distinct from the -1 sentinel)") {
    val df = drain(readStreamDf(seeded10(), Map("maxElements" -> "0")))
    assert(df.count() == 0)
  }

  test("maxElements=-1 means unbounded (the TCK's 0 -> -1 mapping target)") {
    // ShardPublisherVerification.scala:62 maps elements==0 to -1;
    // -1 is the unbounded sentinel here exactly as in the reference
    // (ShardSubscription.java:67-68).
    val got = payloads(drain(readStreamDf(seeded10(), Map("maxElements" -> "-1"))))
    assert(got.size == 10)
  }

  test("maxElements allocates across shards deterministically in shardId order") {
    val name = seededMulti(12)
    val df = drain(readStreamDf(name, Map("maxElements" -> "5")))
    assert(df.count() == 5)
    // allocation fills shardId-000...0 first, then the next shard, etc.
    val svc = ShardServiceRegistry.get(name)
    val perShard = df.groupBy("shardId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = {
      var budget = 5L
      svc.shardIds.map { id =>
        val take = math.min(svc.size(id), budget); budget -= take; id -> take
      }.filter(_._2 > 0).toMap
    }
    assert(perShard == expected)
  }

  // ---- bounded batches / admission control (S3/S5) ------------------

  test("maxRecordsPerBatch caps every micro-batch (computed-limit analog)") {
    val name = seeded10()
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "3"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.forall(_ <= 3), s"batch sizes: ${batches.toSeq}")
    assert(batches.sum == 10)
    assert(batches.length == 4) // ceil(10/3)
    assert(spark.table(qn).count() == 10)
  }

  // ---- per-shard ordering (S7/S16) ----------------------------------

  test("multi-shard read preserves per-shard total order, one partition per shard") {
    val name = seededMulti(40)
    val df = drain(readStreamDf(name))
    val rows = df.select("shardId", "sequenceNumber").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 40)
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val seqs = rs.map(_._2).toSeq
      assert(seqs == seqs.sorted, s"shard $shard emitted out of order")
    }
    // partition planning: one input partition per non-empty shard
    val batchDf = spark.read.format("shardstream").option("stream", name).load()
    assert(batchDf.rdd.getNumPartitions == 4)
  }

  // ---- resume / checkpoint (S4 upgrade) -----------------------------

  test("offsets checkpoint and resume: second run reads only new records") {
    val name = seeded10()
    val cp = Files.createTempDirectory("shardcp").toString
    // memory sink can't recover from a checkpoint; foreachBatch can
    def runOnce(): Seq[String] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = readStreamDf(name)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("data").cast("string")).collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[String]).toSeq
    }
    assert(runOnce().size == 10)
    val svc = ShardServiceRegistry.get(name)
    (10 until 13).foreach(i => svc.putRecord("partitionKey", s"testData-$i".getBytes(UTF_8), None))
    assert(runOnce().sorted == (10 until 13).map(i => s"testData-$i"))
  }

  test("latest + maxElements budget baseline survives checkpoint restart") {
    // start positions are resolved once per QUERY and persisted in the
    // checkpoint: a restart must NOT re-resolve `latest` (which would
    // shift the maxElements budget baseline and over-read)
    val name = seeded10() // records 0..9 exist before the query is created
    val cp = Files.createTempDirectory("shardcp_latest").toString
    val svc = ShardServiceRegistry.get(name)
    def runOnce(): Seq[String] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = readStreamDf(name,
        Map("startingPosition" -> "latest", "maxElements" -> "4"))
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("data").cast("string")).collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[String]).toSeq
    }
    assert(runOnce().isEmpty, "latest sees nothing pre-existing")
    (10 until 12).foreach(i => svc.putRecord("partitionKey", s"testData-$i".getBytes(UTF_8), None))
    assert(runOnce().sorted == Seq("testData-10", "testData-11"), "2 of the 4-budget")
    (12 until 17).foreach(i => svc.putRecord("partitionKey", s"testData-$i".getBytes(UTF_8), None))
    // budget baseline is still index 10: only 2 records remain of the 4
    assert(runOnce().sorted == Seq("testData-12", "testData-13"),
      "remaining budget is 2 — a re-resolved `latest` start would read 5 here")
    assert(runOnce().isEmpty, "budget exhausted")
  }

  test("truncated persisted start file is ignored and re-resolved (no wedge)") {
    val name = seeded10()
    val cp = Files.createTempDirectory("shardcp_corrupt").toString
    def runOnce(): Int = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = readStreamDf(name)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("data").cast("string")).collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.size()
    }
    assert(runOnce() == 10)
    // simulate a crash between create and close: truncate the file
    val startFile = Files.walk(java.nio.file.Paths.get(cp)).iterator().asScala
      .find(_.getFileName.toString == "shardstream-start.json")
    assert(startFile.isDefined, "start file must have been persisted")
    Files.write(startFile.get, Array.empty[Byte])
    // restart must fall back to re-resolving, not crash or over-read
    ShardServiceRegistry.get(name)
      .putRecord("partitionKey", "testData-10".getBytes(UTF_8), None)
    assert(runOnce() == 1, "resumes from checkpointed offsets, re-resolved start")
  }

  test("an I/O failure reading the persisted start fails the restart and keeps the file") {
    val name = seeded10()
    val local = Files.createTempDirectory("shardcp_flaky")
    spark.sparkContext.hadoopConfiguration
      .set("fs.flakyopen.impl", classOf[FlakyOpenFileSystem].getName)
    def runOnce(): Seq[String] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = readStreamDf(name, Map("startingPosition" -> "latest"))
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("data").cast("string")).collect().foreach(r => buf.add(r.getString(0)))
          ()
        }
        .option("checkpointLocation", s"flakyopen://$local")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toArray(Array.empty[String]).toSeq
    }
    assert(runOnce().isEmpty, "latest sees nothing pre-existing")
    val startFile = Files.walk(local).iterator().asScala
      .find(_.getFileName.toString == "shardstream-start.json")
    assert(startFile.isDefined, "start file must have been persisted")
    val persisted = Files.readAllBytes(startFile.get)
    val svc = ShardServiceRegistry.get(name)
    (10 until 12).foreach(i => svc.putRecord("partitionKey", s"testData-$i".getBytes(UTF_8), None))
    FlakyOpenFileSystem.failNextStartOpen.set(true)
    val err = intercept[StreamingQueryException](runOnce())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("injected open failure")), err)
    assert(Files.readAllBytes(startFile.get).sameElements(persisted),
      "a read failure must not re-resolve and overwrite the persisted start")
    // once the file reads again, the original `latest` baseline holds
    assert(runOnce().sorted == Seq("testData-10", "testData-11"))
  }

  // ---- cancellation (S10) -------------------------------------------

  test("stop() cancels cleanly without error and without fake completion") {
    val name = seeded10()
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "2"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    // wait for some progress, then cancel mid-stream
    val deadline = System.currentTimeMillis() + 10000
    while (q.recentProgress.map(_.numInputRows).sum < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    assert(q.exception.isEmpty, "stop must not surface an error")
    assert(!q.isActive)
    // deliberately NOT the reference's cancel-emits-onComplete bug
    // (ShardSubscription.java:198): stopping is not completion — the
    // stream can be resumed/re-read afterwards.
    assert(payloads(drain(readStreamDf(name))).size == 10)
  }

  // ---- error propagation (S11) --------------------------------------

  test("fetch failure surfaces as StreamingQueryException with the service error") {
    val name = seeded10()
    ShardServiceRegistry.injectFailure(name, "getRecords", "boom")
    try {
      val qn = freshName("out")
      val q = readStreamDf(name).writeStream.format("memory").queryName(qn)
        .trigger(Trigger.AvailableNow()).start()
      val ex = intercept[StreamingQueryException](q.awaitTermination())
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
      assert(chain(ex).exists(_.getMessage != null) &&
        chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("boom")))
    } finally ShardServiceRegistry.clearFailure(name, "getRecords")
  }

  test("write failure surfaces through the DSv2 sink and clears for a retry") {
    val sp = spark
    import sp.implicits._
    val name = freshName("sinkfail")
    ShardServiceRegistry.create(name, 2)
    ShardServiceRegistry.injectFailure(name, "putRecord", "disk full")
    val df = Seq(("k1", "a"), ("k2", "b")).toDF("partitionKey", "payload")
      .select(col("partitionKey"), col("payload").cast("binary").as("data"))
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
    val ex = intercept[Exception] {
      df.write.format("shardstream").option("stream", name).mode("append").save()
    }
    assert(chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("disk full")))
    // nothing half-written must be visible, and a retry after the fault
    // clears must succeed
    assert(spark.read.format("shardstream").option("stream", name).load().count() == 0)
    ShardServiceRegistry.clearFailure(name, "putRecord")
    df.write.format("shardstream").option("stream", name).mode("append").save()
    assert(spark.read.format("shardstream").option("stream", name).load().count() == 2)
  }

  test("unknown stream fails the query at planning (discovery error path)") {
    val ex = intercept[Exception] {
      drain(readStreamDf("no_such_stream_xyz"))
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
    assert(chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("unknown stream")))
  }

  // ---- multi-subscriber contract delta (S12) ------------------------

  test("multiple concurrent readers are allowed (intentional upgrade over single-subscriber gate)") {
    // The reference rejects a second subscriber (ShardPublisher.java:58-78);
    // a DataFrame source is freely re-usable — each query tracks its own
    // offsets. Assert the new contract.
    val name = seeded10()
    val a = drain(readStreamDf(name))
    val b = drain(readStreamDf(name))
    assert(a.count() == 10 && b.count() == 10)
  }

  // ---- producer half (S15) ------------------------------------------

  test("ordered sink: per-key order preserved through a round-trip") {
    val sp = spark
    import sp.implicits._
    val name = freshName("sink")
    ShardServiceRegistry.create(name, 4)
    val df = (0 until 100).map(i => (s"key-${i % 7}", i)).toDF("k", "i")
      .select($"k", $"i", concat(lit("p-"), $"i").as("payload"))
    ShardSink.putOrdered(df, name, keyCol = "k", payloadCol = "payload", orderCols = Seq("i"))
    val back = spark.read.format("shardstream").option("stream", name).load()
      .select($"partitionKey", $"sequenceNumber", col("data").cast("string").as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(back.length == 100)
    back.groupBy(_._1).foreach { case (key, rs) =>
      val inSeqOrder = rs.sortBy(_._2).map(_._3).toSeq
      val expected = (0 until 100).filter(i => s"key-${i % 7}" == key).map(i => s"p-$i")
      assert(inSeqOrder == expected, s"key $key order broken")
    }
  }

  test("DSv2 batch write: engine plans the clustering+sort the sink requires") {
    val sp = spark
    import sp.implicits._
    val name = freshName("dsv2w")
    ShardServiceRegistry.create(name, 4)
    // deliberately scrambled input — RequiresDistributionAndOrdering
    // must make Spark shuffle+sort it into per-key order
    val df = scala.util.Random.shuffle((0 until 60).toList)
      .map(i => (s"key-${i % 5}", i, s"p-$i"))
      .toDF("k", "i", "payload")
      .select($"k", $"i", $"payload".cast("binary").as("payload"))
    df.write.format("shardstream")
      .option("stream", name).option("keyCol", "k")
      .option("payloadCol", "payload").option("orderBy", "i")
      .mode("append").save()
    val back = spark.read.format("shardstream").option("stream", name).load()
      .select(col("partitionKey"), col("sequenceNumber"), col("data").cast("string").as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(back.length == 60)
    back.groupBy(_._1).foreach { case (key, rs) =>
      val inSeqOrder = rs.sortBy(_._2).map(_._3).toSeq
      val expected = (0 until 60).filter(i => s"key-${i % 5}" == key).map(i => s"p-$i")
      assert(inSeqOrder == expected, s"key $key written out of order")
    }
  }

  test("DSv2 streaming write: writeStream.format(shardstream) round-trips") {
    val src = seeded10()
    val dst = freshName("dsv2s")
    ShardServiceRegistry.create(dst, 2)
    val q = readStreamDf(src)
      .selectExpr("partitionKey", "sequenceNumber AS seq", "data")
      .writeStream.format("shardstream")
      .option("stream", dst).option("orderBy", "seq")
      .option("checkpointLocation", Files.createTempDirectory("dsv2s").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = payloads(spark.read.format("shardstream").option("stream", dst).load())
    assert(got.sorted == (0 until 10).map(i => s"testData-$i").sorted)
    // single key, single epoch: order fully preserved
    assert(got == (0 until 10).map(i => s"testData-$i"))
  }

  test("empty stream: AvailableNow completes with zero rows (zero-emit poll)") {
    val name = freshName("empty")
    ShardServiceRegistry.create(name, 2)
    assert(drain(readStreamDf(name)).count() == 0)
  }

  // ---- option and bounds edge cases ---------------------------------

  test("invalid startingPosition fails fast with a clear message") {
    val name = seeded10()
    val ex = intercept[Exception] {
      spark.readStream.format("shardstream").option("stream", name)
        .option("startingPosition", "bogus").load()
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("startingPosition")))
  }

  test("missing stream option fails fast") {
    val ex = intercept[Exception] {
      spark.readStream.format("shardstream").load()
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.getMessage != null && c.getMessage.contains("stream")))
  }

  test("start position beyond the last sequence number reads nothing") {
    val name = seeded10()
    val s = ShardServiceRegistry.get(name)
    val lastSeq = s.getRecords(s.shardIds.head, 9, 1).head.seq
    val after = drain(readStreamDf(name,
      Map("startingPosition" -> s"after_sequence_number:$lastSeq")))
    assert(after.count() == 0)
    val at = drain(readStreamDf(name,
      Map("startingPosition" -> s"at_sequence_number:${lastSeq + 1000}")))
    assert(at.count() == 0)
  }

  test("service getRecords clamps out-of-range fetches") {
    val name = seeded10()
    val s = ShardServiceRegistry.get(name)
    val shard = s.shardIds.head
    assert(s.getRecords(shard, 100, 10).isEmpty)   // beyond end
    assert(s.getRecords(shard, 0, 0).isEmpty)      // zero limit
    assert(s.getRecords(shard, 0, -5).isEmpty)     // negative limit
    assert(s.getRecords(shard, 8, 100).size == 2)  // clamp to available
  }

  test("maxRecordsPerBatch larger than the stream yields one data batch") {
    val name = seeded10()
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "1000"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(10))
  }

  // ---- resharding lifecycle (split/merge — the case the reference's
  // 1-shard assertion punts on, ShardPublisherVerification.scala:34-37)

  test("service: splitShard seals the parent and opens two children") {
    val s = ShardServiceRegistry.create(freshName("split"), 2)
    val parent = s.shardIds.head
    val (c1, c2) = s.splitShard(parent)
    assert(s.isShardSealed(parent))
    assert(!s.isShardSealed(c1) && !s.isShardSealed(c2))
    assert(s.parentsOf(c1) == Seq(parent) && s.parentsOf(c2) == Seq(parent))
    // a sealed shard cannot be split again
    val ex = intercept[ShardServiceException](s.splitShard(parent))
    assert(ex.getMessage.contains("sealed"))
    // routing targets open shards only: no new record lands in the parent
    val sizeBefore = s.size(parent)
    (0 until 50).foreach(i => s.putRecord(s"k$i", Array[Byte](1), None))
    assert(s.size(parent) == sizeBefore, "sealed parent must not accept new records")
  }

  test("service: mergeShards seals both parents into one child; misuse rejected") {
    val s = ShardServiceRegistry.create(freshName("merge"), 3)
    val Seq(a, b, c) = s.shardIds.take(3)
    val child = s.mergeShards(a, b)
    assert(s.isShardSealed(a) && s.isShardSealed(b) && !s.isShardSealed(child))
    assert(s.parentsOf(child).toSet == Set(a, b))
    intercept[IllegalArgumentException](s.mergeShards(c, c))
    val ex = intercept[ShardServiceException](s.mergeShards(a, c))
    assert(ex.getMessage.contains("sealed"))
  }

  test("resharding replay: exactly-once and per-key order across split and merge") {
    val name = freshName("resh")
    val s = ShardServiceRegistry.create(name, 2)
    def seed(r: Range): Unit =
      r.foreach(i => s.putRecord(s"key-${i % 6}", s"p-$i".getBytes(UTF_8), None))
    seed(0 until 20)
    s.splitShard(s.shardIds.head)
    seed(20 until 40)
    val open = s.shardIds.filterNot(s.isShardSealed)
    s.mergeShards(open.head, open(1))
    seed(40 until 60)
    // tight per-trigger cap: the parent-before-child gate must span triggers
    val rows = drain(readStreamDf(name, Map("maxRecordsPerBatch" -> "7")))
      .select(col("partitionKey"), col("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1).stripPrefix("p-").toInt))
    assert(rows.length == 60, "every record exactly once across sealed parents and children")
    assert(rows.map(_._2).toSet == (0 until 60).toSet)
    // per-key order: sink arrival order must be ascending per key (a
    // key's records cross parent -> child -> merged child; the gate
    // guarantees child batches come after the parent is drained)
    rows.groupBy(_._1).foreach { case (key, rs) =>
      val order = rs.map(_._2).toSeq
      assert(order == order.sorted, s"key $key replayed out of order: $order")
    }
  }

  test("parent-before-child: child offsets advance only after every parent is drained") {
    val name = freshName("gate")
    val s = ShardServiceRegistry.create(name, 1)
    val parent = s.shardIds.head
    (0 until 10).foreach(i => s.putRecord(s"k${i % 3}", s"a-$i".getBytes(UTF_8), None))
    val (c1, c2) = s.splitShard(parent)
    (10 until 20).foreach(i => s.putRecord(s"k${i % 3}", s"b-$i".getBytes(UTF_8), None))
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "3"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table(qn).count() == 20)
    val moves = q.recentProgress.toSeq.map { p =>
      (parseOffset(p.sources.head.startOffset), parseOffset(p.sources.head.endOffset))
    }
    val childAdvances = moves.filter { case (st, en) =>
      Seq(c1, c2).exists(id => en.getOrElse(id, 0L) > st.getOrElse(id, 0L))
    }
    assert(childAdvances.nonEmpty, "children must eventually advance")
    childAdvances.foreach { case (st, _) =>
      assert(st.getOrElse(parent, 0L) == 10L,
        s"child advanced before parent drained: parent at ${st.getOrElse(parent, 0L)}/10")
    }
    // the gate holds budget back in the parent's final trigger rather
    // than spending it on children in the same batch
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.sum == 20)
  }

  test("a split during a running query is discovered and drained without restart") {
    val name = freshName("livesplit")
    val svc = ShardServiceRegistry.create(name, 1)
    (0 until 6).foreach(i => svc.putRecord(s"k${i % 2}", s"a-$i".getBytes(UTF_8), None))
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "4"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    val deadline = System.currentTimeMillis() + 15000
    while (spark.table(qn).count() < 6 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(spark.table(qn).count() == 6, "pre-split records must drain first")
    // reshard while the query is live: discovery is re-polled every
    // trigger, so the children must be picked up without a restart
    svc.splitShard(svc.shardIds.head)
    (6 until 12).foreach(i => svc.putRecord(s"k${i % 2}", s"b-$i".getBytes(UTF_8), None))
    while (spark.table(qn).count() < 12 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    val rows = spark.table(qn)
      .select(col("partitionKey"), col("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length == 12, s"post-split records not discovered: ${rows.toSeq}")
    // per-key order across the live split: every pre-split record
    // precedes every post-split record of the same key
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val phases = rs.map(_._2.charAt(0)).toSeq
      assert(phases == phases.sorted, s"key $k interleaved across the split: ${rs.toSeq}")
    }
  }

  // ---- per-shard admission fairness (S3 refinement: the reference's
  // computed fetch limit is PER SHARD, ShardSubscription.java:141-146)

  test("tight maxRecordsPerBatch is waterfilled: every pending shard advances every trigger") {
    val name = freshName("fair")
    val s = ShardServiceRegistry.create(name, 4)
    // ~10 records per shard (round-robin keys hash across 4 shards)
    (0 until 64).foreach(i => s.putRecord(s"key-${i % 8}", s"p-$i".getBytes(UTF_8), None))
    val sizes = s.shardIds.map(id => id -> s.size(id)).toMap
    assert(sizes.values.forall(_ > 0), s"fixture must populate all shards: $sizes")
    val qn = freshName("out")
    val q = readStreamDf(name, Map("maxRecordsPerBatch" -> "8"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table(qn).count() == 64)
    q.recentProgress.toSeq.foreach { p =>
      val st = parseOffset(p.sources.head.startOffset)
      val en = parseOffset(p.sources.head.endOffset)
      val adv = s.shardIds.map(id =>
        id -> (en.getOrElse(id, 0L) - st.getOrElse(id, 0L))).toMap
      val pendingShards = s.shardIds.filter(id => st.getOrElse(id, 0L) < sizes(id))
      if (adv.values.sum > 0) {
        pendingShards.foreach(id => assert(adv(id) > 0,
          s"shard $id starved in a trigger: advances=$adv, pending=$pendingShards"))
        // equal shares within 1 (waterfill), never shardId-order draining
        val shares = pendingShards.map(adv)
        assert(shares.max - shares.min <= 1, s"unfair split: $adv")
      }
    }
  }

  // ---- AT_TIMESTAMP start position (fifth public enum member; the
  // reference's KCL 1.0 pin predates it, ShardSubscription.java:82)

  test("service: AT_TIMESTAMP resolves the first index at/after the stamp; stamps are monotone") {
    val s = ShardServiceRegistry.create(freshName("ts"), 1)
    val shard = s.shardIds.head
    Seq(100L, 200L, 300L).zipWithIndex.foreach { case (ts, i) =>
      s.putRecord("k", s"p-$i".getBytes(UTF_8), None, arrivalTs = Some(ts))
    }
    assert(s.resolveIndex(shard, IteratorType.AtTimestamp, Some(50L)) == 0L)
    assert(s.resolveIndex(shard, IteratorType.AtTimestamp, Some(200L)) == 1L)
    assert(s.resolveIndex(shard, IteratorType.AtTimestamp, Some(201L)) == 2L)
    assert(s.resolveIndex(shard, IteratorType.AtTimestamp, Some(301L)) == 3L)
    // the real-service invariant AT_TIMESTAMP relies on: per-shard
    // arrival stamps never regress
    val ex = intercept[ShardServiceException](
      s.putRecord("k", "x".getBytes(UTF_8), None, arrivalTs = Some(250L)))
    assert(ex.getMessage.contains("regresses"))
  }

  test("at_timestamp start position reads exactly the at/after-stamp suffix of every shard") {
    val name = freshName("tse2e")
    val s = ShardServiceRegistry.create(name, 2)
    (0 until 20).foreach(i =>
      s.putRecord(s"k-${i % 4}", s"p-$i".getBytes(UTF_8), None, arrivalTs = Some(1000L + i * 10)))
    val got = payloads(drain(readStreamDf(name,
      Map("startingPosition" -> "at_timestamp:1100"))))
    assert(got.toSet == (10 until 20).map(i => s"p-$i").toSet)
    // stamp beyond the last arrival reads nothing
    assert(drain(readStreamDf(name,
      Map("startingPosition" -> "at_timestamp:99999"))).count() == 0)
  }

  // ---- idempotent producer (write-side exactly-once under retries) --

  test("service: putIdempotent no-ops replays and rejects gaps") {
    val name = freshName("idem")
    val s = ShardServiceRegistry.create(name, 2)
    val seq0 = s.putIdempotent("scope-a", "k", 0L, "p-0".getBytes(UTF_8))
    val seq1 = s.putIdempotent("scope-a", "k", 1L, "p-1".getBytes(UTF_8))
    assert(seq1 > seq0)
    val total = s.shardIds.map(s.size).sum
    // a replayed index is a no-op returning the original sequence number
    assert(s.putIdempotent("scope-a", "k", 1L, "p-1".getBytes(UTF_8)) == seq1)
    assert(s.putIdempotent("scope-a", "k", 0L, "p-0".getBytes(UTF_8)) >= 0L)
    assert(s.shardIds.map(s.size).sum == total, "replays must not append")
    // an index gap is a protocol violation, not silently reordered
    val ex = intercept[ShardServiceException](
      s.putIdempotent("scope-a", "k", 5L, "p-5".getBytes(UTF_8)))
    assert(ex.getMessage.contains("gap"))
    // a different scope is an independent chain
    s.putIdempotent("scope-b", "k", 0L, "q-0".getBytes(UTF_8))
    assert(s.shardIds.map(s.size).sum == total + 1)
  }

  test("a transient read fault self-heals via task retry without loss or duplication") {
    val name = freshName("readretry")
    val s = ShardServiceRegistry.create(name, 2)
    (0 until 20).foreach(i => s.putRecord(s"key-${i % 4}", s"p-$i".getBytes(UTF_8), None))
    // first getRecords call throws once: one reader attempt dies, its
    // retry re-reads the same fixed offset range (deterministic replay)
    ShardServiceRegistry.injectFailureOnce(name, "getRecords", afterCalls = 0L)
    val rows =
      try drain(readStreamDf(name))
        .select(col("shardId"), col("sequenceNumber"), col("data").cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      finally ShardServiceRegistry.clearFailure(name, "getRecords")
    assert(rows.length == 20, s"loss or duplication after read retry: ${rows.length}")
    assert(rows.map(_._3).toSet == (0 until 20).map(i => s"p-$i").toSet)
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      val seqs = rs.map(_._2).toSeq
      assert(seqs == seqs.sorted, s"shard $shard out of order after retry")
    }
  }

  /** Rows (key, i, payload "p-i") through `format("shardstream")`,
    * ordered by `i` within each key. */
  private def dsv2Write(rows: Seq[(String, Int)], stream: String): Unit = {
    val sp = spark
    import sp.implicits._
    rows.map { case (k, i) => (k, i, s"p-$i") }.toDF("k", "i", "payload")
      .select($"k", $"i", $"payload".cast("binary").as("payload"))
      .write.format("shardstream")
      .option("stream", stream).option("keyCol", "k")
      .option("payloadCol", "payload").option("orderBy", "i")
      .mode("append").save()
  }

  /** shardId -> key -> payloads in sequence order. */
  private def perShardKeyChains(s: ShardStream): Map[String, Map[String, Seq[String]]] =
    s.shardIds.map { id =>
      id -> s.getRecords(id, 0L, Int.MaxValue).groupBy(_.partitionKey)
        .map { case (k, rs) => k -> rs.sortBy(_.seq).map(r => new String(r.data, UTF_8)) }
    }.toMap

  test("DSv2 write: a mid-write task failure retries to an exactly-once visible effect") {
    // (rows, afterCalls): 40 rows over 4 keys with the 6th put failing,
    // then one hot key (a single writer task) whose failing put lands
    // mid-way through the first page and mid-way through the second
    val page = ShardDataWriter.PageSize
    val hot = (0 until 2 * page + 300).map(i => ("hot", i))
    val cases = Seq(
      (0 until 40).map(i => (s"key-${i % 4}", i)) -> 5L,
      hot -> (page / 2).toLong,
      hot -> (page + page / 3).toLong)
    for ((rows, afterCalls) <- cases) {
      val name = freshName("retryw")
      ShardServiceRegistry.create(name, 2)
      val failedTasks = new AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      // the (afterCalls+1)-th put throws once: the task dies mid-write
      // after real appends, its retry replays the same sorted rows
      // under the same scope
      ShardServiceRegistry.injectFailureOnce(name, "putRecord", afterCalls)
      try dsv2Write(rows, name)
      finally ShardServiceRegistry.clearFailure(name, "putRecord")
      val deadline = System.currentTimeMillis() + 10000
      while (failedTasks.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      spark.sparkContext.removeSparkListener(listener)
      assert(failedTasks.get() == 1, s"afterCalls=$afterCalls: the injected failure must kill one task")
      val back = spark.read.format("shardstream").option("stream", name).load()
        .select(col("partitionKey"), col("sequenceNumber"), col("data").cast("string").as("p"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      assert(back.length == rows.size,
        s"afterCalls=$afterCalls: double-put or loss after retry: ${back.length} records")
      back.groupBy(_._1).foreach { case (key, rs) =>
        val inSeqOrder = rs.sortBy(_._2).map(_._3).toSeq
        val expected = rows.filter(_._1 == key).map(r => s"p-${r._2}")
        assert(inSeqOrder == expected, s"afterCalls=$afterCalls: key $key order broken after retry")
      }
    }
  }

  test("DSv2 write: paged puts equal a per-row putIdempotent replay of the sorted rows") {
    // one hot key spanning several pages plus many small keys
    val rnd = new scala.util.Random(7L)
    val rows = rnd.shuffle(
      (0 until 2 * ShardDataWriter.PageSize + 100).map(i => ("hot", i)) ++
        (0 until 600).map(i => (s"small-${i % 200}", 10000 + i)))
    val written = freshName("paged")
    val replayed = freshName("perrow")
    ShardServiceRegistry.create(written, 8)
    val reference = ShardServiceRegistry.create(replayed, 8)
    dsv2Write(rows, written)
    rows.groupBy(_._1).foreach { case (k, rs) =>
      rs.sortBy(_._2).zipWithIndex.foreach { case ((_, i), idx) =>
        reference.putIdempotent("replay", k, idx.toLong, s"p-$i".getBytes(UTF_8))
      }
    }
    val got = perShardKeyChains(ShardServiceRegistry.get(written))
    assert(got.values.map(_.values.map(_.size).sum).sum == rows.size)
    assert(got == perShardKeyChains(reference))
  }

  test("reader: a planned range past the shard's end fails loudly instead of truncating") {
    val name = seeded10()
    val shard = ShardServiceRegistry.get(name).shardIds.head
    val reader = new ShardPartitionReader(ShardInputPartition(name, shard, 0L, 15L))
    var rows = 0
    val ex = intercept[ShardServiceException] {
      while (reader.next()) { reader.get(); rows += 1 }
    }
    assert(rows == 10)
    Seq(name, shard, "[10, 15)").foreach(part =>
      assert(ex.getMessage.contains(part), s"'${ex.getMessage}' does not name $part"))
  }

  test("seqString zero-pads to 20 digits exactly like %020d") {
    assert(ShardStreamTable.seqString(0L) == "00000000000000000000")
    assert(ShardStreamTable.seqString(9L) == "00000000000000000009")
    assert(ShardStreamTable.seqString(10L) == "00000000000000000010")
    assert(ShardStreamTable.seqString(Long.MaxValue) == "09223372036854775807")
    val rnd = new scala.util.Random(20L)
    val samples = (0 to 18).map(e => math.pow(10, e).toLong).flatMap(p => Seq(p - 1, p, p + 1)) ++
      Seq.fill(1000)(rnd.nextLong() & Long.MaxValue)
    samples.foreach(v => assert(ShardStreamTable.seqString(v) == f"$v%020d", s"at $v"))
  }

  // ---- typed consumer dataflow (S14) --------------------------------

  test("typed Dataset[ShardRecord]: take(3).map(decode) — the reference's demo dataflow") {
    // ShardProducerSpec.scala:40-44: Flow(publisher).take(3)
    //   .map(r => new String(r.getData.array)).foreach(log)
    val name = seeded10()
    val sp = spark
    import sp.implicits._
    val decoded = ShardRecord.dataset(spark, name)
      .orderBy("sequenceNumber").limit(3)
      .map(r => new String(r.data, UTF_8))
      .collect().toSeq
    assert(decoded == Seq("testData-0", "testData-1", "testData-2"))
  }

  // ---- poll loop (S2): ProcessingTime trigger ingests live appends --

  test("ProcessingTime trigger picks up records appended while running") {
    val name = freshName("live")
    val svc = ShardServiceRegistry.create(name, 1)
    (0 until 3).foreach(i => svc.putRecord("k", s"early-$i".getBytes(UTF_8), None))
    val qn = freshName("out")
    val q = readStreamDf(name)
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    val deadline = System.currentTimeMillis() + 10000
    while (spark.table(qn).count() < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    // live append — the poll loop (reference: 5 s fixed-rate tick,
    // ShardSubscription.java:92-101) must pick these up in later
    // micro-batches without a restart
    (3 until 6).foreach(i => svc.putRecord("k", s"late-$i".getBytes(UTF_8), None))
    while (spark.table(qn).count() < 6 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    val got = spark.table(qn).select(col("data").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(got.size == 6, s"got $got")
    assert(got.sorted == Seq("early-0", "early-1", "early-2", "late-3", "late-4", "late-5"))
  }
}

/** The local file system under the `flakyopen` scheme; while
  * `failNextStartOpen` is set, the next `open` of a
  * `shardstream-start.json` fails with an I/O error. */
class FlakyOpenFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flakyopen:///")
  override def getScheme: String = "flakyopen"
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
    if (f.getName == "shardstream-start.json" &&
        FlakyOpenFileSystem.failNextStartOpen.getAndSet(false))
      throw new java.io.IOException(s"injected open failure: $f")
    else super.open(f, bufferSize)
}

object FlakyOpenFileSystem {
  val failNextStartOpen = new java.util.concurrent.atomic.AtomicBoolean(false)
}
