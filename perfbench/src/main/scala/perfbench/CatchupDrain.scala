package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.shard.{ShardServiceRegistry, ShardStream}

/** A consumer restarting behind a deep backlog: two batch writes through
  * the `shardstream` sink into 256 shards with 32 splits between them,
  * then a `Trigger.AvailableNow` drain from `trim_horizon` whose only
  * work is a per-epoch, per-shard checksum aggregate. */
object CatchupDrain extends Workload {
  val name = "catchup_drain"
  val cores = 4
  val Shards = 256
  val Splits = 32
  val Keys = 100000
  val MaxRecordsPerBatch = 250000
  val RecordsPerRound = 150000
  val MinRounds = 2

  /** Deterministic input for `seed`: uniform keys, 64-512 byte payloads. */
  def input(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      concat(lit("k"), pmod(xxhash64(col("id"), lit(seed)), lit(Keys.toLong)).cast("string"))
        .as("partitionKey"),
      expr(s"substring(unhex(repeat(sha2(concat(cast(id as string), '/$seed'), 256), 16)), " +
        s"1, 64 + cast(pmod(xxhash64(id, ${seed + 1}L), 449L) as int))").as("data"))

  /** Order-independent checksum term of one record. */
  val checksumTerm = pmod(xxhash64(col("partitionKey"), col("data")), lit(4294967296L))

  private var cached: DataFrame = _
  private var cachedChecksum = 0L

  def setUp(spark: SparkSession, args: Args): Unit = {
    cached = input(spark, args.seed, RecordsPerRound).cache()
    cachedChecksum = cached.agg(sum(checksumTerm)).head().getLong(0)
    // warm-up: one small round through the same write and drain path
    val log = ProgressLog.attach(spark)
    round(spark, cached.limit(RecordsPerRound / 15), "warmup", args.seed, "shardstream",
      Probe.Off, log, checksum = None)
    spark.streams.removeListener(log)
    ShardServiceRegistry.drop("drain_warmup")
  }

  final case class RoundResult(records: Long, produceS: Double, drainS: Double,
                               catchupMs: Seq[(Double, Long)], failed: Long)

  /** Per-shard aggregate of one drained epoch. */
  final case class ShardEpoch(batchId: Long, shard: String, rows: Long,
                              minSeq: Long, maxSeq: Long, checksum: Long)

  def round(spark: SparkSession, df: DataFrame, tag: String, seed: Long, fmt: String,
            probe: Probe, log: ProgressLog, checksum: Option[Long]): RoundResult = {
    val name = s"drain_$tag"
    val svc = ShardServiceRegistry.create(name, Shards)
    def write(part: DataFrame): Double = {
      val t0 = System.nanoTime()
      part.write.format(fmt).option("stream", name).option("orderBy", "id").mode("append").save()
      (System.nanoTime() - t0) / 1e9
    }
    val n = df.count()
    probe.phaseStart(s"produce_$tag")
    val w1 = write(df.filter(col("id") % 2 === 0))
    new Random(seed).shuffle(svc.shardIds).take(Splits).foreach(svc.splitShard)
    val w2 = write(df.filter(col("id") % 2 === 1))
    probe.phaseEnd()
    probe.streamDone(name)

    probe.phaseStart(s"drain_$tag")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[ShardEpoch]()
    val t0 = System.nanoTime()
    val startWallMs = System.currentTimeMillis() + (t0 - System.nanoTime()) / 1e6
    val q = spark.readStream.format(fmt)
      .option("stream", name)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", MaxRecordsPerBatch.toString)
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Paths.freshDir(s"ckpt_$name").getPath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.groupBy(col("shardId")).agg(count(lit(1)),
            min(col("sequenceNumber").cast("long")), max(col("sequenceNumber").cast("long")),
            sum(checksumTerm))
          .collect().foreach { r: Row =>
            got.add(ShardEpoch(id, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4)))
          }
      }
      .start()
    if (!q.awaitTermination(120000)) { q.stop(); throw new IllegalStateException(s"$name drain timed out") }
    val drainS = (System.nanoTime() - t0) / 1e9
    probe.phaseEnd()
    val epochs = got.asScala.toSeq
    log.awaitRows(q, n)
    val catchup = log.epochs(q.id).map(e => (e.endMs - startWallMs) -> e.rows)
    RoundResult(n, w1 + w2, drainS, catchup, failures(svc, epochs, n, checksum))
  }

  /** Records lost or duplicated, drained out of shard order, emitted by
    * a child before its parent's last record, or failing the checksum. */
  def failures(svc: ShardStream, epochs: Seq[ShardEpoch], n: Long,
               checksum: Option[Long]): Long = {
    var bad = 0L
    val byShard = epochs.groupBy(_.shard)
    val firstEpoch = mutable.Map.empty[String, Long]
    val lastEpoch = mutable.Map.empty[String, Long]
    svc.shardIds.foreach { sh =>
      val seqs = svc.getRecords(sh, 0, svc.size(sh).toInt).map(_.seq).toArray
      val got = byShard.getOrElse(sh, Seq.empty).sortBy(_.batchId)
      bad += math.abs(seqs.length - got.map(_.rows).sum)
      var prevMax = Long.MinValue
      got.foreach { e =>
        // the epoch must cover exactly the records between its bounds,
        // after everything an earlier epoch read from the shard
        val lo = java.util.Arrays.binarySearch(seqs, e.minSeq)
        val hi = java.util.Arrays.binarySearch(seqs, e.maxSeq)
        if (lo < 0 || hi < 0 || hi - lo + 1 != e.rows || e.minSeq <= prevMax) bad += e.rows
        prevMax = e.maxSeq
      }
      if (got.nonEmpty) { firstEpoch(sh) = got.head.batchId; lastEpoch(sh) = got.last.batchId }
    }
    svc.shardIds.foreach { child =>
      svc.parentsOf(child).foreach { parent =>
        for (c <- firstEpoch.get(child); p <- lastEpoch.get(parent) if c <= p)
          bad += byShard(child).filter(_.batchId <= p).map(_.rows).sum
      }
    }
    val total = epochs.map(_.rows).sum
    if (total != n) bad += math.abs(n - total)
    if (checksum.exists(_ != epochs.map(_.checksum).sum)) bad = math.max(bad, n)
    bad
  }

  def measure(spark: SparkSession, args: Args, probe: Probe): Outcome = {
    val log = ProgressLog.attach(spark)
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[RoundResult]
    // at least two rounds, more while another one fits in the budget
    while (rounds.size < MinRounds ||
        (System.nanoTime() - t0) / rounds.size * (rounds.size + 1) <= args.seconds * 1e9) {
      val tag = s"r${rounds.size}"
      rounds += round(spark, cached, tag, args.seed + rounds.size, probe.shardFormat, probe, log,
        Some(cachedChecksum))
      val r = rounds.last
      System.err.println(f"[perfbench] round $tag: produce ${r.produceS}%.3f s, drain ${r.drainS}%.3f s")
      if (rounds.size > 1) ShardServiceRegistry.drop(s"drain_r${rounds.size - 2}")
    }
    // the best round, as graft.Bench takes the fastest pass: interference
    // from the rest of the host only ever slows a round down
    Outcome(
      attempted = rounds.map(_.records).sum,
      failed = rounds.map(_.failed).sum,
      rate = rounds.map(r => r.records / r.drainS).max,
      latencyMs = rounds.map(r => Stats.weightedQuantile(r.catchupMs, 0.5)).min,
      latencyP99Ms = rounds.map(r => Stats.weightedQuantile(r.catchupMs, 0.99)).min,
      extra = Map("workload.produce_rps" -> rounds.map(r => r.records / r.produceS).max))
  }
}
