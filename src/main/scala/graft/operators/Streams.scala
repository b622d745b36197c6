package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.{QueryPack, Tables => T}
import graft.sources.shard.{ShardServiceRegistry, ShardSink}

/** Declared queries exercising the `shardstream` source/sink end-to-end
  * (SURVEY §2 S1–S16, §7.2). Each seeds the in-memory shard service
  * deterministically from the `events` parquet table, replays it
  * through the DSv2 source, and is verified against a DuckDB oracle on
  * the same parquet — so the whole source → decode → analytics path is
  * under the hash-match gate.
  *
  * The driver-side seeding loop is the TEST HARNESS half (the
  * reference seeds its fixture the same way,
  * `ShardPublisherVerification.scala:40-52`) — the operator path
  * (source read, decode, aggregate) is fully distributed; nothing in
  * the query plans collects to the driver.
  */
/** Per-user activity span via the transformWithState ValueState API
  * (s12). Top-level class — a closure-captured inner class would drag
  * the enclosing non-serializable query context into the processor's
  * serialized form. State is one (n, min_ts, max_ts) triple per user:
  * bounded, TTL-evictable at 100 TB key cardinalities. */
private[operators] class SpanProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
  @transient private var span: ValueState[(Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    span = getHandle.getValueState[(Long, Long, Long)]("span",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var (n, lo, hi) =
      if (span.exists()) span.get() else (0L, Long.MaxValue, Long.MinValue)
    rows.foreach { case (_, ts) =>
      n += 1
      if (ts < lo) lo = ts
      if (ts > hi) hi = ts
    }
    span.update((n, lo, hi))
    Iterator.single((key, n, lo, hi))
  }
}

/** Streaming CEP funnel (s36): per-user view → click-after-view →
  * purchase-after-click, the q81 state machine run as typed state.
  * State is exactly THREE longs per user (−1 = unreached) — the whole
  * point vs buffering events: bounded regardless of how many events a
  * user produces, TTL-evictable at 100 TB key cardinalities. The fold
  * is correct because per-user arrival order is event-time order
  * (partitionKey = user_id pins a user to one shard; the seed appends
  * in event_id order, which the fixture guarantees is ts order; the
  * source replays per-shard in sequence order across batches) — the
  * per-BATCH iterator, however, arrives in shuffle order, so rows are
  * sorted by (ts, event_id) inside the handler (bounded by the user's
  * rows in one micro-batch) — event_id, not the constant group key,
  * breaks equal-ts ties so the fold order is fully deterministic.
  * Registers only advance (a set register never moves),
  * so update-mode emissions are monotone in stage and max-by-stage
  * over the emission log is the final machine state — q81's oracle
  * gates it verbatim. */
private[operators] class FunnelProcessor
    extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Long, Long, Long, Long)] {
  @transient private var reg: ValueState[(Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    reg = getHandle.getValueState[(Long, Long, Long)]("funnel",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
    var (fv, fc, fp) = if (reg.exists()) reg.get() else (-1L, -1L, -1L)
    rows.toArray.sortBy(r => (r._3, r._2)).foreach { case (_, _, ts, et) =>
      et match {
        case "view" if fv < 0 => fv = ts
        case "click" if fc < 0 && fv >= 0 && ts > fv => fc = ts
        case "purchase" if fp < 0 && fc >= 0 && ts > fc => fp = ts
        case _ => ()
      }
    }
    reg.update((fv, fc, fp))
    val stage = if (fp >= 0) 3L else if (fc >= 0) 2L else if (fv >= 0) 1L else 0L
    Iterator.single((key, fv, fc, fp, stage))
  }
}

/** Hand-rolled tumbling-hour count via EVENT-TIME TIMERS (s27): key =
  * (user, hour bucket); the first row registers a timer at the hour's
  * end, and the count is emitted ONLY from [[handleExpiredTimer]] when
  * the watermark passes it — re-deriving the engine's own append-mode
  * window-closure semantics from the raw timer API (the s24 closure
  * predicate is the oracle for both). Top-level class for the same
  * serialization reason as [[SpanProcessor]]. State per key is one
  * long; expired timers and cleared state make it watermark-evictable
  * exactly like the built-in operator's. */
private[operators] class HourWindowTimerProcessor
    extends StatefulProcessor[(Long, Long), (Long, Long), (Long, Long, Long)] {
  @transient private var n: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: (Long, Long), rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val cur =
      if (n.exists()) n.get()
      else {
        // hour end in epoch MILLIS — the timer clock's unit
        getHandle.registerTimer((key._2 + 1L) * 3600000L)
        0L
      }
    n.update(cur + rows.size)
    Iterator.empty
  }
  override def handleExpiredTimer(key: (Long, Long),
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val cnt = if (n.exists()) n.get() else 0L
    n.clear()
    Iterator.single((key._1, key._2 * 3600000000L, cnt))
  }
}

object Streams extends QueryPack {

  private val sinkCounter = new AtomicInteger(0)

  // write-once guard for the s19 file-source fixture dirs
  private val jsonDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Stable per-dir stream suffix so sf0.001/sf0.01/sf0.1 coexist in
    * one JVM without cross-talk. */
  private def sfx(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Seed stream `name` at most once per JVM from the columns of `rows`:
    * (order key, partition key, payload), appended in order-key order,
    * `times` puts per row (times > 1 models at-least-once duplicate
    * delivery). The partition key pins a key to one shard, so per-shard
    * order is order-key order. The whole check-and-seed holds the
    * object lock: an unsynchronized exists() fast path would let a
    * concurrent caller observe the stream mid-seed and read a partial
    * fixture. Rows arrive as a local iterator, so driver memory stays
    * one-partition-bounded at any sf. Returns `name`. */
  private[operators] def fixture(name: String, numShards: Int, times: Int = 1)(
      rows: => DataFrame): String = synchronized {
    if (!ShardServiceRegistry.exists(name)) {
      val df = rows
      val stream = ShardServiceRegistry.create(name, numShards)
      df.orderBy(df.columns.head).toLocalIterator().forEachRemaining { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"fixture($name): null order or partition key: $r")
        val pk = r.get(1).toString
        val bytes = r.getString(2).getBytes(UTF_8)
        var i = 0
        while (i < times) {
          stream.putRecord(pk, bytes, None)
          i += 1
        }
      }
    }
    name
  }

  /** The events table as canonical JSON (to_json handles string
    * escaping and null fields; hand-built concatenation would emit
    * invalid JSON for quotes/NaN and coerce NULL to 0), keyed by
    * user_id — the payload [[payloadSchema]] decodes. */
  private def eventsJson(s: SparkSession, d: String): DataFrame =
    T.events(s, d).select(col("event_id"), col("user_id"),
      to_json(struct(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))).as("json"))

  /** The 4-shard events fixture most event queries share. */
  private def eventsRt(s: SparkSession, d: String): String =
    fixture(s"events_rt_${sfx(d)}", 4)(eventsJson(s, d))

  /** Open `stream` from trim_horizon with `cap` records per micro-batch
    * and decode each record's JSON payload into `schema`'s columns. */
  private[operators] def jsonStream(s: SparkSession, stream: String, cap: Long,
                                    schema: StructType): DataFrame =
    s.readStream.format("shardstream")
      .option("stream", stream)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", cap.toString)
      .load()
      .select(from_json(col("data").cast("string"), schema).as("e"))
      .select("e.*")

  /** A fresh scratch directory `/tmp/graft_<tag>_<sfx>_<appId>`: cleared
    * before use, and keyed by applicationId so concurrent runs against
    * the same dataset never share one. */
  private def scratch(s: SparkSession, d: String, tag: String): String = {
    val root = s"/tmp/graft_${tag}_${sfx(d)}_" +
      s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val path = new org.apache.hadoop.fs.Path(root)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
    root
  }

  /** Writes one micro-batch's partials: `emit(name, df)`. */
  private[operators] type Emit = (String, DataFrame) => Unit

  /** The mergeable-monitor drain (the incremental aggregation model:
    * every micro-batch writes linear or semilattice partials, merged
    * after the drain). Runs `in` under Trigger.AvailableNow; each batch
    * is handed to `perBatch` with an [[Emit]] that writes partial
    * `name` to `<scratch>/<name>/b<batchId>` with overwrite, so an
    * at-least-once replay of a batch rewrites its own partial and the
    * union counts it once. Returns each partial's union over all
    * batches, read back with the schema it was written with (captured
    * on the driver at the first write). The merge and the fold stay
    * with the caller. `stream` names the input in the errors raised
    * when it yields no batch or a requested partial was never written. */
  private[operators] def monitor(s: SparkSession, d: String, tag: String,
      stream: String, in: DataFrame)(
      perBatch: (DataFrame, Emit) => Unit): Map[String, DataFrame] = {
    val root = scratch(s, d, tag)
    val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
    graft.streaming.StreamObservability.attach(s)
    in.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatch(batch, (name, df) => {
          schemas.putIfAbsent(name, df.schema)
          df.write.mode("overwrite").parquet(s"$root/$name/b$batchId")
        })
      }.start().awaitTermination()
    def missing(what: String): Nothing = throw new IllegalStateException(
      s"monitor '$tag': stream '$stream' $what")
    if (schemas.isEmpty) missing("yielded no micro-batch, so no partial was written")
    schemas.asScala.map { case (name, schema) =>
      name -> s.read.schema(schema).parquet(s"$root/$name/b*")
    }.toMap.withDefault(name => missing(s"wrote no partial '$name'"))
  }

  /** The events-day input of the experiment/series monitors (s44 SPRT,
    * s54 Haar, s55 Wilson, s56 runs, s57 OBF): one shared fixture and
    * the parsed (day STRING, p LONG) micro-batch stream, so no monitor
    * can drift from the batch oracle that gates it.
    *
    * Day is a CALENDAR date string (to_date), not a truncated
    * epoch-day long: the batch oracles use CAST(ts AS DATE), and
    * epoch-day `div` truncates toward zero (wrong bucket for pre-1970
    * ts) and only matches calendar days under UTC. */
  private def eventsDays(s: SparkSession, d: String): (String, DataFrame) = {
    val name = fixture(s"events_sprt_${sfx(d)}", 2) {
      T.events(s, d).select(col("event_id"), col("event_id").as("pk"),
        to_json(struct(to_date(col("ts")).cast("string").as("day"),
          (col("event_type") === "purchase").cast("long").as("p"))).as("json"))
    }
    val cap = math.max(10L, T.events(s, d).count() / 4)
    (name, jsonStream(s, name, cap, StructType(Seq(
      StructField("day", StringType), StructField("p", LongType)))))
  }

  /** The documents fixture of the text/media monitors (s52 LIX, s53
    * entropy, s60 scene cuts): one JSON record per doc carrying
    * (doc_id, source, text); consumers decode the fields they need. */
  private def docsLix(s: SparkSession, d: String): String =
    fixture(s"docs_lix_${sfx(d)}", 2) {
      T.documents(s, d).select(col("doc_id"), col("doc_id").as("pk"),
        to_json(struct(col("doc_id"), col("source"), col("text"))).as("json"))
    }

  /** The orders-profile input of the s48 (audit) and s59
    * (registers-only) profile monitors: the four profiled columns,
    * decoded from one shared fixture. */
  private def ordersProf(s: SparkSession, d: String): (String, DataFrame) = {
    val name = fixture(s"orders_prof_${sfx(d)}", 2) {
      T.orders(s, d).select(col("o_orderkey"), col("o_orderkey").as("pk"),
        to_json(struct(
          col("o_custkey").cast("long").as("ck"),
          col("o_orderstatus").as("st"),
          graft.functions.Exact.cents(col("o_totalprice")).as("pc"),
          unix_timestamp(col("o_orderdate")).as("ep"))).as("json"))
    }
    val cap = math.max(50L, T.orders(s, d).count() / 4)
    (name, jsonStream(s, name, cap, StructType(Seq(
      StructField("ck", LongType), StructField("st", StringType),
      StructField("pc", LongType), StructField("ep", LongType)))))
  }

  /** A profile batch's one-row stats partial: row count and per-column
    * null count, min and max. */
  private def profileStats(batch: DataFrame): DataFrame = batch.agg(
    count(lit(1)).cast("long").as("n_rows"),
    sum(col("ck").isNull.cast("long")).cast("long").as("ck_nulls"),
    min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
    sum(col("st").isNull.cast("long")).cast("long").as("st_nulls"),
    min(col("st")).as("st_min"), max(col("st")).as("st_max"),
    sum(col("pc").isNull.cast("long")).cast("long").as("pc_nulls"),
    min(col("pc")).as("pc_min"), max(col("pc")).as("pc_max"),
    sum(col("ep").isNull.cast("long")).cast("long").as("ep_nulls"),
    min(col("ep")).as("ep_min"), max(col("ep")).as("ep_max"))

  /** A profile batch's non-null values as (col_name, val) strings. */
  private def profileValues(batch: DataFrame): DataFrame =
    batch.selectExpr(
      "stack(4, 'o_custkey', CAST(ck AS STRING)," +
        " 'o_orderstatus', st," +
        " 'o_totalprice_cents', CAST(pc AS STRING)," +
        " 'o_orderdate_epoch_s', CAST(ep AS STRING))" +
        " AS (col_name, val)")
      .filter(col("val").isNotNull)

  /** q214's per-column HLL register partial over (col_name, val). */
  private def profileRegisters(values: DataFrame): DataFrame =
    Sketches.hllRegisterRows(values.select(col("col_name"),
      graft.functions.PortableHash.h60(col("val")).as("h")), "col_name")

  /** The merged profile: stats partials summed/min/maxed into one row
    * per column (n_rows, col_name, n_nulls, min_s, max_s), joined to
    * the q214 estimate over the register-max of the HLL partials. */
  private def profileReport(st: DataFrame, hll: DataFrame): DataFrame = {
    val wide = st.agg(sum(col("n_rows")).cast("bigint").as("n_rows"),
      sum(col("ck_nulls")).cast("bigint").as("ck_nulls"),
      min(col("ck_min")).cast("string").as("ck_min"),
      max(col("ck_max")).cast("string").as("ck_max"),
      sum(col("st_nulls")).cast("bigint").as("st_nulls"),
      min(col("st_min")).as("st_min"), max(col("st_max")).as("st_max"),
      sum(col("pc_nulls")).cast("bigint").as("pc_nulls"),
      min(col("pc_min")).cast("string").as("pc_min"),
      max(col("pc_max")).cast("string").as("pc_max"),
      sum(col("ep_nulls")).cast("bigint").as("ep_nulls"),
      min(col("ep_min")).cast("string").as("ep_min"),
      max(col("ep_max")).cast("string").as("ep_max"))
    val est = Sketches.hllEstimate(
      hll.groupBy(col("col_name"), col("j")).agg(max(col("reg")).as("reg")),
      "col_name")
      .withColumnRenamed("est_hll", "ndv_hll")
    wide.selectExpr("n_rows",
      """stack(4,
        |  'o_custkey',           ck_nulls, ck_min, ck_max,
        |  'o_orderstatus',       st_nulls, st_min, st_max,
        |  'o_totalprice_cents',  pc_nulls, pc_min, pc_max,
        |  'o_orderdate_epoch_s', ep_nulls, ep_min, ep_max
        |) AS (col_name, n_nulls, min_s, max_s)""".stripMargin)
      .join(est, "col_name")
  }

  /** One JSON record per document — (doc_id, text) — keyed by doc_id,
    * over the documents `keep` selects. */
  private def docsText(s: SparkSession, d: String, keep: org.apache.spark.sql.Column): DataFrame =
    T.documents(s, d).filter(keep).select(col("doc_id"), col("doc_id").as("pk"),
      to_json(struct(col("doc_id"), col("text"))).as("json"))

  private val docTextSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val docsSourceSchema = StructType(Seq(
    StructField("source", StringType), StructField("text", StringType)))

  /** Run a streaming DataFrame through Trigger.AvailableNow into a
    * memory sink and return the materialized table (S9 completion).
    * Every declared query runs under the session's
    * [[graft.streaming.StreamObservability]] listener — rows/batch,
    * state size, and watermark lag are exported per micro-batch (the
    * ops counterpart of the reference's SLF4J per-event logging). */
  private def drain(s: SparkSession, df: DataFrame,
                    outputMode: String = "append"): DataFrame = {
    graft.streaming.StreamObservability.attach(s)
    // memory-sink tables pin their rows in driver heap for the JVM
    // lifetime — drop earlier runs' views (their consumers have
    // already written results by the time another stream query runs)
    val prev = sinkCounter.get()
    (1 to prev).foreach(i => s.catalog.dropTempView(s"shardstream_out_$i"))
    val qn = s"shardstream_out_${sinkCounter.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(qn)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(qn)
  }

  /** s26's checkpoint, built at most once per (session, dir) — the
    * memoized-substrate pattern (Tables.memo) with the object lock
    * instead, because the build is SIDE-EFFECTING (a full stream
    * drain) and memo's benign-race contract only covers lazy plan
    * construction. The checkpoint dir is keyed by applicationId, so
    * sessions never share one; entries for stopped sessions are dead
    * weight but bounded by sessions-per-JVM (single digits in every
    * harness). */
  private val s26Ckpts =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private def s26Checkpoint(s: SparkSession, d: String): String = synchronized {
    val k = (s, d)
    val cur = s26Ckpts.get(k)
    if (cur != null) cur
    else {
      val ckpt = scratch(s, d, "ckpt_s26")
      val agg = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      s.catalog.dropTempView("shardstream_state_out")
      agg.writeStream.format("memory")
        .queryName("shardstream_state_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s26Ckpts.put(k, ckpt)
      ckpt
    }
  }

  /** Clicks ⋈ purchases by the same user within 10 minutes, both sides
    * replayed from the shared events fixture in one micro-batch and
    * watermarked 1 hour (s06, s15, s23). */
  private def clickPurchase(s: SparkSession, d: String, joinType: String): DataFrame = {
    val name = eventsRt(s, d)
    def side(et: String, pfx: String): DataFrame =
      jsonStream(s, name, 10000000L, payloadSchema)
        .filter(col("event_type") === et)
        .select(col("user_id").as(s"${pfx}_user"),
          timestamp_micros(col("ts_us")).as(s"${pfx}_ts"),
          col("event_id").as(s"${pfx}_eid"))
        .withWatermark(s"${pfx}_ts", "1 hour")
    side("click", "c").join(side("purchase", "p"),
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"),
      joinType)
  }

  /** Shuffle-partition count scoped to the declared streaming class.
    * The measured s00 floor is per-PARTITION state
    * admin — 32 shuffle partitions × HDFSBackedStateStore open+commit
    * × epochs — so at fixture scale most of it is empty-partition
    * overhead. Measured on s00 (sf0.01, warmed, 3 reps each):
    * 32 → 1.8 s, 16 → 1.14 s, 8 → 0.92 s, 4 → 0.88 s, 2 → 0.97 s —
    * the knee is 8 (below it, epoch scheduling ~0.9 s dominates and
    * state admin is already <0.2 s). 8 partitions ≈ ≤6k rows each at
    * the fixtures' ≤50k-row micro-batches. 100 TB NOTE: this is the
    * harness sizing for test-scale micro-batches, and the dial points
    * the OTHER way at volume — real deployments size shuffle
    * partitions UP with key cardinality and batch bytes (state stores
    * shard by partition; too few means multi-GB stores and straggler
    * commits). The point demonstrated here is that the count is a
    * per-query dial scoped to the stream, not a cluster constant.
    * Correctness is partition-count-independent BY CONSTRUCTION — the
    * monitors merge exact linear/semilattice partials gated by their
    * batch twins' oracles, re-verified at three sfs under this scope
    * (DeterminismSpec's shape sweep covers the BATCH surface only).
    * NOT reentrant: the set/restore assumes the harness's sequential
    * execution (Verify/Bench/specs all run queries one at a time on
    * the session); concurrent streams on one session would race the
    * session-global conf. */
  private val streamShufflePartitions = 8

  /** Scope `spark.sql.shuffle.partitions` to a streaming query's
    * synchronous run (start → awaitTermination happens inside `body`);
    * the post-drain batch folds execute lazily AFTER the restore, so
    * they keep the session's batch sizing. */
  private def withStreamShuffle(s: SparkSession)(body: => DataFrame): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamShufflePartitions)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (n, fn) =>
      n -> ((s: SparkSession, d: String) => withStreamShuffle(s)(fn(s, d)))
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- s00: null-stream epoch-floor baseline -----------------------
    // The streaming class's bench lines carry a per-stream FIXED cost
    // that swings widely on unchanged code. s00 measures that floor
    // directly: a fixed 8-row fixture (sf-INDEPENDENT — the
    // payload never reads the tables) through the full declared-query
    // protocol — shardstream source, multiple epochs
    // (maxRecordsPerBatch=4), a checkpointed STATEFUL aggregation (one
    // state-store commit per epoch), memory sink, AvailableNow drain.
    // Its bench line is pure fixture overhead; any sNN line minus s00
    // is that stream's data-dependent cost, and Bench reports the
    // streaming class (n_stream/stream_total/floor) as its own line
    // item so a real streaming regression is visible AGAINST the
    // floor instead of buried in a mixed median.
    "s00_stream_epoch_floor" -> ((s, d) => {
      import s.implicits._
      // 8 records, 2 per key k0..k3
      val name = fixture(s"floor_${sfx(d)}", 2) {
        s.range(8).select(col("id"), concat(lit("k"), col("id") % 4).as("k"))
          .select(col("id"), col("k"), to_json(struct(col("k"))).as("json"))
      }
      // memory sink cannot resume a checkpoint (s26's rule) — fresh dir
      val ckpt = scratch(s, d, "ckpt_s00")
      val counts = jsonStream(s, name, 4L,
          StructType(Seq(StructField("k", StringType))))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      graft.streaming.StreamObservability.attach(s)
      s.catalog.dropTempView("s00_floor_out")
      counts.writeStream.format("memory").queryName("s00_floor_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table("s00_floor_out").select($"k", $"n".cast("bigint").as("n"))
    }),

    // S1+S3+S4+S7+S16: multi-shard replay, JSON decode, full round-trip.
    "s01_stream_roundtrip" -> ((s, d) => {
      drain(s, jsonStream(s, eventsRt(s, d), 50000L, payloadSchema))
    }),

    // S8+S9+S14: finite take-N with UTF-8 decode — the reference's own
    // demo dataflow `take(3).map(new String(data))`
    // (ShardProducerSpec.scala:40-44), N=5 here.
    "s02_stream_take_n" -> ((s, d) => {
      // the reference TCK's shape: one shard, constant partition key,
      // payload = event_type bytes (ShardPublisherVerification.scala:42-52)
      val name = fixture(s"events_1shard_${sfx(d)}", 1) {
        T.events(s, d).select(col("event_id"), lit("partitionKey"), col("event_type"))
      }
      val raw = s.readStream.format("shardstream")
        .option("stream", name)
        .option("startingPosition", "trim_horizon")
        .option("maxElements", "5")
        .load()
      drain(s, raw.select(
        col("sequenceNumber").cast("bigint").as("seq"),
        col("data").cast("string").as("event_type")))
    }),

    // Streaming/batch parity: the full event-time pipeline — replay
    // through the source, watermark, tumbling window, APPEND-mode
    // emission — must equal the batch predicate "windows closed by the
    // final watermark". The oracle states that predicate directly.
    "s04_stream_windowed" -> ((s, d) => {
      val agg = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("start_s"),
          col("event_type"), col("n"))
      drain(s, agg)
    }),

    // S15 + batch-read path: ordered producer round-trip. Writes all
    // purchase events through the ordered sink (per-key chained puts),
    // reads them back through the batch scan, and checks per-key order
    // end-to-end: first/last by sequence number must equal first/last
    // by event_id.
    "s03_sink_roundtrip" -> ((s, d) => {
      val name = s"events_sink_${sfx(d)}"
      // fresh stream every run — a second put pass must not double data
      ShardServiceRegistry.drop(name)
      ShardServiceRegistry.create(name, 8)
      val purchases = T.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("event_id").cast("string").as("payload"))
      ShardSink.putOrdered(purchases, name, keyCol = "user_id",
        payloadCol = "payload", orderCols = Seq("event_id"))
      val back = s.read.format("shardstream").option("stream", name).load()
      back.select(col("partitionKey").as("partition_key"),
          col("sequenceNumber"),
          col("data").cast("string").cast("bigint").as("eid"))
        .groupBy("partition_key")
        .agg(count(lit(1)).as("n"),
          min_by(col("eid"), col("sequenceNumber")).as("first_eid"),
          max_by(col("eid"), col("sequenceNumber")).as("last_eid"))
    }),

    // Chained stateful operators (Spark 4 multiple-stateful-operator
    // support): a 1-hour tumbling windowed count feeds a SECOND
    // event-time aggregation — 4-hour buckets of the hourly series
    // (hours present, peak hourly count, total) — inside ONE streaming
    // query, `window(col("window"), "4 hours")` re-windowing the first
    // agg's window struct. Append-mode semantics compose: an hourly
    // window flows downstream when the watermark passes its end; a
    // 4-hour bucket is emitted when the watermark passes the BUCKET
    // end — so the batch oracle is the hourly rollup restricted to
    // buckets whose end precedes the final watermark (bucket end
    // subsumes the member hours' ends). At scale this is the streaming
    // two-level rollup (minute→hour, hour→day) that otherwise needs a
    // second query reading back the first sink — one shuffle per
    // level, state bounded by open windows per level.
    "s22_chained_windows" -> ((s, d) => {
      val hourly = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val buckets = hourly
        .groupBy(window(col("window"), "4 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_hours"), max(col("n")).as("max_hourly"),
          sum(col("n")).as("total"))
        .select(unix_timestamp(col("window.start")).as("bucket_s"),
          col("event_type"), col("n_hours"), col("max_hourly"), col("total"))
      drain(s, buckets)
    }),

    // Second multi-stateful chaining shape: a stream-stream interval
    // JOIN (s06's click→purchase attribution, purchase within 10 min
    // of the click) feeding an event-time windowed aggregation —
    // hourly conversion counts — in ONE streaming query. The join
    // emits matches as they resolve; the downstream agg windows on
    // the purchase time, whose propagated watermark is the global
    // min over both sides (p_ts ≥ c_ts bounds output purchase times
    // from below by the click watermark), so an hourly window is
    // final once the global watermark passes its end. At scale this
    // fuses the attribution join and its rollup into one pipeline —
    // join state keyed by user, agg state bounded by open hours —
    // instead of landing the join to storage and re-aggregating.
    "s23_join_then_window" -> ((s, d) => {
      val joined = clickPurchase(s, d, "inner")
      // distinct aggregates are unsupported in streaming, and a
      // collect_set surrogate accumulates an UNBOUNDED per-window agg
      // buffer (the r11 verdict's s23 hazard). Instead: chained
      // streaming aggregations (s22's multi-stateful shape) — a
      // (window, user) pre-agg whose state rows are O(1) each and
      // watermark-evictable, re-windowed into the hourly rollup where
      // n_users = count of pre-agg groups. Both levels close at the
      // same watermark (same window end), so append-mode emission and
      // the batch oracle's closure predicate are unchanged.
      val perUser = joined
        .groupBy(window(col("p_ts"), "1 hour"), col("p_user"))
        .agg(count(lit(1)).as("user_convs"))
      val hourly = perUser
        .groupBy(window(col("window"), "1 hour"))
        .agg(sum(col("user_convs")).cast("long").as("n_conversions"),
          count(lit(1)).cast("long").as("n_users"))
        .select(unix_timestamp(col("window.start")).as("start_s"),
          col("n_conversions"), col("n_users"))
      drain(s, hourly)
    }),

    // ---- state-store READER: operational state introspection --------
    // Spark 4's `statestore` batch data source reads a streaming
    // checkpoint's LIVE STATE as a DataFrame — the ops surface for
    // debugging stateful pipelines at scale: what is still buffered,
    // per store partition, without replaying the stream (at 100 TB
    // the checkpoint is the only place this answer exists). After an
    // append-mode AvailableNow drain of the s04-shaped hourly
    // aggregation, the store holds EXACTLY the still-open windows —
    // emission and eviction commit together once the watermark passes
    // a window's end — so the declared result is the COMPLEMENT of
    // s04's closure predicate and the oracle states it directly on
    // the batch table (windows whose end is PAST the final
    // watermark). The checkpoint is built ONCE per (session, dir): at
    // 100 TB the checkpoint PRE-EXISTS (it is the
    // artifact of the production query being debugged); re-draining
    // the stream per introspection call measured the drain, not the
    // read. The drained trajectory is deterministic, so the memoized
    // checkpoint holds the same state as a fresh one — and the bench
    // now times what the operator IS: a batch scan of checkpoint
    // state, no stream replay.
    "s26_state_reader" -> ((s, d) => {
      val ckpt = s26Checkpoint(s, d)
      s.read.format("statestore").option("path", ckpt).load()
        .select(unix_timestamp(col("key.window.start")).as("start_s"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"))
    }),

    // ---- S4 PROVEN END-TO-END: exactly-once across a restart --------
    // The claim the whole checkpointed-offset design exists for: the
    // reference keeps its cursor IN MEMORY
    // (`ShardSubscription.java:39`) — a consumer crash silently
    // re-delivers or loses records. This engine's upgrade (S4: durable
    // checkpointed offsets + the file sink's transactional metadata
    // log) is spec-tested for offset persistence, but only an
    // oracle-gated query proves END-TO-END exactly-once: run the s04
    // aggregation to a DURABLE parquet sink with a checkpoint, STOP
    // the query mid-stream (a take-N bounded first run commits offsets
    // roughly halfway — the deterministic stand-in for a crash;
    // in-flight task failure is separately spec-tested in
    // ShardStreamSpec), then RESTART from the same checkpoint with the
    // bound lifted and drain to the end. The declared table is the
    // sink read back through its _spark_metadata transaction log. The
    // oracle is s04's — the whole-fixture batch answer — so a restart
    // that re-read records (duplicated counts), lost offsets (missing
    // counts), or re-emitted already-closed windows fails the hash
    // gate. Scale shape: both runs are the s04 pipeline (one shuffle
    // per micro-batch, state = open windows); the restart itself costs
    // one offset-log read, independent of data size.
    //
    // The fixture is SINGLE-shard deliberately: maxElements allocates
    // its budget in shardId order (S8's semantics), so on the 4-shard
    // fixture a take-half run drains shard 0 across the WHOLE time
    // range — the watermark races to the end and the other shards'
    // records return in run 2 as late data (measured: −20% of counts).
    // One shard makes the cut a cut in TIME (per-shard order is
    // event_id order), so the stop boundary adds no disorder beyond
    // the fixture's own ≤10 min — the same bound s04's delay covers.
    // Parallel multi-shard admission is s01–s05/s17's subject; this
    // query's subject is the restart boundary.
    "s28_crash_recovery" -> ((s, d) => {
      val name = fixture(s"events_1shard_json_${sfx(d)}", 1)(eventsJson(s, d))
      val ckpt = scratch(s, d, "ckpt_s28")
      val out = scratch(s, d, "out_s28")
      // loop-control scalars: where "mid-stream" sits, and a per-batch
      // cap derived from the fixture so the epoch count stays bounded
      // at every sf (the s10 rule) — run 1 is ~2 micro-batches
      val total = T.events(s, d).count()
      val half = math.max(1L, total / 2)
      def run(maxElements: Long): Unit = {
        val agg = s.readStream.format("shardstream")
          .option("stream", name)
          .option("startingPosition", "trim_horizon")
          .option("maxRecordsPerBatch", math.max(1L, half / 2).toString)
          .option("maxElements", maxElements.toString)
          .load()
          .select(from_json(col("data").cast("string"), payloadSchema).as("e"))
          .select(timestamp_micros(col("e.ts_us")).as("ts"),
            col("e.event_type"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("window.start")).as("start_s"),
            col("event_type"), col("n"))
        agg.writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
      run(half) // stop mid-stream: offsets committed roughly halfway
      run(-1L)  // restart from the SAME checkpoint; drain to the end
      s.read.parquet(out)
    }),

    // The q187 watermark audit ACTED ON (the acceptance-loop rule —
    // q163/q175's index tuning, here for stream lateness): the
    // watermark delay is not hand-picked but chosen BY the measured
    // arrival-lateness table — the smallest candidate delay with ZERO
    // measured late arrivals (fallback: the largest candidate). Zero
    // measured lateness against the per-arrival prefix max implies
    // zero streaming drops under ANY epoch boundaries (the epoch
    // watermark lags the prefix max), so the append-mode output
    // equals the batch predicate "windows closed by the final
    // watermark" AT THE CHOSEN DELAY — which is what the oracle
    // states, replaying the same choice formula. The choice is a
    // 4-row collect (q191's loop-control scalar pattern).
    "s24_tuned_watermark" -> ((s, d) => {
      val zeroLoss = Events.watermarkLateness(s, d)
        .filter(col("n_dropped") === 0)
        .agg(min(col("delay_us"))).head()
      val delayUs =
        if (zeroLoss.isNullAt(0)) 3600000000L else zeroLoss.getLong(0)
      val agg = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"))
        .withWatermark("ts", s"${delayUs / 1000000L} seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("start_s"),
          col("event_type"), col("n"),
          lit(delayUs).as("delay_us"))
      drain(s, agg)
    }),

    // EVENT-TIME TIMERS (the transformWithState registerTimer /
    // handleExpiredTimer lifecycle s12 doesn't touch): a hand-rolled
    // per-user tumbling-hour count that emits ONLY when the timer at
    // the hour's end fires — i.e. when the watermark passes it. The
    // final drained output must therefore equal the engine's own
    // append-mode closure rule (s24's oracle predicate, per user):
    // every (user, hour) whose end ≤ final watermark emits exactly
    // once — mid-stream or in the trailing no-data batch, the
    // accumulated set is the same — and still-open hours don't emit.
    // The s24-tuned zero-loss delay guarantees no event arrives after
    // its hour's timer fired (disorder ≤ delay), so the timer path is
    // deterministic and batch-replicable. State: one long + one timer
    // per open (user, hour) — watermark-evicted exactly like the
    // built-in operator's buffer.
    "s27_timer_windows" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val zeroLoss = Events.watermarkLateness(s, d)
        .filter(col("n_dropped") === 0)
        .agg(min(col("delay_us"))).head()
      val delayUs =
        if (zeroLoss.isNullAt(0)) 3600000000L else zeroLoss.getLong(0)
      val ev = jsonStream(s, name, 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"), col("ts_us"))
        .withWatermark("ts", s"${delayUs / 1000000L} seconds")
        .select(col("user_id"), col("ts_us"))
        .as[(Long, Long)]
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val counts = ev.groupByKey(t => (t._1, t._2 / 3600000000L))
          .transformWithState(new HourWindowTimerProcessor,
            TimeMode.EventTime(), OutputMode.Append(),
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
              Encoders.scalaLong))
          .toDF("user_id", "start_us", "n")
        drain(s, counts)
      } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    })) ++ extra

  private val extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full stream→stream pipe through the FIRST-CLASS DSv2 sink:
    // source replay → parse → re-key by event_type →
    // writeStream.format("shardstream") (the engine plans the
    // clustering + sort the sink's RequiresDistributionAndOrdering
    // demands) → batch read-back. Single epoch so the per-key replay
    // order is globally event_id-sorted (multi-epoch budget allocation
    // interleaves shard ranges — per-key order would still hold per
    // epoch, but min/max-vs-seq would not be oracle-checkable).
    "s05_dsv2_sink_pipe" -> ((s, d) => {
      val dst = s"events_pipe_${sfx(d)}"
      ShardServiceRegistry.drop(dst)
      ShardServiceRegistry.create(dst, 4)
      val parsed = jsonStream(s, eventsRt(s, d), 10000000L, payloadSchema)
        .select(col("event_type").as("partitionKey"), col("event_id"),
          col("event_id").cast("string").cast("binary").as("data"))
      graft.streaming.StreamObservability.attach(s)
      parsed.writeStream.format("shardstream")
        .option("stream", dst)
        .option("orderBy", "event_id")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_pipe").toString)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.format("shardstream").option("stream", dst).load()
        .select(col("partitionKey").as("event_type"), col("sequenceNumber"),
          col("data").cast("string").cast("bigint").as("eid"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min_by(col("eid"), col("sequenceNumber")).as("first_eid"),
          max_by(col("eid"), col("sequenceNumber")).as("last_eid"))
    }),

    // Stream-stream interval join: clicks ⋈ purchases by the same user
    // within 10 minutes, both sides replayed through the source. Both
    // sides carry watermarks + the time-bound join condition, so join
    // state is evictable — the shape that holds at 100 TB (state is a
    // 10-minute window per user, not the whole history). Inner joins
    // emit eagerly on match, so append-mode output equals the batch
    // join — the oracle states that batch predicate.
    "s06_stream_stream_join" -> ((s, d) => {
      drain(s, clickPurchase(s, d, "inner").select(col("c_eid"), col("p_eid")))
    }),

    // Stream-stream LEFT OUTER join: matches emit immediately; an
    // unmatched click emits (with null purchase) only once the global
    // watermark proves no matching purchase can still arrive — i.e.
    // its 10-minute join window closed below the FINAL watermark
    // (min over both sides' max ts, minus the 1 h delay; the
    // AvailableNow no-data flush batch performs the final eviction).
    // The oracle replicates exactly that cutoff: batch left join,
    // minus unmatched rows whose window was still open at the end —
    // the same watermark-closure reasoning as s04's HAVING clause.
    "s15_stream_outer_join" -> ((s, d) => {
      drain(s, clickPurchase(s, d, "left_outer").select(col("c_eid"), col("p_eid")))
    }),

    // Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark)
    // — the 100-TB-sane counterpart to s07: s07's plain dropDuplicates
    // keeps every key seen forever (state grows with the stream);
    // within-watermark dedup evicts keys once the watermark passes
    // them, so state is bounded by the delay window. The at-least-once
    // fixture delivers every record twice back-to-back, so duplicates
    // always land within the window and the drained output equals the
    // batch DISTINCT regardless of where epoch boundaries fall.
    "s14_stream_dedup_watermarked" -> ((s, d) => {
      val name = fixture(s"events_dupw_${sfx(d)}", 4, times = 2)(eventsJson(s, d))
      drain(s, jsonStream(s, name, 10000000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"),
          col("event_id"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")))
    }),

    // Streaming ingest dedup against a STATIC history index — the
    // incremental-ingest counterpart of q74: the stream carries
    // candidate documents, the static side is the fingerprint index of
    // everything already ingested (here: the first half of the corpus
    // by doc_id — the cutoff is computed as count/2, not a literal, so
    // the semantics hold at any sf), and a stream-static LEFT ANTI join
    // on the content
    // fingerprint admits only never-seen content. Per micro-batch the
    // static side is a hash-relation build — at 100 TB the history
    // index is a bucketed fingerprint table (q55's layout) probed
    // behind a Bloom pre-filter (q119's), both of which this engine
    // already materializes; the join key is the 32-hex md5, never the
    // text. In-stream duplicates are NOT collapsed here (arrival order
    // across shards is nondeterministic; admission is content-keyed
    // only), so the oracle is a pure NOT IN over the same index.
    "s20_stream_dedup_static" -> ((s, d) => {
      val name = fixture(s"docs_ingest_${sfx(d)}", 4) {
        T.documents(s, d).select(col("doc_id"), col("doc_id").as("pk"),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"),
            md5(col("text")).as("fp"))).as("json"))
      }
      val candidates = jsonStream(s, name, 10000000L, StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType), StructField("fp", StringType))))
      // count() is one cheap metadata-only action (parquet row-count);
      // both engines apply the same doc_id < N/2 predicate
      val histCut = T.documents(s, d).count() / 2
      val history = T.documents(s, d)
        .filter(col("doc_id") < histCut)
        .select(md5(col("text")).as("fp")).distinct()
      val admitted = candidates.join(history, Seq("fp"), "left_anti")
      drain(s, admitted
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"),
          sum(col("n_chars")).as("new_chars"),
          min(col("doc_id")).as("first_doc")),
        outputMode = "complete")
    }),

    // AT_TIMESTAMP start ACROSS a shard split — the interaction of
    // s17's resharding lifecycle and s18's time-based start that
    // neither exercises alone: the fixture splits a shard one third of
    // the way through the (arrival-stamped) feed, and the query starts
    // at a stamp INSIDE the parent era — so iterator resolution must
    // return the at/after-stamp suffix of a SEALED parent plus
    // everything in its children, and the source's parent-before-child
    // draining must hold from a mid-parent position, not just
    // trim_horizon. The oracle is the equivalent batch time filter:
    // set-equality proves no record of the suffix is lost or
    // duplicated across the parent/child boundary.
    "s21_split_at_timestamp" -> ((s, d) => {
      val name = s"events_sts_${sfx(d)}"
      synchronized { // same mid-seed-visibility rule as fixture()
        if (!ShardServiceRegistry.exists(name)) {
          val src = T.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              to_json(struct(col("event_id"), unix_micros(col("ts")).as("ts_us"),
                col("event_type"))).as("json"))
            .orderBy(col("ts_us"), col("event_id"))
          // count first (cheap aggregate) so the split lands at the
          // 1/3 breakpoint while rows stream through a local iterator
          // (driver memory stays one-partition-bounded)
          val third = src.count() / 3
          val stream = ShardServiceRegistry.create(name, 2)
          var i = 0L
          src.toLocalIterator().forEachRemaining { r =>
            if (i == third) stream.splitShard(stream.shardIds.head)
            stream.putRecord(r.getLong(0).toString,
              r.getString(2).getBytes(UTF_8), None, arrivalTs = Some(r.getLong(1)))
            i += 1
          }
        }
      }
      // cutoff = the (n/6)-th smallest stamp — inside the parent era
      // (the split lands at n/3); both engines take max(ts) over the
      // first n/6 rows of the same (ts, event_id) total order
      val n = T.events(s, d).count()
      val cutoff = T.events(s, d)
        .select(unix_micros(col("ts")).as("t"), col("event_id"))
        .orderBy(col("t"), col("event_id"))
        .limit((n / 6).toInt)
        .agg(max(col("t"))).head().getLong(0)
      val tsSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("event_type", StringType)))
      val raw = s.readStream.format("shardstream")
        .option("stream", name)
        .option("startingPosition", s"at_timestamp:$cutoff")
        .option("maxRecordsPerBatch", "50000")
        .load()
      drain(s, raw
        .select(from_json(col("data").cast("string"), tsSchema).as("e"))
        .groupBy(col("e.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("e.event_id")).as("first_eid"),
          max(col("e.event_id")).as("last_eid")),
        outputMode = "complete")
    }),

    // Streaming dedup through the source: the fixture is seeded with
    // every event TWICE (at-least-once delivery); dropDuplicates on the
    // event key must emit each exactly once — the exactly-once-
    // downstream repair stage of an at-least-once ingest. Keyed state
    // is one entry per event_id; with a watermark (here: none needed,
    // single bounded replay) it becomes evictable at 100 TB.
    "s07_stream_dedup" -> ((s, d) => {
      // every record put twice
      val name = fixture(s"events_dup_${sfx(d)}", 4, times = 2) {
        T.events(s, d).select(col("event_id"), col("user_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("json"))
      }
      drain(s, jsonStream(s, name, 10000000L, StructType(Seq(
          StructField("event_id", LongType), StructField("event_type", StringType))))
        .dropDuplicates("event_id"))
    }),

    // Built-in FILE stream source (the landing-zone path): every other
    // s-query streams from the custom DSv2 source; real pipelines also
    // tail a directory that upstream jobs drop files into. The fixture
    // lays the events table down as JSON part files (money pre-encoded
    // as exact cents so the json round-trip is integer-exact); the
    // query tails it with maxFilesPerTrigger admission (the file
    // source's analog of S3's computed fetch limit) into a
    // complete-mode aggregate, so the multi-trigger accumulation must
    // converge to exactly the batch aggregate. Scale: file listing is
    // the known cost of this source at 100 TB (use fewer/larger files
    // or a manifest/notification feed); the aggregate itself shuffles
    // only event_type partials.
    "s19_stream_file_source" -> ((s, d) => {
      val dir = s"/tmp/graft_evjson_${sfx(d)}" +
        s"_${s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")}"
      synchronized {
        if (jsonDirs.add(dir))
          T.events(s, d)
            .select(col("event_id"), col("event_type"),
              graft.functions.Exact.cents(col("value")).as("value_c"))
            .repartition(8)
            .write.mode("overwrite").json(dir)
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value_c", LongType)))
      val files = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2") // 4 triggers over 8 files
        .json(dir)
      drain(s, files.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_c")).cast("bigint").as("value_c"),
          min(col("event_id")).as("min_eid"),
          max(col("event_id")).as("max_eid")),
        outputMode = "complete")
    }),

    // Complete-mode streaming aggregation: the running global aggregate
    // (no watermark — state is the aggregate itself, one row per
    // event_type) emitted in full each trigger; after the bounded
    // replay the final emission equals the batch aggregate. The third
    // output mode next to append (s01/s04/s06/s07) and the
    // foreachBatch/update shapes in the specs.
    "s08_stream_complete_agg" -> ((s, d) => {
      val agg = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 1024) AS BIGINT)")).as("sum_vq"))
      drain(s, agg, outputMode = "complete")
    }),

    // Arbitrary stateful processing as a DECLARED query (the specs
    // already exercise mapGroupsWithState/transformWithState
    // behaviorally): a custom running (count, quantized-sum) state per
    // user, updated across MULTIPLE micro-batches (batch cap = a
    // quarter of the fixture → ~4 epochs at EVERY scale factor; a
    // fixed cap would mean 50 epochs at sf0.1, each paying the full
    // per-trigger state-store commit), emitted in update mode. The
    // running count is strictly monotone per user, so the final state
    // is the max-n emission — that reduction turns the update-mode
    // emission log into exactly the batch aggregate the oracle
    // states. State is one (n, sum) pair per user: bounded, and
    // evictable via timeouts at 100 TB key cardinalities.
    "s10_stateful_running" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val ev = jsonStream(s, name, cap, payloadSchema)
        .select(col("user_id"),
          // null value -> 0: the (Long, Long) tuple encoder rejects
          // nulls, and adding 0 matches the oracle's null-skipping sum
          expr("coalesce(CAST(round(value * 1024) AS BIGINT), CAST(0 AS BIGINT))").as("vq"))
        .as[(Long, Long)]
      val updated = ev.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long)], st: GroupState[(Long, Long)]) =>
            val (n0, s0) = st.getOption.getOrElse((0L, 0L))
            var n = n0
            var sm = s0
            rows.foreach { r => n += 1; sm += r._2 }
            st.update((n, sm))
            (uid, n, sm)
        }.toDF("user_id", "n", "sum_vq")
      val emissions = drain(s, updated, outputMode = "update")
      emissions.groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("sum_vq"))).as("m"))
        .select(col("user_id"), col("m.n").as("n"), col("m.sum_vq").as("sum_vq"))
    }),

    // flatMapGroupsWithState: the 0..N-emissions member of the
    // arbitrary-stateful family (s10 maps 1:1 per group per batch, s12
    // is the typed Spark 4 API; this one FILTERS emissions). Each user
    // carries a running event count; a batch emits one row per
    // multiple-of-5 the count crosses. Milestones depend only on the
    // TOTAL per-user count — never on where micro-batch boundaries
    // fall — so the append-mode emission union is deterministic and the
    // batch oracle (generate_series up to count/5) reproduces it
    // exactly. The fixture-derived cap forces ~4 batches so crossings
    // genuinely span batches.
    "s16_stream_milestones" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val ev = jsonStream(s, name, cap, payloadSchema).select(col("user_id")).as[Long]
      val milestones = ev.groupByKey(identity)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[Long], st: GroupState[Long]) =>
            val c0 = st.getOption.getOrElse(0L)
            var c1 = c0
            rows.foreach(_ => c1 += 1)
            st.update(c1)
            ((c0 / 5 + 1) to (c1 / 5)).iterator.map(m => (uid, m * 5))
        }.toDF("user_id", "milestone_n")
      drain(s, milestones)
    }),

    // Stream-static join: the streaming enrichment shape — events
    // replayed through the source joined per micro-batch against a
    // STATIC dimension read from parquet (customer, keyed by
    // user_id = c_custkey). No broadcast hint: customer scales with
    // the data, so the planner picks the strategy
    // from stats — hinting it broadcast would OOM at 100 TB. The
    // static side needs no watermark (it never changes); complete-
    // mode output so the final emission equals the batch join the
    // oracle states.
    "s09_stream_static_join" -> ((s, d) => {
      val purchases = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val cust = T.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val agg = purchases
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 1024) AS BIGINT)")).as("sum_vq"),
          min(col("event_id")).as("first_event"))
      drain(s, agg, outputMode = "complete")
    }),

    // Streaming SESSION windows: the merging-state stateful operator —
    // unlike tumbling windows (fixed key→bucket), session state MERGES
    // adjacent windows as events arrive, so it exercises the state
    // store's range-merge path. Watermark 10 min, 30 min gap,
    // append-mode: only sessions whose end precedes the final
    // watermark are emitted — the oracle states that predicate over a
    // batch sessionization (same construction as q25's oracle).
    "s11_stream_session" -> ((s, d) => {
      val agg = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"))
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("sess_start_us"),
          unix_micros(col("w.end")).as("sess_end_us"), col("n"))
      drain(s, agg)
    }),

    // DYNAMIC-gap session windows: the gap is a per-EVENT expression
    // (purchase keeps the session alive 30 min, anything else 10) —
    // the engine capability s11's fixed gap doesn't touch, and the
    // shape real engagement sessionization needs (a checkout should
    // not be cut off by the browse-gap timeout). Each event
    // contributes [ts, ts+gap(event)); overlapping intervals merge,
    // so the session END is the running max of member ends — the
    // oracle's island detection uses exactly that running max (a
    // plain lag is no longer sufficient: a long-gap event covers
    // short-gap successors). Append-mode closure is s11's predicate
    // with the dynamic end: sessions whose max(ts+gap) precede the
    // final watermark. State per open session is one merged interval —
    // identical eviction story to s11.
    "s29_dynamic_session" -> ((s, d) => {
      val events = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
          col("event_type"))
      // make_interval, not INTERVAL literals: session_window's dynamic
      // gap must be CalendarIntervalType, and ANSI parses INTERVAL
      // literals as DayTimeIntervalType (rejected at analysis)
      val gap = when(col("event_type") === "purchase",
        expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
        .otherwise(expr("make_interval(0, 0, 0, 0, 0, 10, 0)"))
      val agg = events
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("bigint").as("n_purch"))
        .select(col("user_id"), unix_micros(col("w.start")).as("sess_start_us"),
          unix_micros(col("w.end")).as("sess_end_us"), col("n"), col("n_purch"))
      drain(s, agg)
    }),

    // Streaming near-dup admission: q155's MinHash-band incremental
    // admission run INCREMENTALLY — the crawl batch docs arrive over
    // the stream and each micro-batch is LSH-checked in foreachBatch
    // against the PERSISTED signature index of the existing corpus
    // (shingles + K-band minhash signatures, built once and cached —
    // in production the write-once index table q155 appends to).
    // Per batch: shingle + sign ONLY the batch docs, candidates from
    // batch-bands ⋈ index-bands on (band, minhash) — bands-only, no
    // batch×batch pairs, never all-pairs — signature-estimate prune
    // (>= 5/32 slots), exact-Jaccard verify (>= 1/2). Verified pairs
    // land in a batchId-KEYED parquet dir (overwrite per batch =
    // idempotent under at-least-once replay, s13's generation rule).
    // Doc grain is batch-local, so the union over micro-batches
    // equals the one-shot batch answer — the oracle is exactly
    // q155's. The fixture-derived cap forces ~3 epochs, so the
    // incremental path (not a single-batch degenerate) is what's
    // hash-gated.
    "s30_stream_neardup_admission" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val isBatch = pmod(graft.functions.PortableHash.h60(col("doc_id")),
        lit(10)) === 0
      val name = fixture(s"docs_nd_${sfx(d)}", 2)(docsText(s, d, isBatch))
      // the persisted index: existing-corpus shingles, signatures,
      // banded index — cached once, read by every micro-batch
      val k = Dedup.K
      val ixSh = Dedup.shingles(s, d).filter(!isBatch).cache()
      val ixSig = ixSh
        .select($"doc_id", expr(s"minhash_sig(sh, $k)").as("sig")).cache()
      val ixBnd = ixSig.select($"doc_id".as("b"), posexplode($"sig"))
        .toDF("b", "band", "mh").cache()
      val nBatch = T.documents(s, d).filter(isBatch).count()
      val cap = math.max(50L, nBatch / 3)
      val in = jsonStream(s, name, cap, docTextSchema)
      val pairs = monitor(s, d, "neardup", name, in) { (batch, emit) =>
        val bsh = batch
          .select(col("doc_id"),
            array_distinct(expr("word_ngrams(text, 3)")).as("sh"))
          .filter(size(col("sh")) >= 1)
        val bsig = bsh
          .select(col("doc_id"), expr(s"minhash_sig(sh, $k)").as("sig"))
        val cand = bsig
          .select(col("doc_id").as("a"), posexplode(col("sig")))
          .toDF("a", "band", "mh")
          .join(ixBnd, Seq("band", "mh"))
          .select(col("a"), col("b")).distinct()
        val est = cand
          .join(bsig.select(col("doc_id").as("a"), col("sig").as("siga")), "a")
          .join(ixSig.select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
          .withColumn("matches",
            size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
              v => v)))
          .filter(col("matches") >= 5)
          .select(col("a"), col("b"))
        emit("b", est
          .join(bsh.toDF("a", "sha"), "a")
          .join(ixSh.toDF("b", "shb"), "b")
          .select(col("a"), col("b"),
            size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
            size(array_union(col("sha"), col("shb"))).cast("long").as("uni"))
          .filter(col("inter") * 2 >= col("uni"))
          .select(col("a"), col("b"),
            expr("inter * 1000000L div uni").as("sim_ppm")))
      }("b")
      // the index caches only serve the drained micro-batches
      ixSh.unpersist(); ixSig.unpersist(); ixBnd.unpersist()
      // quarantine worklist: per admitted-batch doc, match count +
      // best match (max sim, ties to smallest index doc_id)
      pairs
        .groupBy($"a")
        .agg(count(lit(1)).as("n_matches"),
          max(struct($"sim_ppm", (-$"b").as("nb"))).as("m"))
        .select($"a".as("doc_id"), $"n_matches",
          (-$"m.nb").as("best_match"), $"m.sim_ppm".as("best_sim_ppm"))
    }),

    // Streaming per-window quantile monitoring — the latency/price SLO
    // dashboard shape: exact p50/p95 of purchase cents per event-time
    // hour, WITHOUT per-row state. The stream keeps only (window,
    // $1-band) COUNTS (the q124 value-band decomposition applied to
    // streaming state: bounded by bands × open windows, not rows);
    // closed windows emit in append mode at the watermark, and the
    // rank-select (smallest band with cum·2 ≥ tot / cum·20 ≥ 19·tot)
    // runs batch-side on the drained band table. The oracle replays
    // s04's closure predicate per (window, band) group — any band of a
    // closed window lost or duplicated by the stream flips a
    // percentile and fails the hash gate.
    "s31_stream_quantile_monitor" -> ((s, d) => {
      val ev = jsonStream(s, eventsRt(s, d), 50000L, payloadSchema)
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"), col("value"))
        .filter(col("event_type") === "purchase" &&
          col("value").isNotNull && col("value") >= 0)
        .select(col("ts"),
          graft.functions.Exact.cents(col("value")).as("cents"))
        .select(col("ts"), expr("cents div 100").as("band"))
      val agg = ev.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("band"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("start_s"),
          col("band"), col("n"))
      val bands = drain(s, agg)
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("start_s")).orderBy(col("band"))
        .rowsBetween(Long.MinValue, 0)
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("start_s"))
      bands.withColumn("cum", sum(col("n")).over(wc))
        .withColumn("tot", sum(col("n")).over(wt))
        .groupBy(col("start_s"))
        .agg(max(col("tot")).as("n_rows"),
          min(when(col("cum") * 2 >= col("tot"), col("band")))
            .as("p50_band"),
          min(when(col("cum") * 20 >= col("tot") * 19, col("band")))
            .as("p95_band"))
    }),

    // Streaming embedding-ANN admission (the embedding analog of s30,
    // closing the last incremental-ingest loop): q198's incremental
    // IVF admission run per micro-batch — crawl-batch vectors arrive
    // over the stream ALREADY QUANTIZED (the producer-side contract:
    // integer q = round(x·1024) serializes losslessly through JSON,
    // where a float roundtrip could flip a .5 rounding boundary and
    // fail the hash gate) and each micro-batch is assigned to the
    // PERSISTED centroid state trained on the base 90% only (k-row
    // broadcast argmax — the same per-row cost as a query; cells-only,
    // never all-pairs). Assignments land in a batchId-KEYED parquet
    // dir (overwrite per batch = idempotent under at-least-once
    // replay, s13's generation rule); vec grain is batch-local, so
    // the union over micro-batches equals the one-shot batch answer
    // and the oracle is exactly q198's. The fixture-derived cap
    // forces ~3 epochs, so the incremental path is what's hash-gated.
    "s32_stream_ivf_admission" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val isBatch = pmod(graft.functions.PortableHash.h60(col("vec_id")),
        lit(10)) === 0
      val name = fixture(s"vecs_ivf_${sfx(d)}", 2) {
        Similarity.quantized(s, d).filter(isBatch)
          .select(col("vec_id"), col("vec_id").as("pk"),
            to_json(struct(col("vec_id"), col("q"))).as("json"))
      }
      // the persisted index state: base-only integer-mean centroids
      // (k rows, broadcast into every micro-batch) + base cell counts
      // — materialized ONCE before the stream starts, exactly the
      // write-once state a production admission service reads
      val base = Similarity.quantized(s, d).filter(!isBatch)
      val cent = Similarity.meanCentroids(base)
        .select($"label".cast("bigint").as("clab"), $"c", $"cn2").cache()
      def assign(e: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("clab"))
        e.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("clab"),
            Similarity.cosine("q", "c", "n2", "cn2").as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("clab").as("kcell"))
      }
      val nBase = assign(base)
        .groupBy($"kcell").agg(count(lit(1)).as("n_base")).cache() // harness-released (per-query clearCache)
      nBase.count()
      val nBatchRows = Similarity.quantized(s, d).filter(isBatch).count()
      val cap = math.max(20L, nBatchRows / 3)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("vec_id", LongType), StructField("q", ArrayType(LongType)))))
      val cells = monitor(s, d, "ivfadm", name, in) { (batch, emit) =>
        emit("b", assign(batch.withColumn("n2", expr("int_dot(q, q)"))))
      }("b")
      cent.unpersist() // only the micro-batch assignments read it
      // growth audit over the drained assignments — q198's report
      cells
        .groupBy($"kcell").agg(count(lit(1)).as("nb_cnt"))
        .join(nBase, Seq("kcell"), "right")
        .withColumn("n_batch", coalesce($"nb_cnt", lit(0L)))
        .select($"kcell", $"n_base", $"n_batch",
          expr("n_batch * 1000000L div n_base").as("growth_ppm"))
    }),

    // Streaming heavy-hitters via count–min sketch (q112 run
    // incrementally): the corpus streams in document-grain micro-
    // batches and each batch contributes only its PARTIAL CMS matrix —
    // (r, b) register increments, the linear-sketch property that
    // makes CMS the streaming frequency structure: merge across
    // batches is plain ADDITION, no batch ever re-touches earlier
    // data. Per batch foreachBatch writes the batch's word counts and
    // register increments to batchId-keyed dirs (overwrite = idempotent
    // under at-least-once replay); the monitor read-side sums registers
    // across batches and answers top-20 estimates exactly like the
    // batch query — the oracle is q112's verbatim, so a lost or
    // double-counted batch flips a register sum and fails the hash.
    // (The exact per-word counts are ALSO merged across batches — they
    // are the audit's ground-truth column, same as in q112; production
    // keeps only the fixed 4×256 register table as state.)
    "s33_stream_cms_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"docs_cms_${sfx(d)}", 2)(docsText(s, d, lit(true)))
      val probeArr = (w: org.apache.spark.sql.Column) =>
        array((0 until 4).map(i => struct(lit(i).as("r"),
          pmod(graft.functions.PortableHash.h60(
            concat_ws("|", lit(i), w)), lit(256)).as("b"))): _*)
      val nDocs = T.documents(s, d).count()
      val cap = math.max(50L, nDocs / 4)
      val in = jsonStream(s, name, cap, docTextSchema)
      val parts = monitor(s, d, "cms", name, in) { (batch, emit) =>
        val counts = batch.select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
          .localCheckpoint() // two consumers per batch
        emit("c", counts)
        emit("m", counts.select(col("n"), explode(probeArr(col("w"))).as("p"))
          .groupBy(col("p.r").as("r"), col("p.b").as("b"))
          .agg(sum(col("n")).as("c")))
      }
      val counts = parts("c")
        .groupBy($"w").agg(sum($"n").as("n")).cache() // harness-released (per-query clearCache)
      val matrix = parts("m")
        .groupBy($"r", $"b").agg(sum($"c").as("c"))
      val top = counts.orderBy($"n".desc, $"w".asc).limit(20)
      top.select($"w", $"n", explode(probeArr($"w")).as("p"))
        .select($"w", $"n", $"p.r".as("r"), $"p.b".as("b"))
        .join(broadcast(matrix), Seq("r", "b"))
        .groupBy($"w", $"n").agg(min($"c").cast("bigint").as("cms_est"))
    }),

    // Streaming SCD2 dimension maintenance — the lakehouse
    // slowly-changing-dimension type-2 pattern run incrementally: the
    // event log streams in micro-batches and each batch MERGEs into
    // the versioned dimension — per user, a batch row whose attribute
    // differs from the user's current open version closes that
    // version (eff_to = the change point) and opens a new one;
    // consecutive duplicates never create versions. The per-batch fold
    // re-enters each user's OPEN version as a base row, so
    // change-detection works across batch boundaries with state = the
    // dimension itself (no state store; exactly how a Delta/Iceberg
    // MERGE-based SCD2 job carries state at 100 TB — closed versions
    // are write-once, only open rows participate). The snapshot is
    // batchId-keyed (dim_b computed from dim_{b-1} + batch, overwrite)
    // so at-least-once replay of batch b deterministically rewrites
    // dim_b — idempotent, and dim_{b-1} is never touched. Per-user
    // cross-batch order is guaranteed by the shard log (partitionKey =
    // user_id, seed order = event_id order, ts monotone in event_id).
    // The final dimension is batch-boundary-INDEPENDENT, which is the
    // oracle: one batch SQL over the full log (change points by lag,
    // validity by lead) must equal the streamed result row-for-row.
    "s34_stream_scd2" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"scd2_${sfx(d)}", 4)(eventsJson(s, d))
      val nEv = T.events(s, d).count()
      val cap = math.max(50L, nEv / 4)
      val root = scratch(s, d, "scd2")
      val dimSchema = "user_id LONG, attr STRING, eff_from_us LONG, " +
        "eff_from_id LONG, eff_to_us LONG, eff_to_id LONG, is_current LONG"
      val raw = jsonStream(s, name, cap, payloadSchema)
        .select(col("user_id"), col("event_type").as("attr"),
          col("ts_us").as("us"), col("event_id").as("id"))
      graft.streaming.StreamObservability.attach(s)
      val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
      raw.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val prev =
            if (batchId == 0L)
              s.createDataFrame(
                s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                StructType.fromDDL(dimSchema))
            else s.read.schema(dimSchema).parquet(s"$root/dim${batchId - 1}")
          val closed = prev.filter(col("is_current") === 0)
          val open = prev.filter(col("is_current") === 1)
          val wU = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("us"), col("id"))
          // open versions re-enter as base rows; change points =
          // attr != lag(attr) over the unfiltered per-user sequence
          // (dropping a duplicate never changes the carried attr)
          val versions = open.select(col("user_id"), col("attr"),
              col("eff_from_us").as("us"), col("eff_from_id").as("id"),
              lit(1L).as("is_base"))
            .unionByName(batch.select(col("user_id"), col("attr"),
              col("us"), col("id"), lit(0L).as("is_base")))
            .withColumn("prev_attr", lag(col("attr"), 1).over(wU))
            .filter(col("is_base") === 1 || col("prev_attr").isNull ||
              col("attr") =!= col("prev_attr"))
          versions
            .withColumn("eff_to_us",
              coalesce(lead(col("us"), 1).over(wU), lit(-1L)))
            .withColumn("eff_to_id",
              coalesce(lead(col("id"), 1).over(wU), lit(-1L)))
            .select(col("user_id"), col("attr"),
              col("us").as("eff_from_us"), col("id").as("eff_from_id"),
              col("eff_to_us"), col("eff_to_id"),
              (col("eff_to_id") === -1L).cast("bigint").as("is_current"))
            .unionByName(closed)
            .write.mode("overwrite").parquet(s"$root/dim$batchId")
          lastBatch.updateAndGet(mb => math.max(mb, batchId))
          ()
        }.start().awaitTermination()
      require(lastBatch.get() >= 0, "s34: stream produced no batches")
      s.read.schema(dimSchema).parquet(s"$root/dim${lastBatch.get()}")
    }),

    // Streaming Bloom-prefiltered exact-dedup admission — q74's
    // incremental exact dedup with q119's materialized Bloom in front,
    // run INCREMENTALLY: the corpus index (leading-3-word-prefix
    // fingerprints of the existing 90% of docs — prefix fingerprints
    // catch shared boilerplate openings where whole-text hashes see
    // nothing) is summarized ONCE into a 1024-bit / k=3 Bloom of 17
    // int64 words. Each micro-batch probes its docs against the
    // broadcast words first: docs failing any probe are DEFINITELY new
    // and never touch the index (the Bloom's whole point — at 100 TB
    // the index join runs on the maybe-set only, typically a few % of
    // the stream); docs passing all 3 join the fingerprint index to
    // split true dups from Bloom false positives. The filter is
    // deliberately small so false positives EXIST and the verify path
    // is exercised — and the Bloom decision itself is part of the
    // hash-gated report (bloom_maybe), since the oracle recomputes the
    // identical md5-based bit positions. batchId-keyed overwrite dirs
    // = idempotent under at-least-once replay; doc grain is
    // batch-local, so the union over batches equals the one-shot
    // answer.
    "s35_stream_bloom_dedup" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val isStrm = pmod(h60(col("doc_id")), lit(10)) === 0
      val name = fixture(s"docs_bloom_${sfx(d)}", 2)(docsText(s, d, isStrm))
      val fpOf = (t: org.apache.spark.sql.Column) =>
        h60(concat_ws(" ", slice(split(t, " "), 1, 3)))
      val probes = (fp: org.apache.spark.sql.Column) =>
        explode(array((0 until 3).map(i =>
          pmod(h60(concat_ws("|", lit(i), fp)), lit(1024))): _*))
      // the persisted index: fingerprints + their 17-word Bloom
      val ixFp = T.documents(s, d).filter(!isStrm)
        .select($"doc_id", fpOf($"text").as("fp")).cache()
      val bloom = ixFp.select(probes($"fp").as("idx"))
        .select(expr("CAST(idx div 62 AS INT)").as("word_i"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 62 AS INT))").as("m"))
        .groupBy($"word_i").agg(expr("bit_or(m)").as("bits")).cache()
      val nStrm = T.documents(s, d).filter(isStrm).count()
      val cap = math.max(10L, nStrm / 3)
      val in = jsonStream(s, name, cap, docTextSchema)
      val out = monitor(s, d, "bloomdd", name, in) { (batch, emit) =>
        val bfp = batch.select(col("doc_id"), fpOf(col("text")).as("fp"))
        val maybe = bfp
          .select(col("doc_id"), col("fp"), probes(col("fp")).as("idx"))
          .select(col("doc_id"), col("fp"),
            expr("CAST(idx div 62 AS INT)").as("word_i"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 62 AS INT))")
              .as("m"))
          .join(broadcast(bloom), Seq("word_i"), "left")
          .groupBy(col("doc_id"), col("fp"))
          .agg(sum(when(coalesce(col("bits"), lit(0L))
            .bitwiseAND(col("m")) =!= 0L, 1L).otherwise(0L)).as("hits"))
          .select(col("doc_id"), col("fp"),
            (col("hits") === 3L).as("bloom_maybe"))
        // only the maybe-set touches the index — the Bloom's point
        val dup = maybe.filter(col("bloom_maybe"))
          .join(ixFp.select(col("fp"), col("doc_id").as("ix_id")), Seq("fp"))
          .groupBy(col("doc_id")).agg(min(col("ix_id")).as("dup_min"))
        emit("b", maybe.join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("bloom_maybe"),
            col("dup_min").isNotNull.as("is_dup"),
            coalesce(col("dup_min"), lit(-1L)).as("dup_of")))
      }("b")
      ixFp.unpersist(); bloom.unpersist() // batch-side only
      out
    }),

    // Streaming point-in-time temporal join — the feature-store
    // correctness op: enrich each streamed purchase with the
    // dimension attribute that was valid AT THE EVENT'S OWN TIME, not
    // at processing time (the training-serving-skew bug this op
    // exists to prevent). The SCD2 dimension (per-user attribute
    // versions keyed by composite (ts, id) effective ranges, built
    // from the non-purchase history — s34's version shape) is
    // write-once; each micro-batch runs the interval join
    // [eff_from, eff_to) against it — an equi-join on user_id with a
    // range residual, so at 100 TB it shuffles on the user key, never
    // a cartesian. Purchases predating the user's first version
    // enrich to 'none'. No cross-batch state; batchId-keyed overwrite
    // dirs = idempotent replay; the union over batches equals the
    // one-shot batch as-of answer, which is the oracle.
    // Streaming contamination monitor — q317's ingest-side form: the
    // EVAL set is fixed (its 8-gram index is the small, cached side)
    // and the TRAIN corpus arrives as a stream; each micro-batch emits
    // only the DISTINCT gram hashes it shares with the eval universe
    // (a tiny set — the monitor's whole point is that definitely-clean
    // batches emit nothing), batchId-keyed and idempotent. Set union
    // of matched hashes is exact under replay (idempotent ∪), so the
    // post-drain per-doc overlap equals the one-shot batch answer —
    // gated by q317's own oracle. This is the leak alarm a training
    // pipeline runs DURING ingest, not after.
    "s40_stream_contamination_monitor" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      graft.GraftExtensions.ensureRegistered(s)
      val isEval = pmod(h60(col("doc_id")), lit(10)) === 0
      val name = fixture(s"docs_contam_${sfx(d)}", 2)(docsText(s, d, !isEval))
      val evalGrams = T.documents(s, d).filter(isEval)
        .select($"doc_id", explode(expr("word_ngrams(text, 8)")).as("g"))
        .select($"doc_id", h60($"g").as("gh")).cache()
      val universe = evalGrams.select($"gh").distinct().cache()
      val nTrain = T.documents(s, d).filter(!isEval).count()
      val cap = math.max(10L, nTrain / 4)
      val in = jsonStream(s, name, cap, docTextSchema).select(col("text"))
      val matched = monitor(s, d, "contam", name, in) { (batch, emit) =>
        emit("b", batch.select(explode(expr("word_ngrams(text, 8)")).as("g"))
          .select(h60(col("g")).as("gh"))
          .distinct()
          .join(broadcast(universe), Seq("gh"), "left_semi"))
      }("b").distinct()
      val out = evalGrams
        .join(matched.select($"gh".as("mgh")), $"gh" === $"mgh", "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"mgh".isNotNull, 1L).otherwise(0L)).cast("bigint")
            .as("n_hit"))
        .select($"doc_id", $"n_grams", $"n_hit",
          expr("n_hit * 1000000 div n_grams").as("contam_ppm"),
          expr("CAST(n_hit * 1000000 div n_grams >= 800000 AS BIGINT)")
            .as("flagged"))
      evalGrams.unpersist()
      universe.unpersist()
      out
    }),

    // Streaming retraction maintenance — q320's streaming companion:
    // the CDC log arrives in micro-batches and the per-group aggregate
    // is maintained by ADDITIVE delta partials (each batch writes its
    // own (pri, Σop, Σop·c) partial to a batchId-keyed dir — retraction
    // aggregates are linear, so the post-drain sum of partials IS the
    // maintained state, idempotent under replay). The final report
    // joins the streamed-maintained state against the direct recompute
    // of the final table and must match q320's batch answer
    // bit-for-bit — gated by q320's own oracle (the s38 discipline).
    "s39_stream_ivm_retraction" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val name = fixture(s"orders_cdc_${sfx(d)}", 2) {
        T.orders(s, d).select($"o_orderkey", $"o_orderkey".as("pk"),
          to_json(struct($"o_orderkey".as("k"), $"o_orderpriority".as("pri"),
            graft.functions.Exact.cents($"o_totalprice").as("c"))).as("json"))
      }
      val nOrd = T.orders(s, d).count()
      val cap = math.max(10L, nOrd / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("k", LongType), StructField("pri", StringType),
        StructField("c", LongType))))
      val partials = monitor(s, d, "scdc", name, in) { (batch, emit) =>
        val f = batch.select(col("pri"), col("c"),
          (pmod(h60(col("k")), lit(7)) === 0).as("u7"),
          (pmod(h60(col("k")), lit(13)) === 0).as("u13"))
        val deltas = f.select(col("pri"), lit(1L).as("op"), col("c"))
          .unionAll(f.filter(col("u7"))
            .select(col("pri"), lit(-1L).as("op"), col("c")))
          .unionAll(f.filter(col("u7"))
            .select(col("pri"), lit(1L).as("op"),
              (col("c") + 10000L).as("c")))
          .unionAll(f.filter(col("u13"))
            .select(col("pri"), lit(-1L).as("op"),
              when(col("u7"), col("c") + 10000L).otherwise(col("c"))
                .as("c")))
        emit("b", deltas.groupBy(col("pri"))
          .agg(sum(col("op")).cast("long").as("dn"),
            sum(col("op") * col("c")).cast("long").as("dsum")))
      }("b")
      val inc = partials
        .groupBy($"pri")
        .agg(sum($"dn").cast("bigint").as("n_inc"),
          sum($"dsum").cast("bigint").as("sum_inc_c"))
      val fb = T.orders(s, d).select(
        $"o_orderpriority".as("pri"),
        graft.functions.Exact.cents($"o_totalprice").as("c"),
        (pmod(h60($"o_orderkey"), lit(7)) === 0).as("u7"),
        (pmod(h60($"o_orderkey"), lit(13)) === 0).as("u13"))
      val direct = fb.filter(!$"u13")
        .groupBy($"pri")
        .agg(count(lit(1)).as("n_dir"),
          sum(when($"u7", $"c" + 10000L).otherwise($"c")).cast("bigint")
            .as("sum_dir_c"))
      inc.join(direct, Seq("pri"))
        .select($"pri".as("priority"), $"n_inc", $"sum_inc_c",
          $"n_dir", $"sum_dir_c",
          ($"n_inc" === $"n_dir" && $"sum_inc_c" === $"sum_dir_c")
            .cast("long").as("consistent"))
    }),

    // Streaming priority-sample admission — q312's streaming
    // companion, and the reason priority sampling (not q154's
    // systematic stride) is the sampler an INGEST pipeline wants: the
    // bottom-k priority synopsis is MERGEABLE. Each micro-batch emits
    // its own local top-(K+1) priorities plus its Σw (a bounded
    // synopsis per batch, written to a batchId-keyed dir — idempotent
    // replay), and the post-drain merge unions the synopses and cuts
    // the global top-(K+1). That merge is exact, not approximate:
    // every global top-21 item is in its own batch's top-21, so
    // union-then-cut reproduces the batch answer bit-for-bit — τ, the
    // selected set, the HT estimate, everything. Gated by q312's own
    // oracle, the s32/s33 discipline. Priorities ride the portable
    // hash, so replay/reshard can't move the sample.
    "s38_stream_priority_sample" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"docs_psamp_${sfx(d)}", 2) {
        T.documents(s, d).select(col("doc_id"), col("doc_id").as("pk"),
          to_json(struct(col("doc_id"), col("n_chars"))).as("json"))
      }
      val kTop = 20
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("doc_id", LongType), StructField("n_chars", LongType))))
      val syn = monitor(s, d, "psamp", name, in) { (batch, emit) =>
        val pri = batch
          .select(col("doc_id"), col("n_chars").cast("long").as("w"))
          .withColumn("u",
            pmod(graft.functions.PortableHash.h60(col("doc_id")),
              lit(1099511627776L)) + lit(1L))
          .withColumn("pkey", expr("w * 1099511627776 div u"))
        // per-batch synopsis: local top-(K+1) + the batch's Σw
        emit("b", pri.select(col("doc_id"), col("w"), col("pkey"))
          .orderBy(col("pkey").desc, col("doc_id").asc).limit(kTop + 1)
          .withColumn("w_sum", lit(null).cast("long"))
          .unionAll(pri.agg(coalesce(sum(col("w")), lit(0L))
              .cast("long").as("w_sum"))
            .select(lit(-1L).as("doc_id"), lit(0L).as("w"),
              lit(-1L).as("pkey"), col("w_sum"))))
      }("b")
      // exact merge: union of bounded synopses → global top-(K+1)
      val cand = T.boundedCollect(
        syn.filter($"w_sum".isNull)
          .select($"doc_id", $"w", $"pkey")
          .orderBy($"pkey".desc, $"doc_id".asc).limit(kTop + 1),
        kTop + 1, "s38 merged priority candidates")
      val tau = if (cand.length > kTop) cand(kTop).getLong(2) else 0L
      val sel = cand.take(kTop).zipWithIndex.map { case (r, i) =>
        (i + 1L, r.getLong(0), r.getLong(1), r.getLong(2),
          math.max(r.getLong(1), tau))
      }
      val estTot = sel.map(_._5).sum
      val tot = syn.filter($"w_sum".isNotNull)
        .agg(sum($"w_sum").cast("bigint").as("w_tot"))
      sel.toSeq.toDF("rk", "doc_id", "w", "pkey", "w_hat")
        .crossJoin(broadcast(tot))
        .select($"rk", $"doc_id", $"w", $"pkey", $"w_hat", $"w_tot",
          lit(estTot).as("est_tot"),
          expr(s"CAST(CAST(abs($estTot - w_tot) AS DECIMAL(38,0)) " +
            "* 1000000 div w_tot AS BIGINT)").as("err_ppm"))
    }),

    // Streaming shape-profile monitor — q337's ingest-side form and
    // the canonical mergeable statistic: raw power sums S1..S4 are
    // LINEAR, so each micro-batch writes its per-source (n, s1..s4)
    // partial (batchId-keyed, idempotent; sums ride DECIMAL(38,0))
    // and the post-drain sum of partials feeds the identical
    // central-moment identities ([[Pipeline.shapeReport]]) — gated by
    // q337's own oracle. The 100 TB reading: a shape profile needs
    // ONE pass and |sources|·5 numbers of state, ever.
    "s45_stream_shape_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"docs_shape_${sfx(d)}", 2) {
        T.documents(s, d).select($"doc_id", $"doc_id".as("pk"),
          to_json(struct($"source", $"n_chars".as("x"))).as("json"))
      }
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("source", StringType), StructField("x", LongType))))
      val dec = "DECIMAL(38,0)"
      val sums = monitor(s, d, "sshape", name, in) { (batch, emit) =>
        emit("b", batch.groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(expr(s"CAST(x AS $dec)")).as("s1"),
            sum(expr(s"CAST(x AS $dec) * x").cast(dec)).as("s2"),
            sum(expr(s"CAST(x AS $dec) * x * x").cast(dec)).as("s3"),
            sum(expr(s"CAST(x AS $dec) * x * x * x").cast(dec)).as("s4")))
      }("b")
      Pipeline.shapeReport(
        sums
          .groupBy($"source")
          .agg(sum($"n").cast("bigint").as("n"),
            sum($"s1").cast("decimal(38,0)").as("s1"),
            sum($"s2").cast("decimal(38,0)").as("s2"),
            sum($"s3").cast("decimal(38,0)").as("s3"),
            sum($"s4").cast("decimal(38,0)").as("s4")))
    }),

    // Streaming fertility monitor — q338's ingest-side form: the
    // TRAINED tokenizer is the fixed small side (the final merged
    // vocabulary's per-word token counts, broadcast), documents
    // stream in, and each micro-batch emits only its per-lang
    // (words, tokens, chars) partial — linear, batchId-keyed,
    // idempotent — so the post-drain sum reproduces q338's report
    // exactly (gated by its oracle). This is the shape a tokenizer
    // rollout monitor has in production: fixed vocab, per-language
    // fertility tracked DURING ingest.
    "s46_stream_fertility_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"docs_fert_${sfx(d)}", 2) {
        T.documents(s, d).select($"doc_id", $"doc_id".as("pk"),
          to_json(struct($"lang", $"text")).as("json"))
      }
      val tokc = TextAnalysis.bpeTrainedTokenCounts(s, d)
        .localCheckpoint()
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("lang", StringType), StructField("text", StringType))))
      monitor(s, d, "sfert", name, in) { (batch, emit) =>
        emit("b", batch
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .join(broadcast(tokc), Seq("w"), "left")
          .select(col("lang"),
            coalesce(col("toks"), lit(1L)).as("toks"),
            length(col("w")).cast("long").as("chars"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n_words"),
            sum(col("toks")).cast("long").as("n_tokens"),
            sum(col("chars")).cast("long").as("n_chars")))
      }("b")
        .groupBy($"lang")
        .agg(sum($"n_words").cast("bigint").as("n_words"),
          sum($"n_tokens").cast("bigint").as("n_tokens"),
          sum($"n_chars").cast("bigint").as("n_chars"))
        .select($"lang", $"n_words", $"n_tokens", $"n_chars",
          expr("n_tokens * 1000 div n_words").as("tokens_per_word_milli"),
          expr("n_chars * 1000 div n_tokens").as("chars_per_token_milli"))
    }),

    // Streaming Bloom-size monitor — q311's ingest-side form: the SIZE
    // dial of s35's Bloom is
    // re-measured DURING ingest. Fixed state = the index position
    // sets per candidate m (≤ 256+1024+4096 = 5376 distinct positions
    // total — position sets are bounded by the BIT ARRAYS, not the
    // corpus) and the exact index fingerprint set; each micro-batch
    // emits only its per-m (n_probe, n_neg, n_fp) COUNT partial —
    // linear, batchId-keyed, idempotent — and the post-drain sum
    // feeds the identical fpr/chosen/shipped report, gated by q311's
    // own oracle (the s38–s46 discipline). Shares s35's fixture
    // stream.
    "s47_stream_bloom_monitor" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val isStrm = pmod(h60(col("doc_id")), lit(10)) === 0
      // s35's fixture stream
      val name = fixture(s"docs_bloom_${sfx(d)}", 2)(docsText(s, d, isStrm))
      val fpOf = (t: org.apache.spark.sql.Column) =>
        h60(concat_ws(" ", slice(split(t, " "), 1, 3)))
      def probes(fp: org.apache.spark.sql.Column) =
        explode(array((0 until 3).map(i =>
          h60(concat_ws("|", lit(i), fp))): _*))
      val ms = Seq(256L, 1024L, 4096L).toDF("mb")
      val ix = T.documents(s, d).filter(!isStrm)
        .select($"doc_id", fpOf($"text").as("fp"))
      val ipos = ix.crossJoin(broadcast(ms))
        .select($"mb", probes($"fp").as("ph"))
        .select($"mb", pmod($"ph", $"mb").as("pos"))
        .distinct().withColumn("hit", lit(1L))
        .localCheckpoint()
      val ixFps = ix.select($"fp").distinct().withColumn("dup", lit(1L))
        .localCheckpoint()
      val nStrm = T.documents(s, d).filter(isStrm).count()
      val cap = math.max(10L, nStrm / 3)
      val in = jsonStream(s, name, cap, docTextSchema)
      val counts = monitor(s, d, "sbsz", name, in) { (batch, emit) =>
        val strm = batch.select(col("doc_id"), fpOf(col("text")).as("fp"))
        val maybe = strm.crossJoin(broadcast(ms))
          .select(col("mb"), col("doc_id"), col("fp"),
            probes(col("fp")).as("ph"))
          .select(col("mb"), col("doc_id"), col("fp"),
            pmod(col("ph"), col("mb")).as("pos"))
          .join(broadcast(ipos), Seq("mb", "pos"), "left")
          .groupBy(col("mb"), col("doc_id"), col("fp"))
          .agg((sum(coalesce(col("hit"), lit(0L))) === 3L).as("bm"))
        emit("b", maybe
          .join(ixFps, Seq("fp"), "left")
          .withColumn("is_dup", coalesce(col("dup"), lit(0L)))
          .groupBy(col("mb"))
          .agg(count(lit(1)).cast("long").as("n_probe"),
            sum((col("is_dup") === 0L).cast("long")).cast("long")
              .as("n_neg"),
            sum((col("bm") && col("is_dup") === 0L).cast("long"))
              .cast("long").as("n_fp")))
      }("b")
      // q311's own fpr/chosen report over the summed per-batch count
      // partials
      Sketches.bloomSizeReport(counts
        .groupBy($"mb")
        .agg(sum($"n_probe").cast("bigint").as("n_probe"),
          sum($"n_neg").cast("bigint").as("n_neg"),
          sum($"n_fp").cast("bigint").as("n_fp")))
    }),

    // Streaming data-profile monitor — q113's ingest-side form and
    // the FILE-FOOTER STATS op a lakehouse writer runs per file (a
    // zone map over batch partials): each micro-batch writes (a) its
    // one-row stats partial — row count, per-column null counts and
    // numeric/string min/max, the exact semilattice/linear merges a
    // parquet footer carries — and (b) its DISTINCT value set per
    // column (the one non-linear statistic; the exact union across
    // batches reproduces q113's countDistinct), and (c) the HLL
    // REGISTER partial for the same columns (≤ 4·32 rows of state per
    // batch, s42's register-max semilattice) — the bounded column class
    // production swaps in for (b) when exactness isn't required,
    // demonstrated here AS CODE beside the exact one: the post-drain
    // HLL path reads ONLY the register partials, never the value sets.
    // Merge = sum/sum, min/min, max/max, union-distinct, register-max —
    // gated by q113's oracle for the exact columns plus q214's
    // integer-exact estimate replay for the HLL ones.
    "s48_stream_profile_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, in) = ordersProf(s, d)
      val p = monitor(s, d, "sprof", name, in) { (batch, emit) =>
        emit("st", profileStats(batch))
        val dvb = profileValues(batch).distinct()
        // two actions read dvb (the dv write and the register pass) —
        // persist across them so the stack+distinct shuffle runs once
        // per batch, released before the batch returns (in a finally:
        // a throwing write must not leak the cached frame for the
        // session)
        dvb.persist()
        try {
          emit("dv", dvb)
          // the HLL column class: the same values reduced to a ≤4·32-
          // row register partial — the ONLY per-batch ndv state a
          // production profile writer keeps once exactness is waived
          emit("hll", profileRegisters(dvb))
        } finally dvb.unpersist()
      }
      val dcnt = p("dv").groupBy($"col_name")
        .agg(countDistinct($"val").as("n_distinct"))
      profileReport(p("st"), p("hll")).join(dcnt, "col_name")
        .select($"n_rows", $"col_name", $"n_nulls", $"n_distinct",
          $"ndv_hll",
          expr("(abs(ndv_hll - n_distinct) * 1000000L) div n_distinct")
            .as("ndv_err_ppm"),
          $"min_s", $"max_s")
    }),

    // Registers-only profile monitor — s48's PRODUCTION mode: s48 is
    // the audit form, carrying the exact distinct-value union beside
    // the HLL registers to measure the estimator — the one
    // corpus-scaling state in the monitor family, priced at its own
    // bench line. This is the form a production profile writer
    // actually runs once exactness is waived: per batch, ONE stats row
    // + ≤4·32 register rows, and because register max is
    // duplicate-insensitive the batch values feed the register pass
    // directly — no distinct() shuffle, no value set ever written or
    // read. Post-drain: register-max semilattice merge + q214's
    // integer-exact estimate. Gated by the same orders-profile oracle
    // minus the exactness columns.
    "s59_stream_profile_registers" -> ((s, d) => {
      import s.implicits._
      val (name, in) = ordersProf(s, d)
      val p = monitor(s, d, "sprofr", name, in) { (batch, emit) =>
        emit("st", profileStats(batch))
        emit("hll", profileRegisters(profileValues(batch)))
      }
      profileReport(p("st"), p("hll"))
        .select($"n_rows", $"col_name", $"n_nulls", $"ndv_hll",
          $"min_s", $"max_s")
    }),

    // Streaming scene-cut monitor — q360's ingest-side form, the
    // shape video curation actually runs (segment every clip AS IT
    // ARRIVES, store the shot table): scene cuts are PER-DOC LOCAL
    // (each record carries its whole frame series), so the per-batch
    // summary rows ARE the exact result for the docs in that batch —
    // the doc-grain batch-local discipline (s30), gated by q360's
    // own oracle. The segmentation is the IDENTICAL factored rule
    // ([[Multimodal.sceneCutsOf]]); payloads never shuffle — decode
    // and segment inside the batch's partitions, only bounded
    // summary rows are written.
    "s60_stream_scenecut_monitor" -> ((s, d) => {
      import s.implicits._
      val name = docsLix(s, d)
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, docTextSchema)
      monitor(s, d, "scut", name, in) { (batch, emit) =>
        emit("b", batch
          .select(col("doc_id"),
            encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            rows.map { case (id, bytes) => Multimodal.sceneCutsOf(id, bytes) }
          }(Encoders.product[Multimodal.SceneCuts])
          .toDF())
      }("b")
    }),

    // Streaming table-checksum monitor — q83's ingest-side form and
    // the INGEST-INTEGRITY op a replication pipeline runs per batch:
    // every micro-batch emits its per-table (count, bit_xor of the
    // 60-bit row fingerprints) partial — XOR is a commutative group,
    // the strongest linear merge there is: a lost batch, a duplicated
    // batch, or a single flipped field each flips the final
    // fingerprint, and the post-drain merge (sum counts, XOR of XORs)
    // must reproduce q83's batch checksums exactly — gated by q83's
    // own oracle. All three tables ride ONE tagged stream (the
    // multi-table CDC shape).
    "s49_stream_checksum_monitor" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val name = fixture(s"tables_ck_${sfx(d)}", 4) {
        val cents = graft.functions.Exact.cents _
        T.orders(s, d)
          .select(($"o_orderkey" * 4).as("id"),
            lit("orders").as("t"),
            concat_ws("|", $"o_orderkey", $"o_custkey",
              cents($"o_totalprice"),
              unix_timestamp($"o_orderdate")).as("r"))
          .unionAll(T.lineitem(s, d)
            .select((($"l_orderkey" * 8 + $"l_linenumber") * 4 + 1)
              .as("id"), lit("lineitem").as("t"),
              concat_ws("|", $"l_orderkey", $"l_linenumber",
                $"l_quantity".cast("long"),
                cents($"l_extendedprice")).as("r")))
          .unionAll(T.customer(s, d)
            .select(($"c_custkey" * 4 + 2).as("id"),
              lit("customer").as("t"),
              concat_ws("|", $"c_custkey", $"c_name",
                cents($"c_acctbal")).as("r")))
          .select($"id", $"id".as("pk"), to_json(struct($"t", $"r")).as("json"))
      }
      val nRows = T.orders(s, d).count() + T.lineitem(s, d).count() +
        T.customer(s, d).count()
      val cap = math.max(100L, nRows / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("t", StringType), StructField("r", StringType))))
      monitor(s, d, "sck", name, in) { (batch, emit) =>
        emit("b", batch.select(col("t"), h60(col("r")).as("h"))
          .groupBy(col("t"))
          .agg(count(lit(1)).cast("long").as("n"), expr("bit_xor(h)").as("x")))
      }("b")
        .groupBy($"t")
        .agg(sum($"n").cast("bigint").as("n_rows"),
          expr("bit_xor(x)").as("xor_fp"))
        .select($"t".as("table_name"), $"n_rows", $"xor_fp")
    }),

    // Streaming n-gram novelty monitor — q130's ingest-side form: is
    // an arriving document NEW MATERIAL or recombination? The
    // document-frequency side is linear — each micro-batch emits one
    // (gram-hash, n_docs_in_batch, min_doc) partial per distinct gram
    // it saw (grams ride as h60 keys, q285's rule; a collision would
    // fail the hash gate) — and docs arrive atomically (one record per
    // doc), so per-doc gram counts are batch-local too. Post-drain:
    // sum the df partials; a gram is globally unique iff Σnd = 1, and
    // then its owner is the one batch's min_doc — so per-doc unique
    // counts reassemble exactly and the report is gated by q130's own
    // oracle. Streamed state is VOCABULARY-sized (distinct grams), not
    // doc×gram.
    "s50_stream_novelty_monitor" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val name = fixture(s"docs_nov_${sfx(d)}", 2)(docsText(s, d, lit(true)))
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, docTextSchema)
      val p = monitor(s, d, "snov", name, in) { (batch, emit) =>
        val grams = batch
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), explode(
            expr("transform(sequence(1, size(w) - 2), " +
              "i -> concat_ws(' ', slice(w, i, 3)))")).as("gram"))
          .select(col("doc_id"), h60(col("gram")).as("gh"))
          .distinct()
          .localCheckpoint() // two consumers inside the batch
        emit("d", grams.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_grams")))
        emit("g", grams.groupBy(col("gh"))
          .agg(count(lit(1)).cast("long").as("nd"),
            min(col("doc_id")).as("own")))
      }
      val uniq = p("g")
        .groupBy($"gh")
        .agg(sum($"nd").cast("bigint").as("ndt"), min($"own").as("own"))
        .filter($"ndt" === 1L)
        .groupBy($"own").agg(count(lit(1)).cast("bigint").as("n_unique"))
      p("d")
        .groupBy($"doc_id")
        .agg(sum($"n_grams").cast("bigint").as("n_grams"))
        .join(uniq.select($"own".as("doc_id"), $"n_unique"),
          Seq("doc_id"), "left")
        .select($"doc_id", $"n_grams",
          coalesce($"n_unique", lit(0L)).as("n_unique"))
        .select($"doc_id", $"n_grams", $"n_unique",
          expr("n_unique * 1000000L div n_grams").as("novelty_ppm"))
    }),

    // Streaming KMV distinct monitor — q43's ingest-side form and the
    // second member of the distinct-estimation pair (s42's HLL merges
    // register MAXes; KMV merges BOTTOM-K sets — both semilattices):
    // each micro-batch emits its per-type bottom-64 distinct user
    // hashes (the production synopsis — ≤ 64 longs per key per batch,
    // ever) plus the exact distinct (type, hash) set for the audit's
    // ground-truth column (the s48 caveat: production keeps only the
    // synopsis). The union of bottom-64 partials CONTAINS the global
    // bottom-64 (min-k is a semilattice), so re-sketching the merged
    // partials post-drain reproduces q43's estimate bit-for-bit —
    // gated by q43's own oracle.
    "s51_stream_kmv_monitor" -> ((s, d) => {
      import s.implicits._
      val h60 = graft.functions.PortableHash.h60 _
      val name = eventsRt(s, d)
      val nEv = T.events(s, d).count()
      val cap = math.max(1000L, nEv / 4)
      val in = jsonStream(s, name, cap, payloadSchema)
        .select(col("event_type").as("t"), col("user_id"))
      val p = monitor(s, d, "skmv", name, in) { (batch, emit) =>
        val hv = batch.select(col("t"), h60(col("user_id")).as("hv"))
          .distinct()
          .localCheckpoint() // synopsis AND audit read it
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy(col("t")).orderBy(col("hv"))
        emit("g", hv.withColumn("rn", row_number().over(wt))
          .filter(col("rn") <= 64)
          .select(col("t"), col("hv")))
        emit("e", hv)
      }
      val kmv = udaf(new graft.functions.KmvSketch(64),
        Encoders.scalaLong)
      val est = p("g")
        .distinct()
        .groupBy($"t").agg(round(kmv($"hv"), 4).as("est_distinct"))
      p("e")
        .distinct()
        .groupBy($"t").agg(countDistinct($"hv").as("true_distinct"))
        .join(est, "t")
        .select($"t".as("event_type"), $"est_distinct", $"true_distinct")
    }),

    // Streaming readability monitor — q342's ingest-side form: LIX's
    // inputs are pure counts (docs, words, sentences, long words per
    // source), so each micro-batch writes one linear partial row per
    // source and the post-drain sum feeds the identical two-floor
    // report — gated by q342's own oracle. The production reading: a
    // per-source readability dashboard maintained DURING ingest for
    // |sources|·4 longs of state.
    "s52_stream_readability_monitor" -> ((s, d) => {
      import s.implicits._
      val name = docsLix(s, d)
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, docsSourceSchema)
      // the batch twin's own count expressions: if q342's scoring
      // changes, the monitor moves with it
      val counts = monitor(s, d, "slix", name, in) { (batch, emit) =>
        emit("b", TextAnalysis.lixCounts(batch))
      }("b")
      TextAnalysis.lixReport(
        counts
          .groupBy($"source")
          .agg(sum($"n_docs").cast("bigint").as("n_docs"),
            sum($"n_words").cast("bigint").as("n_words"),
            sum($"n_sents").cast("bigint").as("n_sents"),
            sum($"n_long").cast("bigint").as("n_long")))
    }),

    // Streaming byte-entropy monitor — q344's ingest-side form: the
    // char histogram is linear and ALPHABET-bounded (per batch at most
    // |sources|·|alphabet| rows of state), so each micro-batch writes
    // its per-(source, char) count partial and the post-drain sum
    // feeds the identical millibit-LUT entropy fold — gated by q344's
    // own oracle. The compression-floor dial, tracked during ingest.
    "s53_stream_entropy_monitor" -> ((s, d) => {
      import s.implicits._
      val name = docsLix(s, d)
      val nDocs = T.documents(s, d).count()
      val cap = math.max(10L, nDocs / 4)
      val in = jsonStream(s, name, cap, docsSourceSchema)
      // q344's own histogram expressions (the lixCounts rule)
      val hist = monitor(s, d, "sent", name, in) { (batch, emit) =>
        emit("b", TextAnalysis.charHist(batch))
      }("b")
      TextAnalysis.entropyReport(
        hist
          .groupBy($"source", $"ch")
          .agg(sum($"nc").cast("long").as("nc")))
    }),

    // Streaming Haar-synopsis monitor — q299's ingest-side form: the
    // wavelet's INPUT (the daily purchase-count series) is linear, so
    // each micro-batch writes its per-day count partial (batchId-keyed,
    // idempotent) and the post-drain sum feeds the identical Haar fold
    // ([[Events.haarReport]]) — gated by q299's own oracle. The
    // production reading: a time-series synopsis maintained during
    // ingest for |days| longs of state, compressed to 8 coefficients
    // on read.
    "s54_stream_haar_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, days) = eventsDays(s, d)
      val in = days.filter(col("p") === 1L).select(col("day"))
      val counts = monitor(s, d, "shaar", name, in) { (batch, emit) =>
        emit("b", batch.groupBy(col("day")).agg(count(lit(1)).cast("long").as("x")))
      }("b")
      Events.haarReport(
        counts.groupBy($"day").agg(sum($"x").cast("long").as("x"))
          .select(datediff($"day".cast("date"), to_date(lit("2024-01-01")))
            .cast("long").as("day"), $"x"))
    }),

    // Streaming Wilson-CI monitor — q349's ingest-side form: the
    // per-dow (n_events, n_purch) counts are pure linear partials, so
    // each micro-batch writes its ≤7-row count partial (batchId-keyed,
    // idempotent) and the post-drain sum feeds the identical
    // DECIMAL(38,0) Wilson fold ([[Events.wilsonReport]]) — gated by
    // q349's own oracle. The production reading: proportion intervals
    // maintained during ingest for |cells| longs of state.
    "s55_stream_wilson_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, days) = eventsDays(s, d)
      val counts = monitor(s, d, "swil", name, days) { (batch, emit) =>
        // arithmetic dow from the day string — identical to q349's
        // (epoch_days + 4) % 7 since day = to_date(ts)
        emit("b", batch.select(
            ((datediff(col("day").cast("date"), to_date(lit("1970-01-01")))
              .cast("long") + 4L) % 7L).as("dow"), col("p"))
          .groupBy(col("dow"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum(col("p")).cast("long").as("n_purch")))
      }("b")
      Events.wilsonReport(
        counts
          .groupBy($"dow")
          .agg(sum($"n_events").cast("bigint").as("n_events"),
            sum($"n_purch").cast("bigint").as("n_purch")))
    }),

    // Streaming runs-test monitor — q353's ingest-side form: the
    // per-day (n_ev, np) counts are linear partials, so each
    // micro-batch writes its |days|-bounded count partial and the
    // post-drain sum feeds the identical median → sign → runs chain
    // ([[Events.runsFromDaily]]) — gated by q353's own oracle. The
    // randomness dial over the ingest series, |days| longs of state.
    "s56_stream_runs_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, days) = eventsDays(s, d)
      val counts = monitor(s, d, "sruns", name, days) { (batch, emit) =>
        emit("b", batch.groupBy(col("day"))
          .agg(count(lit(1)).cast("long").as("n_ev"),
            sum(col("p")).cast("long").as("np")))
      }("b")
      Events.runsFromDaily(
        counts
          .groupBy($"day")
          .agg(sum($"n_ev").cast("long").as("n_ev"),
            sum($"np").cast("long").as("np"))
          .select(datediff($"day".cast("date"), to_date(lit("2024-01-01")))
            .cast("long").as("day"), $"n_ev", $"np"))
    }),

    // Streaming O'Brien–Fleming monitor — q355's ingest-side form,
    // which is where group-sequential designs actually LIVE (the
    // scheduled interim looks happen DURING the experiment): each
    // micro-batch writes its per-look (n_events, n_purch) count
    // partial (≤4 rows, linear, batchId-keyed, idempotent) and the
    // post-drain sum feeds the identical literal-boundary z² fold
    // ([[Pipeline.obfReport]]) — gated by q355's own oracle. State =
    // K·2 longs: the design bounds the state, not the data.
    "s57_stream_obf_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, days) = eventsDays(s, d)
      val counts = monitor(s, d, "sobf", name, days) { (batch, emit) =>
        // q355's own look assignment from the day string — identical
        // to its least(greatest(offset, 0) div 8, 3) + 1 (the
        // non-negative numerator keeps Spark div == DuckDB //)
        emit("b", batch.select(
            expr("least(greatest(datediff(to_date(day), " +
              "DATE '2024-01-01'), 0) div 8, 3) + 1")
              .cast("long").as("look"),
            col("p"))
          .groupBy(col("look"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum(col("p")).cast("long").as("n_purch")))
      }("b")
      Pipeline.obfReport(
        counts
          .groupBy($"look")
          .agg(sum($"n_events").cast("bigint").as("n_events"),
            sum($"n_purch").cast("bigint").as("n_purch")))
    }),

    // Streaming Bradley–Terry preference monitor — q356's ingest-side
    // form, closing the preference-data family on the path where
    // preference data actually arrives. The win
    // matrix is NOT batch-linear — a user's a-beats-b verdict depends
    // on TOTAL counts, so per-batch (winner, loser) rows would be
    // wrong whenever a user spans batches. The per-(user, type)
    // counts ARE linear, so each micro-batch writes its (user_id,
    // event_type, c) count partial (batchId-keyed, idempotent,
    // ≤ batch rows) and the post-drain sum rebuilds the exact count
    // grid that feeds the identical pairwise join + BigInt MM fold
    // ([[Pipeline.btReport]]) — gated by q356's own oracle. State =
    // |active users|·|types| longs, the honest cost of exact
    // streaming preference aggregation; at scale the partial is a
    // map-side-combined shuffle on (user, type), and a production
    // variant ages out users whose remaining events cannot flip any
    // pairwise verdict.
    "s58_stream_bt_monitor" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val nEv = T.events(s, d).count()
      val cap = math.max(10L, nEv / 4)
      val in = jsonStream(s, name, cap, payloadSchema)
      val counts = monitor(s, d, "sbt", name, in) { (batch, emit) =>
        emit("b", batch.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).cast("long").as("c")))
      }("b")
      Pipeline.btReport(
        counts
          .groupBy($"user_id", $"event_type")
          .agg(sum($"c").cast("long").as("c")))
    }),

    // Streaming SPRT experiment monitor — q330's ingest-side form,
    // which is where SPRT actually LIVES (sequential testing exists
    // to stop DURING the experiment): each micro-batch writes its
    // (calendar-day, n, purchases) count partial (linear, batchId-keyed,
    // idempotent), the post-drain sum of partials is the exact daily
    // grid, and the identical LLR fold ([[Pipeline.sprtReport]])
    // yields the day-by-day decision trajectory — gated by q330's
    // own oracle (the s38/s39 discipline).
    "s44_stream_sprt_monitor" -> ((s, d) => {
      import s.implicits._
      val (name, days) = eventsDays(s, d)
      val counts = monitor(s, d, "ssprt", name, days) { (batch, emit) =>
        emit("b", batch.groupBy(col("day"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("p")).cast("long").as("x")))
      }("b")
      Pipeline.sprtReport(
        counts
          .groupBy($"day")
          .agg(sum($"n").cast("bigint").as("n_events"),
            sum($"x").cast("bigint").as("n_purch"))
          .select($"day".cast("date").as("day"), $"n_events", $"n_purch"))
    }),

    // Streaming q-digest quantile monitor — q332's ingest-side form:
    // the digest's INPUT (the 256-leaf histogram) is linear, so each
    // micro-batch writes only its local leaf counts (batchId-keyed,
    // idempotent) and the post-drain sum of partials IS the global
    // histogram; compression is deferred to read time (the digest is
    // a deterministic function of the histogram, so compressing
    // per-batch then merging would ALSO work — q-digests merge — but
    // the leaf-partial form is strictly cheaper and exactly
    // reproduces q332's batch answer, which is what the gate checks).
    // Gated by q332's own oracle (the s38/s39 discipline).
    "s43_stream_qdigest_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"orders_qdig_${sfx(d)}", 2) {
        T.orders(s, d).select($"o_orderkey", $"o_orderkey".as("pk"),
          to_json(struct(expr(graft.functions.Exact.centsSql("o_totalprice"))
            .as("c"))).as("json"))
      }
      val nOrd = T.orders(s, d).count()
      val cap = math.max(10L, nOrd / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(StructField("c", LongType))))
      val merged = monitor(s, d, "sqdig", name, in) { (batch, emit) =>
        emit("b", batch.select(least(expr("c div 262144"), lit(255L)).as("leaf"))
          .groupBy(col("leaf")).agg(count(lit(1)).cast("long").as("cnt")))
      }("b")
        .groupBy($"leaf").agg(sum($"cnt").cast("long").as("cnt"))
      val cents = T.orders(s, d)
        .select(expr(graft.functions.Exact.centsSql("o_totalprice")).as("c"))
      Sketches.qdigestReport(merged, cents)
    }),

    // Streaming HLL distinct-count monitor — q214's ingest-side form,
    // and the textbook mergeable sketch closing the streaming-synopsis
    // family (s31 quantiles, s33 CMS, s38 bottom-k, s41 PSI): each
    // micro-batch builds its LOCAL register bank (Sketches.
    // hllRegisters — a register is a max over member hashes, so the
    // bank is duplicate- and order-invariant), writes it batchId-keyed
    // (idempotent replay), and the post-drain merge is plain register
    // MAX — bit-identical to the batch bank by the max-semilattice
    // law, so the full q214 estimate-vs-exact report reproduces and
    // the op is gated by q214's own oracle (the s38/s39 discipline).
    "s42_stream_hll_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"orders_hll_${sfx(d)}", 2) {
        T.orders(s, d).select($"o_orderkey", $"o_orderkey".as("pk"),
          to_json(struct($"o_orderstatus".as("st"), $"o_custkey".as("cu"))).as("json"))
      }
      val nOrd = T.orders(s, d).count()
      val cap = math.max(10L, nOrd / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
          StructField("st", StringType), StructField("cu", LongType))))
        .select(col("st").as("event_type"), col("cu").as("user_id"))
      val merged = monitor(s, d, "shll", name, in) { (batch, emit) =>
        emit("b", Sketches.hllRegisters(batch))
      }("b")
        .groupBy($"event_type", $"j").agg(max($"reg").as("reg"))
      Sketches.hllReport(merged, Sketches.hllInput(s, d))
    }),

    // Streaming PSI drift monitor — q328's ingest-side form. The
    // subtlety an ingest monitor must solve: PSI's baseline/current
    // split keys off the GLOBAL timespan midpoint, which no single
    // micro-batch knows. So the streamed state is one level finer —
    // per-batch (price band × order-date) COUNTS, a linear-mergeable
    // synopsis bounded by the DATE DOMAIN (the timespan is fixed; it
    // does not grow with corpus rows), written batchId-keyed and
    // idempotent. Post-drain the merged histogram yields the midpoint
    // (min/max of dates WITH mass), the base/current assignment, and
    // the identical q328 PSI computation via [[Pipeline.psiReport]] —
    // gated by q328's own oracle (the s38/s39 discipline).
    "s41_stream_psi_monitor" -> ((s, d) => {
      import s.implicits._
      val name = fixture(s"orders_psi_${sfx(d)}", 2) {
        T.orders(s, d).select($"o_orderkey", $"o_orderkey".as("pk"),
          to_json(struct($"o_orderkey".as("k"),
            graft.functions.Exact.cents($"o_totalprice").as("c"),
            unix_micros($"o_orderdate".cast("timestamp")).as("ep"))).as("json"))
      }
      val nOrd = T.orders(s, d).count()
      val cap = math.max(10L, nOrd / 4)
      val in = jsonStream(s, name, cap, StructType(Seq(
        StructField("c", LongType), StructField("ep", LongType))))
      val hist = monitor(s, d, "spsi", name, in) { (batch, emit) =>
        emit("b", batch.select(least(expr("c div 4000000"), lit(9L)).as("band"), col("ep"))
          .groupBy(col("band"), col("ep"))
          .agg(count(lit(1)).cast("long").as("n")))
      }("b")
        .groupBy($"band", $"ep").agg(sum($"n").cast("long").as("n"))
      val sp = hist.agg(min($"ep").as("lo"), max($"ep").as("hi"))
      Pipeline.psiReport(hist.crossJoin(broadcast(sp))
        .select($"band",
          ($"ep" * 2 >= $"lo" + $"hi").cast("long").as("cur"), $"n")
        .groupBy($"band")
        .agg(sum(when($"cur" === 0L, $"n").otherwise(0L)).as("n_base"),
          sum(when($"cur" === 1L, $"n").otherwise(0L)).as("n_cur")))
    }),

    "s37_stream_temporal_join" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val inf = 4611686018427387904L // 2^62 open-version sentinel
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"us", $"id")
      val hist = T.events(s, d).filter($"event_type" =!= "purchase")
        .select($"user_id", $"event_type".as("attr"),
          unix_micros($"ts").as("us"), $"event_id".as("id"))
      val dim = hist
        .withColumn("prev", lag($"attr", 1).over(wU))
        .filter($"prev".isNull || $"prev" =!= $"attr")
        .withColumn("eff_to_us", coalesce(lead($"us", 1).over(wU), lit(inf)))
        .withColumn("eff_to_id", coalesce(lead($"id", 1).over(wU), lit(inf)))
        .select($"user_id".as("d_uid"), $"attr",
          $"us".as("eff_from_us"), $"id".as("eff_from_id"),
          $"eff_to_us", $"eff_to_id")
        .cache()
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val in = jsonStream(s, name, cap, payloadSchema)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val out = monitor(s, d, "tjoin", name, in) { (batch, emit) =>
        emit("b", batch.join(dim,
          batch("user_id") === dim("d_uid") &&
            (dim("eff_from_us") < batch("ts_us") ||
              (dim("eff_from_us") === batch("ts_us") &&
                dim("eff_from_id") <= batch("event_id"))) &&
            (batch("ts_us") < dim("eff_to_us") ||
              (batch("ts_us") === dim("eff_to_us") &&
                batch("event_id") < dim("eff_to_id"))),
          "left")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            coalesce(col("attr"), lit("none")).as("attr_at_purchase"),
            coalesce(col("eff_from_id"), lit(-1L)).as("version_id")))
      }("b")
      dim.unpersist() // only the micro-batch interval joins read it
      out
    }),

    // Streaming CEP funnel — q81's per-user view → click-after-view →
    // purchase-after-click state machine run INCREMENTALLY on typed
    // state (transformWithState, s12's API): three longs per user,
    // bounded however many events a user produces (the alternative —
    // buffering events for a batch replay — is unbounded state).
    // Arrival order is event-time order per user (user-keyed shards,
    // ts-ordered seed, in-order per-shard replay), so the monotone
    // register fold IS q81's min-based definition; stage only advances,
    // so max-by-stage over the update-mode emission log is the final
    // machine state. Oracle = q81's verbatim — a register set early,
    // late, or out of order flips a user's stage and fails the hash.
    "s36_stream_funnel" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val ev = jsonStream(s, name, cap, payloadSchema)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .as[(Long, Long, Long, String)]
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val emissions =
        try {
          val fun = ev.groupByKey(_._1)
            .transformWithState(new FunnelProcessor, TimeMode.None(),
              OutputMode.Update(),
              Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
                Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
            .toDF("user_id", "fv", "fc", "fp", "stage")
          drain(s, fun, outputMode = "update")
        } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      emissions.groupBy(col("user_id"))
        .agg(max(struct(col("stage"), col("fv"), col("fc"), col("fp"))).as("m"))
        .select($"user_id",
          when($"m.fv" >= 0L, $"m.fv").as("first_view"),
          when($"m.fc" >= 0L, $"m.fc").as("first_click"),
          when($"m.fp" >= 0L, $"m.fp").as("first_purchase"),
          $"m.stage".as("stage"))
    }),

    // transformWithState (the Spark 4 arbitrary-state API, successor
    // to mapGroupsWithState): typed ValueState per key, explicit
    // init/handleInputRows lifecycle, RocksDB state store. Computes
    // the per-user (count, min_ts, max_ts) activity span across ~5
    // micro-batches; the running count is strictly monotone per user,
    // so max-by-n over the update-mode emission log is the final
    // state — exactly the batch aggregate the oracle states (same
    // reduction as s10).
    "s12_transform_with_state" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val ev = jsonStream(s, name, cap, payloadSchema)
        .select(col("user_id"), col("ts_us")).as[(Long, Long)]
      // transformWithState requires the RocksDB provider; restore the
      // default afterwards so other streaming queries keep the HDFS
      // store (conf is read once at query start — drain() blocks to
      // completion, so the unset can't race the running query)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val emissions =
        try {
          val spans = ev.groupByKey(_._1)
            .transformWithState(new SpanProcessor, TimeMode.None(), OutputMode.Update(),
              Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
                Encoders.scalaLong, Encoders.scalaLong))
            .toDF("user_id", "n", "min_ts_us", "max_ts_us")
          drain(s, spans, outputMode = "update")
        } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      emissions.groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("min_ts_us"), col("max_ts_us"))).as("m"))
        .select(col("user_id"), col("m.n").as("n"),
          col("m.min_ts_us").as("min_ts_us"), col("m.max_ts_us").as("max_ts_us"))
    }),

    // Resharding replay (S16 + the lifecycle the reference punts on —
    // it hard-asserts a 1-shard stream,
    // ShardPublisherVerification.scala:34-37): the fixture lives
    // through a full shard lifecycle — 3 shards, a SPLIT of shard-0
    // after the first third of the events, a MERGE of shard-1/shard-2
    // after the second third — and the bounded replay must read every
    // record exactly once across sealed parents and their children,
    // with per-key order preserved (child offsets advance only after
    // every parent is sealed and drained; the multi-epoch cap forces
    // the gating to actually span triggers). min_by/max_by over the
    // Kinesis-style sequence string prove per-user replay order ==
    // event_id order end to end; the oracle is the plain per-user
    // batch aggregate.
    "s17_shard_split_replay" -> ((s, d) => {
      val name = s"events_resh_${sfx(d)}"
      synchronized { // same mid-seed-visibility rule as fixture()
        if (!ShardServiceRegistry.exists(name)) {
          val src = T.events(s, d)
            .select(col("user_id"), col("event_id"))
            .orderBy("event_id")
          // count first so split/merge land at the 1/3 and 2/3
          // breakpoints while rows stream through a local iterator
          val third = src.count() / 3
          val stream = ShardServiceRegistry.create(name, 3)
          var i = 0L
          src.toLocalIterator().forEachRemaining { r =>
            if (i == third) stream.splitShard(stream.shardIds.head)
            if (i == 2 * third) {
              val open = stream.shardIds.filterNot(stream.isShardSealed)
              stream.mergeShards(open.head, open(1))
            }
            stream.putRecord(r.getLong(0).toString,
              r.getLong(1).toString.getBytes(UTF_8), None)
            i += 1
          }
        }
      }
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val raw = s.readStream.format("shardstream")
        .option("stream", name)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", cap.toString)
        .load()
      drain(s, raw.select(
          col("partitionKey").cast("bigint").as("user_id"),
          col("sequenceNumber"),
          col("data").cast("string").cast("bigint").as("eid")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          min_by(col("eid"), col("sequenceNumber")).as("first_eid"),
          max_by(col("eid"), col("sequenceNumber")).as("last_eid"))
    }),

    // AT_TIMESTAMP start position (S1's fifth variant — in the public
    // Kinesis enum but missing from the reference's KCL 1.0 pin,
    // ShardSubscription.java:82): the fixture seeds arrival stamps =
    // event time (put in ts order, so the per-shard monotonicity the
    // real service guarantees holds), and the query replays only from
    // the corpus midpoint stamp. The oracle is the equivalent batch
    // time filter — proving the iterator resolution reads exactly the
    // at/after-stamp suffix of every shard, not an approximation.
    "s18_stream_at_timestamp" -> ((s, d) => {
      val name = s"events_ts_${sfx(d)}"
      synchronized {
        if (!ShardServiceRegistry.exists(name)) {
          val stream = ShardServiceRegistry.create(name, 4)
          T.events(s, d)
            .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
              to_json(struct(col("event_id"), unix_micros(col("ts")).as("ts_us"),
                col("event_type"))).as("json"))
            .orderBy(col("ts_us"), col("event_id"))
            .toLocalIterator().forEachRemaining { r =>
              stream.putRecord(r.getLong(0).toString, r.getString(2).getBytes(UTF_8),
                None, arrivalTs = Some(r.getLong(1)))
            }
        }
      }
      // deterministic cutoff: corpus midpoint stamp; both engines
      // compute (min+max) div 2 on non-negative micros (trunc == floor)
      val mm = T.events(s, d)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val cutoff = (mm.getLong(0) + mm.getLong(1)) / 2
      val tsSchema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("event_type", StringType)))
      val raw = s.readStream.format("shardstream")
        .option("stream", name)
        .option("startingPosition", s"at_timestamp:$cutoff")
        .option("maxRecordsPerBatch", "50000")
        .load()
      drain(s, raw
        .select(from_json(col("data").cast("string"), tsSchema).as("e"))
        .select(col("e.event_id"), col("e.ts_us"), col("e.event_type")))
    }),

    // Streaming CDC apply: foreachBatch merges each micro-batch into a
    // keyed parquet target with latest-wins semantics — the classic
    // upsert loop for table formats without transactional MERGE.
    // Generation swap (read gen N, write gen N+1) instead of
    // in-place overwrite: Spark refuses to overwrite a path it is
    // reading, and the swap is what non-transactional CDC sinks do for
    // atomicity anyway. Each batch pays one window shuffle on the
    // merge key; at scale the target would be bucketed by user_id so
    // the merge is shuffle-free (q86's layout note). Latest-wins is
    // idempotent, so at-least-once batch replay converges to the same
    // table. Final table == the batch last-event-per-user oracle.
    "s13_stream_upsert" -> ((s, d) => {
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val root = scratch(s, d, "upsert")
      val gen = new AtomicInteger(0)
      val ev = jsonStream(s, name, cap, payloadSchema)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      graft.streaming.StreamObservability.attach(s)
      ev.writeStream.outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          val g = gen.get()
          val merged =
            if (g == 0) batch
            else ss.read.parquet(s"$root/g$g").unionByName(batch)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("ts_us").desc, col("event_id").desc)
          merged.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
            .write.mode("overwrite").parquet(s"$root/g${g + 1}")
          gen.incrementAndGet()
          ()
        }.start().awaitTermination()
      s.read.parquet(s"$root/g${gen.get()}")
        .select(col("user_id"), col("ts_us").as("last_ts_us"),
          col("event_id").as("last_event_id"), col("event_type").as("last_event_type"))
    }),

    // Streaming EWMA anomaly alerts — the real-time fraud/spike
    // monitor every event pipeline ends up needing, and the streaming
    // form of q108's exact-integer EWMA recurrence: per user,
    // ewma' = (3·ewma + v) div 4 over purchase cents, initialized to
    // the first observed value, and an ALERT row is emitted whenever a
    // purchase exceeds 4× the ewma-so-far (checked BEFORE the update —
    // the score an online monitor would have had at arrival time).
    // Determinism across the batch topology: the shard fixture keys on
    // user_id and seeds in event_id order, the source guarantees
    // per-shard order (S-item), and the handler sorts each batch's
    // rows by event_id — so every user's fold runs in event_id order
    // no matter where micro-batch boundaries fall (the fixture-derived
    // cap forces ~4 batches). flatMapGroupsWithState in append mode
    // (0..N emissions per group per batch — alerts, not aggregates);
    // state is one (n, ewma) long pair per user, bounded and
    // timeout-evictable at 100 TB key cardinalities. Negative or null
    // values are excluded up front: the floor recurrence is div-vs-//
    // portable only on non-negative operands (the house signed-floor
    // rule). The oracle replays the identical fold per user with
    // list_reduce over the event_id-ordered purchase list.
    "s25_stream_ewma_alerts" -> ((s, d) => {
      import s.implicits._
      val name = eventsRt(s, d)
      val cap = math.max(1000L, T.events(s, d).count() / 4)
      val ev = jsonStream(s, name, cap, payloadSchema)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
        .filter(col("v_c") >= 0)
        .as[(Long, Long, Long)]
      val alerts = ev.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, Long)],
           st: GroupState[(Long, Long)]) =>
            val sorted = rows.toSeq.sortBy(_._2)
            var (n, ew) = st.getOption.getOrElse((0L, 0L))
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            sorted.foreach { case (_, eid, v) =>
              if (n == 0L) { ew = v; n = 1L }
              else {
                if (v > 4L * ew) out += ((uid, eid, v, ew))
                ew = (ew * 3L + v) / 4L
                n += 1L
              }
            }
            st.update((n, ew))
            out.result().iterator
        }.toDF("user_id", "event_id", "v_c", "ewma_before")
      drain(s, alerts)
    }))

  /** Shared WITH-chain of the s48/s59 profile oracles: the exact
    * per-column stats, the q214 m=32 HLL register replay over each
    * column's distinct value strings, and the per-column base rows.
    * One string so the audit and production variants cannot drift. */
  private val profileOracleCore: String =
    s"""WITH t AS (
      |  SELECT o_custkey AS ck, o_orderstatus AS st,
      |    ${graft.functions.Exact.centsSql("o_totalprice")} AS pc,
      |    CAST(epoch(o_orderdate) AS BIGINT) AS ep
      |  FROM orders),
      |w AS (SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ck_nulls,
      |  count(DISTINCT ck) AS ck_dist,
      |  CAST(min(ck) AS VARCHAR) AS ck_min, CAST(max(ck) AS VARCHAR) AS ck_max,
      |  CAST(sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS st_nulls,
      |  count(DISTINCT st) AS st_dist,
      |  min(st) AS st_min, max(st) AS st_max,
      |  CAST(sum(CASE WHEN pc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pc_nulls,
      |  count(DISTINCT pc) AS pc_dist,
      |  CAST(min(pc) AS VARCHAR) AS pc_min, CAST(max(pc) AS VARCHAR) AS pc_max,
      |  CAST(sum(CASE WHEN ep IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ep_nulls,
      |  count(DISTINCT ep) AS ep_dist,
      |  CAST(min(ep) AS VARCHAR) AS ep_min, CAST(max(ep) AS VARCHAR) AS ep_max
      |  FROM t),
      |sv AS (
      |  SELECT 'o_custkey' AS col_name, CAST(ck AS VARCHAR) AS val
      |  FROM t WHERE ck IS NOT NULL
      |  UNION ALL SELECT 'o_orderstatus', st FROM t WHERE st IS NOT NULL
      |  UNION ALL SELECT 'o_totalprice_cents', CAST(pc AS VARCHAR)
      |  FROM t WHERE pc IS NOT NULL
      |  UNION ALL SELECT 'o_orderdate_epoch_s', CAST(ep AS VARCHAR)
      |  FROM t WHERE ep IS NOT NULL),
      |dvv AS (SELECT DISTINCT col_name, val FROM sv),
      |hh AS (SELECT col_name,
      |  CAST('0x' || substr(md5(val), 1, 15) AS BIGINT) AS h FROM dvv),
      |rk AS (SELECT col_name, h // 36028797018963968 AS j,
      |  CASE WHEN h % 36028797018963968 = 0 THEN 56
      |       ELSE 55 - (length(bin(h % 36028797018963968)) - 1)
      |  END AS rank FROM hh),
      |rg AS (SELECT col_name, j, CAST(max(rank) AS BIGINT) AS reg
      |  FROM rk GROUP BY 1, 2),
      |hs AS (SELECT col_name,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(56 - reg AS INT)) AS BIGINT)
      |    + (32 - count(*)) * 72057594037927936 AS s
      |  FROM rg GROUP BY 1),
      |he AS (SELECT col_name,
      |  CAST((CAST(697000 AS HUGEINT) * 1024 * 72057594037927936)
      |    // (CAST(s AS HUGEINT) * 1000000) AS BIGINT) AS ndv_hll
      |  FROM hs),
      |base AS (
      |  SELECT n_rows, 'o_custkey' AS col_name, ck_nulls AS n_nulls,
      |    ck_dist AS n_distinct, ck_min AS min_s, ck_max AS max_s FROM w
      |  UNION ALL SELECT n_rows, 'o_orderstatus', st_nulls, st_dist,
      |    st_min, st_max FROM w
      |  UNION ALL SELECT n_rows, 'o_totalprice_cents', pc_nulls,
      |    pc_dist, pc_min, pc_max FROM w
      |  UNION ALL SELECT n_rows, 'o_orderdate_epoch_s', ep_nulls,
      |    ep_dist, ep_min, ep_max FROM w)""".stripMargin

  def oracles: Map[String, String] = Map(
    // s00's fixture is a fixed 8-row constant (2 puts per key,
    // independent of the tables), so its oracle is the constant too
    "s00_stream_epoch_floor" ->
      """SELECT k, CAST(2 AS BIGINT) AS n
        |FROM (VALUES ('k0'), ('k1'), ('k2'), ('k3')) t(k)""".stripMargin,

    "s17_shard_split_replay" ->
      """SELECT user_id, count(*) AS n,
        |  min(event_id) AS first_eid, max(event_id) AS last_eid
        |FROM events GROUP BY user_id""".stripMargin,

    "s19_stream_file_source" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
        |  min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events GROUP BY event_type""".stripMargin,

    "s18_stream_at_timestamp" ->
      """SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |FROM events
        |WHERE epoch_us(ts) >= (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 FROM events)""".stripMargin,

    // batch time-filter equivalent of the post-split at-stamp replay;
    // the cutoff is max(ts) over the first n/6 rows of the same
    // (ts, event_id) total order the fixture was seeded in
    "s21_split_at_timestamp" ->
      """WITH t AS (
        |  SELECT event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (ORDER BY ts_us, event_id) AS rn FROM t),
        |cut AS (SELECT max(ts_us) AS c FROM r
        |  WHERE rn <= (SELECT count(*) // 6 FROM events))
        |SELECT event_type, count(*) AS n,
        |  min(event_id) AS first_eid, max(event_id) AS last_eid
        |FROM t, cut WHERE t.ts_us >= cut.c
        |GROUP BY event_type""".stripMargin,

    "s13_stream_upsert" ->
      """SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
        |  event_id AS last_event_id, event_type AS last_event_type
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1""".stripMargin,

    "s12_transform_with_state" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |FROM events GROUP BY user_id""".stripMargin,

    "s11_stream_session" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS sess_start_us,
        |  CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT) AS sess_end_us,
        |  count(*) AS n
        |FROM sess GROUP BY user_id, sid
        |HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)""".stripMargin,
    // island detection by RUNNING MAX of per-event ends (ts + gap):
    // a session break is an event at-or-past every preceding member's
    // end; closure = dynamic session end ≤ final watermark
    "s29_dynamic_session" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1800000000
        |         ELSE 600000000 END AS gap_us,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
        |  FROM events),
        |m AS (
        |  SELECT *, coalesce(max(CAST(epoch_us(ts) AS BIGINT) + gap_us)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    -1) AS prev_end
        |  FROM e),
        |b AS (
        |  SELECT *, CASE WHEN CAST(epoch_us(ts) AS BIGINT) >= prev_end
        |    THEN 1 ELSE 0 END AS brk
        |  FROM m),
        |sess AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b)
        |SELECT user_id,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS sess_start_us,
        |  CAST(max(CAST(epoch_us(ts) AS BIGINT) + gap_us) AS BIGINT)
        |    AS sess_end_us,
        |  count(*) AS n, CAST(sum(isp) AS BIGINT) AS n_purch
        |FROM sess GROUP BY user_id, sid
        |HAVING max(CAST(epoch_us(ts) AS BIGINT) + gap_us)
        |  <= CAST(epoch_us((SELECT w FROM wm)) AS BIGINT)""".stripMargin,

    // s04's closure predicate per (window, band) group + the identical
    // doubled-rank band selection
    "s31_stream_quantile_monitor" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
        |b AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
        |    CAST(round(value * 100) AS BIGINT) // 100 AS band,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |    AND value >= 0
        |  GROUP BY 1, 2
        |  HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR
        |    <= (SELECT w FROM wm)),
        |c AS (
        |  SELECT start_s, band, n,
        |    CAST(sum(n) OVER (PARTITION BY start_s ORDER BY band
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY start_s) AS BIGINT) AS tot
        |  FROM b)
        |SELECT start_s, max(tot) AS n_rows,
        |  min(CASE WHEN cum * 2 >= tot THEN band END) AS p50_band,
        |  min(CASE WHEN cum * 20 >= tot * 19 THEN band END) AS p95_band
        |FROM c GROUP BY 1""".stripMargin,

    // q112's oracle BY REFERENCE: register sums merged across
    // micro-batches must equal the one-shot CMS build
    "s33_stream_cms_monitor" -> Sketches.oracles("q112_cms_heavyhitters"),
    "s36_stream_funnel" -> Events.oracles("q81_funnel"),

    "s37_stream_temporal_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    event_type
        |  FROM events),
        |hist AS (
        |  SELECT user_id, event_type AS attr, us, event_id AS id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM ev WHERE event_type != 'purchase'),
        |dim AS (
        |  SELECT user_id AS d_uid, attr,
        |    us AS eff_from_us, id AS eff_from_id,
        |    COALESCE(lead(us) OVER (PARTITION BY user_id ORDER BY us, id),
        |      4611686018427387904) AS eff_to_us,
        |    COALESCE(lead(id) OVER (PARTITION BY user_id ORDER BY us, id),
        |      4611686018427387904) AS eff_to_id
        |  FROM hist WHERE prev IS NULL OR prev != attr),
        |p AS (SELECT event_id, user_id, us FROM ev
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.us AS ts_us,
        |  COALESCE(dim.attr, 'none') AS attr_at_purchase,
        |  COALESCE(dim.eff_from_id, -1) AS version_id
        |FROM p LEFT JOIN dim ON p.user_id = dim.d_uid
        |  AND (dim.eff_from_us < p.us
        |    OR (dim.eff_from_us = p.us AND dim.eff_from_id <= p.event_id))
        |  AND (p.us < dim.eff_to_us
        |    OR (p.us = dim.eff_to_us AND p.event_id < dim.eff_to_id))""".stripMargin,

    // the batch-boundary-independent SCD2 dimension: change points by
    // lag over the full per-user log, validity intervals by lead; the
    // streamed MERGE chain must reproduce it row-for-row
    "s34_stream_scd2" ->
      """WITH chg AS (
        |  SELECT user_id, ts, event_id, event_type AS attr,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_attr
        |  FROM events),
        |v AS (
        |  SELECT user_id, ts, event_id, attr
        |  FROM chg WHERE prev_attr IS NULL OR attr != prev_attr)
        |SELECT user_id, attr,
        |  CAST(epoch_us(ts) AS BIGINT) AS eff_from_us,
        |  event_id AS eff_from_id,
        |  CAST(coalesce(epoch_us(lead(ts) OVER w), -1) AS BIGINT)
        |    AS eff_to_us,
        |  CAST(coalesce(lead(event_id) OVER w, -1) AS BIGINT) AS eff_to_id,
        |  CAST(lead(event_id) OVER w IS NULL AS BIGINT) AS is_current
        |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // q198's oracle BY REFERENCE: the streamed union of per-batch
    // centroid assignments must equal the one-shot batch admission
    // answer (vec grain is batch-local, so any lost/duplicated stream
    // record shifts a cell count and fails the hash gate)
    "s32_stream_ivf_admission" -> Similarity.oracles("q198_ivf_incremental"),

    // the streamed drain + exact synopsis merge must reproduce q312's
    // batch answer bit-for-bit (mergeable bottom-k), so it is gated by
    // the SAME oracle
    "s38_stream_priority_sample" -> Pipeline.oracles("q312_priority_sample"),

    // additive retraction partials summed over batches must equal
    // q320's one-shot maintenance — gated by the SAME oracle
    "s39_stream_ivm_retraction" -> Relational.oracles("q320_ivm_retraction_audit"),
    // the streamed (band × date) histogram merge + midpoint derivation
    // must reproduce q328's batch PSI bit-for-bit
    "s41_stream_psi_monitor" -> Pipeline.oracles("q328_psi_drift"),
    // the streamed register-max merge must reproduce q214's bank
    // bit-for-bit (max semilattice)
    "s42_stream_hll_monitor" -> Sketches.oracles("q214_hll_distinct"),
    // the streamed leaf-count sum must reproduce q332's histogram —
    // and therefore its digest — bit-for-bit (linear merge)
    "s43_stream_qdigest_monitor" -> Sketches.oracles("q332_qdigest_quantiles"),
    // the streamed daily-count sum must reproduce q330's LLR
    // trajectory bit-for-bit (linear merge)
    "s44_stream_sprt_monitor" -> Pipeline.oracles("q330_sprt_monitor"),
    // the streamed per-dow count sums must reproduce q349's Wilson
    // intervals bit-for-bit (linear merge into the DECIMAL fold)
    "s55_stream_wilson_monitor" -> Events.oracles("q349_wilson_ci"),
    // the streamed per-day count sums must reproduce q353's
    // median-sign-runs chain bit-for-bit (linear merge)
    "s56_stream_runs_monitor" -> Events.oracles("q353_runs_test"),
    // the streamed per-look count sums must reproduce q355's interim
    // z² trajectory bit-for-bit (linear merge into the literal fold)
    "s57_stream_obf_monitor" -> Pipeline.oracles("q355_obf_boundaries"),
    "s58_stream_bt_monitor" -> Pipeline.oracles("q356_bradley_terry"),
    // the streamed power-sum merge must reproduce q337's moments
    // bit-for-bit (linear merge over DECIMAL partials)
    "s45_stream_shape_monitor" -> Pipeline.oracles("q337_shape_profile"),
    // the streamed per-lang fertility partials must reproduce q338's
    // report bit-for-bit (fixed vocab, linear merge)
    "s46_stream_fertility_monitor" -> TextAnalysis.oracles("q338_bpe_fertility"),

    // s47/s48 are gated by their batch twins' oracles verbatim (the
    // s38–s46 discipline): count partials (s47) and footer-stat
    // semilattice/union partials (s48) merge exactly
    "s47_stream_bloom_monitor" -> Sketches.oracles("q311_bloom_size_tune"),
    // q113's profile oracle EXTENDED with q214's integer-exact HLL
    // replay per column: the exact columns are the
    // same chain q113 gates, the ndv_hll/ndv_err_ppm columns re-derive
    // the m=32 register bank from each column's distinct value strings
    "s48_stream_profile_monitor" ->
      s"""$profileOracleCore
        |SELECT b.n_rows, b.col_name, b.n_nulls, b.n_distinct, he.ndv_hll,
        |  CAST((abs(he.ndv_hll - b.n_distinct) * 1000000) // b.n_distinct
        |    AS BIGINT) AS ndv_err_ppm,
        |  b.min_s, b.max_s
        |FROM base b JOIN he USING (col_name)""".stripMargin,
    // the SAME profile core minus the exactness columns: the
    // registers-only production mode keeps the stats and the HLL
    // estimate, never an exact distinct set
    "s59_stream_profile_registers" ->
      s"""$profileOracleCore
        |SELECT b.n_rows, b.col_name, b.n_nulls, he.ndv_hll,
        |  b.min_s, b.max_s
        |FROM base b JOIN he USING (col_name)""".stripMargin,
    // XOR-of-XORs + summed counts reproduce the batch checksums
    "s49_stream_checksum_monitor" -> Sketches.oracles("q83_table_checksum"),
    // summed df partials + Σnd=1 owners reassemble per-doc novelty
    "s50_stream_novelty_monitor" -> Pipeline.oracles("q130_ngram_novelty"),
    // merged bottom-64 partials contain the global bottom-64
    "s51_stream_kmv_monitor" -> Sketches.oracles("q43_kmv_distinct"),
    // linear count partials feed the identical two-floor LIX report
    "s52_stream_readability_monitor" ->
      TextAnalysis.oracles("q342_readability_lix"),
    // alphabet-bounded char-count partials feed the LUT entropy fold
    "s53_stream_entropy_monitor" -> TextAnalysis.oracles("q344_byte_entropy"),
    // summed daily-count partials feed the identical Haar fold
    "s54_stream_haar_monitor" -> Events.oracles("q299_haar_sketch"),
    // per-doc scene summaries are batch-local (s30's doc-grain rule)
    "s60_stream_scenecut_monitor" -> Multimodal.oracles("q360_scene_cuts"),

    // idempotent set-union of matched gram hashes over batches must
    // reproduce q317's one-shot overlap — gated by the SAME oracle
    "s40_stream_contamination_monitor" -> Dedup.oracles("q317_contamination_check"),

    // q155's oracle verbatim: the streamed union over micro-batches
    // must equal the one-shot batch admission answer (doc grain is
    // batch-local, so any lost/duplicated stream record fails the gate)
    "s30_stream_neardup_admission" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM w WHERE len(w) >= 3),
        |b AS (SELECT * FROM d
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 10 = 0),
        |ix AS (SELECT * FROM d
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 10 != 0),
        |scored AS (
        |  SELECT a, bdoc, inter * 1000000 // uni AS sim_ppm FROM (
        |    SELECT b.doc_id AS a, ix.doc_id AS bdoc,
        |      CAST(len(list_intersect(b.sh, ix.sh)) AS BIGINT) AS inter,
        |      CAST(len(list_distinct(list_concat(b.sh, ix.sh))) AS BIGINT) AS uni
        |    FROM b, ix) p
        |  WHERE 2 * inter >= uni),
        |g AS (
        |  SELECT a, bdoc, sim_ppm,
        |    max(sim_ppm) OVER (PARTITION BY a) AS ms,
        |    CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS nm
        |  FROM scored)
        |SELECT a AS doc_id, nm AS n_matches, min(bdoc) AS best_match,
        |  CAST(ms AS BIGINT) AS best_sim_ppm
        |FROM g WHERE sim_ppm = ms
        |GROUP BY a, nm, ms""".stripMargin,

    "s35_stream_bloom_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(
        |      array_to_string(string_split(text, ' ')[1:3], ' ')), 1, 15)
        |      AS BIGINT) AS fp,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 10 = 0 AS is_strm
        |  FROM documents),
        |ix AS (SELECT doc_id, fp FROM d WHERE NOT is_strm),
        |strm AS (SELECT doc_id, fp FROM d WHERE is_strm),
        |ipos AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(k.i AS VARCHAR)
        |    || '|' || CAST(fp AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS pos
        |  FROM ix CROSS JOIN (VALUES (0), (1), (2)) AS k(i)),
        |sp AS (
        |  SELECT doc_id, fp,
        |    CAST('0x' || substr(md5(CAST(k.i AS VARCHAR)
        |    || '|' || CAST(fp AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS pos
        |  FROM strm CROSS JOIN (VALUES (0), (1), (2)) AS k(i)),
        |maybe AS (
        |  SELECT doc_id, fp,
        |    sum(CASE WHEN pos IN (SELECT pos FROM ipos) THEN 1 ELSE 0 END)
        |      = 3 AS bloom_maybe
        |  FROM sp GROUP BY 1, 2),
        |dup AS (
        |  SELECT m.doc_id, min(ix.doc_id) AS dup_of
        |  FROM maybe m JOIN ix ON m.fp = ix.fp WHERE m.bloom_maybe
        |  GROUP BY 1)
        |SELECT m.doc_id, m.bloom_maybe,
        |  dup.dup_of IS NOT NULL AS is_dup,
        |  COALESCE(dup.dup_of, -1) AS dup_of
        |FROM maybe m LEFT JOIN dup ON m.doc_id = dup.doc_id""".stripMargin,

    "s10_stateful_running" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value * 1024) AS BIGINT)) AS BIGINT) AS sum_vq
        |FROM events GROUP BY user_id""".stripMargin,

    "s16_stream_milestones" ->
      """SELECT user_id,
        |  CAST(unnest(list_transform(
        |    generate_series(1, CAST(n // 5 AS BIGINT)), m -> m * 5))
        |    AS BIGINT) AS milestone_n
        |FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id) c""".stripMargin,

    "s09_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(value * 1024) AS BIGINT)) AS BIGINT) AS sum_vq,
        |  min(event_id) AS first_event
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY c_mktsegment""".stripMargin,

    "s07_stream_dedup" ->
      "SELECT event_id, event_type FROM events",

    "s20_stream_dedup_static" ->
      """SELECT lang, count(*) AS n_new,
        |  CAST(sum(n_chars) AS BIGINT) AS new_chars, min(doc_id) AS first_doc
        |FROM documents
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents
        |  WHERE doc_id < (SELECT count(*) // 2 FROM documents))
        |GROUP BY lang""".stripMargin,

    "s14_stream_dedup_watermarked" ->
      """SELECT event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM events""".stripMargin,

    "s15_stream_outer_join" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
        |         - INTERVAL 1 HOUR AS w),
        |matched AS (
        |  SELECT c.event_id AS c_eid, p.event_id AS p_eid
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE),
        |unmatched AS (
        |  SELECT c.event_id AS c_eid, CAST(NULL AS BIGINT) AS p_eid
        |  FROM c, wm
        |  WHERE c.ts + INTERVAL 10 MINUTE < wm.w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM p WHERE p.user_id = c.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE))
        |SELECT c_eid, p_eid FROM matched
        |UNION ALL SELECT c_eid, p_eid FROM unmatched""".stripMargin,

    "s08_stream_complete_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 1024) AS BIGINT)) AS BIGINT) AS sum_vq
        |FROM events GROUP BY event_type""".stripMargin,

    // micros (epoch_us), not raw timestamps: the parquet ts is nanos
    // and the Spark side truncates to micros (Tables.events), so a
    // nano-precision comparison here could flip pairs at the exact
    // 10-minute boundary
    "s06_stream_stream_join" ->
      """SELECT c.event_id AS c_eid, p.event_id AS p_eid
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000""".stripMargin,

    "s05_dsv2_sink_pipe" ->
      """SELECT event_type, count(*) AS n,
        |  min(event_id) AS first_eid, max(event_id) AS last_eid
        |FROM events GROUP BY event_type""".stripMargin,
    "s01_stream_roundtrip" ->
      """SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |  user_id, event_type, value
        |FROM events""".stripMargin,

    "s02_stream_take_n" ->
      """SELECT seq, event_type FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS seq,
        |    event_type
        |  FROM events ORDER BY event_id LIMIT 5) t""".stripMargin,

    "s22_chained_windows" ->
      """WITH wm AS (SELECT epoch(max(ts) - INTERVAL 10 MINUTE) AS w FROM events),
        |hourly AS (
        |  SELECT (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 14400) * 14400
        |    AS bucket_s, date_trunc('hour', ts) AS h, event_type
        |  FROM events),
        |g AS (
        |  SELECT bucket_s, h, event_type, count(*) AS n
        |  FROM hourly GROUP BY 1, 2, 3)
        |SELECT bucket_s, event_type, count(*) AS n_hours,
        |  CAST(max(n) AS BIGINT) AS max_hourly, CAST(sum(n) AS BIGINT) AS total
        |FROM g GROUP BY 1, 2
        |HAVING bucket_s + 14400 <= (SELECT w FROM wm)""".stripMargin,

    "s23_join_then_window" ->
      """WITH c AS (
        |  SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
        |    - INTERVAL 1 HOUR AS w),
        |j AS (
        |  SELECT date_trunc('hour', pts) AS h, pu
        |  FROM c JOIN p ON cu = pu
        |    AND pts >= cts AND pts <= cts + INTERVAL 10 MINUTE)
        |SELECT CAST(epoch(h) AS BIGINT) AS start_s, count(*) AS n_conversions,
        |  CAST(count(DISTINCT pu) AS BIGINT) AS n_users
        |FROM j GROUP BY 1
        |HAVING max(h) + INTERVAL 1 HOUR <= (SELECT w FROM wm)""".stripMargin,

    "s04_stream_windowed" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
        |  event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT w FROM wm)""".stripMargin,

    // the restart boundary is invisible to the final answer — that is
    // the exactly-once claim: the oracle is s04's whole-fixture batch
    // predicate, and any duplicate/lost record across the stop/resume
    // shows up as a count or row-set mismatch
    "s28_crash_recovery" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
        |  event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT w FROM wm)""".stripMargin,

    // the COMPLEMENT of s04's closure predicate: what the state store
    // still buffers after the drain = windows NOT yet closed by the
    // final watermark
    "s26_state_reader" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
        |  event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR > (SELECT w FROM wm)""".stripMargin,

    // the q187 lateness table + zero-loss delay choice replayed, then
    // s04's closure predicate AT the chosen delay
    "s24_tuned_watermark" ->
      """WITH e AS (
        |  SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |p AS (
        |  SELECT event_id, ts_us,
        |    coalesce(max(ts_us) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_max
        |  FROM e),
        |dl(delay_us) AS (VALUES
        |  (60000000), (300000000), (600000000), (3600000000)),
        |g AS (
        |  SELECT CAST(delay_us AS BIGINT) AS delay_us,
        |    sum(CASE WHEN prev_max - ts_us > delay_us THEN 1 ELSE 0 END)
        |      AS n_dropped
        |  FROM p, dl GROUP BY 1),
        |ch AS (
        |  SELECT CAST(coalesce(min(CASE WHEN n_dropped = 0 THEN delay_us END),
        |    3600000000) AS BIGINT) AS delay_us FROM g),
        |wm AS (
        |  SELECT max(ts) - to_microseconds((SELECT delay_us FROM ch)) AS w
        |  FROM events)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS start_s,
        |  event_type, count(*) AS n, (SELECT delay_us FROM ch) AS delay_us
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT w FROM wm)""".stripMargin,

    // the s24 closure predicate per (user, hour), in the timer clock's
    // MILLISECOND units: a timer at the hour end fires iff it is <= the
    // final watermark (max event ms - tuned delay ms)
    "s27_timer_windows" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events),
        |p AS (
        |  SELECT event_id, ts_us,
        |    coalesce(max(ts_us) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_max
        |  FROM e),
        |dl(delay_us) AS (VALUES
        |  (60000000), (300000000), (600000000), (3600000000)),
        |g AS (
        |  SELECT CAST(delay_us AS BIGINT) AS delay_us,
        |    sum(CASE WHEN prev_max - ts_us > delay_us THEN 1 ELSE 0 END)
        |      AS n_dropped
        |  FROM p, dl GROUP BY 1),
        |ch AS (
        |  SELECT CAST(coalesce(min(CASE WHEN n_dropped = 0 THEN delay_us END),
        |    3600000000) AS BIGINT) AS delay_us FROM g),
        |wm AS (
        |  SELECT max(ts_us) // 1000 - (SELECT delay_us FROM ch) // 1000 AS w_ms
        |  FROM e)
        |SELECT user_id,
        |  (ts_us // 3600000000) * 3600000000 AS start_us,
        |  count(*) AS n
        |FROM e
        |GROUP BY 1, 2
        |HAVING (min(ts_us) // 3600000000 + 1) * 3600000
        |  <= (SELECT w_ms FROM wm)""".stripMargin,

    "s03_sink_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS partition_key, count(*) AS n,
        |  min(event_id) AS first_eid, max(event_id) AS last_eid
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin,

    // the s25 fold replayed per user over the event_id-ordered
    // purchase list: ewma_before(i) = list_reduce of the first i-1
    // values (DuckDB's reduce seeds with the first element — the same
    // first-value initialization the stream handler uses)
    "s25_stream_ewma_alerts" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(round(value * 100) AS BIGINT) >= 0),
        |lists AS (
        |  SELECT user_id,
        |    list(v_c ORDER BY event_id) AS vs,
        |    list(event_id ORDER BY event_id) AS eids
        |  FROM p GROUP BY user_id),
        |alerts AS (
        |  SELECT user_id,
        |    unnest(list_filter(
        |      list_transform(range(2, len(vs) + 1),
        |        i -> struct_pack(
        |          eid := eids[CAST(i AS INT)],
        |          v := vs[CAST(i AS INT)],
        |          ew := list_reduce(list_slice(vs, 1, CAST(i AS INT) - 1),
        |            (a, x) -> (a * 3 + x) // 4))),
        |      t -> t.v > 4 * t.ew)) AS a
        |  FROM lists WHERE len(vs) >= 2)
        |SELECT user_id, a.eid AS event_id, a.v AS v_c,
        |  CAST(a.ew AS BIGINT) AS ewma_before
        |FROM alerts""".stripMargin)
}
