package graft.sources.shard

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** S15 — the producer/sink half the reference's README promises
  * (`/root/reference/README.md:6`) and its harness exercises via
  * `PutRecord` with `sequenceNumberForOrdering` chaining
  * (`ShardPublisherVerification.scala:44-51`).
  *
  * Spark shape (SURVEY §7.4): one shuffle on the partition key, sort
  * within partitions by (key, order), then sequential in-partition puts
  * chaining each key's previous sequence number. Guarantees: total
  * order per partitionKey (the reference's contract); cross-key writes
  * proceed in parallel across partitions — which is what scales: at
  * 100 TB the write fan-out is bounded by executor count, not by a
  * single producer loop, and no ordering is promised across keys
  * (exactly Kinesis semantics).
  *
  * For streaming use, call from `foreachBatch` — each micro-batch is a
  * DataFrame and goes through the same path.
  *
  * NOTE: [[ShardWrite]] is the first-class DSv2 form of the same
  * contract (the engine plans the clustering/sort it declares); this
  * helper remains for foreachBatch pipelines that interleave puts with
  * other per-batch logic. Ordering/chaining semantics must be kept in
  * sync between the two. Delivery differs: this helper is plain
  * at-least-once under task retries (the reference's fire-and-forget
  * PutRecord); the DSv2 writer adds the idempotent-producer scope that
  * makes retried tasks exactly-once visible — pipelines that need that
  * guarantee should write through `format("shardstream")`.
  */
object ShardSink {

  /** Write `df` into `stream`, ordered per partition key.
    *
    * @param keyCol     column used as partitionKey (cast to string)
    * @param payloadCol column used as payload (cast to binary)
    * @param orderCols  total order within each key (must be a total
    *                   order — ties would make replay nondeterministic)
    */
  def putOrdered(df: DataFrame, stream: String, keyCol: String,
                 payloadCol: String, orderCols: Seq[String]): Unit = {
    val prepared = df.select(
      (col(keyCol).cast("string").as("__key") +:
        col(payloadCol).cast("binary").as("__payload") +:
        orderCols.map(col)): _*)
      .repartition(col("__key"))
      .sortWithinPartitions(col("__key") +: orderCols.map(col): _*)
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        // Executor-side: resolve the service locally, once per
        // partition (same JVM in local[*]; a cluster impl would open a
        // client here).
        val svc = ShardServiceRegistry.get(stream)
        val lastSeq = scala.collection.mutable.Map.empty[String, Long]
        rows.foreach { r =>
          val key = r.getString(0)
          val payload = r.getAs[Array[Byte]](1)
          lastSeq(key) = svc.putRecord(key, payload, lastSeq.get(key))
        }
      }
    }
  }
}
