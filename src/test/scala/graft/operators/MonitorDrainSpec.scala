package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.shard.ShardServiceRegistry

/** The contract of the stream monitors' drain ([[Streams.monitor]]):
  * batchId-keyed overwrite partials, each read back as its union over
  * all micro-batches with the schema it was written with. */
class MonitorDrainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "monitor_drain_spec"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("monitor-drain-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  /** 40 records (k = id % 4, v = id) in a 2-shard stream, read 10 per
    * micro-batch. */
  private def input(name: String): DataFrame = {
    Streams.fixture(name, 2) {
      spark.range(40).select(col("id"), col("id") % 5,
        to_json(struct((col("id") % 4).as("k"), col("id").as("v"))))
    }
    Streams.jsonStream(spark, name, 10L, schema)
  }

  test("re-emitting a batchId overwrites its partial, so the union counts it once") {
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = Streams.monitor(spark, dir, "replay", "mds_replay", input("mds_replay")) {
      (batch, emit) =>
        batches.incrementAndGet()
        val counts = batch.groupBy(col("k")).agg(count(lit(1)).as("n"))
        // an at-least-once replay writes the same batchId again
        emit("c", counts)
        emit("c", counts)
    }
    assert(batches.get() >= 4, s"expected several micro-batches, got ${batches.get()}")
    val total = p("c").agg(sum(col("n"))).head().getLong(0)
    assert(total == 40L)
  }

  test("two partials per batch read back independently with their written schemas") {
    val written = scala.collection.mutable.Map.empty[String, StructType]
    val p = Streams.monitor(spark, dir, "two", "mds_two", input("mds_two")) {
      (batch, emit) =>
        val a = batch.groupBy(col("k").cast("string").as("key"))
          .agg(count(lit(1)).as("n"))
        val b = batch.select(col("k").cast("int").as("x"),
          col("v").cast("decimal(38,0)").as("y"))
        written.synchronized { written("a") = a.schema; written("b") = b.schema }
        emit("a", a)
        emit("b", b)
    }
    assert(p.keySet == Set("a", "b"))
    for (name <- Seq("a", "b"))
      assert(p(name).schema.map(f => (f.name, f.dataType)) ==
        written(name).map(f => (f.name, f.dataType)), name)
    assert(p("a").agg(sum(col("n"))).head().getLong(0) == 40L)
    assert(p("a").select(col("key")).distinct().count() == 4L)
    assert(p("b").count() == 40L)
    assert(p("b").agg(sum(col("y"))).head().getDecimal(0).longValue == (0 until 40).sum)
  }

  test("a stream that yields no batch fails naming the tag and the stream") {
    // a shardstream run always commits batch 0 (its start offset is
    // new), so the batch-less input is a file source over an empty dir
    val empty = java.nio.file.Files.createTempDirectory("mds_empty").toString
    val err = intercept[IllegalStateException] {
      Streams.monitor(spark, dir, "empty_tag", "mds_empty",
        spark.readStream.schema(schema).json(empty)) { (batch, emit) =>
        emit("c", batch)
      }
    }
    assert(err.getMessage.contains("empty_tag") && err.getMessage.contains("mds_empty"),
      err.getMessage)
  }

  test("asking for a partial no batch wrote fails naming it") {
    val p = Streams.monitor(spark, dir, "absent", "mds_absent", input("mds_absent")) {
      (batch, emit) => emit("c", batch)
    }
    val err = intercept[IllegalStateException](p("d"))
    assert(err.getMessage.contains("'d'") && err.getMessage.contains("mds_absent"),
      err.getMessage)
  }
}
