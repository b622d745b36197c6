package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.shard.ShardServiceRegistry

/** The traced wrapper must be invisible to results, and absent from
  * untraced runs. */
class TracedProviderSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val traced = "perfbench.trace.TracedShardStreamProvider"

  override def beforeAll(): Unit = {
    Files.createDirectories(new File(sys.props("java.io.tmpdir")).toPath)
    spark = Sessions.start(2)
  }
  override def afterAll(): Unit = if (spark != null) Sessions.stop(spark)

  /** 4 shards, seeded keys, one split half way through. */
  private def seeded(name: String, seed: Long): Unit = {
    val svc = ShardServiceRegistry.create(name, 4)
    val rnd = new Random(seed)
    def put(i: Int): Unit = svc.putRecord(s"k${rnd.nextInt(50)}", s"v$i".getBytes("UTF-8"))
    (0 until 400).foreach(put)
    svc.splitShard(svc.shardIds.head)
    (400 until 600).foreach(put)
  }

  /** Rows of every micro-batch and the offsets each one read. */
  private def drain(fmt: String, stream: String): (Seq[(Long, Seq[String])], Seq[(Long, String, String)]) = {
    val batches = new ConcurrentLinkedQueue[(Long, Seq[String])]()
    val q = spark.readStream.format(fmt)
      .option("stream", stream)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", "150")
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Paths.freshDir(s"spec_ckpt_${fmt.hashCode}_$stream").getPath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.add(id -> df.collect().map { r =>
          Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
            new String(r.getAs[Array[Byte]](4), "UTF-8")).mkString("|")
        }.sorted.toSeq)
        ()
      }
      .start()
    assert(q.awaitTermination(60000), s"$fmt drain of $stream timed out")
    val offsets = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(p => (p.batchId, p.sources.head.startOffset, p.sources.head.endOffset))
    (batches.asScala.toSeq.sortBy(_._1), offsets)
  }

  test("the traced source returns the same rows and offsets as shardstream") {
    seeded("spec_src", 7L)
    val plain = drain("shardstream", "spec_src")
    val wrapped = drain(traced, "spec_src")
    assert(plain._1.map(_._2.size).sum == 600)
    assert(plain._2.size > 2, "the budget should split the drain into several epochs")
    assert(wrapped == plain)
  }

  test("the traced sink writes the same records as shardstream") {
    val df = spark.range(500).select(
      concat(lit("k"), (col("id") % 37).cast("string")).as("partitionKey"),
      col("id").cast("string").cast("binary").as("data"), col("id"))
    def written(fmt: String, name: String): Map[String, Seq[(String, String)]] = {
      val svc = ShardServiceRegistry.create(name, 8)
      df.write.format(fmt).option("stream", name).option("orderBy", "id").mode("append").save()
      svc.shardIds.map { sh =>
        sh -> svc.getRecords(sh, 0, svc.size(sh).toInt).map(r => r.partitionKey -> new String(r.data, "UTF-8"))
      }.toMap
    }
    val plain = written("shardstream", "spec_sink_plain")
    assert(plain.values.map(_.size).sum == 500)
    assert(written(traced, "spec_sink_traced") == plain)
  }

  test("an untraced run loads no tracing class") {
    val java = new File(new File(sys.props("java.home"), "bin"), "java").getPath
    val cmd = Seq(java, "-Xmx1g", "-Xlog:class+load=info") ++
      sys.env.getOrElse("PERFBENCH_ADD_OPENS", "").split(" ").filter(_.nonEmpty) ++
      Seq(s"-Djava.io.tmpdir=${sys.props("java.io.tmpdir")}",
        s"-Dperfbench.root=${Paths.root}",
        s"-Dlog4j2.configurationFile=${new File(Paths.root, "perfbench/log4j2.properties")}",
        "-cp", sys.props("java.class.path"), "perfbench.Main",
        "--workload", "tail_openloop", "--seed", "5", "--seconds", "1", "--trace", "0")
    val err = new File(sys.props("java.io.tmpdir"), "untraced-run.err")
    val proc = new ProcessBuilder(cmd: _*).redirectError(err).start()
    val lines = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toVector
    assert(proc.waitFor() == 0,
      scala.io.Source.fromFile(err, "UTF-8").getLines().toSeq.takeRight(20).mkString("\n"))
    assert(lines.exists(_.contains("perfbench.TailOpenLoop")), "class loading was not logged")
    assert(lines.filter(_.contains("perfbench.trace.")).isEmpty)
    // class loading goes on during shutdown, after the result line
    assert(lines.filterNot(_.startsWith("[")).last.startsWith("""{"correct": true"""))
  }
}
