package perfbench

import java.io.File

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The analytics surface through `SparkEntry.queries`, on the committed
  * sf0.01 tables. Each query is isolated the way `graft.Bench` does it
  * and written to the `noop` sink; the seed drives the query order. */
object QueryMix extends Workload {
  val name = "query_mix"
  val cores = 4

  val BatchQueries: Seq[String] = Seq(
    "q304_seq_patterns",
    "q01_pricing_summary", "q03_shipping_priority", "q18_scalar_subquery")
  val StreamQueries: Seq[String] = Seq("s00_stream_epoch_floor", "s55_stream_wilson_monitor")
  val All: Seq[String] = BatchQueries ++ StreamQueries
  val MinPasses = 2

  def dataDir: File = new File(Paths.root, "perfbench/data/sf0.01")
  def digestFile: File = new File(Paths.root, "perfbench/oracle/digests.json")

  /** Some stream queries keep their checkpoints and partials under the
    * fixed directory /tmp. A Hadoop view file system mounts that
    * directory inside the checkout, and every other path on the local
    * file system as it is, so a run writes nothing outside the checkout. */
  override def conf: Map[String, String] = Map(
    "spark.hadoop.fs.defaultFS" -> "viewfs://perfbench/",
    "spark.hadoop.fs.viewfs.mounttable.perfbench.link./tmp" ->
      Paths.dir("tmp-mount").toURI.toString,
    "spark.hadoop.fs.viewfs.mounttable.perfbench.linkFallback" -> "file:///")

  def order(seed: Long): Seq[String] = new Random(seed).shuffle(All)

  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.Tables.dropPinnedSubstrates(spark)
    org.apache.spark.sql.execution.streaming.state.GraftStateStoreHygiene.unloadAllProviders()
    System.gc()
  }

  private def timed(spark: SparkSession, q: String): Double = {
    val fn = SparkEntry.queries(q)
    val t0 = System.nanoTime()
    fn(spark, dataDir.getPath).write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $q%s $t%.3f s")
    t
  }

  def expectedDigests(): Map[String, Digest.Result] = {
    val root = new ObjectMapper().readTree(digestFile)
    All.map { q =>
      val n = root.get(q)
      if (n == null) throw new IllegalStateException(s"no oracle digest for $q in $digestFile")
      q -> Digest.Result(n.get("rows").asLong, n.get("sha256").asText)
    }.toMap
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Input load: every table is read once. The queries themselves warm
    * up in the untimed correctness pass that opens [[measure]]. */
  def setUp(spark: SparkSession, args: Args): Unit = {
    expectedDigests()
    Tables.foreach(t => spark.read.parquet(new File(dataDir, s"$t.parquet").getPath).count())
  }

  /** Runs each query once and returns those whose result digest differs
    * from DuckDB's (or that failed). */
  def check(spark: SparkSession, qs: Seq[String], expected: Map[String, Digest.Result]): Seq[String] =
    qs.filter { q =>
      isolate(spark)
      val got = try Some(Digest.of(SparkEntry.queries(q)(spark, dataDir.getPath)))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: $e"); None }
      val ok = got.contains(expected(q))
      if (!ok) System.err.println(s"[perfbench] $q digest ${got.getOrElse("-")} != oracle ${expected(q)}")
      !ok
    }

  def measure(spark: SparkSession, args: Args, probe: Probe): Outcome = {
    val expected = expectedDigests()
    val qs = order(args.seed)
    // correctness pass, untimed; the first runs also pay class loading,
    // codegen and JIT
    val wrong = check(spark, qs, expected)
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val t0 = System.nanoTime()
    var pass = 0
    // at least two whole passes, more while another one fits in the budget
    while (pass < MinPasses || (System.nanoTime() - t0) / pass * (pass + 1) <= args.seconds * 1e9) {
      qs.foreach { q =>
        isolate(spark)
        probe.phaseStart(q)
        probe.queryStart(q)
        val t = timed(spark, q)
        probe.queryEnd(q, StreamQueries.contains(q), t)
        probe.phaseEnd()
        times(q) = times(q) :+ t
      }
      pass += 1
    }
    // live heap is measured next, without the last query's leftovers
    isolate(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // the fastest pass, as in graft.Bench: interference only adds time
    val perQuery = All.map(q => q -> times(q).min).toMap
    val batchS = BatchQueries.map(perQuery).sum
    val streamS = StreamQueries.map(perQuery).sum
    val walls = perQuery.values.toSeq
    Outcome(
      attempted = All.size.toLong,
      failed = wrong.size.toLong,
      rate = All.size / (batchS + streamS),
      // the queries differ in kind, so their typical time is the
      // geometric mean (a median would switch between queries)
      latencyMs = math.exp(walls.map(math.log).sum / walls.size) * 1000,
      latencyP99Ms = Stats.quantile(walls, 0.99) * 1000,
      extra = Map("workload.batch_s" -> batchS, "workload.stream_s" -> streamS))
  }
}

/** Writes the DuckDB oracle SQL of the query mix as JSON (query -> SQL)
  * for `oracle/make_digests.py`. */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = QueryMix.All.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val json = QueryMix.All.map(q => s"  ${Json.str(q)}: ${Json.str(sql(q))}").mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(argv(0)), json)
  }
}
