package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The stream monitors under the DuckDB oracle gate in Tier-1: runs the
  * 28 drain-based monitors plus s00 (the epoch floor) and s34 (the
  * chained SCD2 merge) at sf0.001, dumps their results and oracle SQL
  * the way [[Verify]] does, and requires tools/check_oracle.py to
  * report no failure. [[OracleTypeParitySpec]] only binds the batch
  * oracles, so without this spec no s-query meets DuckDB in the suite. */
class StreamMonitorOracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  private lazy val hasDuck: Boolean =
    scala.util.Try(Seq("python3", "-c", "import duckdb").! == 0)
      .getOrElse(false)

  private val checked: Seq[String] = Seq(
    "s00_stream_epoch_floor", "s34_stream_scd2",
    "s30_stream_neardup_admission", "s32_stream_ivf_admission",
    "s33_stream_cms_monitor", "s35_stream_bloom_dedup",
    "s37_stream_temporal_join", "s38_stream_priority_sample",
    "s39_stream_ivm_retraction", "s40_stream_contamination_monitor",
    "s41_stream_psi_monitor", "s42_stream_hll_monitor",
    "s43_stream_qdigest_monitor", "s44_stream_sprt_monitor",
    "s45_stream_shape_monitor", "s46_stream_fertility_monitor",
    "s47_stream_bloom_monitor", "s48_stream_profile_monitor",
    "s49_stream_checksum_monitor", "s50_stream_novelty_monitor",
    "s51_stream_kmv_monitor", "s52_stream_readability_monitor",
    "s53_stream_entropy_monitor", "s54_stream_haar_monitor",
    "s55_stream_wilson_monitor", "s56_stream_runs_monitor",
    "s57_stream_obf_monitor", "s58_stream_bt_monitor",
    "s59_stream_profile_registers", "s60_stream_scenecut_monitor")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("StreamMonitorOracleSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("the drain-based stream monitors, s00 and s34 match their DuckDB oracles at sf0.001") {
    assume(hasDuck, "python3+duckdb not on this host")
    assert(checked.size == 30 && checked.forall(SparkEntry.queries.contains))
    val out = Files.createTempDirectory("stream_oracle").toString
    checked.foreach { name =>
      SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Verify.oracleJson(checked.toSet))
    val log = new StringBuilder
    val rc = Seq("python3", "tools/check_oracle.py", dir, out)
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(rc == 0 && log.toString.contains(s"== ${checked.size} pass / 0 fail =="),
      log.toString)
  }
}
