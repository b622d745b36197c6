package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Verify.dump]] fails loudly but not early: a throwing query is
  * reported by name while every other query's parquet is still written. */
class VerifyDumpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("verify-dump-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a throwing query is returned by name and the others are still written") {
    val out = Files.createTempDirectory("verify-dump-spec").toFile
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_good" -> ((s, _) => s.range(5).toDF("v")))
    try {
      val failed = Verify.dump(spark, "unused", out.getPath, queries)
      assert(failed == Seq("q_bad"))
      assert(spark.read.parquet(s"$out/q_good").count() == 5)
      assert(!new java.io.File(out, "q_bad").exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
