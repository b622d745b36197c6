package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint.freshLocalCheckpoint
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-19 fused-iteration checkpoint helper
  * ([[org.apache.spark.sql.graft.FreshCheckpoint]]): the fixpoint
  * harness checkpoints a plan that references the PREVIOUS checkpoint
  * twice (step side + convergence-probe side), and a plain
  * `localCheckpoint` carries the checkpointed plan's estimated
  * statistics forward — size-only join estimation then SQUARES the
  * estimate every iteration (digit count doubles per round), pinning
  * the driver in million-digit BigInt arithmetic by ~16 rounds and
  * overflowing java.math's BigInteger ceiling by ~25 (q161's observed
  * failure at its 32-iteration cap). freshLocalCheckpoint must (a)
  * return exactly the same rows and (b) keep the estimate CONSTANT
  * across double-reference iterations.
  */
class FreshCheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("fresh-checkpoint-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sizeDigits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length

  test("freshLocalCheckpoint preserves rows and schema exactly") {
    val s = spark; import s.implicits._
    val src = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("v", "p")
    val ck = freshLocalCheckpoint(src)
    assert(ck.schema == src.schema)
    assert(ck.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(Array((1L, 10L), (2L, 20L), (3L, 30L))))
  }

  test("double-reference iteration keeps the size estimate constant " +
      "(no origin-stats squaring)") {
    val s = spark; import s.implicits._
    val init = Seq((1L, 10L), (2L, 20L)).toDF("v", "p")
    // the fixpoint harness's exact shape: join the state with a
    // derived copy of ITSELF, checkpoint, project, repeat
    def iterate(ckpt: DataFrame => DataFrame, rounds: Int): Seq[Int] = {
      var p = ckpt(init)
      (1 to rounds).map { _ =>
        val joined = ckpt(
          p.toDF("v", "np").join(p.toDF("v", "op"), "v")
            .select(col("v"), (col("np") + 1L).as("np"), col("op")))
        p = joined.select(col("v"), col("np").as("p"))
        sizeDigits(joined)
      }
    }
    val fresh = iterate(freshLocalCheckpoint(_), 8)
    // constant estimate: every iteration sees the same fresh default
    assert(fresh.distinct.size == 1,
      s"fresh checkpoint estimate drifted across iterations: $fresh")
    // the plain-localCheckpoint control demonstrates the squaring this
    // helper exists to prevent (digits roughly double per round); only
    // a few rounds are run so the control itself stays cheap
    val plain = iterate(df => df.localCheckpoint(), 4)
    assert(plain.last > fresh.last,
      s"expected plain localCheckpoint estimates to outgrow fresh ones " +
        s"(plain=$plain fresh=${fresh.take(4)}) — if this ever fails " +
        "because Spark stopped propagating origin stats, " +
        "FreshCheckpoint can be retired")
    // the layout-claiming variant must cut the same feedback loop
    val kept = iterate(
      org.apache.spark.sql.graft.FreshCheckpoint
        .layoutLocalCheckpoint(_, Seq("v"), 2), 8)
    assert(kept.distinct.size == 1,
      s"layoutLocalCheckpoint estimate drifted across iterations: $kept")
  }

  test("layoutLocalCheckpoint claims a layout the planner can use; " +
      "freshLocalCheckpoint deliberately does not") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.graft.FreshCheckpoint.layoutLocalCheckpoint
    val src = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("v", "p")
    def exchanges(df: DataFrame): Int = {
      val agg = df.groupBy(col("v")).agg(count(lit(1)))
      agg.collect() // AQE finalizes the plan on execution
      agg.queryExecution.executedPlan.toString()
        .linesIterator.takeWhile(!_.contains("Initial Plan"))
        .count(_.contains("Exchange"))
    }
    // claimed layout: the agg's required hash distribution on v is
    // already satisfied by the checkpoint — zero exchanges in the
    // final adaptive plan, and the rows are intact
    val laid = layoutLocalCheckpoint(src, Seq("v"), 2)
    assert(laid.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(Array((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))))
    assert(exchanges(laid) == 0,
      "layoutLocalCheckpoint's claimed layout should satisfy a " +
        "groupBy(v) without an Exchange")
    // the layout-free rebuild reports UnknownPartitioning and pays the
    // exchange (deliberate — it is what lets AQE broadcast the small
    // state in the PageRank-family loops; see the scaladoc). Measured
    // round 20: under AQE, PLAIN localCheckpoint also reports
    // UnknownPartitioning, so this mode never loses layout relative to
    // it — if Spark ever starts capturing the final adaptive layout,
    // this assert flags the new trade to re-measure.
    assert(exchanges(freshLocalCheckpoint(src)) > 0,
      "freshLocalCheckpoint should report UnknownPartitioning")
    assert(exchanges(src.repartition(2, col("v")).localCheckpoint()) > 0,
      "plain localCheckpoint under AQE reports UnknownPartitioning — " +
        "if this fails, Spark now captures adaptive layout; re-measure " +
        "the layoutLocalCheckpoint call sites")
  }

  test("realSizeStats chooses the default estimate or the stored size; rows are intact") {
    val s = spark; import s.implicits._
    val src = (1L to 100L).map(v => (v, v * 10)).toDF("v", "p")
    val rows = src.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.defaultSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "123456789")
    try {
      val dflt = freshLocalCheckpoint(src, realSizeStats = false)
      val real = freshLocalCheckpoint(src)
      assert(size(dflt) == BigInt(123456789L),
        "realSizeStats = false must keep spark.sql.defaultSizeInBytes")
      assert(size(real) > 0 && size(real) < BigInt(123456789L),
        s"realSizeStats = true must report the stored size, got ${size(real)}")
      Seq(dflt, real).foreach { df =>
        assert(df.schema == src.schema)
        assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.sameElements(rows))
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("layoutLocalCheckpoint rejects a non-positive partition count and an unknown key") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.graft.FreshCheckpoint.layoutLocalCheckpoint
    val src = Seq((1L, 10L)).toDF("v", "p")
    val zero = intercept[IllegalArgumentException](layoutLocalCheckpoint(src, Seq("v"), 0))
    assert(zero.getMessage.contains("partition count must be > 0, got 0"))
    val neg = intercept[IllegalArgumentException](layoutLocalCheckpoint(src, Seq("v"), -3))
    assert(neg.getMessage.contains("partition count must be > 0, got -3"))
    val unknown = intercept[IllegalArgumentException](
      layoutLocalCheckpoint(src, Seq("v", "nope"), 2))
    assert(unknown.getMessage.contains("no output column named nope"))
  }
}
