package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one substrate lifecycle of [[Tables.memo]]: whatever a builder
  * leaves behind — a lazy plan, a persisted plan or an eager
  * localCheckpoint — `dropPinnedSubstrates` removes the entry and its
  * storage, and only for the session it is given. Builds happen once
  * per key, even when builders nest or threads race.
  */
class MemoLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("memo-lifecycle-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) {
    Tables.dropPinnedSubstrates(spark)
    spark.stop()
  }

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A lazy, a persisted and a checkpoint-backed builder under `tag`
    * (n, 2n and 3n rows), each counting its runs in `builds`. */
  private def substrates(s: SparkSession, tag: String,
      builds: collection.mutable.Map[String, Int],
      n: Long = 10): Seq[() => DataFrame] = {
    def counted(kind: String)(df: => DataFrame): () => DataFrame = () =>
      Tables.memo(s, s"$tag:$kind") {
        builds(kind) = builds.getOrElse(kind, 0) + 1
        df
      }
    Seq(
      counted("lazy")(s.range(n).toDF("v")),
      counted("persisted")(s.range(2 * n).toDF("v").persist(MEMORY_AND_DISK)),
      counted("pinned")(s.range(3 * n).toDF("v").localCheckpoint()))
  }

  test("a drop releases every entry's storage and the next call rebuilds") {
    val builds = collection.mutable.Map.empty[String, Int]
    val subs = substrates(spark, "drop", builds)
    val before = persistentRdds
    val first = subs.map(_())
    assert(first.map(_.count()) == Seq(10L, 20L, 30L))
    val held = persistentRdds -- before
    assert(held.size == 2, s"expected the cache and the checkpoint RDDs, got $held")
    assert(subs.map(_()).zip(first).forall { case (a, b) => a eq b },
      "a hit must return the memoized instance")
    assert(first(1).storageLevel == MEMORY_AND_DISK)

    Tables.dropPinnedSubstrates(spark)
    assert((persistentRdds intersect held).isEmpty,
      s"storage left behind after the drop: ${persistentRdds intersect held}")
    first.foreach(df => assert(df.storageLevel == StorageLevel.NONE,
      "the cache manager still holds a dropped plan"))

    val second = subs.map(_())
    second.zip(first).foreach { case (a, b) =>
      assert(!(a eq b), "a dropped entry must be rebuilt")
    }
    assert(builds == Map("lazy" -> 2, "persisted" -> 2, "pinned" -> 2))
    assert(second(1).storageLevel == MEMORY_AND_DISK)
    assert(second.map(_.count()) == Seq(10L, 20L, 30L))
    Tables.dropPinnedSubstrates(spark)
  }

  test("a hit re-persists an entry whose cache registration was cleared") {
    val builds = collection.mutable.Map.empty[String, Int]
    val persisted = substrates(spark, "clear", builds)(1)
    val df = persisted()
    spark.catalog.clearCache()
    assert(df.storageLevel == StorageLevel.NONE)
    assert(persisted() eq df)
    assert(df.storageLevel == MEMORY_AND_DISK)
    assert(builds == Map("persisted" -> 1))
    Tables.dropPinnedSubstrates(spark)
  }

  test("entries of another session survive a drop of the first") {
    val other = spark.newSession()
    val builds = collection.mutable.Map.empty[String, Int]
    val theirs = substrates(other, "other", builds, n = 100)
    val before = persistentRdds
    val kept = theirs.map(_())
    assert(kept.map(_.count()) == Seq(100L, 200L, 300L))
    val theirRdds = persistentRdds -- before
    assert(theirRdds.size == 2)
    substrates(spark, "mine", collection.mutable.Map.empty).foreach(_().count())

    Tables.dropPinnedSubstrates(spark)
    assert(theirRdds.subsetOf(persistentRdds),
      "a drop of one session released another session's storage")
    assert(kept(1).storageLevel == MEMORY_AND_DISK)
    assert(theirs.map(_()).zip(kept).forall { case (a, b) => a eq b },
      "the other session's entries must survive")
    assert(builds.values.forall(_ == 1))
    Tables.dropPinnedSubstrates(other)
    assert((persistentRdds intersect theirRdds).isEmpty)
  }

  test("a builder may memoize another key") {
    // the coocDw -> coocWdeg shape: the outer build asks for the inner
    // key while the memo lock is held
    var inner = 0
    var outer = 0
    def innerDf = Tables.memo(spark, "nested:inner") {
      inner += 1
      spark.range(3).toDF("v").persist(MEMORY_AND_DISK)
    }
    def outerDf = Tables.memo(spark, "nested:outer") {
      outer += 1
      innerDf.join(innerDf.toDF("w"), col("v") === col("w")).persist(MEMORY_AND_DISK)
    }
    assert(outerDf.count() == 3)
    assert((outerDf eq outerDf) && (innerDf eq innerDf))
    assert(inner == 1 && outer == 1)
    Tables.dropPinnedSubstrates(spark)
  }

  test("two threads asking for one key run the builder exactly once") {
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(() => {
          barrier.await(30, TimeUnit.SECONDS)
          Tables.memo(spark, "raced") {
            builds.incrementAndGet()
            Thread.sleep(200)
            spark.range(4).toDF("v")
          }
        })
      }
      val results = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"builder ran ${builds.get} times")
      assert(results(0) eq results(1))
    } finally pool.shutdownNow()
    Tables.dropPinnedSubstrates(spark)
  }
}
