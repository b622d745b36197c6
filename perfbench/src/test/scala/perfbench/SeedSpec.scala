package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The seed drives the generated inputs and nothing else. */
class SeedSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    Files.createDirectories(new File(sys.props("java.io.tmpdir")).toPath)
    spark = Sessions.start(QueryMix.cores, QueryMix.conf)
  }
  override def afterAll(): Unit = if (spark != null) Sessions.stop(spark)

  test("two seeds generate different inputs; one seed always the same") {
    def tail(seed: Long) = TailOpenLoop.plan(seed, 2.0, backlog = 1000)
    val (a, a2, b) = (tail(1), tail(1), tail(2))
    assert(a.keys.sameElements(a2.keys) && a.dueNs.sameElements(a2.dueNs))
    assert(!a.keys.sameElements(b.keys))
    assert(a.size == b.size, "the schedule does not depend on the seed")

    def rows(seed: Long) = CatchupDrain.input(spark, seed, 2000).collect().map(_.toSeq.map {
      case bytes: Array[Byte] => bytes.toSeq
      case v => v
    }).toSeq
    assert(rows(1) == rows(1))
    assert(rows(1) != rows(2))

    assert(QueryMix.order(1) != QueryMix.order(2))
    assert(QueryMix.order(1).sorted == QueryMix.All.sorted)
  }

  test("query_mix digests match the oracle under two seeds, with no failure") {
    val expected = QueryMix.expectedDigests()
    Seq(1L, 2L).foreach { seed =>
      assert(QueryMix.check(spark, QueryMix.order(seed), expected).isEmpty, s"seed $seed")
    }
  }
}
