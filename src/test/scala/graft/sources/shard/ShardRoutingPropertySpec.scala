package graft.sources.shard

import scala.util.hashing.MurmurHash3

import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Shard routing and shard lookup of [[ShardStream]] over generated
  * split/merge histories (ScalaCheck, fixed seed). Routing is pinned to
  * its defining rule — murmur3 of the key over the open shards in
  * shard-list order — because every reader of the stream, and every
  * stored result computed from one, depends on which shard a key's
  * records land in. */
class ShardRoutingPropertySpec extends AnyFunSuite {

  /** One reshard step: split one open shard, or merge two (a split when
    * fewer than two are open). The ints pick shards among the open ones. */
  private final case class Reshard(split: Boolean, a: Int, b: Int)

  private val genHistory: Gen[List[Reshard]] = Gen.listOf(for {
    split <- Arbitrary.arbitrary[Boolean]
    a <- Gen.choose(0, 1 << 20)
    b <- Gen.choose(0, 1 << 20)
  } yield Reshard(split, a, b))

  private def open(s: ShardStream): Seq[String] = s.shardIds.filterNot(s.isShardSealed)

  private def replay(s: ShardStream, history: List[Reshard]): Unit = history.foreach { r =>
    val ids = open(s)
    if (r.split || ids.size < 2) s.splitShard(ids(r.a % ids.size))
    else {
      val x = ids(r.a % ids.size)
      val rest = ids.filterNot(_ == x)
      s.mergeShards(x, rest(r.b % rest.size))
    }
  }

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(0)))
  }

  test("shardFor and appends follow murmur over the open shards after any split/merge history") {
    check(Prop.forAll(Gen.choose(1, 8), genHistory, Gen.listOf(Arbitrary.arbitrary[String])) {
      (shards, history, keys) =>
        val s = new ShardStream("routing", shards)
        replay(s, history)
        val ids = open(s)
        keys.forall { k =>
          val want = ids(math.floorMod(MurmurHash3.stringHash(k, 42), ids.size))
          val before = s.size(want)
          s.putRecord(k, Array[Byte](1))
          s.shardFor(k) == want && s.size(want) == before + 1
        }
    })
  }

  test("lookups of an unknown shard id throw ShardServiceException") {
    check(Prop.forAll(Gen.choose(1, 4), genHistory) { (shards, history) =>
      val s = new ShardStream("lookup", shards)
      replay(s, history)
      val unknown = s.shardIdOf(s.shardIds.size)
      val calls: Seq[() => Any] = Seq(
        () => s.size(unknown), () => s.parentsOf(unknown),
        () => s.getRecords(unknown, 0L, 10), () => s.isShardSealed(unknown),
        () => s.resolveIndex(unknown, IteratorType.TrimHorizon, None),
        () => s.splitShard(unknown))
      calls.forall { call =>
        try { call(); false }
        catch { case e: ShardServiceException => e.getMessage.contains(s"unknown shard $unknown") }
      }
    })
  }
}
