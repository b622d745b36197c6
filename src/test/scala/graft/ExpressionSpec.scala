package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the native Catalyst expressions (rolling_hash,
  * int_dot): interpreted vs whole-stage-codegen parity, null handling,
  * and agreement with an independent Scala model.
  */
class ExpressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("expression-spec")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def modelRollingHash(s: String): Long = {
    var h = 0L
    s.getBytes("UTF-8").foreach(b => h = (h * 31 + (b & 0xff)) % 1000000007L)
    h
  }

  test("rolling_hash matches the Scala model under codegen and interpretation") {
    val sp = spark
    import sp.implicits._
    val inputs = Seq("", "a", "abc", "the quick brown fox", "x" * 1000)
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val got = inputs.toDF("s").select(expr("rolling_hash(s)")).collect().map(_.getLong(0))
      assert(got.toSeq == inputs.map(modelRollingHash), s"mode=$codegen")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("rolling_hash('abc') equals the hand-computed polynomial") {
    val sp = spark
    import sp.implicits._
    // ((0·31+97)·31+98)·31+99 = 96354
    val got = Seq("abc").toDF("s").select(expr("rolling_hash(s)")).head().getLong(0)
    assert(got == 96354L)
  }

  test("rolling_hash propagates null") {
    val sp = spark
    import sp.implicits._
    val got = Seq(Option.empty[String]).toDF("s").select(expr("rolling_hash(s)")).head()
    assert(got.isNullAt(0))
  }

  test("window_hashes: equal windows hash equal and align with substring") {
    val sp = spark
    import sp.implicits._
    // the consumers' whole contract: window_hashes(text, n)[i] is a
    // pure function of substring(text, i+1, n) — verify by grouping
    // all (hash, substring) pairs over strings WITH repeats and
    // checking the map hash→substring is consistent both ways on this
    // input (plus exact array length and empty-under-length cases)
    val texts = Seq(
      "abcabcabc", "aaaaaaa", "abc", "ab", "",
      "the cat sat on the mat the cat sat",
      "日本語abc日本語abc", // multi-byte: code-point windows
      "x" * 200 + "y" + "x" * 200)
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      sp.conf.set("spark.sql.codegen.factoryMode", codegen)
      for (n <- Seq(1, 3, 5)) {
        val rows = texts.toDF("t")
          .select($"t", posexplode(expr(s"window_hashes(t, $n)")))
          .toDF("t", "p", "h")
          .select($"h", expr(s"substring(t, p + 1, $n)").as("sub"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // n-code-point windows only (the array stops at numChars − n,
        // so no truncated tail window ever appears)
        assert(rows.forall { case (_, sub) =>
          sub.codePointCount(0, sub.length) == n })
        val byHash = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
        assert(byHash.forall(_._2.size == 1),
          s"n=$n: one hash maps to two substrings (collision on tiny " +
            s"fixture would be a logic bug): $byHash")
        val bySub = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
        assert(bySub.forall(_._2.size == 1),
          s"n=$n: equal windows hashed differently: $bySub")
      }
      // array sizing: numChars − n + 1 windows, empty when shorter
      val sizes = texts.toDF("t")
        .select(size(expr("window_hashes(t, 3)")).as("k"),
          length($"t").as("len"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(sizes.forall { case (k, len) =>
        k == math.max(0, len - 3 + 1) || (len < 3 && k == 0) })
    }
    sp.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("window_hashes propagates null and validates its arguments") {
    val sp = spark
    import sp.implicits._
    val out = Seq[(java.lang.Long, String)]((1L, null), (2L, "abcd"))
      .toDF("id", "t")
      .select($"id", expr("window_hashes(t, 2)").as("w"))
      .collect().sortBy(_.getLong(0))
    assert(out(0).isNullAt(1))
    assert(out(1).getSeq[Long](1).length == 3)
    intercept[Exception] {
      sp.sql("SELECT window_hashes(123, 2)").collect()
    }
  }

  test("h60 is bit-identical to the composed conv(substring(md5)) form it replaced") {
    val sp = spark
    import sp.implicits._
    val inputs = Seq("", "a", "42", "the quick brown fox", "日本語テキスト",
      "x" * 4096, "1704067207179575")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val rows = inputs.toDF("s").select(
        expr("h60(s)").as("native"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("composed"))
        .collect()
      rows.zip(inputs).foreach { case (r, in) =>
        assert(r.getLong(0) == r.getLong(1), s"mode=$codegen input=$in")
        assert(r.getLong(0) >= 0L, s"h60 must be non-negative, input=$in")
      }
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("h60 propagates null and rejects non-string input") {
    val got = spark.sql("SELECT h60(CAST(NULL AS STRING))").collect()(0)
    assert(got.isNullAt(0))
    val err = intercept[Exception](spark.sql("SELECT h60(array(1))").collect())
    assert(err.getMessage.contains("h60") || err.getMessage.contains("STRING"))
  }

  test("int_dot matches aggregate(zip_with(...)) and handles unequal lengths") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 8L), Seq(9L, -10L)),
      (Seq(1L, 2L, 3L), Seq(1L, 1L)), // shorter right: dot over prefix
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    val got = df.select(expr("int_dot(a, b)")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(32L, -143L, 3L, 0L))
    val ref = df.selectExpr(
      "aggregate(zip_with(slice(a, 1, least(size(a), size(b))), slice(b, 1, least(size(a), size(b))), (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      .collect().map(_.getLong(0)).toSeq
    assert(got == ref)
  }

  test("int_dot rejects non-bigint-array arguments at analysis") {
    val sp = spark
    import sp.implicits._
    val ex = intercept[Exception] {
      Seq(("x", 1L)).toDF("a", "b").select(expr("int_dot(a, b)")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("int_dot") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("window_hashes decodes a string that ends mid-sequence without reading past it") {
    val sp = spark
    import sp.implicits._
    // cast from binary: a truncated 3-byte, 4-byte and 2-byte sequence,
    // each after valid code points
    val raw = Seq(
      Array(0x41, 0xE2, 0x82),
      Array(0xE6, 0x97, 0xA5, 0xE6, 0x9C),
      Array(0x61, 0x62, 0xF0, 0x9F),
      Array(0x7A, 0xC3)).map(_.map(_.toByte))
    val results = for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) yield {
      sp.conf.set("spark.sql.codegen.factoryMode", codegen)
      val rows = raw.toDF("b")
        .select(length($"b".cast("string")).as("len"),
          expr("window_hashes(CAST(b AS STRING), 1)").as("w1"),
          expr("window_hashes(CAST(b AS STRING), 2)").as("w2"))
        .collect()
      rows.foreach { r =>
        val len = r.getInt(0)
        assert(r.getSeq[Long](1).length == len, s"mode=$codegen")
        assert(r.getSeq[Long](2).length == math.max(0, len - 1), s"mode=$codegen")
      }
      rows.map(r => (r.getSeq[Long](1), r.getSeq[Long](2))).toSeq
    }
    sp.conf.unset("spark.sql.codegen.factoryMode")
    assert(results.distinct.size == 1, "codegen and interpreted paths disagree")
  }

  /** sparse_dot's element type: (key, sub, count), boxed so tests can
    * hold null fields. */
  private type Sv = Seq[(java.lang.Long, java.lang.Integer, java.lang.Long)]
  private def sv(es: (Long, Int, Long)*): Sv =
    es.map { case (k, s, c) => (Long.box(k), Int.box(s), Long.box(c)) }

  test("sparse_dot: exact merge, empty vectors, and SQL-null on a null element or field") {
    val sp = spark
    import sp.implicits._
    val x = sv((1L, 0, 2L), (3L, 0, 4L), (3L, 1, 5L))
    val cases: Seq[(Sv, Sv)] = Seq(
      (x, sv((1L, 0, 10L), (3L, 1, 7L), (9L, 0, 1L))), // 2·10 + 5·7
      (sv(), x),
      (sv(), sv()),
      (x :+ null, x),                                   // null element
      (x, sv((1L, 0, 10L)) :+ ((Long.box(3L), Int.box(1), null))), // null count
      (x, Seq((null, Int.box(0), Long.box(1L)))),       // null key
      (Seq((Long.box(1L), null, Long.box(1L))), x))     // null sub
    val df = cases.toDF("a", "b")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val got = df.select(expr("sparse_dot(a, b)")).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(got == Seq(Some(55L), Some(0L), Some(0L), None, None, None, None),
        s"mode=$codegen")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("sparse_dot matches an aggregate(zip_with(...)) SQL form on random sorted vectors") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(20)
    def vec(): Sv = sv((0 until rnd.nextInt(12))
      .map(_ => (rnd.nextInt(8).toLong, rnd.nextInt(3), rnd.nextInt(2001).toLong - 1000L))
      .groupBy(e => (e._1, e._2)).values.map(_.head).toSeq
      .sortBy(e => (e._1, e._2)): _*)
    val df = Seq.fill(200)((vec(), vec())).toDF("a", "b")
    // per left element, the count of the right element with the same
    // (key, sub) — keys are unique within a vector, so at most one
    val ref = expr(
      "aggregate(zip_with(a, transform(a, x -> aggregate(" +
        "filter(b, y -> y._1 = x._1 AND y._2 = x._2), CAST(0 AS BIGINT), " +
        "(s, y) -> s + y._3)), (x, c) -> x._3 * c), CAST(0 AS BIGINT), " +
        "(acc, v) -> acc + v)")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val rows = df.select(expr("sparse_dot(a, b)"), ref).collect()
      assert(rows.forall(r => r.getLong(0) == r.getLong(1)), s"mode=$codegen")
      assert(rows.exists(_.getLong(0) != 0L), "fixture never matched a key")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("int_dot propagates a null element as null (SQL arithmetic semantics)") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (Seq(Option(1L), None, Option(3L)), Seq(Option(4L), Option(5L), Option(6L))),
      (Seq(Option(1L), Option(2L)), Seq(Option(4L), Option(5L))))
      .toDF("a", "b")
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      val rows = df.select(expr("int_dot(a, b)")).collect()
      assert(rows(0).isNullAt(0), s"mode=$codegen: null element must yield null")
      assert(rows(1).getLong(0) == 14L, s"mode=$codegen")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("char_ngrams is code-point based: surrogate pairs are never split") {
    val sp = spark
    import sp.implicits._
    val gothic = new String(Character.toChars(0x10330)) // non-BMP, 2 code units
    val df = Seq("a" + gothic + "b", "ab", gothic).toDF("s")
    val got = df.select(expr("char_ngrams(s, 2)")).collect()
      .map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("a" + gothic, gothic + "b"), // 3 code points -> 2 bigrams
      List("ab"),
      Nil)) // 1 code point < n -> empty
  }

  test("char_ngrams BMP fast path matches the SQL substr form") {
    val sp = spark
    import sp.implicits._
    val df = Seq("hello world", "ab", "a", "").toDF("s")
    val native = df.select(expr("char_ngrams(s, 3)")).collect()
      .map(_.getSeq[String](0).toList).toList
    // NB sequence(1, 0) is DESCENDING [1,0] in Spark, so guard explicitly
    val sql = df.selectExpr(
      "CASE WHEN length(s) >= 3 THEN transform(sequence(1, length(s) - 2), i -> substr(s, i, 3)) ELSE array() END")
      .collect().map(_.getSeq[String](0).toList).toList
    assert(native == sql)
  }

  test("word_ngrams matches the transform/concat_ws SQL form byte-for-byte") {
    val sp = spark
    import sp.implicits._
    val df = Seq("a b c d", "a b", "one two three", "", "x  y z", "solo").toDF("s")
    val native = df.select(expr("word_ngrams(s, 3)")).collect()
      .map(_.getSeq[String](0).toList).toList
    val sql = df.selectExpr(
      """CASE WHEN size(split(s, ' ')) >= 3 THEN
        |  transform(sequence(0, size(split(s, ' ')) - 3),
        |    i -> concat_ws(' ', element_at(split(s, ' '), i + 1),
        |      element_at(split(s, ' '), i + 2), element_at(split(s, ' '), i + 3)))
        |ELSE array() END""".stripMargin)
      .collect().map(_.getSeq[String](0).toList).toList
    assert(native == sql)
    // double space produces an empty token, same as split(s, ' ')
    assert(native(4) == List("x  y", " y z"))
  }

  test("connectedComponents converges on deep chains and disjoint components") {
    val sp = spark
    import sp.implicits._
    // component 1: a 20-edge chain 0-1-2-...-20 (diameter 20 — a fixed
    // 8-round propagation would mislabel its tail); component 2: a
    // triangle {100,101,102}; component 3: an isolated edge {200,201}
    val chain = (0L until 20L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L)))
      .toDF("a", "b")
    val got = graft.operators.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 20L).forall(got(_) == 0L), "chain must fully converge to label 0")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(Seq(200L, 201L).forall(got(_) == 200L))
    assert(got.size == 26)
  }

  test("pointer-doubling converges a deep chain in logarithmic rounds") {
    val sp = spark
    import sp.implicits._
    // a 300-edge chain has diameter 300: propagation alone would need
    // 300 rounds — far past the maxRounds=64 runaway guard, so labels
    // would silently come out WRONG without the shortcut step. The
    // path-halving shortcut must converge it in O(log 300) ≈ 9 rounds.
    val edges = (0L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      graft.operators.Dedup.connectedComponentsWithRounds(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 300L).forall(got(_) == 0L),
      "deep chain must fully converge to label 0")
    assert(rounds <= 16,
      s"expected logarithmic convergence on diameter 300, took $rounds rounds")
  }

  test("connectedComponents matches union-find on random graphs") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(20)
      val pairs = (for {
        i <- 0L until n.toLong
        j <- (i + 1) until n.toLong
        if rnd.nextDouble() < 0.06
      } yield (i, j)).toSeq
      if (pairs.nonEmpty) {
        // reference: plain union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
          .map(v => v -> find(v)).toMap
        val got = graft.operators.Dedup.connectedComponents(pairs.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"seed=$seed n=$n: labels differ from union-find")
      }
    }
  }

  test("KmvSketch keeps the k smallest distinct hashes regardless of arrival order") {
    import graft.functions.KmvSketch
    val k = 8
    val sk = new KmvSketch(k)
    val values = Seq(907L, 13L, 55L, 13L, 999L, 2L, 500L, 55L, 77L, 3L, 61L, 907L,
      41L, 900L, 12L, 2L)
    // reduce in several arrival orders + a partial-merge split; all must
    // agree with the brute-force model (sorted k smallest distinct)
    val model = values.distinct.sorted.take(k)
    val ordered = values.foldLeft(sk.zero)(sk.reduce)
    val reversed = values.reverse.foldLeft(sk.zero)(sk.reduce)
    val (lo, hi) = values.splitAt(5)
    val merged = sk.merge(lo.foldLeft(sk.zero)(sk.reduce), hi.foldLeft(sk.zero)(sk.reduce))
    assert(ordered == model)
    assert(reversed == model)
    assert(merged == model)
    // estimate: fewer than k distinct -> exact count
    val small = Seq(5L, 5L, 9L).foldLeft(sk.zero)(sk.reduce)
    assert(sk.finish(small) == 2.0)
  }
}
