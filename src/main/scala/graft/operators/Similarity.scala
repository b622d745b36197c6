package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables => T}

/** Embedding similarity search over `embeddings` (ARRAY<FLOAT>, dim 64)
  * — the LLM-pipeline ANN surface (SURVEY §7.3).
  *
  * Determinism: floats are quantized to integers (round(x*1024)) so
  * dot products and norms are EXACT int64 arithmetic — order-
  * independent, so Spark's partial aggregation order vs DuckDB's
  * cannot flip a result, and the final cos = dot / sqrt(na*nb) is one
  * IEEE division of identical operands on both engines. (Products are
  * bounded by 64·(5·1024)² ≈ 1.7e9 per norm, 2.9e18 for the norm
  * product — inside int64.)
  *
  * Scale notes (100 TB):
  *  - q40 brute-force: the QUERY SET is broadcast (10 vectors) against
  *    the full corpus — a map-side nested loop with per-partition
  *    top-k reduced by a window on qid; linear in corpus size, no
  *    shuffle of the corpus, the canonical exact baseline.
  *  - q41 IVF: candidates restricted to the query's cell (label =
  *    precomputed coarse-quantizer assignment, the IVF inverted list)
  *    — an equi-join on the cell key, so the work per query drops by
  *    the cell count; this is the scale path. Neither plan contains a
  *    cartesian product over the corpus.
  */
object Similarity extends QueryPack {

  /** quantized vector + its exact squared norm (norm via the native
    * int_dot expression — GraftExtensions). */
  private[operators] def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.ensureRegistered(s)
    T.embeddings(s, d).select($"vec_id", $"label",
      expr("transform(embedding, x -> CAST(round(x * 1024) AS BIGINT))").as("q"))
      .withColumn("n2", expr("int_dot(q, q)"))
  }

  private[operators] def cosine(qa: String, qb: String, n2a: String, n2b: String): Column =
    round(
      expr(s"int_dot($qa, $qb)").cast("double") /
        sqrt((col(n2a) * col(n2b)).cast("double")), 6)

  /** Per-label integer-MEAN centroid: components are floor(sv / n), so
    * every component is bounded by the quantized coordinate range
    * (|c_i| <= 5120) REGARDLESS of cluster size — int_dot(q, c), cn2,
    * and the n2·cn2 norm product therefore all stay inside int64 at
    * ANY corpus scale. (An elementwise-SUM centroid is exact but its
    * cn2 ~ 64·(n·5120)² wraps int64 past ~74k members per cluster —
    * silent wrong ranks on the Spark side, Out of Range on the
    * oracle.) The floor is computed as `(sv + n·5120) div n − 5120`:
    * the shifted numerator is non-negative, where Spark's truncating
    * `div` and DuckDB's flooring `//` agree, so the truncation loss
    * (< 1 quantization unit per component) is identical in both
    * engines. One row per label — tiny and broadcastable at any scale.
    */
  private[operators] def meanCentroids(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select($"label", posexplode($"q"))
      .groupBy($"label", $"pos")
      .agg(sum($"col").as("sv"), count(lit(1)).as("n"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos",
        expr("(sv + n * 5120L) div n - 5120L").as("cv")))).as("ps"))
      .select($"label", expr("transform(ps, x -> x.cv)").as("c"))
      .withColumn("cn2", expr("int_dot(c, c)"))
  }

  /** q220's core, factored so q350 can reuse the exact Gram and the
    * converged direction: ONE distributed pass builds the upper Gram
    * via the row-local pair-product HOF (no posexplode self-join),
    * dim²-bounded collect (T.boundedCollect asserts), then the integer
    * power iteration with the house ±1 ppm / cap-16 fixpoint. Every
    * floor is the shifted-numerator form (signed entries —
    * CentroidFloorSpec's rule); entries pre-scale by 1024 (valid to
    * |s_xy| < 1e13 ≈ sf30). Returns (sorted dims, symmetric gs map,
    * converged w in ppm). */
  private def gramPowerState(s: SparkSession, d: String)
      : (Seq[Long], Map[(Long, Long), Long], Map[Long, Long]) = {
    import s.implicits._
    graft.GraftExtensions.ensureRegistered(s)
    val emb = quantized(s, d)
    val upper = emb.select(explode(expr(
      s"""flatten(transform(q, (x, i) ->
         |  transform(slice(q, i + 1, $dim),
         |    (y, k) -> struct(CAST(i AS BIGINT) AS i,
         |                     CAST(i + k AS BIGINT) AS j,
         |                     x * y AS p))))""".stripMargin)).as("e"))
      .select($"e.i", $"e.j", $"e.p")
      .groupBy($"i", $"j").agg(sum($"p").as("s_xy"))
      .select($"i", $"j",
        expr("(s_xy + 1024L * 10000000000L) div 1024L - 10000000000L")
          .as("gs"))
    // dim²-bounded by construction; the bound is mechanically
    // asserted (T.boundedCollect throws past dim² rows)
    val up = T.boundedCollect(upper, dim.toLong * dim, "q220 Gram")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val g: Map[(Long, Long), Long] =
      (up.map { case (i, j, v) => (i, j) -> v } ++
        up.collect { case (i, j, v) if i != j => (j, i) -> v }).toMap
    val dims = up.map(_._1).distinct.sorted
    var w: Map[Long, Long] = dims.map(_ -> 1000000L).toMap
    var it = 0
    var done = false
    while (!done && it < 16) {
      val sw = dims.map(i =>
        i -> dims.map(j => g.getOrElse((i, j), 0L) * w(j)).sum).toMap
      val dnorm = math.max(sw.values.map(math.abs).max / 1000000L, 1L)
      val next = sw.map { case (i, v) =>
        i -> ((v + 2000000L * dnorm) / dnorm - 2000000L)
      }
      done = next.forall { case (i, p) => (p - w(i)).abs <= 1L }
      w = next
      it += 1
    }
    (dims, g, w)
  }

  /** q326's core: Gonzalez farthest-point greedy over any
    * (vec_id, q, n2) frame — factored so KcenterPropertySpec can
    * drive it on arbitrary small instances against a sequential
    * reference and the brute-force optimum (the 2-approximation).
    * Seed = the h60-smallest vec_id; each later center is the argmax
    * of min-d² to the selected set with the (dmin DESC, vec_id ASC)
    * tie-break. Returns (vec_id, covering d² at selection) in pick
    * order. The selected set rides the driver as ≤k literal arrays —
    * each round is one scan (least() over ≤k codegen'd int_dot
    * columns) + a TakeOrdered(1); no shuffle, no join. */
  private[graft] def kcenterGreedy(emb: DataFrame, k: Int): Vector[(Long, Long)] = {
    val s = emb.sparkSession
    import s.implicits._
    graft.GraftExtensions.ensureRegistered(s)
    val seedRow = T.boundedCollect(
      emb.orderBy(graft.functions.PortableHash.h60($"vec_id").asc,
          $"vec_id".asc).limit(1),
      1, "kcenter seed")(0)
    var centers = Vector((seedRow.getLong(0),
      seedRow.getSeq[Long](1), seedRow.getLong(2), 0L))
    for (_ <- 2 to k) {
      val dcols = centers.map { case (_, cq, cn2, _) =>
        $"n2" + lit(cn2) -
          lit(2L) * expr(s"int_dot(q, ${cq.mkString("array(", "L,", "L)")})")
      }
      val dmin = if (dcols.size == 1) dcols.head else least(dcols: _*)
      val far = T.boundedCollect(
        emb.select($"vec_id", $"q", $"n2", dmin.as("dmin"))
          .orderBy($"dmin".desc, $"vec_id".asc).limit(1),
        1, "kcenter farthest")(0)
      centers :+= ((far.getLong(0), far.getSeq[Long](1),
        far.getLong(2), far.getLong(3)))
    }
    centers.map { case (id, _, _, cov) => (id, cov) }
  }

  private val pqM = 8   // PQ subspaces
  private val pqSub = 8 // dims per subspace (pqM * pqSub = dim)

  /** Product-quantization codebook: per (subspace j, label c) the
    * integer-mean of member subvectors, with the same shifted-div
    * floor as [[meanCentroids]] (components bounded by the coordinate
    * range at any cluster size). pqM·k rows — broadcastable always. */
  private def pqCodebook(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select($"label", posexplode($"q"))
      .select(expr(s"pos div $pqSub").as("j"), $"label".as("c"),
        pmod($"pos", lit(pqSub)).as("k"), $"col")
      .groupBy($"j", $"c", $"k")
      .agg(sum($"col").as("sv"), count(lit(1)).as("n"))
      .groupBy($"j", $"c")
      .agg(array_sort(collect_list(struct($"k",
        expr("(sv + n * 5120L) div n - 5120L").as("cv")))).as("ps"))
      .select($"j", $"c".cast("bigint").as("c"),
        expr("transform(ps, x -> x.cv)").as("cb"))
  }

  /** PQ assignment: per (vector, subspace) the nearest codebook entry
    * by exact integer L2 (ties → smaller code). Returns one row per
    * (vec_id, j): (cj, d2). The k-way argmin is a broadcast join with
    * the codebook followed by a min(struct) — the groupBy reduces
    * k rows to 1 map-side (the subvector rows are colocated), so the
    * only corpus shuffle is keyed on vec_id downstream. */
  private def pqAssign(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val subs = emb.select($"vec_id",
      posexplode(expr(
        s"transform(sequence(0, ${pqM - 1}), jj -> slice(q, jj * $pqSub + 1, $pqSub))"))
        .as(Seq("j", "sub")))
      .select($"vec_id", $"j".cast("bigint").as("j"), $"sub")
    subs.join(broadcast(pqCodebook(emb)), Seq("j"))
      .select($"vec_id", $"j", $"c", expr(
        "aggregate(zip_with(sub, cb, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)")
        .as("d2"))
      .groupBy($"vec_id", $"j")
      .agg(min(struct($"d2", $"c")).as("m"))
      .select($"vec_id", $"j", $"m.c".as("cj"), $"m.d2".as("d2"))
  }

  /** The sweep grid for the IVF probe-depth acceptance loop (q163) and
    * the micro-averaged recall@3 target the rollout gates on. */
  private val nprobeGrid = Seq(1, 2, 4, 8)
  private val recallTargetPpm = 800000L

  /** IVF multiprobe top-3 with the probe depth supplied as a 1-ROW
    * DataFrame (`chosen_nprobe`) — the production query and the sweep
    * share this core, so "the config the audit chose" and "the config
    * the query runs" are the same plan by construction. */
  private def ivfMultiprobeTop3(s: SparkSession, d: String,
                                nprobeDf: DataFrame): DataFrame = {
    import s.implicits._
    val emb = quantized(s, d)
    val cents = meanCentroids(emb)
    val qs = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"n2".as("qn2"))
    val wq = Window.partitionBy($"qid").orderBy($"cd2", $"label")
    val probes = qs.crossJoin(broadcast(cents))
      .select($"qid", $"qv", $"qn2", $"label",
        ($"qn2" + $"cn2" - expr("2 * int_dot(qv, c)")).as("cd2"))
      .withColumn("probe", row_number().over(wq).cast("bigint"))
      .crossJoin(broadcast(nprobeDf))
      .filter($"probe" <= $"chosen_nprobe")
      .select($"qid", $"qv", $"qn2", $"label".as("pcell"), $"probe")
    val scored = emb.join(broadcast(probes),
        $"label" === $"pcell" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", $"label".cast("bigint").as("cell"),
        $"probe", cosine("q", "qv", "n2", "qn2").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    scored.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter($"rn" <= 3)
      .select($"qid", $"vec_id", $"cell", $"probe", $"cos", $"rn")
  }

  /** Exact brute-force top-3 — the sweep's ground truth, memoized +
    * persisted so the 4-config sweep pays the corpus scan once. */
  private[graft] def annExact3(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_exact3:$d") {
      queries("q40_cosine_topk")(s, d)
        .filter(col("rn") <= 3).select(col("qid"), col("vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** K-means cell assignment (vec_id, kcell): every vector reassigned
    * to its nearest integer-mean centroid by cosine (q79's Lloyd
    * assignment, kept as a shared substrate) — the GEOMETRIC
    * partitioning of the corpus, vs the arbitrary label cells the
    * q142 audit measured as weak. Memoized + persisted: q175 buckets
    * on it for both the query and corpus sides, and q142 composes
    * q175. */
  private[graft] def kmeansCells(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_kmcells:$d") {
      import s.implicits._
      val emb = quantized(s, d)
      val cent = meanCentroids(emb)
        .select($"label".cast("bigint").as("clab"), $"c", $"cn2")
      val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"clab")
      emb.crossJoin(broadcast(cent))
        .select($"vec_id", $"clab", cosine("q", "c", "n2", "cn2").as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"vec_id", $"clab".as("kcell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Probe-depth sweep: micro-averaged recall@3 of the multiprobe IVF
    * vs the exact top-3, one row per grid depth — (nprobe, hits,
    * recall_ppm). Memoized: q163 reports it and q141 derives its
    * production config from it, both from ONE evaluation. */
  private def annNprobeSweep(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_sweep:$d") {
      import s.implicits._
      val exact3 = annExact3(s, d)
      val nQ = exact3.select($"qid").agg(
        countDistinct($"qid").as("n_q"))
      nprobeGrid.map { np =>
        val appr = ivfMultiprobeTop3(s, d,
            s.range(1).select(lit(np.toLong).as("chosen_nprobe")))
          .select($"qid", $"vec_id")
        exact3.join(appr, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(nQ))
          .select(lit(np.toLong).as("nprobe"), $"hits",
            expr(s"(hits * 1000000L) div (3 * n_q)").as("recall_ppm"))
      }.reduce(_ unionAll _)
    }

  /** The accepted probe depth: the SMALLEST swept nprobe meeting the
    * recall target, falling back to the deepest swept config if none
    * does (the honest answer on a corpus where the coarse quantizer is
    * weak — q142 measures exactly that here). 1 row, broadcastable. */
  private def chosenNprobe(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_chosen:$d") {
      annNprobeSweep(s, d).agg(
        coalesce(
          min(when(col("recall_ppm") >= recallTargetPpm, col("nprobe"))),
          max(col("nprobe"))).as("chosen_nprobe"))
    }

  /** The sign-LSH bit-width grid (prefix masks of the 8-bit bucket). */
  private val lshBitsGrid = Seq(4, 5, 6, 7, 8)

  /** Sign-LSH top-3 with the bucket mask supplied as a 1-ROW
    * DataFrame (`chosen_mask`) — q53 and the q165 sweep share this
    * core, so the shipped width and the audited width are the same
    * plan by construction. Masking to the first b bits IS the
    * b-plane bucket (plane order is fixed), so one bucket computation
    * serves every width. */
  private def lshTop3(s: SparkSession, d: String, maskDf: DataFrame): DataFrame = {
    import s.implicits._
    val withBucket = quantized(s, d)
      .crossJoin(broadcast(maskDf.select($"chosen_mask")))
      .withColumn("bucket", Similarity.bucketExpr.bitwiseAND($"chosen_mask"))
    val qs = withBucket.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"bucket".as("qbucket"), $"q".as("qv"), $"n2".as("qn2"))
    val scored = withBucket.join(broadcast(qs),
        $"bucket" === $"qbucket" && $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", $"bucket", cosine("q", "qv", "n2", "qn2").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    scored.withColumn("rn", row_number().over(w).cast("bigint"))
      .filter($"rn" <= 3)
      .select($"qid", $"vec_id", $"bucket", $"cos", $"rn")
  }

  /** Bit-width sweep: recall@3 of the masked sign-LSH vs the exact
    * top-3 per grid width — (bits, hits, recall_ppm). Memoized like
    * [[annNprobeSweep]]. */
  private def lshBitsSweep(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_lsh_sweep:$d") {
      import s.implicits._
      val exact3 = annExact3(s, d)
      val nQ = exact3.select($"qid").agg(countDistinct($"qid").as("n_q"))
      lshBitsGrid.map { bits =>
        val appr = lshTop3(s, d,
            s.range(1).select(lit((1L << bits) - 1L).as("chosen_mask")))
          .select($"qid", $"vec_id")
        exact3.join(appr, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(nQ))
          .select(lit(bits.toLong).as("bits"), $"hits",
            expr(s"(hits * 1000000L) div (3 * n_q)").as("recall_ppm"))
      }.reduce(_ unionAll _)
    }

  /** The accepted bit width as a 1-row (chosen_bits, chosen_mask):
    * the WIDEST swept width meeting the recall target (recall is
    * monotone non-increasing in width, selectivity monotone
    * increasing — ship the cheapest passing config), else the
    * narrowest swept width (most recall available). */
  private def chosenLshMask(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"ann_lsh_chosen:$d") {
      lshBitsSweep(s, d).agg(
        coalesce(
          max(when(col("recall_ppm") >= recallTargetPpm, col("bits"))),
          min(col("bits"))).as("chosen_bits"))
        .select(col("chosen_bits"),
          expr("(CAST(1 AS BIGINT) << CAST(chosen_bits AS INT)) - 1")
            .as("chosen_mask"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- probe-depth acceptance sweep (closing q142's audit loop) ---
    // q142 measures that single-cell IVF recall is weak on this corpus
    // (the labels are not geometric clusters); this query is the step
    // a rollout takes NEXT: sweep the probe depth over a grid, measure
    // micro-averaged recall@3 against the exact baseline per config,
    // and mark which configs meet the ≥80% acceptance target and
    // which one ships (smallest passing depth, else the deepest
    // swept). q141 joins this exact selection in as its nprobe — the
    // audit DECIDES the production config rather than sitting beside
    // it. Shape: the grid is 4 configs over the same broadcast-probe
    // equi-join scan; the exact baseline is computed once (memoized +
    // persisted) — the whole sweep costs ~Σ nprobe/k corpus scans,
    // run per rollout, never in the per-query path.
    "q163_ann_nprobe_tune" -> ((s, d) => {
      import s.implicits._
      val sweep = annNprobeSweep(s, d)
      sweep.crossJoin(broadcast(chosenNprobe(s, d)))
        .select($"nprobe", $"hits", $"recall_ppm",
          when($"recall_ppm" >= recallTargetPpm, 1L).otherwise(0L)
            .as("meets_target"),
          when($"nprobe" === $"chosen_nprobe", 1L).otherwise(0L).as("chosen"))
    }),

    // ---- product quantization encode (IVF-PQ compression path) ------
    // The 100 TB ANN standard [Jégou et al., "Product Quantization for
    // Nearest Neighbor Search", TPAMI'11]: split each vector into
    // pqM=8 subspaces of 8 dims, quantize each subvector to its
    // nearest per-subspace codebook entry (here the per-label integer
    // means — k=10 codes/subspace, deterministic, no RNG training),
    // and pack the 8 code digits into one int64 (4 bits each). A
    // 64-dim float vector compresses to 8 codes + the id — the memory
    // ratio that lets a billion-vector index fit a cluster's RAM.
    // Everything is exact integer arithmetic (shifted-div centroids,
    // integer L2), so the oracle reproduces codes bit-for-bit.
    // Output: per vector its packed code and exact quantization error.
    "q139_pq_encode" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      pqAssign(emb)
        .groupBy($"vec_id")
        .agg(sum(expr("shiftleft(cj, CAST(4 * j AS INT))")).as("code"),
          sum($"d2").as("qerr"))
        .join(emb.select($"vec_id", $"label".cast("bigint").as("label")), "vec_id")
        .select($"vec_id", $"label", $"code", $"qerr")
    }),

    // ---- asymmetric-distance (ADC) top-k over PQ codes --------------
    // The companion scan: score every encoded vector against each
    // query WITHOUT touching the original vectors — per query build
    // the pqM×k lookup table of exact squared distances from the
    // query's subvectors to every codebook entry (80 ints, broadcast),
    // then each vector's approximate distance is 8 array lookups
    // summed in-row over its code digits. At 100 TB the scan reads
    // only (vec_id, codes) — the compressed index — and the heavy
    // rank is a WindowGroupLimit top-k per query, never a global sort.
    "q140_pq_adc_topk" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val codes = pqAssign(emb)
        .groupBy($"vec_id")
        .agg(array_sort(collect_list(struct($"j", $"cj"))).as("e"))
        .select($"vec_id", expr("transform(e, x -> x.cj)").as("codes"))
      val qsubs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"),
          posexplode(expr(
            s"transform(sequence(0, ${pqM - 1}), jj -> slice(q, jj * $pqSub + 1, $pqSub))"))
            .as(Seq("j", "qsub")))
        .select($"qid", $"j".cast("bigint").as("j"), $"qsub")
      // per-query LUT ordered by (j, c): flat index = j * k + c with k
      // DERIVED from the codebook itself (size(lut) div pqM), not a
      // hardcoded label count — if the fixture's label set ever
      // changes cardinality the index stays aligned. (A (j,c)-keyed
      // MAP would drop the remaining 0..k-1 contiguity assumption too,
      // but Spark's element_at on a map is a per-lookup linear scan —
      // measured 20 s slower over the corpus; the array stays O(1).)
      val lut = qsubs.join(pqCodebook(emb), Seq("j"))
        .select($"qid", $"j", $"c", expr(
          "aggregate(zip_with(qsub, cb, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)")
          .as("d2"))
        .groupBy($"qid")
        .agg(array_sort(collect_list(struct($"j", $"c", $"d2"))).as("e"))
        .select($"qid", expr("transform(e, x -> x.d2)").as("lut"))
      val w = Window.partitionBy($"qid").orderBy($"adc", $"vec_id")
      codes.join(broadcast(lut), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", expr(
          s"""aggregate(transform(codes, (cj, jj) ->
             |  element_at(lut, CAST(jj * (size(lut) div $pqM) + cj + 1 AS INT))),
             |  0L, (a, b) -> a + b)""".stripMargin)
          .as("adc"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 3)
        .select($"qid", $"vec_id", $"adc", $"rn")
    }),

    // ---- exact brute-force top-5 cosine for 10 query vectors --------
    // ---- array higher-order functions (vector feature stats) --------
    // Per-vector scalar features computed entirely with codegen'd
    // array HOFs on the quantized embedding — transform / aggregate /
    // filter / array_max, zero UDFs, zero shuffles: a pure narrow map
    // over the scan, so at 100 TB it runs at parquet-read speed with
    // column pruning down to (vec_id, embedding). l1 = Σ|qᵢ| (the
    // rescale denominator for L1 normalization), n_pos = live-ReLU
    // count, max_q = peak activation.
    "q94_array_hof" -> ((s, d) => {
      import s.implicits._
      T.embeddings(s, d)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(round(x * 1024) AS BIGINT))").as("qv"))
        .select($"vec_id",
          expr("aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + abs(x))").as("l1"),
          expr("CAST(size(filter(qv, x -> x > 0)) AS BIGINT)").as("n_pos"),
          expr("array_max(qv)").as("max_q"))
    }),

    // ---- MMR diversified top-k retrieval -----------------------------
    // [Carbonell & Goldstein, SIGIR'98] — the context-selection step a
    // RAG pipeline runs AFTER q40's plain top-k: greedy Maximal
    // Marginal Relevance picks k=10 items maximizing
    // rel(c) − max_{s∈S} sim(c, s) (λ = 1/2, scale-equivalent), so the
    // selected set covers the query's neighborhood instead of
    // returning 10 copies of the same cluster. Similarity is the
    // SIGNED QUANTIZED cos² in ppm — sgn(dot)·dot²·1e6 div (n2a·n2b)
    // through DECIMAL(38)/HUGEINT — monotone in |cos| with sign, and
    // exactly replayable (the rounded-double cosine would make the
    // greedy argmax float-order-sensitive across engines). Scale
    // shape: one corpus relevance pass → top-50 candidates
    // (TakeOrdered), the 50×50 pairwise table and the greedy 10-step
    // fold are CANDIDATE-bounded (boundedCollect-asserted driver fold,
    // the q223 rule); the oracle replays the greedy loop in one
    // recursive CTE with a per-level argmax.
    "q274_mmr_retrieval" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val qq = emb.filter($"vec_id" === 0)
        .select($"q".as("qv"), $"n2".as("qn2"))
      def simPps(dot: String, n2a: String, n2b: String) =
        expr(s"CAST(CASE WHEN $dot < 0 THEN -1 ELSE 1 END * " +
          s"((CAST($dot AS DECIMAL(38,0)) * $dot * 1000000) div " +
          s"(CAST($n2a AS DECIMAL(38,0)) * $n2b)) AS BIGINT)")
      val cand = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(qq))
        .select($"vec_id", $"q", $"n2", expr("int_dot(q, qv)").as("dot"), $"qn2")
        .select($"vec_id", $"q", $"n2",
          simPps("dot", "n2", "qn2").as("rel_pps"))
        .orderBy($"rel_pps".desc, $"vec_id").limit(50)
        .cache() // harness-released (per-query clearCache)
      val ps = cand.select($"vec_id".as("a"), $"q".as("qa"), $"n2".as("n2a"))
        .join(cand.select($"vec_id".as("b"), $"q".as("qb"), $"n2".as("n2b")),
          $"a" =!= $"b")
        .select($"a", $"b", expr("int_dot(qa, qb)").as("dot"), $"n2a", $"n2b")
        .select($"a", $"b", simPps("dot", "n2a", "n2b").as("sim_pps"))
      val rels = T.boundedCollect(cand.select($"vec_id", $"rel_pps"),
          50, "q274 candidates")
        .map(r => r.getLong(0) -> r.getLong(1))
      val sims = T.boundedCollect(ps, 50L * 49, "q274 pair sims")
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val rel = rels.toMap
      var selected = Vector.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var step = 1
      while (step <= 10 && selected.size < rels.length) {
        val (pick, score) = rels.iterator
          .filterNot { case (c, _) => selected.contains(c) }
          .map { case (c, r) =>
            val div = if (selected.isEmpty) 0L
              else selected.map(sv => sims((c, sv))).max
            (c, r - (if (selected.isEmpty) 0L else div))
          }
          // argmax by (mmr desc, vec_id asc) — the oracle's tie-break
          .reduce((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
        out += ((step.toLong, pick, score))
        selected :+= pick
        step += 1
      }
      cand.unpersist()
      out.toSeq.toDF("rk", "vec_id", "mmr_pps")
    }),

    "q40_cosine_topk" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"q".as("qv"), $"n2".as("qn2"))
      val scored = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", cosine("q", "qv", "n2", "qn2").as("cos"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      scored.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 5)
        .select($"qid", $"vec_id", $"cos", $"rn")
    }),

    // ---- KNN-Shapley data valuation (exact, fixed-point) -------------
    // [Ghorbani & Zou '19; Jia+ VLDB'19 Thm 1] which training vectors
    // are WORTH their storage for a KNN labeler? The Shapley value of
    // every training point for a query has a closed form under KNN
    // utility: sort by distance, then s_n = 1[y_n=y]/n and
    // s_i = s_{i+1} + (1[y_i=y] − 1[y_{i+1}=y])·min(K,i)/(K·i) — an
    // O(n log n) SUFFIX SCAN, not the exponential generic Shapley. As
    // integers: each coefficient min(K,i)·10⁹ div (K·i) floors
    // identically in both engines (non-negative numerator), the sign
    // rides outside, and s is the windowed suffix sum of those deltas
    // plus the rank-n base. Distances are exact integer squared L2 on
    // the quantized vectors (d² = n2+qn2−2·int_dot, the q40 rule), so
    // the rank order cannot drift across engines. Top-5 most valuable
    // per query; K = 5, queries = the 10 h60-smallest vec_ids (q242's
    // content-hash seed discipline — a GLOBAL limit, so the broadcast
    // side is ≤ 10 rows at ANY corpus size; round 15 used vec_id mod
    // 50, which is n/50 rows and grew with the data). Scale: the pair
    // table is 10·n — linear, not Θ(n²/50); the residual cost is the
    // per-query suffix window (each of the 10 partitions sorts n
    // rows), bounded next by a top-M distance cut (s decays as 1/i
    // past K) if the corpus outgrows a single reducer's sort.
    "q293_knn_shapley" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val qs = emb
        .orderBy(graft.functions.PortableHash.h60($"vec_id").asc, $"vec_id".asc)
        .limit(10)
        .select($"vec_id".as("qid"), $"label".as("qlab"),
          $"q".as("qv"), $"n2".as("qn2"))
      val pair = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          ($"n2" + $"qn2" - lit(2L) * expr("int_dot(q, qv)")).as("d2"),
          ($"label" === $"qlab").cast("long").as("ind"))
      val wrk = Window.partitionBy($"qid").orderBy($"d2", $"vec_id")
      val wpt = Window.partitionBy($"qid")
      val dl = pair
        .withColumn("i", row_number().over(wrk).cast("long"))
        .withColumn("nn", count(lit(1)).over(wpt))
        .withColumn("nind", lead($"ind", 1).over(wrk))
        .withColumn("delta", when($"i" < $"nn",
          ($"ind" - $"nind") *
            expr("least(5L, i) * 1000000000L div (5L * i)")).otherwise(0L))
        .withColumn("base", when($"i" === $"nn",
          expr("ind * 1000000000L div nn")).otherwise(0L))
      val wsuf = Window.partitionBy($"qid").orderBy($"i".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sv = dl.withColumn("s_nano",
        (sum($"base").over(wpt) + sum($"delta").over(wsuf)).cast("bigint"))
      val wtop = Window.partitionBy($"qid").orderBy($"s_nano".desc, $"vec_id")
      sv.withColumn("vr", row_number().over(wtop)).filter($"vr" <= 5)
        .select($"qid", $"vec_id", $"i".as("dist_rank"),
          $"ind".as("same_label"), $"s_nano")
    }),

    // ---- retrieval quality metrics: MRR + nDCG@20 --------------------
    // [Järvelin & Kekäläinen TOIS'02] the rank-quality companion to
    // q142's recall@k: recall says WHETHER the relevant vectors
    // surfaced, MRR/nDCG say WHERE. Relevance = same label as the
    // query; ranking = the q40 quantized cosine (round-6, identical in
    // both engines). All fixed-point: MRR = 1000 div first-relevant
    // rank; DCG discounts 1000/log2(i+1) are 20 HARDCODED milli
    // constants (a computed log2 could differ by an ULP across libm);
    // ideal DCG = the same table cut at min(R, 20) relevant, so
    // ndcg_ppm is an exact integer ratio. Scale: the q40 broadcast
    // query-set shape (the 10 h60-smallest vec_ids — a global limit,
    // corpus-independent like q293's; round 15's mod-50 set grew with
    // the data) + one per-query window; the 20-row discount dim
    // broadcasts under a non-equi cut.
    "q298_retrieval_metrics" -> ((s, d) => {
      import s.implicits._
      val discounts = Seq(1L -> 1000L, 2L -> 630L, 3L -> 500L, 4L -> 430L,
        5L -> 386L, 6L -> 356L, 7L -> 333L, 8L -> 315L, 9L -> 301L,
        10L -> 289L, 11L -> 278L, 12L -> 270L, 13L -> 262L, 14L -> 255L,
        15L -> 250L, 16L -> 244L, 17L -> 239L, 18L -> 235L, 19L -> 231L,
        20L -> 227L)
      val emb = quantized(s, d)
      val qs = emb
        .orderBy(graft.functions.PortableHash.h60($"vec_id").asc, $"vec_id".asc)
        .limit(10)
        .select($"vec_id".as("qid"), $"label".as("qlab"),
          $"q".as("qv"), $"n2".as("qn2"))
      val scored = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          ($"label" === $"qlab").cast("long").as("rel"),
          cosine("q", "qv", "n2", "qn2").as("cos"))
      val wr = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      val rk = scored.withColumn("rnk", row_number().over(wr).cast("long"))
        .cache() // harness-released (per-query clearCache)
      val tot = rk.groupBy($"qid")
        .agg(least(sum($"rel"), lit(20L)).as("n_rel_cap"))
      val dw = discounts.toDF("drk", "dw_milli")
      val dcg = rk.filter($"rnk" <= 20L)
        .join(broadcast(dw), $"rnk" === $"drk")
        .groupBy($"qid")
        .agg(sum($"rel" * $"dw_milli").cast("bigint").as("dcg_milli"),
          sum($"rel").cast("bigint").as("n_rel_20"),
          coalesce(min(when($"rel" === 1L, $"rnk")), lit(0L))
            .as("first_rel"))
      val idcg = tot.join(broadcast(dw), $"drk" <= $"n_rel_cap")
        .groupBy($"qid").agg(sum($"dw_milli").cast("bigint").as("idcg_milli"))
      dcg.join(idcg, "qid")
        .select($"qid", $"n_rel_20", $"first_rel",
          when($"first_rel" > 0L, expr("1000L div first_rel")).otherwise(0L)
            .as("mrr_milli"),
          $"dcg_milli", $"idcg_milli",
          expr("dcg_milli * 1000000L div idcg_milli").as("ndcg_ppm"))
    }),

    // ---- LSH-blocked DBSCAN over the embedding corpus ----------------
    // [Ester+ KDD'96] density-based clustering next to q79's k-means:
    // no k, arbitrary cluster shapes, an explicit NOISE class — the
    // embedding-space structure probe a curation pipeline runs before
    // committing to a centroid count. Neighbor candidates are scoped
    // to the vector's k-means cell (the q175 substrate) AND a shared
    // sign-LSH band — 16 planes split into 4 bands of 4 bits — so the
    // pair generator is a pure equi-join on (kcell, band, bv). Round
    // 15 shipped 4 bands × 2 bits with NO cell scope, which retained a
    // measured 63% of all pairs (Θ(n²) in disguise); the widened bands
    // + cell scope cut that to a measured ~2.6% at every sf, and the
    // ratio is now REPORTED as the cand_ppm output column (q311's
    // audit discipline) and pinned scale-invariant by
    // BlockingSelectivitySpec. Exact integer d² < ε² (the q40
    // quantized rule) filters candidates; core = ≥ 2 banded
    // ε-neighbors (minPts 3 incl. self — re-tuned alongside the
    // selective blocking: this corpus has no sub-60° pairs, so banded
    // degree is a ~9× undercount of the exact ε-degree); clusters =
    // connected components over core–core edges (Dedup's min-label
    // CC, log-diameter rounds); borders take the smallest
    // core-neighbor cluster, the rest is noise. Output: per vector
    // (role 2/1/0, cluster id, −1 noise, blocking selectivity ppm).
    "q296_dbscan_lsh" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d).join(kmeansCells(s, d), "vec_id")
        .withColumn("bkt", bucketExprN(16)).cache() // harness-released (per-query clearCache)
      val bands = emb.select($"vec_id", $"kcell",
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"),
            expr(s"(bkt div ${1L << (4 * i)}) % 16").as("bv"))): _*)).as("p"))
        .select($"vec_id", $"kcell", $"p.band".as("band"), $"p.bv".as("bv"))
      val cand = bands.toDF("a", "kc", "band", "bv")
        .join(bands.toDF("b", "kc", "band", "bv"), Seq("kc", "band", "bv"))
        .filter($"a" < $"b")
        .select($"a", $"b").distinct()
        .localCheckpoint(true)
      // blocking-selectivity audit: candidates per all-pairs, in ppm —
      // the dial this query's scale claim rests on, reported in-band
      // (DECIMAL(38,0) up top: n_cand · 10⁶ passes int64 at corpus n)
      val audit = cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_vec"))))
        .select(expr("CAST(CAST(n_cand AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n_vec AS DECIMAL(38,0)) * (n_vec - 1) div 2) AS BIGINT)")
          .as("cand_ppm"))
      val eps = cand
        .join(emb.select($"vec_id".as("a"), $"q".as("qa"), $"n2".as("na")), "a")
        .join(emb.select($"vec_id".as("b"), $"q".as("qb"), $"n2".as("nb")), "b")
        .filter($"na" + $"nb" - lit(2L) * expr("int_dot(qa, qb)") <
          lit(1400000L))
        .select($"a", $"b")
      val sym = eps.unionAll(eps.select($"b".as("a"), $"a".as("b")))
        .localCheckpoint(true)
      val deg = sym.groupBy($"a").agg(count(lit(1)).as("nnb"))
      val core = deg.filter($"nnb" >= 2L).select($"a".as("cid"))
      val ce = sym
        .join(core.toDF("a"), Seq("a"), "left_semi")
        .join(core.toDF("b"), Seq("b"), "left_semi")
        .select($"a", $"b").localCheckpoint(true)
      val cc = Dedup.connectedComponents(ce)
      val corec = core.join(cc, $"cid" === $"v", "left")
        .select($"cid", coalesce($"lbl", $"cid").as("cl"))
      val border = sym
        .join(corec.select($"cid".as("b"), $"cl"), Seq("b"))
        .join(corec.select($"cid".as("a")), Seq("a"), "left_anti")
        .groupBy($"a").agg(min($"cl").as("bcl"))
      emb.select($"vec_id")
        .join(corec.select($"cid".as("vec_id"), $"cl"), Seq("vec_id"), "left")
        .join(border.select($"a".as("vec_id"), $"bcl"), Seq("vec_id"), "left")
        .crossJoin(broadcast(audit))
        .select($"vec_id",
          when($"cl".isNotNull, 2L).when($"bcl".isNotNull, 1L)
            .otherwise(0L).as("role"),
          coalesce($"cl", $"bcl", lit(-1L)).as("cluster"),
          $"cand_ppm")
    }),

    // ---- prefix-dimension (Matryoshka-style) truncation audit --------
    // [Kusupati+ NeurIPS'22 MRL] the embedding-COMPRESSION dial next
    // to the index dials (q142 recall, q163 nprobe, q165 mask bits):
    // serving truncated vectors cuts memory m/64× — but only
    // Matryoshka-TRAINED embeddings keep their head dims informative,
    // and this audit measures whether THIS corpus's do before anyone
    // truncates. For the q40 query set: top-3 by prefix-m cosine
    // (m ∈ {8,16,32}, round-6 like every cosine here) scored against
    // the full-64-dim exact top-3 — recall@3 plus the MEAN TRUE RANK
    // of the prefix picks (recall can read 0 while the picks still
    // sit near the top; rank separates "partially informative" from
    // "random"). On this synthetic corpus the honest finding is that
    // truncation destroys top-3 recall while mean true rank improves
    // monotonically (127 → 71 → 24 of ~500 at sf0.01) — exactly the
    // measurement that vetoes a truncation rollout. Shape: q40's
    // broadcast query set × 3 literal prefix widths; per-(m, query)
    // windows; nothing corpus-scale but the scored scan.
    "q315_matryoshka_recall" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val emb = quantized(s, d)
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"q".as("qv"), $"n2".as("qn2"))
      val wx = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      val exact = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", cosine("q", "qv", "n2", "qn2").as("cos"))
        .withColumn("xrk", row_number().over(wx).cast("long"))
        .select($"qid", $"vec_id", $"xrk")
        .localCheckpoint(true)
      val picks = Seq(8, 16, 32).map { m =>
        val wp = Window.partitionBy($"qid").orderBy($"pcos".desc, $"vec_id")
        emb.join(broadcast(qs), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id",
            // the cosine() helper's exact form (long product, one cast)
            // on the prefix slices, so round-6 agrees with the oracle
            round(expr(s"int_dot(slice(q, 1, $m), slice(qv, 1, $m))")
              .cast("double") /
              sqrt((expr(s"int_dot(slice(q, 1, $m), slice(q, 1, $m))") *
                expr(s"int_dot(slice(qv, 1, $m), slice(qv, 1, $m))"))
                .cast("double")), 6).as("pcos"))
          .withColumn("rn", row_number().over(wp))
          .filter($"rn" <= 3)
          .select(lit(m.toLong).as("m_dims"), $"qid", $"vec_id")
      }.reduce(_ unionAll _)
      picks.join(exact, Seq("qid", "vec_id"))
        .groupBy($"m_dims")
        .agg(sum(when($"xrk" <= 3, 1L).otherwise(0L)).cast("bigint")
          .as("hits"),
          sum($"xrk").cast("bigint").as("rank_sum"),
          count(lit(1)).as("n_picks"))
        .select($"m_dims", $"hits",
          expr("hits * 1000000 div n_picks").as("recall_ppm"),
          expr("rank_sum div n_picks").as("mean_true_rank"))
    }),

    // ---- scalar-quantization bit-depth audit -------------------------
    // [Jégou+ PAMI'11 §2 scalar quantizers as the PQ baseline; the
    // int8-embedding serving trade] q315 audits the DIMENSION dial of
    // embedding compression; this audits the BIT-DEPTH dial: re-rank
    // the q40 query set with vectors quantized at round(x·S) for
    // S = 127 / 15 / 3 (int8 / int4 / int2) and score each depth's
    // top-3 against the exact S=1024 ranking — recall@3 plus the mean
    // TRUE rank of the claimed top-3 (rank separates "slightly blurry"
    // from "random" exactly as in q315). The honest-measurement shape:
    // whatever the curve says here is what a serving rollout gets.
    // Same scale shape as q40/q315: the 10-vector query set broadcast
    // against the corpus (linear, no corpus shuffle), one pass per
    // depth over the 3-literal grid.
    "q329_quant_depth_audit" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val emb = quantized(s, d)
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"q".as("qv"), $"n2".as("qn2"))
      val wx = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      val exact = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", cosine("q", "qv", "n2", "qn2").as("cos"))
        .withColumn("xrk", row_number().over(wx).cast("long"))
        .select($"qid", $"vec_id", $"xrk")
        .localCheckpoint(true)
      val raw = T.embeddings(s, d).select($"vec_id", $"embedding")
      val picks = Seq(127, 15, 3).map { sc =>
        val qd = raw.select($"vec_id",
          expr(s"transform(embedding, x -> CAST(round(x * $sc) AS BIGINT))")
            .as("qs"))
          .withColumn("sn2", expr("int_dot(qs, qs)"))
        val qqd = qd.filter($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"qs".as("qqs"), $"sn2".as("qsn2"))
        val wp = Window.partitionBy($"qid").orderBy($"scos".desc, $"vec_id")
        qd.join(broadcast(qqd), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id",
            cosine("qs", "qqs", "sn2", "qsn2").as("scos"))
          .withColumn("rn", row_number().over(wp))
          .filter($"rn" <= 3)
          .select(lit(sc.toLong).as("q_scale"), $"qid", $"vec_id")
      }.reduce(_ unionAll _)
      picks.join(exact, Seq("qid", "vec_id"))
        .groupBy($"q_scale")
        .agg(sum(when($"xrk" <= 3, 1L).otherwise(0L)).cast("bigint")
          .as("hits"),
          sum($"xrk").cast("bigint").as("rank_sum"),
          count(lit(1)).as("n_picks"))
        .select($"q_scale", $"hits",
          expr("hits * 1000000 div n_picks").as("recall_ppm"),
          expr("rank_sum div n_picks").as("mean_true_rank"))
    }),

    // ---- adjusted Rand index between the two corpus partitions --------
    // [Hubert & Arabie, J. Classification '85] the clustering-VALIDATION
    // op the IVF family implies but never measures: how much do the
    // arbitrary LABEL cells and the geometric K-MEANS cells
    // (kmeansCells — the q142 audit's index-side response) actually
    // agree? ARI = (Σij C(nij,2) − E) / (½(Σa+Σb) − E) with
    // E = ΣaΣb/C(n,2), chance-corrected so 0 = random agreement.
    // Exact integers end to end: every C(·,2) is k(k−1) div 2 (even
    // product — exact), the rational normalization is cleared of
    // fractions by multiplying through by C(n,2), products ride
    // DECIMAL(38,0)/HUGEINT (the q209 template), and the one signed
    // division is shifted non-negative (+den before div, −1e6 after —
    // the house floor rule). The shift makes the floor engine-identical
    // only while ARI ≥ −1; a sub-−1 ratio would leave the shifted
    // numerator negative, so an explicit greatest(·, −1e6) clamp pins
    // that corner, and den = 0 — which happens exactly when BOTH
    // partitions are trivial (both all-singletons or both one-cluster,
    // hence identical) — short-circuits to ARI = 1, the scikit-learn
    // convention for identical trivial partitions.
    // Scale: one (vec_id)-keyed join + a
    // (label × kcell)-bounded contingency agg; everything after is
    // cell-table-sized. n(n−1) outgrows int64 past ~3e9 rows — the
    // comment boundary where C2 moves to DECIMAL too.
    "q336_ari_clusterings" -> ((s, d) => {
      import s.implicits._
      val cont = quantized(s, d)
        .select($"vec_id", $"label".cast("bigint").as("a"))
        .join(kmeansCells(s, d), "vec_id")
        .groupBy($"a", $"kcell".as("b")).agg(count(lit(1)).as("nij"))
      val parts = cont.agg(
        sum($"nij").cast("bigint").as("n"),
        sum(expr("nij * (nij - 1) div 2")).cast("bigint").as("sum_idx"))
      val sa = cont.groupBy($"a").agg(sum($"nij").as("na"))
        .agg(sum(expr("na * (na - 1) div 2")).cast("bigint").as("sum_a"))
      val sb = cont.groupBy($"b").agg(sum($"nij").as("nb"))
        .agg(sum(expr("nb * (nb - 1) div 2")).cast("bigint").as("sum_b"))
      parts.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .select($"n", $"sum_idx", $"sum_a", $"sum_b",
          expr(
            """CAST(sum_idx AS DECIMAL(38,0)) * (n * (n - 1) div 2)
              | - CAST(sum_a AS DECIMAL(38,0)) * sum_b"""
              .stripMargin.replace("\n", " ")).as("num2"),
          expr(
            """CAST(n * (n - 1) div 2 AS DECIMAL(38,0))
              |    * (sum_a + sum_b)
              |  - 2 * CAST(sum_a AS DECIMAL(38,0)) * sum_b"""
              .stripMargin.replace("\n", " ")).as("den"))
        .select($"n", $"sum_idx", $"sum_a", $"sum_b",
          expr(
            """CAST(CASE WHEN den = 0 THEN 1000000
              | ELSE greatest(
              |   (1000000 * (2 * num2) + 1000000 * den) div den
              |     - 1000000,
              |   -1000000) END AS BIGINT)""".stripMargin.replace("\n", " "))
            .as("ari_ppm"))
    }),

    // ---- JL random-projection distance-preservation audit ------------
    // [Johnson & Lindenstrauss '84; Achlioptas JCSS'03 ±1 projections]
    // the RANDOM-projection axis of the compression-dial family (q315
    // audits learned prefix widths, q329 bit depth): project onto m
    // hash-seeded ±1 directions (sign = parity of h60(m#j#i) — the
    // retry-stable determinism rule; E[d²_proj] = m·d²_orig for ±1
    // entries) and measure pairwise squared-distance distortion on the
    // 10 h60-smallest vectors (q293's corpus-independent query set →
    // 45 pairs). Exact integers: projections are signed component
    // sums, ratios floor through DECIMAL(38,0)/HUGEINT; duplicate
    // vectors (d² = 0) are excluded from ratios in both engines.
    // Scale: the projection of the 10-row query set is bounded work;
    // projecting a CORPUS is one scan × m signed sums per row — the
    // audit prices the m dial before that pass commits.
    "q343_jl_projection_audit" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val h60c = graft.functions.PortableHash.h60 _
      val qs = quantized(s, d).select($"vec_id", $"q", $"n2")
        .orderBy(h60c($"vec_id").asc, $"vec_id".asc).limit(10)
        .localCheckpoint(true)
      val ms = Seq(8L, 32L).toDF("mdim")
      val proj = qs.crossJoin(broadcast(ms))
        .select($"vec_id", $"mdim", posexplode($"q"))
        .select($"vec_id", $"mdim", $"pos", $"col",
          explode(sequence(lit(1L), $"mdim")).as("j"))
        .select($"vec_id", $"mdim", $"j",
          when(pmod(h60c(concat_ws("#", $"mdim", $"j", $"pos")),
            lit(2)) === 0, $"col").otherwise(-$"col").as("t"))
        .groupBy($"vec_id", $"mdim", $"j")
        .agg(sum($"t").cast("bigint").as("y"))
      val d2p = proj.toDF("a", "mdim", "j", "ya")
        .join(proj.toDF("b", "mdim", "j", "yb"), Seq("mdim", "j"))
        .filter($"a" < $"b")
        .groupBy($"mdim", $"a", $"b")
        .agg(sum(($"ya" - $"yb") * ($"ya" - $"yb")).cast("bigint").as("d2p"))
      val d2o = qs.toDF("a", "qa", "n2a")
        .crossJoin(broadcast(qs.toDF("b", "qb", "n2b")))
        .filter($"a" < $"b")
        .select($"a", $"b",
          ($"n2a" + $"n2b" - lit(2L) * expr("int_dot(qa, qb)")).as("d2o"))
        .filter($"d2o" > 0L)
      d2p.join(broadcast(d2o), Seq("a", "b"))
        .select($"mdim",
          expr("CAST(CAST(d2p AS DECIMAL(38,0)) * 1000000 " +
            "div (mdim * d2o) AS BIGINT)").as("ratio_ppm"))
        .groupBy($"mdim")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"ratio_ppm").cast("bigint").as("sr"),
          max(greatest($"ratio_ppm" - 1000000L,
            lit(1000000L) - $"ratio_ppm")).cast("bigint")
            .as("max_abs_dev_ppm"))
        .select($"mdim".as("m_dims"), $"n_pairs",
          expr("sr div n_pairs").as("mean_ratio_ppm"), $"max_abs_dev_ppm")
    }),

    // ---- simplified-silhouette cluster quality (internal validity) ---
    // [Rousseeuw JCAM'87 silhouettes] the INTERNAL-validity companion
    // to q336's external ARI (VERDICT r16 #8): per point, a = mean
    // squared distance to its OWN kmeansCell's members, b = min over
    // OTHER cells of the mean squared distance to that cell —
    // s = (b−a)/max(a,b). The all-pairs sums collapse by the moment
    // identity Σ_j ||x−y_j||² = |C|·||x||² − 2·x·S_C + SS_C, so each
    // cell contributes ONE summary row (count, sum vector, Σ‖·‖²) and
    // the whole computation is points × K summaries (crossJoin of a
    // broadcast K-row table — BNLJ-allowlisted at the cell count),
    // never point×point. Exact integers end to end: the a-term's
    // self-distance is 0 so the same numerator serves both (a divides
    // by |C|−1, b by |C'|); the one signed division shifts
    // non-negative through DECIMAL(38,0)/HUGEINT (s ≥ −1e6 by
    // construction since a ≤ max). Singleton cells have no a (excluded,
    // the sklearn convention). Honest finding: mean s ≈ 0.002–0.017
    // per cell — the geometric clusters are weak, the internal metric
    // agreeing with ARI's external ≈ 0.116.
    "q341_silhouette" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val pts = quantized(s, d).select($"vec_id", $"q", $"n2")
        .join(kmeansCells(s, d), "vec_id")
      val csum = pts.select($"kcell", posexplode($"q"))
        .groupBy($"kcell", $"pos").agg(sum($"col").cast("bigint").as("sx"))
        .groupBy($"kcell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, sx))), " +
          "t -> t.sx)").as("sv"))
      val cells = pts.groupBy($"kcell")
        .agg(count(lit(1)).as("nc"), sum($"n2").cast("bigint").as("ssq"))
        .join(csum, "kcell")
        .select($"kcell".as("ocell"), $"nc", $"ssq", $"sv")
      val pairs = pts.crossJoin(broadcast(cells))
        .select($"vec_id", $"kcell", $"ocell", $"nc",
          ($"nc" * $"n2" - lit(2L) * expr("int_dot(q, sv)") + $"ssq")
            .cast("bigint").as("num"))
      val ab = pairs.groupBy($"vec_id", $"kcell")
        .agg(max(when($"kcell" === $"ocell" && $"nc" >= 2,
            expr("num * 1000 div (nc - 1)"))).as("a_milli"),
          min(when($"kcell" =!= $"ocell", expr("num * 1000 div nc")))
            .as("b_milli"))
      val spp = ab.filter($"a_milli".isNotNull && $"b_milli".isNotNull)
        .select($"kcell", $"a_milli", $"b_milli",
          greatest($"a_milli", $"b_milli").as("mab"))
        .select($"kcell", $"a_milli", $"b_milli",
          expr("CASE WHEN mab = 0 THEN 0L ELSE CAST(" +
            "(CAST(b_milli AS DECIMAL(38,0)) - a_milli + mab) * 1000000" +
            " div mab - 1000000 AS BIGINT) END").as("s_ppm"))
      spp.groupBy($"kcell")
        .agg(count(lit(1)).as("n_pts"),
          sum($"a_milli").cast("bigint").as("sa"),
          sum($"b_milli").cast("bigint").as("sb"),
          sum($"s_ppm").cast("bigint").as("ss"))
        .select($"kcell", $"n_pts",
          expr("sa div n_pts").as("mean_a_milli"),
          expr("sb div n_pts").as("mean_b_milli"),
          expr("(ss + n_pts * 1000000) div n_pts - 1000000")
            .as("mean_s_ppm"))
    }),

    // ---- k-center greedy coreset selection (Gonzalez) ----------------
    // [Gonzalez TCS'85 farthest-point 2-approximation; Sener &
    // Savarese ICLR'18 coreset selection] the data-PRUNING op next to
    // q295's max-coverage and q221's budget cut: pick K=8 vectors so
    // every vector is close to some pick, i.e. minimize the
    // covering radius. Greedy: seed = the h60-smallest vec_id (the
    // house content-hash rule), then 7 rounds of "farthest point from
    // the selected set" with exact integer d² = n2 + cn2 − 2·int_dot
    // (the q40 rule) and the (dmin DESC, vec_id ASC) tie-break. The
    // d2cov column is the covering radius AT selection time — the
    // monotone trajectory a pruning pipeline reads to choose K.
    // Scale shape: the selected set lives on the DRIVER as ≤8 literal
    // arrays, so each round is ONE corpus scan computing least() over
    // ≤8 codegen'd int_dot columns + a TakeOrdered(1) argmax — no
    // shuffle, no join, no window; 8 rounds = 8 linear passes at any
    // corpus size (K passes is Gonzalez's inherent round structure;
    // at 100 TB each pass is embarrassingly parallel).
    "q326_kcenter_coreset" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d).select($"vec_id", $"q", $"n2").cache()
      val centers = kcenterGreedy(emb, 8)
      emb.unpersist()
      centers.zipWithIndex
        .map { case ((id, cov), i) => (i + 1L, id, cov) }
        .toDF("rk", "vec_id", "d2cov")
    }),

    // ---- IVF-style partitioned ANN: search only the query's cell ----
    "q41_ann_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"label".as("qcell"), $"q".as("qv"), $"n2".as("qn2"))
      val scored = emb.join(broadcast(qs),
          $"label" === $"qcell" && $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", $"label".cast("bigint").as("cell"),
          cosine("q", "qv", "n2", "qn2").as("cos"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      scored.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 3)
        .select($"qid", $"vec_id", $"cell", $"cos", $"rn")
    }),

    // ---- multi-probe IVF at the AUDIT-CHOSEN probe depth ------------
    // Single-probe IVF (q41) misses neighbors that fall just across a
    // cell boundary; production IVF probes the nprobe nearest cells by
    // query-to-centroid distance. The probe list is computed against
    // the k-row centroid table (broadcast, exact integer L2 =
    // qn2 + cn2 − 2·int_dot) — a 10×k rank, driver-free — and the
    // scan stays an equi-join on the cell key: recall rises while
    // per-query work stays ~nprobe·N/k, the multiprobe trade dial
    // every IVF deployment tunes. Since round 10 nprobe is NOT a
    // constant: it is the smallest swept depth whose measured recall@3
    // meets the ≥80% acceptance target (q163's sweep — the loop the
    // q142 audit exists to close), joined in as a 1-row scalar so the
    // production query provably runs the accepted config.
    "q141_ann_ivf_multiprobe" -> ((s, d) =>
      ivfMultiprobeTop3(s, d, chosenNprobe(s, d))),

    // ---- IVF over K-MEANS cells (the index-side audit response) -----
    // q142's root finding is that the LABEL cells are not geometric
    // clusters, so single-cell IVF recall is weak. The parameter-side
    // responses are q163/q165 (probe more cells / coarser buckets);
    // this is the INDEX-side response: re-partition the corpus by the
    // nearest integer-mean centroid (one Lloyd assignment — q79's
    // kernel, shared as the [[kmeansCells]] substrate) and search the
    // query's k-means cell instead of its label cell. Same equi-join
    // shape and cost as q41; q142 measures whether the geometric
    // partitioning actually buys recall on this corpus (method
    // 'ivf_km' beside 'ivf1').
    "q175_ann_kmeans_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d).join(kmeansCells(s, d), "vec_id")
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"kcell".as("qcell"),
          $"q".as("qv"), $"n2".as("qn2"))
      val scored = emb.join(broadcast(qs),
          $"kcell" === $"qcell" && $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id", $"kcell", cosine("q", "qv", "n2", "qn2").as("cos"))
      val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
      scored.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 3)
        .select($"qid", $"vec_id", $"kcell", $"cos", $"rn")
    }),

    // ---- incremental IVF admission (index grows without re-cluster) -
    // The q155/q168 incremental rule applied to the ANN index: a 10%
    // content-hash crawl batch is admitted against centroids trained
    // on the BASE 90% ONLY — new vectors assign to existing cells (one
    // broadcast-centroid argmax over the batch, the same per-row cost
    // as a query), and re-clustering is deferred until the growth
    // audit here says a cell drifted (growth_ppm per cell is the
    // decision column). At 100 TB this is how the index ingests
    // continuously: assignment is embarrassingly parallel, Lloyd
    // re-training is the rare heavyweight job this audit gates.
    "q198_ivf_incremental" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val isBatch =
        pmod(graft.functions.PortableHash.h60($"vec_id"), lit(10)) === 0
      val base = emb.filter(!isBatch)
      val batch = emb.filter(isBatch)
      val cent = meanCentroids(base)
        .select($"label".cast("bigint").as("clab"), $"c", $"cn2")
      def assign(e: DataFrame): DataFrame = {
        val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"clab")
        e.crossJoin(broadcast(cent))
          .select($"vec_id", $"clab", cosine("q", "c", "n2", "cn2").as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"vec_id", $"clab".as("kcell"))
      }
      assign(base).groupBy($"kcell").agg(count(lit(1)).as("n_base"))
        .join(assign(batch).groupBy($"kcell")
          .agg(count(lit(1)).as("nb")), Seq("kcell"), "left")
        .withColumn("n_batch", coalesce($"nb", lit(0L)))
        .select($"kcell", $"n_base", $"n_batch",
          expr("n_batch * 1000000L div n_base").as("growth_ppm"))
    }),

    // ---- ANN recall audit: measure, don't guess ---------------------
    // Joins each approximate index's top-3 (IVF q41, sign-LSH q53,
    // audit-tuned multiprobe IVF q141, k-means-cell IVF q175) against
    // the exact brute-force top-3 (q40) and reports per-query hit
    // counts + recall — the acceptance metric any ANN rollout gates
    // on. Composition of declared queries in ONE plan; every
    // per-method side is 30 rows, so the audit costs the underlying
    // scans and nothing more.
    "q142_ann_recall" -> ((s, d) => {
      import s.implicits._
      val exact = queries("q40_cosine_topk")(s, d)
        .filter($"rn" <= 3).select($"qid", $"vec_id")
      val qids = exact.select($"qid").distinct()
      val methods = Seq(
        "ivf1" -> queries("q41_ann_ivf")(s, d).select($"qid", $"vec_id"),
        "ivf2" -> queries("q141_ann_ivf_multiprobe")(s, d).select($"qid", $"vec_id"),
        "ivf_km" -> queries("q175_ann_kmeans_ivf")(s, d).select($"qid", $"vec_id"),
        "lsh" -> queries("q53_ann_signlsh")(s, d).select($"qid", $"vec_id"))
      methods.map { case (mname, appr) =>
        val hits = exact.join(appr, Seq("qid", "vec_id"), "left_semi")
          .groupBy($"qid").agg(count(lit(1)).as("hits"))
        qids.join(hits, Seq("qid"), "left")
          .select($"qid", lit(mname).as("method"),
            coalesce($"hits", lit(0L)).as("hits"))
      }.reduce(_ unionAll _)
        .withColumn("recall_ppm", expr("(hits * 1000000L) div 3"))
    }),

    // ---- sign-LSH bucketed ANN at the AUDIT-CHOSEN bit width --------
    // Random-hyperplane LSH with DETERMINISTIC integer hyperplanes
    // (coef(j,k) = ((j·73 + k·179) mod 41) − 20): bucket = sign bits
    // of int_dot(v, plane_j) — exact integer arithmetic, so the
    // oracle reproduces buckets bit-for-bit. Search is restricted to
    // the query's bucket (equi-join), the LSH scale path next to
    // q41's IVF cells. Since round 10 the BIT WIDTH is not a
    // constant: using the first b of the 8 planes is a prefix MASK of
    // the full bucket, so q165's sweep measures recall per width and
    // q53 runs at the widest (most selective, cheapest) width still
    // meeting the ≥80% recall target — falling back to the narrowest
    // swept width when none passes (the honest fallback: recall is
    // monotone in mask coarseness).
    "q53_ann_signlsh" -> ((s, d) =>
      lshTop3(s, d, chosenLshMask(s, d))),

    // ---- LSH bit-width acceptance sweep (q163's twin for q53) -------
    // The same close-the-audit-loop mechanism as q163, applied to the
    // second tuning dial the q142 audit exposed: bucket bit width.
    // One bucket computation serves every width (masking the 8-bit
    // bucket to its first b bits IS the b-plane bucket), so the sweep
    // re-scans only the bucket-joined candidates per width. Output:
    // per-width recall@3 vs the exact baseline, the acceptance flag,
    // and which width ships into q53.
    "q165_ann_lshbits_tune" -> ((s, d) => {
      import s.implicits._
      val sweep = lshBitsSweep(s, d)
      sweep.crossJoin(broadcast(chosenLshMask(s, d)))
        .select($"bits", $"hits", $"recall_ppm",
          when($"recall_ppm" >= recallTargetPpm, 1L).otherwise(0L)
            .as("meets_target"),
          when($"bits" === $"chosen_bits", 1L).otherwise(0L).as("chosen"))
    }),

    // ---- contrastive training-pair mining ---------------------------
    // The embedding-training data op [Schroff et al. FaceNet CVPR'15
    // mining; Karpukhin et al. DPR EMNLP'20 hard negatives]: for each
    // anchor, the most-similar SAME-label vector (the positive) and
    // the most-similar DIFFERENT-label vector (the hard negative —
    // the highest-loss impostor), plus the margin between them. Pairs
    // with small or negative margin are exactly the triplets a
    // contrastive fine-tune needs most.
    //
    // Shape: one broadcast of the anchor set against the corpus (the
    // q40 exact-scan pattern — linear, no corpus self-join), a rank
    // window per (anchor, same-class) partition, then a 10-row pivot.
    // At 100 TB with a large anchor set, the anchor side becomes the
    // probed side of the IVF/LSH index instead — the mining logic
    // above the candidate scan is unchanged.
    "q166_contrastive_pairs" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val qs = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"label".as("alab"),
          $"q".as("qv"), $"n2".as("qn2"))
      val scored = emb.join(broadcast(qs), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id",
          when($"label" === $"alab", 1L).otherwise(0L).as("same"),
          cosine("q", "qv", "n2", "qn2").as("cos"))
      val w = Window.partitionBy($"qid", $"same").orderBy($"cos".desc, $"vec_id")
      scored.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"qid").agg(
          max(when($"same" === 1, $"vec_id")).as("pos_id"),
          max(when($"same" === 1, $"cos")).as("pos_cos"),
          max(when($"same" === 0, $"vec_id")).as("neg_id"),
          max(when($"same" === 0, $"cos")).as("neg_cos"))
        .select($"qid", $"pos_id", $"pos_cos", $"neg_id", $"neg_cos",
          round($"pos_cos" - $"neg_cos", 6).as("margin"))
    }),

    // ---- per-label centroids + most-central vectors -----------------
    // The k-means building block: the integer-mean centroid of each
    // label cell (see meanCentroids — bounded components keep every
    // product int64-exact at any cluster size), broadcast back over
    // the corpus, per-label top-3 by centrality. Shape: posexplode →
    // (label, pos) sum/count → re-assemble arrays (labels × dim rows,
    // tiny) → broadcast join → per-label top-k window.
    "q75_centroid_central" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val cent = meanCentroids(emb)
      val scored = emb.join(broadcast(cent), "label")
        .select($"label".cast("bigint").as("label"), $"vec_id",
          cosine("q", "c", "n2", "cn2").as("cos_centroid"))
      val w = Window.partitionBy($"label").orderBy($"cos_centroid".desc, $"vec_id")
      scored.withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 3)
        .select($"label", $"vec_id", $"cos_centroid", $"rn")
    }),

    // ---- one Lloyd (k-means) iteration ------------------------------
    // The clustering refinement step a curation pipeline runs on top
    // of q75's centroid primitive: current centroids (integer-mean
    // label-cell centroids, meanCentroids — int64-exact at any
    // cluster size), REASSIGN every vector to its nearest centroid
    // by cosine, then recompute per-cluster stats + an exact integer
    // fingerprint of the NEW centroid (position-weighted sum), so the
    // gate proves the full assign→recompute cycle, not just counts.
    // n_moved is the convergence signal a driver loop would test.
    // Scale shape: k centroids are tiny at any corpus size →
    // broadcast nested loop over the corpus (k·n dot products, the
    // irreducible Lloyd cost), per-vector argmax via a vec_id window,
    // then two hash aggs; the corpus is never self-joined.
    "q79_kmeans_iter" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val cent = meanCentroids(emb)
        .select($"label".cast("bigint").as("clab"), $"c", $"cn2")
      val scored = emb.crossJoin(broadcast(cent))
        .select($"vec_id", $"label".cast("bigint").as("old_label"), $"clab",
          cosine("q", "c", "n2", "cn2").as("cos"),
          $"q")
      val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"clab")
      // two consumers (stats, new-centroid fingerprint) — cache so the
      // k·n assignment pass (the dominant cost) runs once, not twice
      // (scales with the vector count: disk-persist at 100 TB)
      val assigned = scored.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"vec_id", $"old_label", $"clab".as("new_label"), $"q")
        .cache() // harness-released (per-query clearCache)
      val stats = assigned.groupBy($"new_label")
        .agg(count(lit(1)).as("n_members"),
          sum(when($"old_label" =!= $"new_label", 1L).otherwise(0L)).as("n_moved"),
          min($"vec_id").as("first_vec"))
      val fp = assigned.select($"new_label", posexplode($"q"))
        .groupBy($"new_label", $"pos").agg(sum($"col").as("sv"))
        .groupBy($"new_label")
        .agg(sum($"sv" * ($"pos" + 1)).as("centroid_fp"))
      stats.join(fp, "new_label")
        .select($"new_label", $"n_members", $"n_moved", $"first_vec", $"centroid_fp")
    }),

    // ---- embedding-cosine near-dup candidates -----------------------
    // For every vector: its nearest neighbor within its IVF cell
    // (near-dups of a vector share its cell by construction of the
    // quantizer) — equi-join on the cell + per-vector top-1, exact
    // integer cosine, no all-pairs over the corpus. A dedup pass
    // thresholds this candidate list; the corpus here has no
    // engineered near-dups, so emitting top-1 (not a threshold) keeps
    // the gate non-vacuous.
    "q42_embedding_neardup" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val a = emb.select($"vec_id".as("a"), $"label".as("cell"), $"q".as("qa"), $"n2".as("na"))
      val b = emb.select($"vec_id".as("b"), $"label".as("cell"), $"q".as("qb"), $"n2".as("nb"))
      val w = Window.partitionBy($"a").orderBy($"cos".desc, $"b")
      a.join(b, Seq("cell")).filter($"a" =!= $"b")
        .select($"a", $"b", cosine("qa", "qb", "na", "nb").as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"a", $"b".as("nn"), $"cos")
    }),

    // ---- exact second-moment (Gram) matrix of the embedding corpus --
    // The sufficient statistics for whitening / PCA / PQ-codebook
    // training: for every dim pair i <= j, the exact integer power
    // sums (n, Σ q_i·q_j, Σ q_i, Σ q_j) over the quantized corpus —
    // covariance is n·s_xy − s_i·s_j downstream, in whatever precision
    // the consumer wants (raw moments stay exact int64: |q| ≤ 5120 so
    // s_xy ≤ n·2.7e7, safe past 3e11 vectors).
    //
    // Shape (the part that matters at 100 TB): the d(d+1)/2 pair
    // products are generated per-row by an array HOF inside ONE narrow
    // projection — no posexplode self-join, which would shuffle the
    // corpus on vec_id just to multiply numbers already sitting in the
    // same row. The only shuffle is the groupBy over d(d+1)/2 = 2080
    // bounded keys, which map-side combines to ≤2080 rows per task
    // regardless of corpus size. The d-row marginal table broadcasts.
    "q137_embedding_moments" -> ((s, d) => {
      import s.implicits._
      val emb = quantized(s, d)
      val pairs = emb.select(explode(expr(
        s"""flatten(transform(q, (x, i) ->
           |  transform(slice(q, i + 1, $dim),
           |    (y, k) -> struct(CAST(i AS BIGINT) AS i,
           |                     CAST(i + k AS BIGINT) AS j,
           |                     x * y AS p))))""".stripMargin)).as("e"))
        .select($"e.i", $"e.j", $"e.p")
        .groupBy($"i", $"j")
        .agg(count(lit(1)).as("n"), sum($"p").as("s_xy"))
      val marg = emb.select(posexplode($"q").as(Seq("pos", "x")))
        .groupBy($"pos").agg(sum($"x").as("s"))
        .select($"pos".cast("bigint").as("pos"), $"s")
      pairs
        .join(broadcast(marg.toDF("i", "s_i")), "i")
        .join(broadcast(marg.toDF("j", "s_j")), "j")
        .select($"i", $"j", $"n", $"s_xy", $"s_i", $"s_j")
    }),

    // ---- embedding norm audit: per-label median/MAD + outliers ------
    // The embedding-QA gate before any ANN/dedup work: a vector whose
    // norm sits far outside its class's distribution is a truncated
    // decode, an unnormalized import, or a collapsed row — and cosine
    // quietly hides it. Exact rank-selected median and MAD of the
    // quantized squared norm per label (q100's doubled-unit order-
    // statistic machinery: med2 = 2·median, mad4 = 4·MAD — no division
    // ever happens) plus the count of |x − med| > 3·MAD outliers as
    // the integer inequality 2·|2x − med2| > 3·mad4. VALUE-BAND
    // DECOMPOSED via [[Relational.bandedMedMad2]] (round 12): the old
    // form ranked raw per-vector rows in windows partitioned on the
    // ≤k-value label — the q230 single-task-sort class — while the
    // quantized norms span a bounded domain, so the rank selection
    // runs over the (label, n2) band table only; identical output,
    // oracle unchanged. The med/mad table is |labels| rows, joined
    // broadcast for the outlier count.
    "q211_embedding_norm_audit" -> ((s, d) => {
      import s.implicits._
      val ev = quantized(s, d)
        .select($"label".cast("bigint").as("label"), $"vec_id", $"n2")
      val mad = Relational.bandedMedMad2(ev.select($"label", $"n2"),
        "label", "n2")
      ev.join(broadcast(mad), Seq("label"))
        .groupBy($"label")
        .agg(max($"n").as("n"), max($"med2").as("med2"),
          max($"mad4").as("mad4"),
          sum(when(abs($"n2" * 2 - $"med2") * 2 > $"mad4" * 3, 1L)
            .otherwise(0L)).cast("bigint").as("n_outliers"))
    }),

    // ---- top principal direction via integer power iteration --------
    // (core factored into [[gramPowerState]], shared with q350's
    // isotropy audit — the same one-pass Gram and the same integer
    // trajectory)
    // The PCA/whitening prep step on top of q137's exact second
    // moments: the dominant eigenvector of the (uncentered) Gram
    // matrix G = XᵀX by power iteration w' ∝ G·w (G is PSD so no sign
    // flips), with the house tolerance fixpoint rule (±1 ppm, cap 16 —
    // the q212/q222 successor pick, replicated by the oracle's conv
    // CTE). The corpus-scale work is EXACTLY ONE distributed pass: the
    // row-local pair-product HOF builds G (no posexplode self-join);
    // G itself is dim² = 4096 rows REGARDLESS of corpus size, so the
    // iteration runs on the driver over the collected matrix — the
    // bounded-side rule (a dim²-bounded collect is the matrix analog
    // of the 1-row `.head` scalars; a relational fixpoint here paid
    // ~0.5 s of job-scheduling latency per 64-row iteration, measured
    // 5.5 s vs ~1 s). Numeric portability: Gram entries and the state
    // are SIGNED, so every floor runs through the shifted-numerator
    // form (CentroidFloorSpec's rule) — gs = (s_xy + 1024·1e10) div
    // 1024 − 1e10 pre-scales entries (valid to |s_xy| < 1e13 ≈ sf30),
    // and the normalization divides by dnorm = max|Σ| div 1e6 with a
    // +2e6·dnorm shift; Σ gs·w stays in int64 to ~sf0.5, past which
    // gs gets a wider pre-scale. Driver arithmetic and the recursive
    // CTE run the identical integer trajectory. Output: (dim, w_ppm),
    // the direction scaled to max |w| = 1e6.
    "q220_pca_power" -> ((s, d) => {
      import s.implicits._
      val (_, _, w) = gramPowerState(s, d)
      w.toSeq.sortBy(_._1).toDF("dim", "w_ppm")
    }),

    // ---- embedding isotropy audit (top-direction concentration) ------
    // [Mu & Viswanath ICLR'18 all-but-the-top; Ethayarajh EMNLP'19
    // anisotropy] the WHITENING decision dial on top of q220's
    // dominant direction: how much of the Gram's total energy (the
    // trace) does the top principal direction hold? λ1 by the exact
    // integer Rayleigh quotient wᵀGw div wᵀw over q220's converged w
    // (BigInt driver fold — both terms non-negative, G is PSD),
    // trace = Σ diag(gs) from the same pre-scaled matrix (the common
    // 1024 pre-scale cancels in every ratio). top_share_ppm ≈ 1/dim
    // means isotropic (no single dominant direction — whitening buys
    // little); concentration_x_milli = λ1·dim/trace is the same dial
    // in multiples of the uniform share. One corpus pass (the shared
    // Gram build); everything after is dim²-bounded driver work.
    "q350_isotropy_audit" -> ((s, d) => {
      import s.implicits._
      val (dims, g, w) = gramPowerState(s, d)
      val sw = dims.map(i =>
        i -> dims.map(j => g.getOrElse((i, j), 0L) * w(j)).sum).toMap
      val num = dims.map(i => BigInt(w(i)) * sw(i)).sum
      val den = dims.map(i => BigInt(w(i)) * w(i)).sum
      val lambda1q = (num / den).toLong
      val traceQ = dims.map(i => g.getOrElse((i, i), 0L)).sum
      Seq((dims.size.toLong, lambda1q, traceQ,
        lambda1q * 1000000L / traceQ,
        (BigInt(lambda1q) * dims.size * 1000L / BigInt(traceQ)).toLong))
        .toDF("dim", "lambda1q", "trace_q", "top_share_ppm",
          "concentration_x_milli")
    }),

    // ---- SemDeDup: cluster-scoped semantic dedup, ε-acceptance sweep
    // [Abbas et al., arXiv 2303.09540]: cluster the corpus, then
    // remove near-duplicates WITHIN each cluster — the clustering
    // bounds the quadratic pair term, which is the entire reason the
    // method scales (the same cell-bounding as the q175 IVF). Pairs
    // form only inside a k-means cell ([[kmeansCells]], shared with
    // q175/q142); a vector is removed iff some SMALLER-id cell-mate
    // has cosine ≥ ε (the deterministic one-pass keeper rule — the
    // greedy ε-ball representative). Because ε is a tuning dial, the
    // query runs the HOUSE ACCEPTANCE SWEEP (q163/q165/q204's rule):
    // removal fraction per swept ε, with the shipped config = the
    // STRICTEST ε still removing ≥1% of the corpus. When NO swept ε
    // meets the 1% target (a corpus with no semantic dups — this
    // near-random fixture), the fallback is the strictest swept ε,
    // the conservative choice that removes the FEWEST documents
    // (ADVICE r11: the old loosest-ε fallback maximized removals on
    // exactly the corpora with nothing to remove). One
    // cell-bounded pair join feeds every ε: the sweep aggregates the
    // per-vector max-over-smaller-neighbors cosine, scanning pairs
    // once, not once per ε.
    "q213_semdedup_sweep" -> ((s, d) => {
      import s.implicits._
      val e = quantized(s, d).join(kmeansCells(s, d), "vec_id")
      val a = e.select($"kcell", $"vec_id".as("a"), $"q".as("qa"),
        $"n2".as("na"))
      val b = e.select($"kcell", $"vec_id".as("b"), $"q".as("qb"),
        $"n2".as("nb"))
      val prevmax = a.join(b, Seq("kcell")).filter($"a" < $"b")
        .select($"b", cosine("qa", "qb", "na", "nb").as("cos"))
        .groupBy($"b").agg(max($"cos").as("pm"))
      val nv = e.agg(count(lit(1)).as("n_vectors"))
      val sweep = semdedupEpsGrid.map { epsX100 =>
        prevmax.filter($"pm" >= lit(epsX100 / 100.0))
          .agg(count(lit(1)).as("n_removed"))
          .select(lit(epsX100.toLong).as("eps_x100"), $"n_removed")
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(nv))
        .select($"eps_x100", $"n_vectors", $"n_removed",
          expr("(n_removed * 1000000L) div n_vectors").as("removed_ppm"))
      val pick = sweep.agg(coalesce(
        max(when($"removed_ppm" >= 10000L, $"eps_x100")),
        max($"eps_x100")).as("ceps"))
      sweep.crossJoin(broadcast(pick))
        .select($"eps_x100", $"n_vectors", $"n_removed", $"removed_ppm",
          when($"eps_x100" === $"ceps", 1L).otherwise(0L).as("chosen"))
    }),

    // ---- SemDeDup keeper cut: the sweep's operating point, executed --
    // q213 ANSWERS "which ε"; this query EXECUTES the cut there
    // (VERDICT r18 #6) — the embedding-space analog of q339's exact-
    // substring cut, producing the per-source accounting a curation
    // loop actually consumes (q283's savings shape): docs dropped,
    // token mass reclaimed, ppm. A doc is dropped iff some smaller-id
    // cell-mate has cosine ≥ the chosen ε — the greedy ε-ball
    // representative keeps the min id, q67's keeper rule in embedding
    // space. Only EMBEDDED documents participate (sf0.1 embeds a
    // prefix of the corpus; vec_id IS the doc key — 1:1 join verified
    // at all three sfs). Scale: ONE cell-bounded pair pass — the
    // sweep's own cost class — localCheckpointed for its two
    // consumers (operating-point pick, cut membership), then a
    // doc-keyed left join and a |sources|-bounded agg. No all-pairs,
    // and the two 1-row scalars ride broadcast BNLJs (PlanSpec cap).
    "q358_semdedup_cut" -> ((s, d) => {
      import s.implicits._
      val e = quantized(s, d).join(kmeansCells(s, d), "vec_id")
      val a = e.select($"kcell", $"vec_id".as("a"), $"q".as("qa"),
        $"n2".as("na"))
      val b = e.select($"kcell", $"vec_id".as("b"), $"q".as("qb"),
        $"n2".as("nb"))
      val prevmax = a.join(b, Seq("kcell")).filter($"a" < $"b")
        .select($"b", cosine("qa", "qb", "na", "nb").as("cos"))
        .groupBy($"b").agg(max($"cos").as("pm"))
        .localCheckpoint(true)
      val nv = e.agg(count(lit(1)).as("n_vectors"))
      val sweep = semdedupEpsGrid.map { epsX100 =>
        prevmax.filter($"pm" >= lit(epsX100 / 100.0))
          .agg(count(lit(1)).as("n_removed"))
          .select(lit(epsX100.toLong).as("eps_x100"), $"n_removed")
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(nv))
        .select($"eps_x100",
          expr("(n_removed * 1000000L) div n_vectors").as("removed_ppm"))
      val pick = sweep.agg(coalesce(
        max(when($"removed_ppm" >= 10000L, $"eps_x100")),
        max($"eps_x100")).as("eps_x100"))
      val dropped = prevmax.crossJoin(broadcast(pick))
        .filter($"pm" >= $"eps_x100".cast("double") / 100.0)
        .select($"b".as("doc_id"), lit(1L).as("drp"))
      T.documents(s, d)
        .join(quantized(s, d).select($"vec_id".as("doc_id")), "doc_id")
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("toks"))
        .join(dropped, Seq("doc_id"), "left")
        .crossJoin(broadcast(pick))
        .groupBy($"source", $"eps_x100")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"drp", lit(0L))).cast("bigint").as("n_dropped"),
          min(when($"drp".isNull, $"doc_id")).as("first_kept"),
          sum($"toks").cast("bigint").as("tokens_total"),
          sum(when($"drp".isNotNull, $"toks").otherwise(0L))
            .cast("bigint").as("tokens_dropped"))
        .select($"source", $"eps_x100", $"n_docs", $"n_dropped",
          $"first_kept", $"tokens_total", $"tokens_dropped",
          expr("tokens_dropped * 1000000L div tokens_total")
            .as("reclaimed_ppm"))
    }))

  /** The SemDeDup ε grid (cosine × 100) and its ≥1%-removal target. */
  private val semdedupEpsGrid = Seq(20, 25, 30, 35, 40)

  private val dim = 64
  private val nPlanes = 8
  private def coef(j: Int, k: Int): Long = ((j * 73 + k * 179) % 41).toLong - 20L

  /** bucket = sign bits of the first `n` pseudo-random integer
    * hyperplanes (Spark side, via the native int_dot over SQL-literal
    * plane arrays). The q53 family runs the 8-plane default; q296's
    * banded blocking widens to 16 planes so its 4-bit bands stay
    * selective. */
  private def bucketExprN(n: Int): Column = (0 until n).map { j =>
    val arr = (0 until dim).map(coef(j, _)).mkString(",")
    when(expr(s"int_dot(q, CAST(array($arr) AS array<bigint>))") >= 0,
      lit(1L << j)).otherwise(lit(0L))
  }.reduce(_ + _)

  private def bucketExpr: Column = bucketExprN(nPlanes)

  /** same buckets in DuckDB SQL. */
  private def duckBucketN(qv: String, n: Int): String = (0 until n).map { j =>
    val arr = (0 until dim).map(coef(j, _)).mkString(", ")
    s"(CASE WHEN list_sum(list_transform(list_zip($qv, [$arr]), p -> p[1] * p[2])) >= 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString("(", " + ", ")")

  private def duckBucket(qv: String): String = duckBucketN(qv, nPlanes)

  private val duckQuant =
    """q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, qv,
      |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2 FROM q)""".stripMargin

  private def duckCos(a: String, b: String, na: String, nb: String): String =
    s"round(CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS DOUBLE)" +
      s" / sqrt(CAST($na * $nb AS DOUBLE)), 6)"

  /** integer-mean centroid CTEs (meanCentroids' mirror): `cn` =
    * (label, c, cn2); the shifted `//` reproduces Spark's shifted
    * `div` floor exactly. */
  private val duckMeanCent =
    """expl AS (
      |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
      |  FROM n),
      |cs AS (
      |  SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS nn
      |  FROM expl GROUP BY label, pos),
      |centarr AS (
      |  SELECT label, list((sv + nn * 5120) // nn - 5120 ORDER BY pos) AS c
      |  FROM cs GROUP BY label),
      |cn AS (
      |  SELECT label, c,
      |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS cn2
      |  FROM centarr)""".stripMargin

  /** PQ CTE chain (pqCodebook + pqAssign mirror): `sub` = per-vector
    * subspace slices, `cb` = shifted-div codebook, `best` = argmin
    * assignment (ties → smaller code, matching min(struct)). */
  private val duckPq =
    s"""q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, label, t.j AS j,
      |    qv[t.j * $pqSub + 1 : t.j * $pqSub + $pqSub] AS sub
      |  FROM q, range($pqM) t(j)),
      |cb0 AS (
      |  SELECT j, label AS c, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
      |  FROM (SELECT label, j, unnest(sub) AS v,
      |          generate_subscripts(sub, 1) AS pos FROM sub)
      |  GROUP BY j, label, pos),
      |cb AS (
      |  SELECT j, CAST(c AS BIGINT) AS c,
      |    list((sv + n * 5120) // n - 5120 ORDER BY pos) AS cb
      |  FROM cb0 GROUP BY j, c),
      |d2t AS (
      |  SELECT s.vec_id, s.j, cb.c,
      |    CAST(list_sum(list_transform(list_zip(s.sub, cb.cb),
      |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
      |  FROM sub s JOIN cb ON cb.j = s.j),
      |best AS (
      |  SELECT vec_id, j, c AS cj, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
      |    FROM d2t) t WHERE rn = 1)""".stripMargin

  private lazy val duckQ40 =
    s"""WITH $duckQuant,
      |qs AS (SELECT vec_id AS qid, qv AS qqv, n2 AS qn2 FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT qs.qid, n.vec_id, ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} AS cos
      |  FROM n CROSS JOIN qs WHERE n.vec_id != qs.qid)
      |SELECT qid, vec_id, cos, rn FROM (
      |  SELECT qid, vec_id, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
      |  FROM scored) t
      |WHERE rn <= 5""".stripMargin

  private lazy val duckQ41 =
    s"""WITH $duckQuant,
      |qs AS (SELECT vec_id AS qid, label AS qcell, qv AS qqv, n2 AS qn2
      |       FROM n WHERE vec_id < 10),
      |scored AS (
      |  SELECT qs.qid, n.vec_id, CAST(n.label AS BIGINT) AS cell,
      |    ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} AS cos
      |  FROM n JOIN qs ON n.label = qs.qcell AND n.vec_id != qs.qid)
      |SELECT qid, vec_id, cell, cos, rn FROM (
      |  SELECT qid, vec_id, cell, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
      |  FROM scored) t
      |WHERE rn <= 3""".stripMargin

  /** Sign-LSH top-3 at bucket mask `mask` (a SQL literal or scalar
    * subquery text) — the duck mirror of [[lshTop3]]. */
  private def duckLshTop3(mask: String): String =
    s"""WITH $duckQuant,
      |b AS (SELECT vec_id, qv, n2, (${duckBucket("qv")} & $mask) AS bucket FROM n),
      |qs AS (SELECT vec_id AS qid, bucket AS qbucket, qv AS qqv, n2 AS qn2
      |       FROM b WHERE vec_id < 10),
      |scored AS (
      |  SELECT qs.qid, b.vec_id, b.bucket,
      |    ${duckCos("b.qv", "qs.qqv", "b.n2", "qs.qn2")} AS cos
      |  FROM b JOIN qs ON b.bucket = qs.qbucket AND b.vec_id != qs.qid)
      |SELECT qid, vec_id, bucket, cos, rn FROM (
      |  SELECT qid, vec_id, bucket, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
      |  FROM scored) t
      |WHERE rn <= 3""".stripMargin

  /** Shared bit-width sweep CTEs (q165's oracle and q53's config
    * derivation), mirroring [[lshBitsSweep]]/[[chosenLshMask]]:
    * `cfg2.cb` is the accepted width, `cfg2.cm` its prefix mask. */
  private lazy val duckLshSweepCtes: String = {
    val per = lshBitsGrid.map { bits =>
      val mask = (1L << bits) - 1L
      s"""lt$bits AS (SELECT qid, vec_id FROM (${duckLshTop3(mask.toString)}) y$bits),
         |lh$bits AS (SELECT CAST(count(*) AS BIGINT) AS hits
         |            FROM e JOIN lt$bits USING (qid, vec_id))""".stripMargin
    }.mkString(",\n")
    val union = lshBitsGrid
      .map(bits => s"SELECT CAST($bits AS BIGINT) AS bits, hits FROM lh$bits")
      .mkString(" UNION ALL ")
    s"""e AS (SELECT qid, vec_id FROM ($duckQ40) t40e WHERE rn <= 3),
       |nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q FROM e),
       |$per,
       |lsweep AS ($union),
       |lsweeprec AS (
       |  SELECT bits, hits,
       |    CAST((hits * 1000000) // (3 * nq.n_q) AS BIGINT) AS recall_ppm
       |  FROM lsweep CROSS JOIN nq),
       |cfg2 AS (
       |  SELECT cb, (CAST(1 AS BIGINT) << CAST(cb AS INT)) - 1 AS cm FROM (
       |    SELECT coalesce(
       |      max(CASE WHEN recall_ppm >= $recallTargetPpm THEN bits END),
       |      min(bits)) AS cb
       |    FROM lsweeprec) z)""".stripMargin
  }

  private lazy val duckQ53 =
    s"""WITH $duckLshSweepCtes
      |SELECT qid, vec_id, bucket, cos, rn
      |FROM (${duckLshTop3("(SELECT cm FROM cfg2)")}) fin""".stripMargin

  /** IVF multiprobe top-3 at probe depth `np` (a SQL literal or a
    * scalar subquery text) — the duck mirror of [[ivfMultiprobeTop3]];
    * the sweep instantiates it per grid depth and the q141 oracle at
    * the audit-chosen depth. */
  private def duckIvfTop3(np: String): String =
    s"""WITH $duckQuant,
      |$duckMeanCent,
      |qs AS (SELECT vec_id AS qid, qv AS qqv, n2 AS qn2 FROM n WHERE vec_id < 10),
      |pc AS (
      |  SELECT qid, qqv, qn2, label AS pcell,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cd2, label) AS BIGINT) AS probe
      |  FROM (
      |    SELECT qs.qid, qs.qqv, qs.qn2, cn.label,
      |      qs.qn2 + cn.cn2 - 2 * CAST(list_sum(list_transform(
      |        list_zip(qs.qqv, cn.c), p -> p[1] * p[2])) AS BIGINT) AS cd2
      |    FROM qs CROSS JOIN cn) t),
      |probes AS (SELECT * FROM pc WHERE probe <= $np),
      |scored AS (
      |  SELECT p.qid, n.vec_id, CAST(n.label AS BIGINT) AS cell, p.probe,
      |    ${duckCos("n.qv", "p.qqv", "n.n2", "p.qn2")} AS cos
      |  FROM n JOIN probes p ON n.label = p.pcell AND n.vec_id != p.qid)
      |SELECT qid, vec_id, cell, probe, cos, rn FROM (
      |  SELECT qid, vec_id, cell, probe, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
      |  FROM scored) t
      |WHERE rn <= 3""".stripMargin

  /** Shared probe-depth sweep CTEs (q163's oracle and q141's config
    * derivation): exact top-3 baseline, per-grid-depth hit counts,
    * micro-averaged recall, and the accepted depth `cfg.cn` (smallest
    * meeting the target, else the deepest swept). */
  private lazy val duckSweepCtes: String = {
    val per = nprobeGrid.map { np =>
      s"""t$np AS (SELECT qid, vec_id FROM (${duckIvfTop3(np.toString)}) x$np),
         |h$np AS (SELECT CAST(count(*) AS BIGINT) AS hits
         |         FROM e JOIN t$np USING (qid, vec_id))""".stripMargin
    }.mkString(",\n")
    val union = nprobeGrid
      .map(np => s"SELECT CAST($np AS BIGINT) AS nprobe, hits FROM h$np")
      .mkString(" UNION ALL ")
    s"""e AS (SELECT qid, vec_id FROM ($duckQ40) t40e WHERE rn <= 3),
       |nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q FROM e),
       |$per,
       |sweep AS ($union),
       |sweeprec AS (
       |  SELECT nprobe, hits,
       |    CAST((hits * 1000000) // (3 * nq.n_q) AS BIGINT) AS recall_ppm
       |  FROM sweep CROSS JOIN nq),
       |cfg AS (
       |  SELECT coalesce(
       |    min(CASE WHEN recall_ppm >= $recallTargetPpm THEN nprobe END),
       |    max(nprobe)) AS cn
       |  FROM sweeprec)""".stripMargin
  }

  private lazy val duckQ141 =
    s"""WITH $duckSweepCtes
      |SELECT qid, vec_id, cell, probe, cos, rn
      |FROM (${duckIvfTop3("(SELECT cn FROM cfg)")}) fin""".stripMargin

  private lazy val duckQ175 =
    s"""WITH $duckQuant,
      |$duckMeanCent,
      |sc AS (
      |  SELECT n.vec_id, CAST(cn.label AS BIGINT) AS kcell,
      |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
      |  FROM n CROSS JOIN cn),
      |km AS (
      |  SELECT vec_id, kcell FROM (
      |    SELECT vec_id, kcell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, kcell) AS rn
      |    FROM sc) t WHERE rn = 1),
      |e2 AS (SELECT n.vec_id, n.qv, n.n2, km.kcell FROM n JOIN km USING (vec_id)),
      |qs2 AS (SELECT vec_id AS qid, kcell AS qcell, qv AS qqv, n2 AS qn2
      |        FROM e2 WHERE vec_id < 10),
      |scored AS (
      |  SELECT qs2.qid, e2.vec_id, e2.kcell,
      |    ${duckCos("e2.qv", "qs2.qqv", "e2.n2", "qs2.qn2")} AS cos
      |  FROM e2 JOIN qs2 ON e2.kcell = qs2.qcell AND e2.vec_id != qs2.qid)
      |SELECT qid, vec_id, kcell, cos, rn FROM (
      |  SELECT qid, vec_id, kcell, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
      |  FROM scored) t
      |WHERE rn <= 3""".stripMargin

  def oracles: Map[String, String] = Map(
    "q141_ann_ivf_multiprobe" -> duckQ141,

    // the identical shifted-floor centroid build + cosine argmax
    // (q175's kmb construction over the FULL corpus), then the ARI
    // combinatorics in HUGEINT with the same shifted signed division
    "q336_ari_clusterings" ->
      s"""WITH $duckQuant,
        |expl AS (
        |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
        |  FROM n),
        |cs AS (
        |  SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS nn
        |  FROM expl GROUP BY label, pos),
        |centarr AS (
        |  SELECT label, list((sv + nn * 5120) // nn - 5120 ORDER BY pos) AS c
        |  FROM cs GROUP BY label),
        |cn AS (
        |  SELECT label, c,
        |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS cn2
        |  FROM centarr),
        |sc AS (
        |  SELECT n.vec_id, CAST(n.label AS BIGINT) AS a,
        |    CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
        |  FROM n CROSS JOIN cn),
        |km AS (SELECT vec_id, a, kcell AS b FROM (
        |  SELECT vec_id, a, kcell,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, kcell) AS rn
        |  FROM sc) t WHERE rn = 1),
        |cont AS (SELECT a, b, count(*) AS nij FROM km GROUP BY 1, 2),
        |tots AS (
        |  SELECT CAST(sum(nij) AS BIGINT) AS n,
        |    CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sum_idx
        |  FROM cont),
        |sa AS (SELECT CAST(sum(na * (na - 1) // 2) AS BIGINT) AS sum_a
        |  FROM (SELECT sum(nij) AS na FROM cont GROUP BY a) x),
        |sb AS (SELECT CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS sum_b
        |  FROM (SELECT sum(nij) AS nb FROM cont GROUP BY b) x),
        |fin AS (
        |  SELECT t.n, t.sum_idx, sa.sum_a, sb.sum_b,
        |    CAST(t.sum_idx AS HUGEINT) * (t.n * (t.n - 1) // 2)
        |      - CAST(sa.sum_a AS HUGEINT) * sb.sum_b AS num2,
        |    CAST(t.n * (t.n - 1) // 2 AS HUGEINT)
        |        * (sa.sum_a + sb.sum_b)
        |      - 2 * CAST(sa.sum_a AS HUGEINT) * sb.sum_b AS den
        |  FROM tots t CROSS JOIN sa CROSS JOIN sb)
        |SELECT n, sum_idx, sum_a, sum_b,
        |  CAST(CASE WHEN den = 0 THEN 1000000
        |   ELSE greatest(
        |     (1000000 * (2 * num2) + 1000000 * den) // den - 1000000,
        |     -1000000) END AS BIGINT) AS ari_ppm
        |FROM fin""".stripMargin,

    // the ±1 projection replayed from the same parity hashes
    // (0-based component positions match posexplode), HUGEINT ratios
    "q343_jl_projection_audit" ->
      s"""WITH $duckQuant,
        |qs AS (
        |  SELECT vec_id, qv, n2 FROM n
        |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |    1, 15) AS BIGINT), vec_id
        |  LIMIT 10),
        |ms AS (SELECT CAST(unnest([8, 32]) AS BIGINT) AS mdim),
        |proj AS (
        |  SELECT e.vec_id, ms.mdim, j.j AS j,
        |    CAST(sum(CASE WHEN CAST('0x' || substr(md5(
        |        ms.mdim || '#' || j.j || '#' || e.pos), 1, 15) AS BIGINT)
        |        % 2 = 0
        |      THEN e.v ELSE -e.v END) AS BIGINT) AS y
        |  FROM ms,
        |    (SELECT vec_id, unnest(qv) AS v,
        |       generate_subscripts(qv, 1) - 1 AS pos FROM qs) e,
        |    LATERAL (SELECT unnest(range(1, ms.mdim + 1)) AS j) j
        |  GROUP BY 1, 2, 3),
        |d2p AS (
        |  SELECT a.mdim, a.vec_id AS a, b.vec_id AS b,
        |    CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2p
        |  FROM proj a JOIN proj b
        |    ON a.mdim = b.mdim AND a.j = b.j AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2, 3),
        |d2o AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    CAST(x.n2 + y.n2 - 2 * list_sum(list_transform(
        |      list_zip(x.qv, y.qv), p -> p[1] * p[2])) AS BIGINT) AS d2o
        |  FROM qs x JOIN qs y ON x.vec_id < y.vec_id),
        |rt AS (
        |  SELECT d2p.mdim,
        |    CAST(CAST(d2p.d2p AS HUGEINT) * 1000000
        |      // (d2p.mdim * d2o.d2o) AS BIGINT) AS ratio_ppm
        |  FROM d2p JOIN d2o USING (a, b) WHERE d2o.d2o > 0)
        |SELECT mdim AS m_dims, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
        |  CAST(max(greatest(ratio_ppm - 1000000, 1000000 - ratio_ppm))
        |    AS BIGINT) AS max_abs_dev_ppm
        |FROM rt GROUP BY 1""".stripMargin,

    // the same kmeansCells assignment, then the moment-identity
    // silhouette replayed: per-cell (nc, sum vector, Σ‖·‖²)
    // summaries, the shared numerator with its two denominators, and
    // the HUGEINT-shifted signed division
    "q341_silhouette" ->
      s"""WITH $duckQuant,
        |$duckMeanCent,
        |sc AS (
        |  SELECT n.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
        |  FROM n CROSS JOIN cn),
        |km AS (SELECT vec_id, kcell FROM (
        |  SELECT vec_id, kcell,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, kcell) AS rn
        |  FROM sc) t WHERE rn = 1),
        |pts AS (SELECT n.vec_id, n.qv, n.n2, km.kcell
        |  FROM n JOIN km USING (vec_id)),
        |csum AS (
        |  SELECT kcell, pos, CAST(sum(v) AS BIGINT) AS sx
        |  FROM (SELECT kcell, unnest(qv) AS v,
        |          generate_subscripts(qv, 1) AS pos FROM pts) e
        |  GROUP BY 1, 2),
        |cvec AS (SELECT kcell, list(sx ORDER BY pos) AS sv
        |  FROM csum GROUP BY 1),
        |cstat AS (
        |  SELECT kcell AS ocell, CAST(count(*) AS BIGINT) AS nc,
        |    CAST(sum(n2) AS BIGINT) AS ssq
        |  FROM pts GROUP BY 1),
        |cells AS (SELECT c.ocell, c.nc, c.ssq, v.sv
        |  FROM cstat c JOIN cvec v ON v.kcell = c.ocell),
        |pairs AS (
        |  SELECT p.vec_id, p.kcell, c.ocell, c.nc,
        |    CAST(c.nc * p.n2
        |      - 2 * CAST(list_sum(list_transform(list_zip(p.qv, c.sv),
        |          z -> z[1] * z[2])) AS BIGINT)
        |      + c.ssq AS BIGINT) AS num
        |  FROM pts p CROSS JOIN cells c),
        |ab AS (
        |  SELECT vec_id, kcell,
        |    max(CASE WHEN kcell = ocell AND nc >= 2
        |      THEN num * 1000 // (nc - 1) END) AS a_milli,
        |    min(CASE WHEN kcell <> ocell THEN num * 1000 // nc END)
        |      AS b_milli
        |  FROM pairs GROUP BY 1, 2),
        |spp AS (
        |  SELECT kcell, a_milli, b_milli,
        |    CASE WHEN greatest(a_milli, b_milli) = 0 THEN 0
        |      ELSE CAST((CAST(b_milli AS HUGEINT) - a_milli
        |          + greatest(a_milli, b_milli)) * 1000000
        |        // greatest(a_milli, b_milli) - 1000000 AS BIGINT) END
        |      AS s_ppm
        |  FROM ab WHERE a_milli IS NOT NULL AND b_milli IS NOT NULL)
        |SELECT kcell, CAST(count(*) AS BIGINT) AS n_pts,
        |  CAST(sum(a_milli) // count(*) AS BIGINT) AS mean_a_milli,
        |  CAST(sum(b_milli) // count(*) AS BIGINT) AS mean_b_milli,
        |  CAST((sum(s_ppm) + count(*) * 1000000) // count(*) - 1000000
        |    AS BIGINT) AS mean_s_ppm
        |FROM spp GROUP BY 1""".stripMargin,

    // the per-depth requantization round(x·S) replayed from the raw
    // floats; both engines rank by round-6 cosine with identical
    // tie-breaks (q315's harness over the bit-depth grid)
    "q329_quant_depth_audit" ->
      s"""WITH $duckQuant,
        |qs AS (SELECT vec_id AS qid, qv AS qqv, n2 AS qn2
        |  FROM n WHERE vec_id < 10),
        |exact AS (
        |  SELECT qid, vec_id, xrk FROM (
        |    SELECT qs.qid, n.vec_id,
        |      CAST(row_number() OVER (PARTITION BY qs.qid ORDER BY
        |        ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} DESC,
        |        n.vec_id) AS BIGINT) AS xrk
        |    FROM n JOIN qs ON n.vec_id != qs.qid) t),
        |scales (sc) AS (VALUES (127), (15), (3)),
        |qd AS (
        |  SELECT scales.sc, e.vec_id,
        |    list_transform(e.embedding, x -> CAST(round(x * scales.sc)
        |      AS BIGINT)) AS qsv
        |  FROM scales, embeddings e),
        |qn AS (
        |  SELECT sc, vec_id, qsv,
        |    CAST(list_sum(list_transform(qsv, x -> x * x)) AS BIGINT) AS sn2
        |  FROM qd),
        |ranked AS (
        |  SELECT a.sc, b.vec_id AS qid, a.vec_id,
        |    row_number() OVER (PARTITION BY a.sc, b.vec_id ORDER BY
        |      ${duckCos("a.qsv", "b.qsv", "a.sn2", "b.sn2")} DESC,
        |      a.vec_id) AS rn
        |  FROM qn a JOIN qn b ON a.sc = b.sc AND b.vec_id < 10
        |    AND a.vec_id != b.vec_id),
        |pick AS (SELECT sc, qid, vec_id FROM ranked WHERE rn <= 3)
        |SELECT CAST(p.sc AS BIGINT) AS q_scale,
        |  CAST(count(*) FILTER (e.xrk <= 3) AS BIGINT) AS hits,
        |  CAST(count(*) FILTER (e.xrk <= 3) * 1000000 // count(*)
        |    AS BIGINT) AS recall_ppm,
        |  CAST(sum(e.xrk) // count(*) AS BIGINT) AS mean_true_rank
        |FROM pick p JOIN exact e ON e.qid = p.qid AND e.vec_id = p.vec_id
        |GROUP BY 1""".stripMargin,

    // prefix slices are 1-based INCLUSIVE in DuckDB (qv[1:m] = first m
    // elements = Spark slice(qv, 1, m)); both rank by round-6 cosine
    "q315_matryoshka_recall" ->
      s"""WITH $duckQuant,
        |qs AS (SELECT vec_id AS qid, qv AS qqv, n2 AS qn2
        |  FROM n WHERE vec_id < 10),
        |exact AS (
        |  SELECT qid, vec_id, xrk FROM (
        |    SELECT qs.qid, n.vec_id,
        |      CAST(row_number() OVER (PARTITION BY qs.qid ORDER BY
        |        ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} DESC,
        |        n.vec_id) AS BIGINT) AS xrk
        |    FROM n JOIN qs ON n.vec_id != qs.qid) t),
        |ms (m) AS (VALUES (8), (16), (32)),
        |pref AS (
        |  SELECT ms.m, qs.qid, n.vec_id,
        |    row_number() OVER (PARTITION BY ms.m, qs.qid ORDER BY
        |      round(CAST(list_sum(list_transform(
        |          list_zip(n.qv[1:ms.m], qs.qqv[1:ms.m]),
        |          p -> p[1] * p[2])) AS DOUBLE)
        |        / sqrt(CAST(
        |            CAST(list_sum(list_transform(n.qv[1:ms.m],
        |              x -> x * x)) AS BIGINT)
        |          * CAST(list_sum(list_transform(qs.qqv[1:ms.m],
        |              x -> x * x)) AS BIGINT) AS DOUBLE)), 6) DESC,
        |      n.vec_id) AS rn
        |  FROM ms, n JOIN qs ON n.vec_id != qs.qid),
        |pick AS (SELECT m, qid, vec_id FROM pref WHERE rn <= 3)
        |SELECT CAST(p.m AS BIGINT) AS m_dims,
        |  CAST(count(*) FILTER (e.xrk <= 3) AS BIGINT) AS hits,
        |  CAST(count(*) FILTER (e.xrk <= 3) * 1000000 // count(*)
        |    AS BIGINT) AS recall_ppm,
        |  CAST(sum(e.xrk) // count(*) AS BIGINT) AS mean_true_rank
        |FROM pick p JOIN exact e ON e.qid = p.qid AND e.vec_id = p.vec_id
        |GROUP BY 1""".stripMargin,

    "q175_ann_kmeans_ivf" -> duckQ175,

    // base/batch split by the portable hash, centroids from base only,
    // both sides assigned by the same shifted-floor argmax
    "q198_ivf_incremental" ->
      s"""WITH $duckQuant,
        |nb AS (SELECT * FROM n
        |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 10 != 0),
        |nt AS (SELECT * FROM n
        |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) % 10 = 0),
        |expl AS (
        |  SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
        |  FROM nb),
        |cs AS (
        |  SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS nn
        |  FROM expl GROUP BY label, pos),
        |centarr AS (
        |  SELECT label, list((sv + nn * 5120) // nn - 5120 ORDER BY pos) AS c
        |  FROM cs GROUP BY label),
        |cn AS (
        |  SELECT label, c,
        |    CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS cn2
        |  FROM centarr),
        |scb AS (
        |  SELECT nb.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("nb.qv", "cn.c", "nb.n2", "cn.cn2")} AS cos
        |  FROM nb CROSS JOIN cn),
        |kmb AS (SELECT vec_id, kcell FROM (
        |  SELECT vec_id, kcell,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, kcell) AS rn
        |  FROM scb) t WHERE rn = 1),
        |sct AS (
        |  SELECT nt.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("nt.qv", "cn.c", "nt.n2", "cn.cn2")} AS cos
        |  FROM nt CROSS JOIN cn),
        |kmt AS (SELECT vec_id, kcell FROM (
        |  SELECT vec_id, kcell,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, kcell) AS rn
        |  FROM sct) t WHERE rn = 1),
        |gb AS (SELECT kcell, count(*) AS n_base FROM kmb GROUP BY 1),
        |gt AS (SELECT kcell, count(*) AS nb2 FROM kmt GROUP BY 1)
        |SELECT gb.kcell, gb.n_base,
        |  CAST(coalesce(gt.nb2, 0) AS BIGINT) AS n_batch,
        |  CAST(coalesce(gt.nb2, 0) AS BIGINT) * 1000000 // gb.n_base
        |    AS growth_ppm
        |FROM gb LEFT JOIN gt ON gt.kcell = gb.kcell""".stripMargin,

    "q163_ann_nprobe_tune" ->
      s"""WITH $duckSweepCtes
        |SELECT s.nprobe, s.hits, s.recall_ppm,
        |  CAST(CASE WHEN s.recall_ppm >= $recallTargetPpm THEN 1 ELSE 0 END
        |    AS BIGINT) AS meets_target,
        |  CAST(CASE WHEN s.nprobe = cfg.cn THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM sweeprec s CROSS JOIN cfg""".stripMargin,

    "q142_ann_recall" ->
      s"""WITH e AS (SELECT qid, vec_id FROM ($duckQ40) t40 WHERE rn <= 3),
        |i1 AS (SELECT qid, vec_id FROM ($duckQ41) t41),
        |i2 AS (SELECT qid, vec_id FROM ($duckQ141) t141),
        |i4 AS (SELECT qid, vec_id FROM ($duckQ175) t175),
        |l AS (SELECT qid, vec_id FROM ($duckQ53) t53),
        |qd AS (SELECT DISTINCT qid FROM e),
        |h1 AS (SELECT e.qid, count(*) AS hits FROM e JOIN i1 USING (qid, vec_id) GROUP BY e.qid),
        |h2 AS (SELECT e.qid, count(*) AS hits FROM e JOIN i2 USING (qid, vec_id) GROUP BY e.qid),
        |h3 AS (SELECT e.qid, count(*) AS hits FROM e JOIN l USING (qid, vec_id) GROUP BY e.qid),
        |h4 AS (SELECT e.qid, count(*) AS hits FROM e JOIN i4 USING (qid, vec_id) GROUP BY e.qid)
        |SELECT qd.qid, 'ivf1' AS method, CAST(coalesce(h1.hits, 0) AS BIGINT) AS hits,
        |  (CAST(coalesce(h1.hits, 0) AS BIGINT) * 1000000) // 3 AS recall_ppm
        |FROM qd LEFT JOIN h1 ON h1.qid = qd.qid
        |UNION ALL
        |SELECT qd.qid, 'ivf2', CAST(coalesce(h2.hits, 0) AS BIGINT),
        |  (CAST(coalesce(h2.hits, 0) AS BIGINT) * 1000000) // 3
        |FROM qd LEFT JOIN h2 ON h2.qid = qd.qid
        |UNION ALL
        |SELECT qd.qid, 'ivf_km', CAST(coalesce(h4.hits, 0) AS BIGINT),
        |  (CAST(coalesce(h4.hits, 0) AS BIGINT) * 1000000) // 3
        |FROM qd LEFT JOIN h4 ON h4.qid = qd.qid
        |UNION ALL
        |SELECT qd.qid, 'lsh', CAST(coalesce(h3.hits, 0) AS BIGINT),
        |  (CAST(coalesce(h3.hits, 0) AS BIGINT) * 1000000) // 3
        |FROM qd LEFT JOIN h3 ON h3.qid = qd.qid""".stripMargin,

    "q139_pq_encode" ->
      s"""WITH $duckPq
        |SELECT b.vec_id, CAST(q.label AS BIGINT) AS label,
        |  CAST(sum(b.cj << CAST(4 * b.j AS INT)) AS BIGINT) AS code,
        |  CAST(sum(b.d2) AS BIGINT) AS qerr
        |FROM best b JOIN q ON q.vec_id = b.vec_id
        |GROUP BY b.vec_id, q.label""".stripMargin,

    "q140_pq_adc_topk" ->
      s"""WITH $duckPq,
        |qd AS (
        |  SELECT s.vec_id AS qid, cb.j, cb.c,
        |    CAST(list_sum(list_transform(list_zip(s.sub, cb.cb),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
        |  FROM sub s JOIN cb ON cb.j = s.j WHERE s.vec_id < 10),
        |adc AS (
        |  SELECT qd.qid, b.vec_id, CAST(sum(qd.d2) AS BIGINT) AS adc
        |  FROM best b JOIN qd ON qd.j = b.j AND qd.c = b.cj
        |  WHERE b.vec_id != qd.qid
        |  GROUP BY qd.qid, b.vec_id)
        |SELECT qid, vec_id, adc, rn FROM (
        |  SELECT qid, vec_id, adc,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS BIGINT) AS rn
        |  FROM adc) t
        |WHERE rn <= 3""".stripMargin,
    "q79_kmeans_iter" ->
      s"""WITH $duckQuant,
        |$duckMeanCent,
        |cnl AS (
        |  SELECT CAST(label AS BIGINT) AS clab, c, cn2 FROM cn),
        |scored AS (
        |  SELECT n.vec_id, CAST(n.label AS BIGINT) AS old_label, cnl.clab,
        |    ${duckCos("n.qv", "cnl.c", "n.n2", "cnl.cn2")} AS cos
        |  FROM n CROSS JOIN cnl),
        |assigned AS (
        |  SELECT vec_id, old_label, clab AS new_label FROM (
        |    SELECT vec_id, old_label, clab, cos,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clab) AS rn
        |    FROM scored) t
        |  WHERE rn = 1),
        |newexpl AS (
        |  SELECT a.new_label, unnest(n.qv) AS v, generate_subscripts(n.qv, 1) AS pos
        |  FROM assigned a JOIN n ON a.vec_id = n.vec_id),
        |newcent AS (
        |  SELECT new_label, pos, CAST(sum(v) AS BIGINT) AS sv FROM newexpl
        |  GROUP BY new_label, pos),
        |fp AS (
        |  SELECT new_label, CAST(sum(sv * pos) AS BIGINT) AS centroid_fp
        |  FROM newcent GROUP BY new_label),
        |stats AS (
        |  SELECT new_label, count(*) AS n_members,
        |    CAST(sum(CASE WHEN old_label != new_label THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |    min(vec_id) AS first_vec
        |  FROM assigned GROUP BY new_label)
        |SELECT s.new_label, n_members, n_moved, first_vec, centroid_fp
        |FROM stats s JOIN fp USING (new_label)""".stripMargin,

    "q75_centroid_central" ->
      s"""WITH $duckQuant,
        |$duckMeanCent,
        |scored AS (
        |  SELECT CAST(n.label AS BIGINT) AS label, n.vec_id,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos_centroid
        |  FROM n JOIN cn ON n.label = cn.label)
        |SELECT label, vec_id, cos_centroid, rn FROM (
        |  SELECT label, vec_id, cos_centroid,
        |    CAST(row_number() OVER (PARTITION BY label
        |      ORDER BY cos_centroid DESC, vec_id) AS BIGINT) AS rn
        |  FROM scored) t
        |WHERE rn <= 3""".stripMargin,

    "q94_array_hof" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1,
        |  CAST(len(list_filter(qv, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(list_max(qv) AS BIGINT) AS max_q
        |FROM q""".stripMargin,

    "q40_cosine_topk" -> duckQ40,

    "q298_retrieval_metrics" ->
      s"""WITH $duckQuant,
        |qs AS (SELECT vec_id AS qid, label AS qlab, qv AS qqv, n2 AS qn2
        |  FROM n ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |    1, 15) AS BIGINT), vec_id LIMIT 10),
        |scored AS (
        |  SELECT qs.qid, n.vec_id, CAST(n.label = qs.qlab AS BIGINT) AS rel,
        |    ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id != qs.qid),
        |rk AS (
        |  SELECT qid, vec_id, rel,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC,
        |      vec_id) AS BIGINT) AS rnk
        |  FROM scored),
        |dw AS (SELECT * FROM (VALUES (1, 1000), (2, 630), (3, 500),
        |  (4, 430), (5, 386), (6, 356), (7, 333), (8, 315), (9, 301),
        |  (10, 289), (11, 278), (12, 270), (13, 262), (14, 255),
        |  (15, 250), (16, 244), (17, 239), (18, 235), (19, 231),
        |  (20, 227)) AS t(drk, dw_milli)),
        |tot AS (
        |  SELECT qid, CAST(least(sum(rel), 20) AS BIGINT) AS n_rel_cap
        |  FROM rk GROUP BY 1),
        |dcg AS (
        |  SELECT t.qid, CAST(sum(t.rel * dw.dw_milli) AS BIGINT)
        |      AS dcg_milli,
        |    CAST(sum(t.rel) AS BIGINT) AS n_rel_20,
        |    CAST(COALESCE(min(CASE WHEN t.rel = 1 THEN t.rnk END), 0)
        |      AS BIGINT) AS first_rel
        |  FROM rk t JOIN dw ON t.rnk = dw.drk WHERE t.rnk <= 20
        |  GROUP BY 1),
        |idcg AS (
        |  SELECT tot.qid, CAST(sum(dw.dw_milli) AS BIGINT) AS idcg_milli
        |  FROM tot JOIN dw ON dw.drk <= tot.n_rel_cap GROUP BY 1)
        |SELECT d.qid, d.n_rel_20, d.first_rel,
        |  CAST(CASE WHEN d.first_rel > 0 THEN 1000 // d.first_rel
        |    ELSE 0 END AS BIGINT) AS mrr_milli,
        |  d.dcg_milli, i.idcg_milli,
        |  CAST(d.dcg_milli * 1000000 // i.idcg_milli AS BIGINT) AS ndcg_ppm
        |FROM dcg d JOIN idcg i ON d.qid = i.qid""".stripMargin,

    "q296_dbscan_lsh" ->
      s"""WITH RECURSIVE $duckQuant,
        |$duckMeanCent,
        |sc AS (
        |  SELECT n.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
        |  FROM n CROSS JOIN cn),
        |km AS (
        |  SELECT vec_id, kcell FROM (
        |    SELECT vec_id, kcell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, kcell) AS rn
        |    FROM sc) t WHERE rn = 1),
        |nb AS (SELECT n.vec_id, n.qv, n.n2, km.kcell,
        |  ${duckBucketN("n.qv", 16)} AS bkt
        |  FROM n JOIN km USING (vec_id)),
        |bands AS (
        |  SELECT vec_id, kcell, k.i AS band,
        |    (bkt // (CASE k.i WHEN 0 THEN 1 WHEN 1 THEN 16
        |      WHEN 2 THEN 256 ELSE 4096 END)) % 16 AS bv
        |  FROM nb CROSS JOIN (VALUES (0), (1), (2), (3)) k(i)),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM bands x JOIN bands y ON x.kcell = y.kcell
        |    AND x.band = y.band AND x.bv = y.bv
        |    AND x.vec_id < y.vec_id),
        |audit AS (
        |  SELECT CAST((CAST((SELECT count(*) FROM cand) AS HUGEINT) * 1000000)
        |    // (CAST((SELECT count(*) FROM nb) AS HUGEINT)
        |       * ((SELECT count(*) FROM nb) - 1) // 2) AS BIGINT) AS cand_ppm),
        |eps AS (
        |  SELECT c.a, c.b FROM cand c
        |  JOIN nb pa ON pa.vec_id = c.a JOIN nb pb ON pb.vec_id = c.b
        |  WHERE pa.n2 + pb.n2 - 2 * CAST(list_sum(list_transform(
        |    list_zip(pa.qv, pb.qv), p -> p[1] * p[2])) AS BIGINT)
        |    < 1400000),
        |sym AS (SELECT a, b FROM eps UNION ALL SELECT b, a FROM eps),
        |deg AS (SELECT a AS cid, CAST(count(*) AS BIGINT) AS nnb
        |  FROM sym GROUP BY 1),
        |core AS (SELECT cid FROM deg WHERE nnb >= 2),
        |ce AS (SELECT s.a, s.b FROM sym s
        |  WHERE s.a IN (SELECT cid FROM core)
        |    AND s.b IN (SELECT cid FROM core)),
        |cc AS (
        |  WITH RECURSIVE r(v, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM ce) t
        |    UNION
        |    SELECT e.b, r.lbl FROM r JOIN ce e ON r.v = e.a)
        |  SELECT v, min(lbl) AS lbl FROM r GROUP BY v),
        |corec AS (
        |  SELECT core.cid, COALESCE(cc.lbl, core.cid) AS cl
        |  FROM core LEFT JOIN cc ON core.cid = cc.v),
        |border AS (
        |  SELECT s.a AS bid, min(corec.cl) AS bcl
        |  FROM sym s JOIN corec ON s.b = corec.cid
        |  WHERE s.a NOT IN (SELECT cid FROM corec)
        |  GROUP BY 1)
        |SELECT nb.vec_id,
        |  CAST(CASE WHEN corec.cid IS NOT NULL THEN 2
        |            WHEN border.bid IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS role,
        |  CAST(COALESCE(corec.cl, border.bcl, -1) AS BIGINT) AS cluster,
        |  audit.cand_ppm
        |FROM nb LEFT JOIN corec ON nb.vec_id = corec.cid
        |LEFT JOIN border ON nb.vec_id = border.bid
        |CROSS JOIN audit""".stripMargin,

    // the greedy farthest-point loop unrolled to 8 materialized
    // rounds: cK picks the argmax of the incrementally-maintained
    // dmin (least of the previous dmin and the distance to the newest
    // center), identical seed rule and tie-breaks
    "q326_kcenter_coreset" -> {
      def dot(a: String, b: String) =
        s"CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) AS BIGINT)"
      val rounds = (2 to 8).map { r =>
        s"""c$r AS MATERIALIZED (
           |  SELECT vec_id, qv, n2, dmin FROM d${r - 1}
           |  ORDER BY dmin DESC, vec_id LIMIT 1),
           |d$r AS MATERIALIZED (
           |  SELECT d.vec_id, d.qv, d.n2,
           |    least(d.dmin, d.n2 + c.n2 - 2 * ${dot("d.qv", "c.qv")}) AS dmin
           |  FROM d${r - 1} d CROSS JOIN c$r c)""".stripMargin
      }.mkString(",\n")
      val picks = (2 to 8).map { r =>
        s"SELECT CAST($r AS BIGINT) AS rk, vec_id, CAST(dmin AS BIGINT) AS d2cov FROM c$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckQuant,
         |h AS (SELECT vec_id, qv, n2,
         |  CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) AS h60 FROM n),
         |c1 AS MATERIALIZED (
         |  SELECT vec_id, qv, n2 FROM h ORDER BY h60, vec_id LIMIT 1),
         |d1 AS MATERIALIZED (
         |  SELECT n.vec_id, n.qv, n.n2,
         |    n.n2 + c.n2 - 2 * ${dot("n.qv", "c.qv")} AS dmin
         |  FROM n CROSS JOIN c1 c),
         |$rounds
         |SELECT CAST(1 AS BIGINT) AS rk, vec_id, CAST(0 AS BIGINT) AS d2cov
         |FROM c1
         |UNION ALL
         |$picks""".stripMargin
    },

    "q293_knn_shapley" ->
      s"""WITH $duckQuant,
        |qs AS (SELECT vec_id AS qid, label AS qlab, qv AS qqv, n2 AS qn2
        |  FROM n ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |    1, 15) AS BIGINT), vec_id LIMIT 10),
        |pair AS (
        |  SELECT qs.qid, n.vec_id,
        |    n.n2 + qs.qn2 - 2 * CAST(list_sum(list_transform(
        |      list_zip(n.qv, qs.qqv), p -> p[1] * p[2])) AS BIGINT) AS d2,
        |    CAST(n.label = qs.qlab AS BIGINT) AS ind
        |  FROM n CROSS JOIN qs WHERE n.vec_id != qs.qid),
        |rk AS (
        |  SELECT qid, vec_id, d2, ind,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY qid) AS BIGINT) AS nn,
        |    lead(ind) OVER (PARTITION BY qid ORDER BY d2, vec_id) AS nind
        |  FROM pair),
        |dl AS (
        |  SELECT qid, vec_id, ind, i, nn,
        |    CASE WHEN i < nn THEN (ind - nind)
        |      * (least(5, i) * 1000000000 // (5 * i)) ELSE 0 END AS delta,
        |    CASE WHEN i = nn THEN ind * 1000000000 // nn ELSE 0 END AS base
        |  FROM rk),
        |sv AS (
        |  SELECT qid, vec_id, ind, i,
        |    CAST(sum(base) OVER (PARTITION BY qid) AS BIGINT)
        |    + CAST(sum(delta) OVER (PARTITION BY qid ORDER BY i DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS s_nano
        |  FROM dl)
        |SELECT qid, vec_id, i AS dist_rank, ind AS same_label, s_nano
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY s_nano DESC, vec_id) AS vr FROM sv) t
        |WHERE vr <= 5""".stripMargin,

    // the greedy MMR loop replayed in one recursive CTE: per level a
    // LATERAL argmax over candidates not yet selected, diversity = max
    // signed-cos² against the selected list; identical tie-breaks
    "q274_mmr_retrieval" ->
      """WITH RECURSIVE qn AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> CAST(x * x AS HUGEINT)))
        |      AS BIGINT) AS n2
        |  FROM qn),
        |qq AS (SELECT qv AS query_v, n2 AS qn2 FROM n WHERE vec_id = 0),
        |cand AS (
        |  SELECT n.vec_id, n.qv, n.n2,
        |    CAST(CASE WHEN d.dot < 0 THEN -1 ELSE 1 END
        |      * ((CAST(d.dot AS HUGEINT) * d.dot * 1000000)
        |         // (CAST(n.n2 AS HUGEINT) * qq.qn2)) AS BIGINT) AS rel_pps
        |  FROM n, qq, LATERAL (
        |    SELECT CAST(list_sum(list_transform(range(1, len(n.qv) + 1),
        |      i -> CAST(n.qv[i] * qq.query_v[i] AS HUGEINT))) AS BIGINT)
        |      AS dot) d
        |  WHERE n.vec_id != 0
        |  ORDER BY rel_pps DESC, n.vec_id LIMIT 50),
        |ps AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    CAST(CASE WHEN d.dot < 0 THEN -1 ELSE 1 END
        |      * ((CAST(d.dot AS HUGEINT) * d.dot * 1000000)
        |         // (CAST(a.n2 AS HUGEINT) * b.n2)) AS BIGINT) AS sim_pps
        |  FROM cand a JOIN cand b ON a.vec_id != b.vec_id, LATERAL (
        |    SELECT CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |      i -> CAST(a.qv[i] * b.qv[i] AS HUGEINT))) AS BIGINT) AS dot) d),
        |first_pick AS (
        |  SELECT vec_id, rel_pps FROM cand
        |  ORDER BY rel_pps DESC, vec_id LIMIT 1),
        |sel(step, picked, mmr_pps, sel_list) AS (
        |  SELECT CAST(1 AS BIGINT), vec_id, rel_pps, [vec_id]
        |  FROM first_pick
        |  UNION ALL
        |  SELECT sel.step + 1, p.c, p.mmr, list_append(sel.sel_list, p.c)
        |  FROM sel, LATERAL (
        |    SELECT c, mmr FROM (
        |      SELECT cand.vec_id AS c,
        |        cand.rel_pps - max(ps.sim_pps) AS mmr
        |      FROM cand JOIN ps ON ps.a = cand.vec_id
        |        AND list_contains(sel.sel_list, ps.b)
        |      WHERE NOT list_contains(sel.sel_list, cand.vec_id)
        |      GROUP BY cand.vec_id, cand.rel_pps
        |    ) x ORDER BY mmr DESC, c LIMIT 1) p
        |  WHERE sel.step < 10)
        |SELECT step AS rk, picked AS vec_id, CAST(mmr_pps AS BIGINT) AS mmr_pps
        |FROM sel""".stripMargin,

    "q41_ann_ivf" -> duckQ41,

    "q53_ann_signlsh" -> duckQ53,

    "q165_ann_lshbits_tune" ->
      s"""WITH $duckLshSweepCtes
        |SELECT s.bits, s.hits, s.recall_ppm,
        |  CAST(CASE WHEN s.recall_ppm >= $recallTargetPpm THEN 1 ELSE 0 END
        |    AS BIGINT) AS meets_target,
        |  CAST(CASE WHEN s.bits = cfg2.cb THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM lsweeprec s CROSS JOIN cfg2""".stripMargin,

    "q166_contrastive_pairs" ->
      s"""WITH $duckQuant,
        |qs AS (SELECT vec_id AS qid, label AS alab, qv AS qqv, n2 AS qn2
        |       FROM n WHERE vec_id < 10),
        |scored AS (
        |  SELECT qs.qid, n.vec_id,
        |    CASE WHEN n.label = qs.alab THEN 1 ELSE 0 END AS same,
        |    ${duckCos("n.qv", "qs.qqv", "n.n2", "qs.qn2")} AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id != qs.qid),
        |rk AS (
        |  SELECT qid, vec_id, same, cos,
        |    row_number() OVER (PARTITION BY qid, same
        |      ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT qid,
        |  max(CASE WHEN same = 1 THEN vec_id END) AS pos_id,
        |  max(CASE WHEN same = 1 THEN cos END) AS pos_cos,
        |  max(CASE WHEN same = 0 THEN vec_id END) AS neg_id,
        |  max(CASE WHEN same = 0 THEN cos END) AS neg_cos,
        |  round(max(CASE WHEN same = 1 THEN cos END)
        |    - max(CASE WHEN same = 0 THEN cos END), 6) AS margin
        |FROM rk WHERE rn = 1 GROUP BY qid""".stripMargin,

    "q42_embedding_neardup" ->
      s"""WITH $duckQuant,
        |scored AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    ${duckCos("x.qv", "y.qv", "x.n2", "y.n2")} AS cos
        |  FROM n x JOIN n y ON x.label = y.label AND x.vec_id != y.vec_id)
        |SELECT a, b AS nn, cos FROM (
        |  SELECT a, b, cos,
        |    row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rn
        |  FROM scored) t
        |WHERE rn = 1""".stripMargin,

    // upper-triangle (diag included) exact integer power sums — the
    // all-pairs dim product the HOF projection must reproduce
    "q137_embedding_moments" ->
      s"""WITH q AS (
        |  SELECT list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pr AS (
        |  SELECT t1.i AS i, t2.j AS j, qv[t1.i + 1] * qv[t2.j + 1] AS p
        |  FROM q, range($dim) t1(i), range($dim) t2(j)
        |  WHERE t2.j >= t1.i),
        |m AS (
        |  SELECT pos - 1 AS i, CAST(sum(v) AS BIGINT) AS s
        |  FROM (SELECT unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM q)
        |  GROUP BY pos)
        |SELECT pr.i, pr.j, count(*) AS n, CAST(sum(pr.p) AS BIGINT) AS s_xy,
        |  mi.s AS s_i, mj.s AS s_j
        |FROM pr JOIN m mi ON mi.i = pr.i JOIN m mj ON mj.i = pr.j
        |GROUP BY pr.i, pr.j, mi.s, mj.s""".stripMargin,

    // q137's pair products mirrored to the full symmetric Gram, then
    // the max-normalized power iteration replayed in a recursive CTE
    // with the q212 tolerance-successor pick
    "q220_pca_power" ->
      s"""WITH RECURSIVE q AS (
        |  SELECT list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pr0 AS (
        |  SELECT t1.i AS i, t2.j AS j, qv[t1.i + 1] * qv[t2.j + 1] AS p
        |  FROM q, range($dim) t1(i), range($dim) t2(j)
        |  WHERE t2.j >= t1.i),
        |up AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS s_xy FROM pr0 GROUP BY i, j),
        |g AS (
        |  SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |    (s_xy + 1024 * 10000000000) // 1024 - 10000000000 AS gs FROM up
        |  UNION ALL
        |  SELECT CAST(j AS BIGINT), CAST(i AS BIGINT),
        |    (s_xy + 1024 * 10000000000) // 1024 - 10000000000
        |  FROM up WHERE i != j),
        |pw AS (
        |  SELECT 0 AS iter, i AS v, CAST(1000000 AS BIGINT) AS p
        |  FROM (SELECT DISTINCT i FROM g) dims
        |  UNION ALL
        |  SELECT s.iter + 1, s.i,
        |    CAST((s.sw + 2000000 * s.dnorm) // s.dnorm - 2000000 AS BIGINT)
        |  FROM (
        |    SELECT t.iter, t.i, t.sw,
        |      greatest(max(abs(t.sw)) OVER (PARTITION BY t.iter) // 1000000,
        |        1) AS dnorm
        |    FROM (
        |      SELECT pw.iter, g.i, CAST(sum(g.gs * pw.p) AS BIGINT) AS sw
        |      FROM g JOIN pw ON pw.v = g.j
        |      WHERE pw.iter < 16
        |      GROUP BY pw.iter, g.i) t) s),
        |conv AS (
        |  SELECT a.iter + 1 AS k
        |  FROM pw a JOIN pw b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(abs(a.p - b.p)) <= 1),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv)
        |SELECT pw.v AS dim, CAST(pw.p AS BIGINT) AS w_ppm
        |FROM pw JOIN pick ON pw.iter = pick.k""".stripMargin,

    // q220's recursive power CTE verbatim, then the HUGEINT Rayleigh
    // quotient and the diagonal trace from the same pre-scaled matrix
    "q350_isotropy_audit" ->
      s"""WITH RECURSIVE q AS (
        |  SELECT list_transform(embedding, x -> CAST(round(x * 1024) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pr0 AS (
        |  SELECT t1.i AS i, t2.j AS j, qv[t1.i + 1] * qv[t2.j + 1] AS p
        |  FROM q, range($dim) t1(i), range($dim) t2(j)
        |  WHERE t2.j >= t1.i),
        |up AS (SELECT i, j, CAST(sum(p) AS BIGINT) AS s_xy FROM pr0 GROUP BY i, j),
        |g AS (
        |  SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |    (s_xy + 1024 * 10000000000) // 1024 - 10000000000 AS gs FROM up
        |  UNION ALL
        |  SELECT CAST(j AS BIGINT), CAST(i AS BIGINT),
        |    (s_xy + 1024 * 10000000000) // 1024 - 10000000000
        |  FROM up WHERE i != j),
        |pw AS (
        |  SELECT 0 AS iter, i AS v, CAST(1000000 AS BIGINT) AS p
        |  FROM (SELECT DISTINCT i FROM g) dims
        |  UNION ALL
        |  SELECT s.iter + 1, s.i,
        |    CAST((s.sw + 2000000 * s.dnorm) // s.dnorm - 2000000 AS BIGINT)
        |  FROM (
        |    SELECT t.iter, t.i, t.sw,
        |      greatest(max(abs(t.sw)) OVER (PARTITION BY t.iter) // 1000000,
        |        1) AS dnorm
        |    FROM (
        |      SELECT pw.iter, g.i, CAST(sum(g.gs * pw.p) AS BIGINT) AS sw
        |      FROM g JOIN pw ON pw.v = g.j
        |      WHERE pw.iter < 16
        |      GROUP BY pw.iter, g.i) t) s),
        |conv AS (
        |  SELECT a.iter + 1 AS k
        |  FROM pw a JOIN pw b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(abs(a.p - b.p)) <= 1),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv),
        |wv AS (SELECT pw.v, CAST(pw.p AS BIGINT) AS p
        |  FROM pw JOIN pick ON pw.iter = pick.k),
        |swf AS (SELECT g.i, CAST(sum(g.gs * wv.p) AS BIGINT) AS sw
        |  FROM g JOIN wv ON wv.v = g.j GROUP BY 1),
        |ray AS (
        |  SELECT CAST(sum(CAST(wv.p AS HUGEINT) * swf.sw)
        |    // sum(CAST(wv.p AS HUGEINT) * wv.p) AS BIGINT) AS lambda1q
        |  FROM wv JOIN swf ON swf.i = wv.v),
        |tr AS (SELECT CAST(sum(gs) AS BIGINT) AS trace_q
        |  FROM g WHERE i = j)
        |SELECT CAST($dim AS BIGINT) AS dim, ray.lambda1q, tr.trace_q,
        |  ray.lambda1q * 1000000 // tr.trace_q AS top_share_ppm,
        |  CAST(CAST(ray.lambda1q AS HUGEINT) * $dim * 1000 // tr.trace_q
        |    AS BIGINT) AS concentration_x_milli
        |FROM ray CROSS JOIN tr""".stripMargin,

    "q211_embedding_norm_audit" ->
      s"""WITH $duckQuant,
        |ev AS (SELECT CAST(label AS BIGINT) AS label, vec_id, n2 FROM n),
        |r1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY n2, vec_id) AS rn,
        |    count(*) OVER (PARTITION BY label) AS n
        |  FROM ev),
        |med AS (
        |  SELECT label, max(n) AS n,
        |    CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n2 END)
        |       + max(CASE WHEN rn = (n + 2) // 2 THEN n2 END) AS BIGINT) AS med2
        |  FROM r1 GROUP BY 1),
        |r2 AS (
        |  SELECT ev.label, ev.vec_id, abs(ev.n2 * 2 - med.med2) AS dv,
        |    med.n, med.med2,
        |    row_number() OVER (PARTITION BY ev.label
        |      ORDER BY abs(ev.n2 * 2 - med.med2), ev.vec_id) AS rn
        |  FROM ev JOIN med USING (label)),
        |mad AS (
        |  SELECT label, max(n) AS n, max(med2) AS med2,
        |    CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dv END)
        |       + max(CASE WHEN rn = (n + 2) // 2 THEN dv END) AS BIGINT) AS mad4
        |  FROM r2 GROUP BY 1)
        |SELECT ev.label, max(mad.n) AS n, max(mad.med2) AS med2,
        |  max(mad.mad4) AS mad4,
        |  CAST(sum(CASE WHEN abs(ev.n2 * 2 - mad.med2) * 2 > mad.mad4 * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ev JOIN mad USING (label)
        |GROUP BY ev.label""".stripMargin,

    // kmeans cell assignment (duckQ175's km CTE), then the
    // smaller-id-dominates rule aggregated once and swept per ε
    "q213_semdedup_sweep" ->
      s"""WITH $duckQuant,
        |$duckMeanCent,
        |sc AS (
        |  SELECT n.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
        |  FROM n CROSS JOIN cn),
        |km AS (
        |  SELECT vec_id, kcell FROM (
        |    SELECT vec_id, kcell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, kcell) AS rn
        |    FROM sc) t WHERE rn = 1),
        |e2 AS (SELECT n.vec_id, n.qv, n.n2, km.kcell FROM n JOIN km USING (vec_id)),
        |prevmax AS (
        |  SELECT y.vec_id AS b, max(${duckCos("x.qv", "y.qv", "x.n2", "y.n2")}) AS pm
        |  FROM e2 x JOIN e2 y ON x.kcell = y.kcell AND x.vec_id < y.vec_id
        |  GROUP BY y.vec_id),
        |nv AS (SELECT count(*) AS n_vectors FROM e2),
        |sweep AS (
        |  SELECT g.eps_x100, nv.n_vectors,
        |    CAST((SELECT count(*) FROM prevmax
        |      WHERE pm >= CAST(g.eps_x100 AS DOUBLE) / 100) AS BIGINT)
        |      AS n_removed
        |  FROM (VALUES (20), (25), (30), (35), (40)) g(eps_x100)
        |  CROSS JOIN nv),
        |sw2 AS (
        |  SELECT CAST(eps_x100 AS BIGINT) AS eps_x100, n_vectors, n_removed,
        |    CAST((n_removed * 1000000) // n_vectors AS BIGINT) AS removed_ppm
        |  FROM sweep),
        |pick AS (
        |  SELECT coalesce(
        |    max(CASE WHEN removed_ppm >= 10000 THEN eps_x100 END),
        |    max(eps_x100)) AS ceps
        |  FROM sw2)
        |SELECT eps_x100, n_vectors, n_removed, removed_ppm,
        |  CASE WHEN eps_x100 = pick.ceps THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS chosen
        |FROM sw2 CROSS JOIN pick""".stripMargin,

    // q213's chain verbatim through the operating-point pick, then the
    // cut membership + per-source accounting over embedded docs only
    "q358_semdedup_cut" ->
      s"""WITH $duckQuant,
        |$duckMeanCent,
        |sc AS (
        |  SELECT n.vec_id, CAST(cn.label AS BIGINT) AS kcell,
        |    ${duckCos("n.qv", "cn.c", "n.n2", "cn.cn2")} AS cos
        |  FROM n CROSS JOIN cn),
        |km AS (
        |  SELECT vec_id, kcell FROM (
        |    SELECT vec_id, kcell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, kcell) AS rn
        |    FROM sc) t WHERE rn = 1),
        |e2 AS (SELECT n.vec_id, n.qv, n.n2, km.kcell FROM n JOIN km USING (vec_id)),
        |prevmax AS MATERIALIZED (
        |  SELECT y.vec_id AS b, max(${duckCos("x.qv", "y.qv", "x.n2", "y.n2")}) AS pm
        |  FROM e2 x JOIN e2 y ON x.kcell = y.kcell AND x.vec_id < y.vec_id
        |  GROUP BY y.vec_id),
        |nv AS (SELECT count(*) AS n_vectors FROM e2),
        |sweep AS (
        |  SELECT g.eps_x100, nv.n_vectors,
        |    CAST((SELECT count(*) FROM prevmax
        |      WHERE pm >= CAST(g.eps_x100 AS DOUBLE) / 100) AS BIGINT)
        |      AS n_removed
        |  FROM (VALUES (20), (25), (30), (35), (40)) g(eps_x100)
        |  CROSS JOIN nv),
        |sw2 AS (
        |  SELECT CAST(eps_x100 AS BIGINT) AS eps_x100,
        |    CAST((n_removed * 1000000) // n_vectors AS BIGINT) AS removed_ppm
        |  FROM sweep),
        |pick AS (
        |  SELECT coalesce(
        |    max(CASE WHEN removed_ppm >= 10000 THEN eps_x100 END),
        |    max(eps_x100)) AS ceps
        |  FROM sw2),
        |dropped AS (
        |  SELECT b AS doc_id FROM prevmax CROSS JOIN pick
        |  WHERE pm >= CAST(pick.ceps AS DOUBLE) / 100),
        |t AS (
        |  SELECT d.source, d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
        |    CASE WHEN d.doc_id IN (SELECT doc_id FROM dropped)
        |         THEN 1 ELSE 0 END AS drp
        |  FROM documents d JOIN n ON n.vec_id = d.doc_id)
        |SELECT source, pick.ceps AS eps_x100,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(drp) AS BIGINT) AS n_dropped,
        |  min(CASE WHEN drp = 0 THEN doc_id END) AS first_kept,
        |  CAST(sum(toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN drp = 1 THEN toks ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped,
        |  CAST((sum(CASE WHEN drp = 1 THEN toks ELSE 0 END) * 1000000)
        |    // sum(toks) AS BIGINT) AS reclaimed_ppm
        |FROM t CROSS JOIN pick
        |GROUP BY source, pick.ceps""".stripMargin)
}
