package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Tables => T, QueryPack}
import graft.functions.Exact
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Relational operator surface (joins, aggregations, windows, set ops,
  * subqueries, scalar functions) over the TPC-H-ish tables.
  *
  * The reference (`/root/reference`) implements none of these — SURVEY.md
  * §2 "operator categories with NO reference implementation" — so they
  * are expressed on stock Spark SQL and Catalyst does the optimization
  * (predicate pushdown, column pruning, broadcast-join selection, AQE).
  *
  * Determinism conventions (the driver hash-compares against DuckDB):
  *  - every double aggregate is `round(_, 2..6)`;
  *  - every computed integer is cast to BIGINT (DuckDB's default int width);
  *  - every LIMIT is preceded by a total order (unique-key tie-break);
  *  - `sum(<int>)` in oracle SQL is cast from HUGEINT back to BIGINT.
  *
  * Scale notes (100 TB): only true bounded dims (`region`, `nation`)
  * are broadcast explicitly — `customer`/`supplier`/`part` scale with
  * data size, so their joins are left to AQE/broadcast-threshold
  * selection (shuffle joins on their keys at scale); fact-fact joins
  * shuffle on their join key only after filters are pushed below the
  * join; window queries partition by high-cardinality keys (no
  * single-partition global windows anywhere).
  */
object Relational extends QueryPack {

  /** Per-order pair aggregation over an (o, p) incidence list —
    * (a, b, cooc) with a < b. The kernel of the substrate build and
    * of q168's incremental maintenance; IncrementalMergeSpec drives
    * it over random order splits to prove
    * merge(pairs(old), pairs(batch)) == pairs(all) for EVERY split
    * (per-order edges have no cross-batch terms). */
  private[graft] def orderPairAgg(li: DataFrame): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    li.toDF("o", "a").join(li.toDF("o", "b"), "o")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("cooc"))
  }

  /** The raw part co-occurrence build (parts sharing an order): the
    * per-order self-join + pair aggregation, the ONE corpus-scale
    * shuffle every graph query shares. Runs exactly once per
    * (session, dir) — only [[coocBucketedTable]]'s writer calls it;
    * every consumer reads the materialized table via [[coocPairs]]. */
  private def coocPairsBuild(s: SparkSession, d: String): DataFrame =
    orderPairAgg(
      T.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())

  /** Shared part co-occurrence relation — the substrate of the whole
    * graph family (q138 triangles, q145/q161/q162 PageRank, q146
    * item-item CF, q148 assortativity, q150/q160 link prediction,
    * q159). Since round 10 every consumer reads the ON-DISK bucketed
    * table ([[coocBucketedTable]]): the lineitem self-join is paid
    * once per WAREHOUSE, not once per session or query — the harness's
    * per-query cache clearing used to force each graph query to re-run
    * the corpus-scale shuffle, and at 100 TB this is exactly the
    * materialized-edge-table design (build once, every later job
    * scans it; bucket layout on `a` stands in for the pair shuffle on
    * bucket-key plans — PlanSpec asserts the no-exchange form). The
    * scan is NOT additionally persisted: an 8-bucket parquet re-read
    * is cheaper than holding a second in-memory copy, and the derived
    * substrates (degree, adjacency) persist their own small tables. */
  private[graft] def coocPairs(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_pairs:$d") { s.table(coocBucketedTable(s, d)) }

  /** Undirected distinct edge set of [[coocPairs]] (a < b). */
  private def coocEdges(s: SparkSession, d: String): DataFrame =
    coocPairs(s, d).select(col("a"), col("b"))

  /** Degree table of the co-occurrence graph — (v, deg), one row per
    * vertex. The SECOND shared graph substrate after [[coocPairs]]:
    * q138 (orientation), q145 (contribution split), q148 (endpoint
    * power sums) and [[linkPred]] (Jaccard denominator, probe set,
    * cap scalar — so q150 AND both q160 arms) all key on exactly this
    * table, and several reference it 2-4 times within one plan.
    * Memoized and persisted per (session, dir): |V| rows of two
    * longs, trivially cacheable at any scale, and sharing it removes a
    * 2|E|-row groupBy per reference. */
  private[graft] def coocDeg(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_deg:$d") {
      val e = coocEdges(s, d)
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .persist(MEMORY_AND_DISK)
    }

  /** The [[coocPairs]] substrate materialized as an ON-DISK bucketed
    * table (bucketed + sorted by `a`), the cross-JOB form of the
    * in-session persist: a 100 TB deployment builds the edge table
    * once and every later job re-reads it with the bucket layout
    * standing in for the pair shuffle — a BUCKET-KEY plan (a
    * `groupBy("a")`, or a join on `a`) over the re-read needs NO
    * exchange; PlanSpec asserts exactly that on a `groupBy("a")`
    * aggregation of the re-read. (q159's own aggregation keys on `u`
    * over a union of BOTH edge directions, so it shuffles regardless
    * of layout — the bucketing it exercises is the scan reuse, not
    * that agg's exchange.)
    *
    * Naming + hygiene: the name embeds the applicationId (the
    * in-memory catalog is per-JVM but the warehouse dir is not, so
    * concurrent runs must not share a location — q55's rule) and is
    * LOWERCASED, because the metastore lowercases table directory
    * names and a mixed-case name would aim cleanup at a path that
    * never exists. Since each app's name is unique, an exact-name
    * cleanup can never reclaim a PRIOR app's directory — so stale
    * `graft_cooc_b_<d>_*` dirs are swept by prefix, restricted to
    * dirs untouched for >1h so a live concurrent run (bench+verify)
    * is never raced. Returns the table name. */
  private[graft] def coocBucketedTable(s: SparkSession, d: String): String = {
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val pfx = s"graft_cooc_b_${d.replaceAll("[^A-Za-z0-9]", "_")}_".toLowerCase
    val tbl = (pfx + app).toLowerCase
    if (!s.catalog.tableExists(tbl)) {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val staleMs = 60L * 60L * 1000L
      if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        val stale = System.currentTimeMillis() - st.getModificationTime > staleMs
        if (n == tbl || (n.startsWith(pfx) && stale))
          fs.delete(st.getPath, true)
      }
      coocPairsBuild(s, d).write.bucketBy(8, "a").sortBy("a")
        .mode("overwrite").saveAsTable(tbl)
    }
    tbl
  }

  /** Run a (v, p) vertex-state recurrence to its INTEGER FIXPOINT:
    * apply `step` until an iteration's output equals its input on
    * every vertex (ppm delta 0 — the integer analog of q56's CC
    * convergence), capped at `maxIters`. If the cap binds (a ppm
    * 2-cycle, or a slow corpus), the state after exactly `maxIters`
    * steps is returned — the same rule the DuckDB recursive-CTE
    * oracles implement, so the two engines agree on EVERY trajectory,
    * converged or capped. Each state is `localCheckpoint`ed: the
    * unrolled-join lineage is truncated per iteration, so plan size,
    * analysis time and scheduler cost stay O(1) in iteration depth —
    * at convergence-driven depth an unrolled plan is exponential in
    * the optimizer and this is the standard iterative-algorithm
    * pattern (GraphX does the same internally). The convergence probe
    * is a filtered scan of each iteration's one materialization (the
    * step output inner-joined to the previous state — see the in-loop
    * comment), noise next to the |E|-row step itself.
    *
    * INVARIANT — fixed vertex set: because the probe fusion carries
    * the state as `step(p) ⋈ p` (inner join on v), a `step` whose
    * output vertex set GREW or SHRANK relative to its input would have
    * the new/lost vertices silently dropped from the carried state
    * rather than kept. Every caller derives both `init` and each
    * step's output vertex set from the same static substrate (degree /
    * incidence tables), so the sets are equal by construction;
    * FixpointHarnessSpec pins the drop behavior so a future
    * caller with a growing step fails loudly in review, not silently
    * in production. */
  private[graft] def iterateToFixpointPpm(init: DataFrame, maxIters: Int,
      tolPpm: Long = 0L, realSizeStats: Boolean = true)
      (step: DataFrame => DataFrame): DataFrame = {
    val Array(vcol, pcol) = init.columns
    var p = init.localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      // tolPpm = 0 is the exact first-repeated-state rule; tolPpm > 0
      // stops at the SUCCESSOR of the first transition whose largest
      // per-vertex move is <= tolPpm — the cure for floor-rounding
      // oscillation tails (q212's max-normalized HITS dribbles at
      // ±1 ppm for ~5 extra iterations before repeating exactly; the
      // oracle's conv CTE implements the identical successor pick, so
      // the engines agree on every trajectory, converged or capped).
      //
      // ONE materialization per iteration, carrying (v, next, prev):
      // the previous form checkpointed `next` and then ran a SEPARATE
      // convergence-probe job re-shuffling both |V|-row states into an
      // equality join (2 exchanges + sorts per iteration). The step's
      // final per-vertex aggregation already leaves its output
      // hash-partitioned on the vertex key, and `p` (a projection of
      // the previous iteration's joined checkpoint) carries the same
      // partitioning, so joining BEFORE the checkpoint adds no
      // exchange — and the probe becomes a shuffle-free filtered scan
      // of the checkpointed rows with take(1)-style early exit.
      // Trajectory and stopping rule are unchanged: same step values,
      // same |np − op| > tol predicate over the same (v) pairs.
      //
      // freshLocalCheckpoint, NOT plain localCheckpoint: this plan
      // references the previous checkpoint TWICE (inside step and as
      // the probe side), so a checkpoint that carries origin stats
      // forward would SQUARE the size estimate every iteration —
      // million-digit BigInt arithmetic in the optimizer by iteration
      // ~16 and a java.math overflow by ~25 (q161 hit it at its
      // 32-iteration cap). See [[org.apache.spark.sql.graft.FreshCheckpoint]].
      val joined = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(
          step(p).toDF("v", "np").join(p.toDF("v", "op"), "v"),
          realSizeStats = realSizeStats)
      done = joined.filter(abs(col("np") - col("op")) > tolPpm).isEmpty
      p = joined.select(col("v").as(vcol), col("np").as(pcol))
      it += 1
    }
    p
  }

  /** Integer-exact PageRank over an undirected edge list — the core
    * of q145, factored so PageRankPropertySpec can drive it over
    * arbitrary random graphs against a sequential reference. `e`
    * holds each undirected edge exactly once (either column order);
    * `deg` is the (v, deg) degree table of the same graph.
    * PRECONDITION: the graph is symmetrized with deg ≥ 1 everywhere
    * (every vertex both sends and receives, so the inner contribution
    * join keeps all vertices) — true by construction for any
    * edge-list-derived degree table. All mass is ppm-of-total
    * integers with floor division on non-negative values (Spark `div`
    * = DuckDB `//` there), so the trajectory is bit-reproducible:
    * p0 = 1e6 div n, then
    * p'(v) = 150000 div n + (850000 · Σ_{u~v} (p(u) div deg(u))) div 1e6.
    *
    * `iters > 0` runs that many fixed unrolled iterations (the
    * property spec's fixed-depth mode); `iters = -1` (the declared
    * q145 mode since round 10) iterates to the ppm fixpoint via
    * [[iterateToFixpointPpm]]. `dirOpt` supplies a prebuilt
    * symmetrized edge table (the memoized [[coocDir]] substrate in
    * production — scanned once per iteration). Returns (v, pr_ppm). */
  private[graft] def pageRankPpm(e: DataFrame, degIn: DataFrame,
                                 iters: Int = -1, maxIters: Int = 32,
                                 dirOpt: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val dir = dirOpt.getOrElse(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
    val deg = degIn.toDF("u", "deg")
    val nV = deg.agg(count(lit(1)).as("n_v"))
    val init = deg.crossJoin(broadcast(nV))
      .select($"u".as("v"), expr("1000000L div n_v").as("p"))
    def step(p: DataFrame): DataFrame = {
      val contrib = p.join(deg.toDF("v", "deg"), "v")
        .select($"v".as("u"), expr("p div deg").as("c"))
      dir.join(contrib, "u")
        .groupBy($"v").agg(sum($"c").as("sc"))
        .crossJoin(broadcast(nV))
        .select($"v",
          (expr("150000L div n_v") + expr("(850000L * sc) div 1000000L")).as("p"))
    }
    val out =
      if (iters > 0) (1 to iters).foldLeft(init)((p, _) => step(p))
      else iterateToFixpointPpm(init, maxIters)(step)
    out.select($"v", $"p".as("pr_ppm"))
  }

  /** SAMPLED-BOUNDARY BUCKET ASSIGNMENT — q207's core, factored so a
    * property spec can drive it on degenerate shapes (tiny samples
    * where a boundary rank (i·cnt) div nb floors to 0 and the
    * boundary list shrinks — the fixtures never hit this). q129's
    * equi-depth machinery generalized: a content-hash sample whose
    * modulus ADAPTS to the entity count (ceil(n/8192) → ~8192 sampled
    * rows at ANY scale), nb−1 boundaries rank-selected per value
    * column FROM ONE PASS over the sample (all orderings ranked in a
    * single projection, boundaries collapsed into one array row —
    * collect_list skips the unselected nulls), broadcast back, and
    * bucket = 1 + #boundaries strictly below the value (an in-row HOF
    * over the ≤(nb−1)-element array; ties share a bucket). Appends
    * one `<v>_q` long column per value column; the only windows in
    * the result plan rank the BOUNDED sample. `idCol` must be a
    * unique id (the rank tie-break and the sample key). */
  private[graft] def sampledBuckets(pc: DataFrame, idCol: String,
      vcols: Seq[String], nb: Int): DataFrame = {
    val s = pc.sparkSession
    import s.implicits._
    val h60 = graft.functions.PortableHash.h60 _
    val n = pc.agg(count(lit(1)).as("n_all"))
    val sample = pc.crossJoin(broadcast(n))
      .filter(pmod(h60(col(idCol)),
        expr("greatest(CAST(1 AS BIGINT), (n_all + 8191) div 8192)")) === 0)
      .drop("n_all")
    val cnt = sample.agg(count(lit(1)).as("cnt"))
    def targets(rn: Column): Column =
      (1 until nb).map(i => rn === expr(s"($i * cnt) div $nb"))
        .reduce(_ || _)
    val ranked = vcols.foldLeft(sample.crossJoin(broadcast(cnt))) {
      (df, vc) =>
        df.withColumn(s"rn_$vc",
          row_number().over(Window.orderBy(col(vc), col(idCol)))
            .cast("long"))
    }
    val aggs = vcols.map(vc =>
      sort_array(collect_list(when(targets(col(s"rn_$vc")), col(vc))))
        .as(s"${vc}_bs"))
    val withB = pc.crossJoin(broadcast(ranked.agg(aggs.head, aggs.tail: _*)))
    vcols.foldLeft(withB) { (df, vc) =>
      df.withColumn(s"${vc}_q",
        expr(s"CAST(1 + size(filter(${vc}_bs, x -> x < $vc)) AS BIGINT)"))
    }.drop(vcols.map(vc => s"${vc}_bs"): _*)
  }

  /** CRAMER-RULE β EXPRESSION BUILDER — q240's core, shared verbatim
    * by the Spark plan and the DuckDB oracle (only the wide-integer
    * cast type and the floor-division operator differ) so the two
    * engines can never drift on the determinant algebra. Over the
    * normal-equation moment columns (n, s1, s2, sy, s11, s22, s12,
    * s1y, s2y) it emits βᵢ·1e6 as a ratio of 3×3 integer determinants:
    * det M is sign-normalized positive (both determinants flip
    * together), and the signed numerator floors via the shifted form
    * (+K·|detM| before the division, −K after; K = 1e9 bounds |β| <
    * 1000) — identical under truncating and flooring integer division
    * (the CentroidFloorSpec rule). i = 0 intercept, 1, 2 the
    * regressor slopes. */
  private[graft] def cramerBeta(i: Int, castTy: String,
      divOp: String): String = {
    def dec(e: String) = s"CAST($e AS $castTy)"
    def det3(r: ((String, String, String), (String, String, String),
        (String, String, String))): String = {
      val (a, b, c) = r
      s"(${dec(a._1)} * (${dec(b._2)} * ${c._3} - ${dec(b._3)} * ${c._2}) " +
        s"- ${dec(a._2)} * (${dec(b._1)} * ${c._3} - ${dec(b._3)} * ${c._1}) " +
        s"+ ${dec(a._3)} * (${dec(b._1)} * ${c._2} - ${dec(b._2)} * ${c._1}))"
    }
    val dm = det3((("n", "s1", "s2"), ("s1", "s11", "s12"),
      ("s2", "s12", "s22")))
    val di = i match {
      case 0 => det3((("sy", "s1", "s2"), ("s1y", "s11", "s12"),
        ("s2y", "s12", "s22")))
      case 1 => det3((("n", "sy", "s2"), ("s1", "s1y", "s12"),
        ("s2", "s2y", "s22")))
      case _ => det3((("n", "s1", "sy"), ("s1", "s11", "s1y"),
        ("s2", "s12", "s2y")))
    }
    val k = "1000000000"
    s"CAST(CASE WHEN $dm = 0 THEN 0 ELSE " +
      s"((CASE WHEN $dm < 0 THEN -($di) ELSE $di END) * 1000000 + " +
      s"$k * abs($dm)) $divOp abs($dm) - $k END AS BIGINT)"
  }

  /** KATZ CENTRALITY [Katz, Psychometrika'53] — q235's core, factored
    * so a property spec can drive it on random graphs. x = Σₖ αᵏ·Aᵏ·1
    * iterated as x' = 1 + α·A·x in ppm integers: x'(v) = 1e6 +
    * (α_ppm · Σ_{u~v} x(u)) div 1e6, run through
    * [[iterateToFixpointPpm]] with the ±1 ppm successor-pick stop
    * (cap 16 — the q212 rule; floor truncation makes the exact
    * fixpoint dribble). The attenuation is NOT hand-picked but
    * DATA-DERIVED (the house acceptance-loop rule): α_ppm =
    * 1e6 div (dmax + 1), which makes α·λmax < 1 for ANY graph
    * (λmax ≤ dmax) — guaranteed convergence with no spectral
    * estimate, and the 1-row dmax scalar is the only broadcast. All
    * floors are on non-negative values (div == //). Magnitudes:
    * x ≤ 1e6·(dmax+1) and the step product ≤ dmax·1e12 — int64 to
    * dmax ≈ 9e5; a 100 TB graph past that promotes the step product
    * to decimal(38,0), the joins never change. Per iteration: one
    * keyed |E|-row join + re-agg — the PageRank cost class over the
    * same [[coocDir]] substrate. Returns (v, katz_ppm). */
  private[graft] def katzPpm(dir: DataFrame, degIn: DataFrame,
      maxIters: Int = 16): DataFrame = {
    val s = dir.sparkSession
    import s.implicits._
    val deg = degIn.toDF("v", "deg")
    val am = deg.agg(max($"deg").as("dmax"))
      .select(expr("1000000L div (dmax + 1)").as("a_ppm"))
    val init = deg.select($"v", lit(1000000L).as("p"))
    def step(p: DataFrame): DataFrame =
      dir.join(p.toDF("u", "pu"), "u")
        .groupBy($"v").agg(sum($"pu").as("sx"))
        .crossJoin(broadcast(am))
        .select($"v", expr("1000000L + (a_ppm * sx) div 1000000L").as("p"))
    iterateToFixpointPpm(init, maxIters, tolPpm = 1L)(step)
      .select($"v", $"p".as("katz_ppm"))
  }

  /** Symmetrized directed edge substrate (u, v) of the cooc graph —
    * scanned once per PageRank iteration, memoized + persisted.
    * Deliberately cached WITHOUT a pre-partitioning on `u` (round 19
    * measured both): a u-hash-partitioned cache satisfies each
    * iteration's join distribution so the |E|-row exchange disappears
    * from the plan, but it also commits the planner to a sort-merge
    * join — where the unpinned layout lets AQE convert each
    * iteration's join to a BROADCAST of the small per-iteration state
    * (frontier/contribution, |V|-scale) over an exchange-free cache
    * scan, which measured strictly faster on every consumer
    * (q242 3.8→2.9 s, q235 10.0→8.1 s standalone at sf0.1). */
  private[graft] def coocDir(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_dir:$d") {
      val e = coocEdges(s, d)
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .persist(MEMORY_AND_DISK)
    }

  /** Capped synchronous k-CORE PEELING [Seidman, Social Networks'83;
    * the parallel peel is Batagelj–Zaveršnik's algorithm run
    * level-synchronously] — q191's core, factored so
    * KCorePropertySpec can drive it over random graphs against a
    * sequential reference. Each round drops every vertex whose degree
    * in the CURRENT subgraph is < k (one degree agg + two semi-joins,
    * all keyed shuffles) until either nothing changes or `rounds`
    * rounds have run — the same capped rule the unrolled DuckDB
    * oracle implements, so the engines agree on every trajectory,
    * converged or capped (post-fixpoint rounds are no-ops on both
    * sides, so early exit here never diverges from the oracle's fixed
    * unrolling). `localCheckpoint` per round keeps the plan O(1) in
    * depth. Returns (v, core_deg): the degree of each surviving
    * vertex inside the peeled subgraph. Edges arrive (a, b) each
    * undirected edge once; |E| shrinks monotonically, so rounds get
    * cheaper as they go — the 100 TB cost is the first two degree
    * aggs over the full edge set. */
  private[graft] def kCoreCapped(e0: DataFrame, k: Int,
                                 rounds: Int): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    var e = e0.select($"a", $"b").localCheckpoint()
    var n = e.count()
    // k ≤ 0 → data-derived: min + (mean − min) div 2 over the
    // ORIGINAL degree distribution (all floored integer ops, same on
    // both engines). The midpoint rule keeps k inside the
    // distribution's lower half: a fixed small k is a no-op on any
    // graph whose min degree exceeds it (the dense cooc graph), while
    // anything near the mean collapses an Erdős–Rényi-like graph to
    // the empty core (the k-core phase transition) — the midpoint
    // peels a real periphery AND leaves a surviving nucleus. One
    // 1-row scalar for loop control.
    val kv: Long = if (k > 0) k.toLong else {
      e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
        .agg(expr(
          "min(deg) + (((sum(deg) div count(1)) - min(deg)) div 2)")
          .as("k"))
        .head.getLong(0)
    }
    var it = 0
    var done = false
    while (!done && it < rounds) {
      val deg = e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
      // materialized: both semi-joins consume `keep`, and without the
      // checkpoint each re-ran the |2E|-row degree aggregation inside
      // one round's plan — two full-degree passes per round for one
      // round's worth of information. Real-size-stats checkpoint: the
      // keep set is |V|-scale and its true size lets the static
      // planner broadcast it into both semi-joins, so the |E| edge
      // side is never exchanged (the q235 finding).
      val keep = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(deg.filter($"deg" >= kv).select($"v"))
      val next = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(
          e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
            .select($"a", $"b"))
      val m = next.count()
      done = m == n
      e = next; n = m; it += 1
    }
    e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("core_deg"))
  }

  /** Newman modularity per community in exact integer ppk — q203's
    * core, factored so ModularitySpec can check it against
    * hand-computed partitions on structured graphs (the fixture's
    * near-random cooc graph collapses to one community with Q = 0,
    * which the declared query honestly reports but which exercises
    * only the trivial case). `e` = (a, b) each undirected edge once;
    * `deg` = (v, deg); `lab` = (v, community). Per community:
    * contrib_ppk = floor((m_c/m − (D_c/2m)²)·1000) via the
    * shifted-numerator signed floor (+1000·den before div, −1000
    * after — the CentroidFloorSpec rule, since contributions of
    * under-dense communities are negative). */
  /** Per-community structural stats over a labeled undirected edge
    * list — (community, n_vertices, m_in, d_tot, m_edges) — the block
    * BOTH community-quality scorers read (q203 modularity, q357
    * conductance), factored so the edge-attribution and tie-break
    * semantics cannot drift between them. m_edges is the 1-row global
    * scalar crossed on via broadcast (both consumers carry the
    * PlanSpec BNLJ cap). */
  private def communityStats(e: DataFrame, deg: DataFrame,
                             lab: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val mRow = e.agg(count(lit(1)).as("m_edges"))
    val inEdges = e.join(lab.toDF("a", "ca"), "a")
      .join(lab.toDF("b", "cb"), "b")
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(count(lit(1)).as("m_in"))
    lab.toDF("v", "community")
      .join(deg.toDF("v", "deg"), "v")
      .groupBy($"community")
      .agg(count(lit(1)).as("n_vertices"), sum($"deg").as("d_tot"))
      .join(inEdges, Seq("community"), "left")
      .na.fill(0L, Seq("m_in"))
      .crossJoin(broadcast(mRow))
  }

  private[graft] def modularityPpk(e: DataFrame, deg: DataFrame,
                                   lab: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    communityStats(e, deg, lab)
      .select($"community", $"n_vertices", $"m_in", $"d_tot",
        expr("((4*m_edges*m_in - d_tot*d_tot) * 1000L " +
          "+ 1000L * 4*m_edges*m_edges) div (4*m_edges*m_edges) - 1000L")
          .as("contrib_ppk"))
  }

  /** Level-synchronous multi-source BFS hop profile — q195's core,
    * factored so BfsPropertySpec can drive it over random graphs
    * against a sequential reference. `dirE` is the symmetrized
    * directed edge table (u, v); `verts` the vertex set; `seeds` the
    * hop-0 frontier. Per hop: one keyed |frontier-edges| join +
    * distinct + anti-join against the visited set,
    * localCheckpoint-truncated — an empty frontier no-ops, so early
    * saturation and the `maxHops` cap agree with any fixed unrolling
    * of the same depth. Returns (hop, n_vertices) for hops 0..maxHops
    * plus a hop −1 row counting never-reached vertices; zero-count
    * rows are dropped on both engines. */
  private[graft] def bfsHopProfile(dirE: DataFrame, verts: DataFrame,
                                   seeds: DataFrame,
                                   maxHops: Int): DataFrame = {
    val s = dirE.sparkSession
    import s.implicits._
    // real-size-stats checkpoints (FreshCheckpoint): the frontier and
    // visited states are |V|-scale, and their true materialized sizes
    // let the static planner broadcast them under the per-hop |E| join
    // and anti-join (plain localCheckpoint carries join-product
    // estimates that block the broadcast until AQE has already
    // materialized the edge-side exchange — the q235 finding)
    val fresh = org.apache.spark.sql.graft.FreshCheckpoint
      .freshLocalCheckpoint(_: DataFrame)
    var visited = fresh(seeds.withColumn("hop", lit(0L)))
    var frontier = fresh(seeds)
    for (h <- 1 to maxHops) {
      val next = fresh(
        dirE.join(frontier.withColumnRenamed("v", "u"), Seq("u"))
          .select($"v").distinct()
          .join(visited.select($"v"), Seq("v"), "left_anti"))
      visited = fresh(
        visited.unionAll(next.withColumn("hop", lit(h.toLong))))
      frontier = next
    }
    visited.groupBy($"hop").agg(count(lit(1)).as("n_vertices"))
      .unionAll(
        verts.join(visited.select($"v"), Seq("v"), "left_anti")
          .agg(lit(-1L).as("hop"), count(lit(1)).as("n_vertices")))
      .filter($"n_vertices" > 0)
  }

  /** Per-seed shortest distances by labeled level-synchronous BFS —
    * q242's core, factored so BfsPropertySpec can drive it against a
    * sequential reference. Unlike [[bfsHopProfile]] (whose shared
    * visited set yields distance to the NEAREST seed), the frontier
    * and visited sets here carry the seed label, so each (seed, v)
    * pair records that seed's own hop count — the state the harmonic
    * sum Σ 1/d needs. `seeds` is a 1-column (sd) frame; returns
    * (sd, v, hop) for hop 0..maxHops. Per hop: one keyed
    * |frontier-edges| join + distinct + anti-join on (sd, v),
    * localCheckpoint-truncated; state size ≤ |seeds|·|V| — the seed
    * count is the cost knob at scale (8 seeds ≈ 8 PageRank-class
    * passes). */
  private[graft] def multiSeedDistances(dirE: DataFrame, seeds: DataFrame,
                                        maxHops: Int): DataFrame = {
    val s = dirE.sparkSession
    import s.implicits._
    // visited accumulates as a VECTOR of per-hop checkpointed frames,
    // unioned lazily where consumed: the previous form re-checkpointed
    // visited.unionAll(next) every hop, re-copying hops 0..h−1 into
    // fresh storage each round — one extra eager job per hop and
    // O(maxHops·|visited|) duplicate materialization. The lazy union
    // scans the same checkpointed blocks with zero re-copying; the
    // frontier is a free projection of the newest checkpoint.
    // Real-size-stats checkpoints (FreshCheckpoint): the per-hop state
    // is |frontier|-scale, and its true size lets the static planner
    // broadcast it under the |E| expansion join (the q235 finding).
    val fresh = org.apache.spark.sql.graft.FreshCheckpoint
      .freshLocalCheckpoint(_: DataFrame)
    val init = fresh(seeds.select($"sd", $"sd".as("v"), lit(0L).as("hop")))
    var parts = Vector(init)
    var frontier = init.select($"sd", $"v")
    var h = 1
    // empty-frontier early exit: every later hop is a no-op, and each
    // skipped round saves a join + a localCheckpoint — on a
    // small-diameter graph (q282's double sweep: diameter 2, cap 6)
    // this halves the pass count; results are identical by definition
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = fresh(dirE.toDF("u", "w")
        .join(frontier.withColumnRenamed("v", "u"), Seq("u"))
        .select($"sd", $"w".as("v")).distinct()
        .join(parts.map(_.select($"sd", $"v")).reduce(_ unionAll _),
          Seq("sd", "v"), "left_anti")
        .withColumn("hop", lit(h.toLong)))
      if (next.isEmpty) {
        exhausted = true
      } else {
        parts = parts :+ next
        frontier = next.select($"sd", $"v")
      }
      h += 1
    }
    parts.reduce(_ unionAll _)
  }

  /** FUSED level-synchronous BFS + shortest-path-count forward sweep —
    * q313's Brandes preamble, factored so BfsPropertySpec can drive it
    * against a sequential reference. σ's recurrence
    * σ_v = Σ_{u at level h−1, u→v} σ_u IS the BFS frontier expansion
    * with sum(σ_u) in place of distinct, so ONE |frontier-edges| join +
    * agg per hop discovers the level (anti-join against the union of
    * previous levels — exactly [[multiSeedDistances]]' visited rule)
    * AND aggregates its path counts; the r19 shape paid a separate
    * distance materialization plus a per-level σ job for the same
    * frames. A vertex is at level h iff it is reachable from level h−1
    * and in no earlier level, and the sum runs over the same (u, v)
    * edge set the old semi-join kept, so per-level sets and σ values
    * are identical by construction. Returns per-level checkpointed
    * frames (sd, v, sig), level h at index h; an exhausted frontier
    * reuses the checkpointed empty frame for the remaining levels
    * (they are empty by definition) instead of paying a join +
    * checkpoint job each. */
  private[graft] def multiSeedSigmaLevels(dirE: DataFrame, seeds: DataFrame,
      maxHops: Int): Vector[DataFrame] = {
    val s = dirE.sparkSession
    import s.implicits._
    // real-size-stats checkpoints (FreshCheckpoint): the per-level
    // state is |frontier|-scale, and its true materialized size lets
    // the static planner broadcast it under the per-hop |E| join —
    // with plain localCheckpoint the carried size ESTIMATE is a join
    // product that blocks the broadcast until AQE has already
    // materialized the edge-side exchange (the q235 finding)
    val fresh = org.apache.spark.sql.graft.FreshCheckpoint
      .freshLocalCheckpoint(_: DataFrame)
    var sig = Vector(
      fresh(seeds.select($"sd", $"sd".as("v"), lit(1L).as("sig"))))
    var live = true
    for (h <- 1 to maxHops) {
      if (live) {
        val next = fresh(sig(h - 1).toDF("sd", "u", "sigu")
          .join(dirE, Seq("u"))
          .groupBy($"sd", $"v")
          .agg(sum($"sigu").cast("bigint").as("sig"))
          .join(sig.map(_.select($"sd", $"v")).reduce(_ unionAll _),
            Seq("sd", "v"), "left_anti"))
        if (next.isEmpty) live = false
        sig = sig :+ next
      } else {
        sig = sig :+ sig(h - 1)
      }
    }
    sig
  }

  /** q327's core: bounded synchronous Bellman–Ford relaxation over a
    * DIRECTED weighted edge list `ew` = (u, v, w) from a 1-column
    * (sd) seed frame — factored so SsspPropertySpec can drive it on
    * random weighted graphs (capped trajectories, negative-free
    * weights, disconnected vertices) against a sequential reference.
    * Per round: one |E|-row keyed join + a (sd, v) min-agg,
    * localCheckpoint-truncated; a no-improvement round exits early
    * (identical result — the remaining rounds would be no-ops).
    * Returns (sd, v, dist) for vertices reached within `maxRounds`
    * relaxations. */
  private[graft] def weightedSsspDistances(ew: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    val s = ew.sparkSession
    import s.implicits._
    var dist = seeds.select($"sd", $"sd".as("v"), lit(0L).as("dist"))
      .localCheckpoint()
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val cand = ew
        .join(dist.select($"sd", $"v".as("u"), $"dist".as("du")), Seq("u"))
        .select($"sd", $"v", ($"du" + $"w").as("dist"))
      // previous state joined back BEFORE the checkpoint (the
      // iterateToFixpointPpm fusion): the min-agg output is already
      // hash-partitioned on (sd, v), so carrying pd costs no exchange,
      // and the no-improvement probe becomes a shuffle-free filtered
      // scan of the checkpointed rows instead of its own 2-exchange
      // join job per round. Same rows, same stop rule. Fresh-stats
      // checkpoint for the same double-reference reason as
      // iterateToFixpointPpm (dist appears in cand AND as the probe
      // side — origin-stats feedback would square per round).
      val joined = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(
          dist.unionAll(cand)
            .groupBy($"sd", $"v").agg(min($"dist").as("dist"))
            .join(dist.select($"sd", $"v", $"dist".as("pd")),
              Seq("sd", "v"), "left"))
      converged = joined.filter($"pd".isNull || $"dist" < $"pd").isEmpty
      if (!converged) dist = joined.select($"sd", $"v", $"dist")
      r += 1
    }
    dist.select($"sd", $"v", $"dist")
  }

  /** Synchronous LABEL PROPAGATION community detection [Raghavan,
    * Albert & Kumara, Phys. Rev. E'07] — q164's core: every vertex
    * starts in its own community (label = id) and repeatedly adopts
    * the label most frequent among its neighbors, ties broken by the
    * SMALLEST label — a total order, so each step is deterministic and
    * engine-portable (the randomized-order variant of the paper is off
    * the menu by the determinism rule; synchronous min-tie-break is
    * its standard reproducible form). Runs through
    * [[iterateToFixpointPpm]] (states are (v, label) longs — the
    * harness is representation-agnostic): sync LPA can 2-cycle on
    * bipartite-ish structure, which is exactly the capped case the
    * harness and the recursive-CTE oracle resolve identically.
    *
    * Shape per iteration (100 TB): one |E|-row join on the source key
    * + a (v, label) count + a per-v argmin — two keyed shuffles, the
    * same cost class as a PageRank step; labels are single longs,
    * never neighbor lists. Returns (v, community). */
  private[graft] def labelPropagation(e: DataFrame, degIn: DataFrame,
      maxIters: Int = 16, dirOpt: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val dir = dirOpt.getOrElse(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
    val init = degIn.toDF("v", "deg").select($"v", $"v".as("p"))
    def step(p: DataFrame): DataFrame =
      dir.join(p.toDF("u", "lab"), "u")
        .groupBy($"v", $"lab").agg(count(lit(1)).as("cnt"))
        .groupBy($"v").agg(min(struct((-$"cnt").as("nc"), $"lab".as("l"))).as("m"))
        .select($"v", $"m.l".as("p"))
    iterateToFixpointPpm(init, maxIters)(step)
      .select($"v", $"p".as("community"))
  }

  /** Shared LPA label substrate — the converged (v, community) table of
    * [[labelPropagation]] over the cooc graph, memoized per
    * (session, dir) so the iterative run is paid once per session:
    * q164 reports it, q203 scores it (Newman modularity) and q357
    * audits its conductance. The result is pinned by the fixpoint's
    * last checkpoint; like every [[T.memo]] entry it lives until the
    * session's substrates are dropped, which releases that checkpoint
    * too. */
  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"lpa_labels:$d") {
      labelPropagation(coocEdges(s, d), coocDeg(s, d),
        dirOpt = Some(coocDir(s, d)))
    }

  /** Distinct customer→part purchase incidences (c, p) — q212's
    * bipartite substrate, memoized + persisted: scanned twice per HITS
    * iteration. One orders⋈lineitem keyed join + distinct; at 100 TB
    * this is the materialized incidence table a real deployment builds
    * once next to the cooc edge table. */
  private[graft] def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"bipartite_edges:$d") {
      T.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("c"))
        .join(T.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), "o_orderkey")
        .select(col("c"), col("p")).distinct()
        // cached hash-partitioned + sorted on `p`: each HITS
        // iteration's FIRST hop joins on p, as does q212's
        // post-fixpoint hub recomputation — those |E|-row exchanges
        // and sorts collapse into the one cache materialization.
        // Measured r20 (paired, sf0.1, min-of-3): p-layout + single
        // orientation 6.65 s; NO layout 8.26 s; p-layout + a second
        // c-partitioned copy (r19's bipartiteEdgesByC) 8.12 s — the
        // second orientation was a net LOSS (VERDICT r19 #4 confirmed)
        // and was dropped, while this one layout is a clear win.
        .repartition(col("p")).sortWithinPartitions(col("p"))
        .persist(MEMORY_AND_DISK)
    }

  /** Doubled-rank median + MAD per key, VALUE-BAND DECOMPOSED — the
    * shared machinery behind q100/q211 (round 12: both used to rank
    * raw corpus-grain rows in windows partitioned on a ≤|types|- /
    * ≤k-value key, the exact single-task-sort shape the r11 verdict
    * retired from q230). med2 = v[r1] + v[r2] (r1 = (n+1) div 2,
    * r2 = (n+2) div 2 — twice the interpolated median, integer-exact
    * for any parity); dv = |2v − med2|; mad4 likewise on dv (4× MAD).
    * Every window here runs over the (key, value) BAND table —
    * distinct quantized values, bounded by the value domain, not the
    * corpus — and the rank-r value is the smallest band with
    * cumulative count ≥ r. Deviation bands re-aggregate after the
    * |keys|-row med join (two values can share a dv). Returns
    * (key, n, med2, mad4); semantics identical to the row-rank form,
    * so the DuckDB oracles replay row_number unchanged. */
  private[graft] def bandedMedMad2(rows: DataFrame, key: String,
      v: String): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val bands = rows.groupBy(col(key), col(v)).agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col(key)).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = bands.withColumn("cum", sum($"c").over(wc))
      .withColumn("n", sum($"c").over(Window.partitionBy(col(key))))
      .groupBy(col(key))
      .agg(max($"n").cast("bigint").as("n"),
        (min(when($"cum" >= expr("(n + 1) div 2"), col(v))) +
          min(when($"cum" >= expr("(n + 2) div 2"), col(v)))).as("med2"))
    val dbands = bands.join(broadcast(med), Seq(key))
      .select(col(key), abs(col(v) * 2 - $"med2").as("dv"), $"c")
      .groupBy(col(key), $"dv").agg(sum($"c").as("c"))
    val wc2 = Window.partitionBy(col(key)).orderBy($"dv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dbands.join(broadcast(med), Seq(key))
      .withColumn("cum", sum($"c").over(wc2))
      .groupBy(col(key))
      .agg(max($"n").as("n"), max($"med2").as("med2"),
        (min(when($"cum" >= expr("(n + 1) div 2"), $"dv")) +
          min(when($"cum" >= expr("(n + 2) div 2"), $"dv"))).as("mad4"))
  }

  /** HITS authority scores on a bipartite incidence list `be` (c, p) —
    * q212's core, factored so HitsPropertySpec can drive it over
    * random bipartite graphs against a sequential reference. Auth-only
    * two-hop power iteration (auth' ∝ AᵀA·auth), max-normalized to
    * 1e6 ppm per step with floor division on non-negative values, run
    * to the house integer fixpoint (first repeated state, capped).
    * Returns (v, p) = (part, auth_ppm). */
  private[graft] def hitsAuthPpm(be: DataFrame,
      maxIters: Int = 16): DataFrame = {
    val s = be.sparkSession
    import s.implicits._
    // both hops join the SAME incidence list `be` (first on p, then on
    // c). r19 added a second c-partitioned cached copy for the second
    // hop; the r20 paired A/B measured it a net LOSS (8.12 s with vs
    // 6.65 s without — the extra materialization cost more than the
    // per-iteration exchange it saved, confirming VERDICT r19 #4), so
    // the per-iteration (c, h) state simply re-exchanges `be` or is
    // broadcast by AQE, whichever the runtime sizes pick.
    val init = be.select($"p".as("v")).distinct()
      .select($"v", lit(1000000L).as("p"))
    def step(pdf: DataFrame): DataFrame = {
      val h = be.join(pdf.toDF("p", "a"), "p")
        .groupBy($"c").agg(sum($"a").as("h"))
      val sc = be.join(h, "c")
        .groupBy($"p").agg(sum($"h").as("sp"))
      val mx = sc.agg(max($"sp").as("mx"))
      sc.crossJoin(broadcast(mx))
        .select($"p".as("v"), expr("(sp * 1000000L) div mx").as("p"))
    }
    // realSizeStats = false: see freshLocalCheckpoint's scaladoc — the
    // two-hop chain re-plans WORSE under a statically-broadcast state
    iterateToFixpointPpm(init, maxIters, tolPpm = 1L,
      realSizeStats = false)(step)
  }

  /** PERSONALIZED PageRank [Jeh & Widom, WWW'03] — q161's core:
    * teleport mass returns only to `probes` (one column `v`), so the
    * stationary mass ranks vertices by proximity to the seed set.
    * Same integer recurrence and modes as [[pageRankPpm]] with a
    * sparse teleport: p0 = 1e6 div n_p on probes (0 elsewhere),
    * p'(v) = [v∈probes]·(150000 div n_p) + (850000·Σ c) div 1e6. The
    * probe table is data-scaling, so teleport lands via a LEFT join
    * on the vertex key — never a broadcast hint; only the 1-row n_p
    * scalar is crossJoin(broadcast). Returns (v, ppr_ppm). */
  private[graft] def personalizedPageRankPpm(e: DataFrame, degIn: DataFrame,
      probesIn: DataFrame, iters: Int = -1, maxIters: Int = 32,
      dirOpt: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val dir = dirOpt.getOrElse(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
    val deg = degIn.toDF("u", "deg")
    val probes = probesIn.toDF("v").select($"v", lit(1L).as("t"))
    val nP = probes.agg(count(lit(1)).as("n_p"))
    val init = deg.toDF("v", "deg")
      .join(probes, Seq("v"), "left")
      .crossJoin(broadcast(nP))
      .select($"v",
        when($"t".isNotNull, expr("1000000L div n_p")).otherwise(lit(0L)).as("p"))
    def step(p: DataFrame): DataFrame = {
      val contrib = p.join(deg.toDF("v", "deg"), "v")
        .select($"v".as("u"), expr("p div deg").as("c"))
      dir.join(contrib, "u")
        .groupBy($"v").agg(sum($"c").as("sc"))
        .join(probes, Seq("v"), "left")
        .crossJoin(broadcast(nP))
        .select($"v",
          (when($"t".isNotNull, expr("150000L div n_p")).otherwise(lit(0L)) +
            expr("(850000L * sc) div 1000000L")).as("p"))
    }
    val out =
      if (iters > 0) (1 to iters).foldLeft(init)((p, _) => step(p))
      else iterateToFixpointPpm(init, maxIters)(step)
    out.select($"v", $"p".as("ppr_ppm"))
  }

  /** Weighted degree table (u, wdeg) of a weighted pair list. */
  private[graft] def weightedDegree(cooc: DataFrame): DataFrame = {
    val s = cooc.sparkSession
    import s.implicits._
    cooc.select($"a".as("u"), $"cooc")
      .unionAll(cooc.select($"b".as("u"), $"cooc"))
      .groupBy($"u").agg(sum($"cooc").as("wdeg"))
  }

  /** Directed weighted edges with the source's weighted degree
    * attached ONCE — (u, v, cooc, wdeg) — so each weighted-PageRank
    * iteration joins only the p table against it. */
  private[graft] def weightedDirected(cooc: DataFrame, wdeg: DataFrame): DataFrame = {
    val s = cooc.sparkSession
    import s.implicits._
    cooc.select($"a".as("u"), $"b".as("v"), $"cooc")
      .unionAll(cooc.select($"b".as("u"), $"a".as("v"), $"cooc"))
      .join(wdeg, "u")
  }

  /** Integer-exact WEIGHTED PageRank over a weighted undirected pair
    * list — q162's core; PageRankPropertySpec drives it over random
    * weighted graphs against a sequential reference. `cooc` holds
    * each undirected edge once as (a, b, cooc) with positive integer
    * weight; contribution mass splits proportionally to edge weight:
    * c(u→v) = (p(u)·w(u,v)) div W(u) with W(u) = Σ_v w(u,v) the
    * weighted degree — the natural centrality for a co-occurrence
    * graph, where a 1000-co-order edge should carry 1000× the
    * endorsement of a 1-co-order edge. Same teleport and ppm floors
    * as [[pageRankPpm]]; p·w stays inside int64 while max edge weight
    * ≤ 9·10¹² (p ≤ ~10⁶ ppm), far past any real co-order count.
    * `iters > 0` = fixed unrolled depth (property-spec mode);
    * `iters = -1` = iterate to the ppm fixpoint (declared q162 mode).
    * `pre` supplies prebuilt (dw, wdeg) substrates (the production
    * path passes the memoized persisted ones; the spec path builds
    * unpersisted plans). Returns (v, wpr_ppm). */
  private[graft] def weightedPageRankPpm(cooc: DataFrame, iters: Int = -1,
      pre: Option[(DataFrame, DataFrame)] = None,
      maxIters: Int = 32): DataFrame = {
    val s = cooc.sparkSession
    import s.implicits._
    val (dw, wdeg) = pre.getOrElse {
      // derived-substrate path (q331's word graph, the property
      // specs): materialize ONCE instead of re-deriving the
      // weighted-degree agg and the directed union inside every
      // iteration's plan — 12 iterations used to re-run both from the
      // cooc frame each round. layoutLocalCheckpoint claims the
      // u-hash layout for real (r20: a plain localCheckpoint after a
      // repartition reports UnknownPartitioning under AQE — the r19
      // "reads the checkpointed layout exchange-free" comment here was
      // plan-false) and supplies the true materialized size, so each
      // round's join either broadcasts the small state or reuses the
      // claimed layout — never re-exchanges the |E| side.
      val s2 = cooc.sparkSession
      val n = s2.conf.get("spark.sql.shuffle.partitions").toInt
      val w = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(weightedDegree(cooc))
      val dwp = org.apache.spark.sql.graft.FreshCheckpoint
        .layoutLocalCheckpoint(weightedDirected(cooc, w), Seq("u"), n)
      (dwp, w)
    }
    val nV = wdeg.agg(count(lit(1)).as("n_v"))
    val init = wdeg.crossJoin(broadcast(nV))
      .select($"u".as("v"), expr("1000000L div n_v").as("p"))
    def step(p: DataFrame): DataFrame =
      dw.join(p.toDF("u", "p"), "u")
        .select($"v", expr("(p * cooc) div wdeg").as("c"))
        .groupBy($"v").agg(sum($"c").as("sc"))
        .crossJoin(broadcast(nV))
        .select($"v",
          (expr("150000L div n_v") + expr("(850000L * sc) div 1000000L")).as("p"))
    val out =
      if (iters > 0) (1 to iters).foldLeft(init)((p, _) => step(p))
      else iterateToFixpointPpm(init, maxIters)(step)
    out.select($"v", $"p".as("wpr_ppm"))
  }

  /** Memoized weighted-degree substrate of the cooc graph. */
  private[graft] def coocWdeg(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_wdeg:$d") {
      weightedDegree(coocPairs(s, d)).persist(MEMORY_AND_DISK)
    }

  /** Memoized directed-weighted-edge substrate (scanned once per
    * weighted-PageRank iteration). Cached UNPARTITIONED — the coocDir
    * rule: r19 pinned this cache's layout on `u` and its bench line
    * regressed 22% under full-bench pressure (VERDICT r19 #3); the
    * pinned layout commits each iteration's join to sort-merge, while
    * the unpinned cache lets AQE broadcast the small per-round state
    * over an exchange-free cache scan (r20 paired A/B, min-of-3:
    * q327 4.53 → 4.30 s, q162 3.39 → 2.63 s unpinned — the extra
    * shuffle bytes the pin saved, 105 vs 95 MB, did not buy time). */
  private[graft] def coocDw(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_dw:$d") {
      weightedDirected(coocPairs(s, d), coocWdeg(s, d)).persist(MEMORY_AND_DISK)
    }

  /** Per-vertex triangle counts over an undirected edge list — the
    * core of q138, factored so TrianglePropertySpec can drive it over
    * arbitrary random graphs (the orientation tie-break is the subtle
    * part). `e` holds each undirected edge exactly once as (a, b) in
    * either column order; `deg` is the (v, deg) degree table of the
    * same graph. Returns (v, deg, triangles) with one row per vertex
    * in `deg` (triangle-free vertices included at 0).
    *
    * Algorithm [Suri & Vassilvitskii, WWW'11 + adjacency
    * intersection]: orient each edge lower-(deg, id) → higher — a
    * total order, so out-degree is O(√m) regardless of hub degree —
    * then a triangle's orientation is always a DAG low→{mid, high},
    * mid→high, and it is found exactly once, at its (low, mid) edge,
    * as high ∈ N⁺(low) ∩ N⁺(mid): one sorted-array `array_intersect`
    * per edge row. ed/adj want persisting (the GraphX "cache the
    * graph" move): ed is referenced three times (probe + both
    * adjacency sides) and adj twice — without a persist each reference
    * re-runs the orientation joins (exchange reuse dedupes only the
    * leaf shuffles, not the join subtrees). The PRODUCTION path (q138)
    * supplies the memoized session substrates [[coocOrientedEdges]] /
    * [[coocOrientedAdj]] via [[triangleCountsOn]]; this entry builds
    * them UNPERSISTED for the property spec's tiny random graphs, so
    * test runs leak no storage blocks. Sinks (out-degree 0) drop from
    * the second join, which is exact: an empty N⁺ intersects to
    * nothing. */
  private[graft] def triangleCounts(e: DataFrame, deg: DataFrame): DataFrame = {
    val ed = orientEdges(e, deg)
    triangleCountsOn(ed, orientedAdjacency(ed), deg)
  }

  /** Degree-orientation of an undirected edge list: each (a, b) edge
    * becomes (u, w) with u the lower endpoint under the (deg, id)
    * total order — out-degree is O(√m) regardless of hub degree. */
  private[graft] def orientEdges(e: DataFrame, deg: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("u"), $"b".as("w")))
          .otherwise(struct($"b".as("u"), $"a".as("w"))).as("x"))
      .select($"x.u", $"x.w")
  }

  /** Sorted out-neighbor arrays (u, ns) of an oriented edge list. */
  private[graft] def orientedAdjacency(ed: DataFrame): DataFrame =
    ed.groupBy(col("u")).agg(sort_array(collect_list(col("w"))).as("ns"))

  /** Oriented edge substrate of the cooc graph — memoized + persisted
    * once per session (consumed 3× within q138's single plan). */
  private[graft] def coocOrientedEdges(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_ed:$d") {
      orientEdges(coocEdges(s, d), coocDeg(s, d)).persist(MEMORY_AND_DISK)
    }

  /** Sorted adjacency substrate of the cooc graph (2× per q138 plan). */
  private[graft] def coocOrientedAdj(s: SparkSession, d: String): DataFrame =
    T.memo(s, s"cooc_adj:$d") {
      orientedAdjacency(coocOrientedEdges(s, d)).persist(MEMORY_AND_DISK)
    }

  /** Isotonic (non-decreasing weighted least-squares) fit over a
    * BOUNDED (bin, n, x) table, in floored ppm — the minimax
    * characterization of PAVA: fitted_i = max_{j≤i} min_{k≥i}
    * avg(j..k). Floor commutes with min/max (monotone), so these are
    * exactly the floors of the rational PAVA solution; equality with a
    * sequential PAVA reference is property-tested
    * (IsotonicPropertySpec). Caller guarantees bins are BOUNDED (≤ a
    * few hundred): intervals are O(bins²), triples O(bins³). */
  private[graft] def isotonicFitPpm(bins: DataFrame): DataFrame = {
    val s = bins.sparkSession
    import s.implicits._
    val wp = Window.orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("cn", sum($"n").over(wp))
      .withColumn("cx", sum($"x").over(wp))
    // both non-equi joins broadcast the bin-bounded side explicitly —
    // unhinted, the planner falls back to a CartesianProduct
    val iv = pre.select($"bin".as("j"), $"n".as("nj"), $"x".as("xj"),
        $"cn".as("cnj"), $"cx".as("cxj"))
      .join(broadcast(pre.select($"bin".as("k"), $"cn".as("cnk"),
        $"cx".as("cxk"))), $"j" <= $"k")
      .select($"j", $"k",
        expr("(cxk - (cxj - xj)) * 1000000L div (cnk - (cnj - nj))")
          .as("avg_ppm"))
    bins.select($"bin")
      .join(broadcast(iv), $"j" <= $"bin" && $"k" >= $"bin")
      .groupBy($"bin", $"j").agg(min($"avg_ppm").as("mn"))
      .groupBy($"bin").agg(max($"mn").as("iso_ppm"))
  }

  /** Oriented triangle enumeration (u, w, z): each undirected triangle
    * exactly once — for each degree-ordered edge (u, w), every common
    * out-neighbor z closes one, via the sorted-adjacency intersection.
    * The Suri–Vassilvitskii shape shared by q138/q263/q266: out-degree
    * is O(√m) under the (deg, id) orientation, so wedge fan-out at a
    * hub is bounded regardless of hub degree — the property an
    * id-oriented wedge self-join does NOT have. */
  private[graft] def orientedTriangles(ed: DataFrame, adj: DataFrame): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    ed.join(adj.toDF("u", "nu"), "u")
      .join(adj.toDF("w", "nw"), "w")
      .select($"u", $"w",
        explode(array_intersect($"nu", $"nw")).as("z"))
  }

  /** Triangle closure over prebuilt orientation substrates — the core
    * [[triangleCounts]] and q138 share; persist lifecycle is the
    * CALLER's (memoized substrates in production, unpersisted plans in
    * the property spec). */
  private[graft] def triangleCountsOn(ed: DataFrame, adj: DataFrame,
                                      deg: DataFrame): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    val tri = orientedTriangles(ed, adj)
    val perV = tri.select(explode(array($"u", $"w", $"z")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("tri"))
    deg.join(perV, Seq("v"), "left")
      .select($"v", $"deg", coalesce($"tri", lit(0L)).as("triangles"))
  }

  /** Common-neighbor / Jaccard link prediction over [[coocPairs]] for
    * a 2% content-hash probe set (the q59 rule — replay-stable), with
    * an optional SKEW-RELATIVE frontier degree cap.
    *
    * `capped = true`: BOTH hops expand only each vertex's strongest
    * edges (cooc DESC, id ASC — a total order, so the capped adjacency
    * is deterministic and engine-portable), truncated at
    * cap = max(64, (3·|E|) div |V|) — 1.5× the mean degree, ≈ the p99
    * degree on this corpus. The cap is DATA-DERIVED, not a constant:
    * it binds only on skew outliers (a 10^6-degree hub in a
    * mean-degree-100 graph expands just its ~150 strongest edges,
    * killing the deg² second-hop blowup [Sarma et al.]), while the
    * typical vertex keeps its full neighborhood — a constant cap below
    * the mean degree was measured at overlap@5 ≈ 0.18 vs exact on
    * this graph, i.e. it rewrites the answer; the skew-relative form
    * is the shippable one (q160 measures it). Per-probe cost is
    * ≤ cap² = O((|E|/|V|)²): bounded by graph DENSITY, immune to
    * individual hub degree. cn on the capped adjacency is a lower
    * bound of the exact count; the Jaccard denominator keeps EXACT
    * degrees, so capped scores are conservative.
    *
    * Shape: the cap is a 1-row broadcast scalar; the per-vertex
    * strength rank is a window keyed on u (|E| keyed work, the same
    * cost class as the degree table — the rank filter can't compile
    * to WindowGroupLimit because the limit is a column, which is why
    * the rank rides the SAME u-partitioning the degree agg needs
    * anyway); the final per-probe top-5 is a literal limit and DOES
    * compile to WindowGroupLimit. */
  private def linkPred(s: SparkSession, d: String, capped: Boolean): DataFrame = {
    graft.GraftExtensions.ensureRegistered(s)
    val cooc = coocPairs(s, d)
    val deg = coocDeg(s, d).toDF("u", "deg")
    // the two-hop expansion reads the adjacency twice per plan, and
    // q160 shares the capped arm's substrate with q150 — memoized per
    // (session, dir, capped) like the other graph substrates
    val adj = T.memo(s, s"cooc_linkadj_$capped:$d") {
      linkAdjacency(cooc, deg, capped).persist(MEMORY_AND_DISK)
    }
    linkPredCore(cooc, deg, capped, probeMod = 50, adjOpt = Some(adj))
  }

  /** The (optionally skew-capped) directed adjacency the two-hop
    * expansion walks — see [[linkPred]] for the cap rule. */
  private[graft] def linkAdjacency(cooc: DataFrame, deg: DataFrame,
                                   capped: Boolean): DataFrame = {
    val s = cooc.sparkSession
    import s.implicits._
    val dirw = cooc.select($"a".as("u"), $"b".as("v"), $"cooc")
      .unionAll(cooc.select($"b".as("u"), $"a".as("v"), $"cooc"))
    if (capped) {
      val capRow = cooc.agg(count(lit(1)).as("n_e"))
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_v"))))
        .select(greatest(expr("(3L * n_e) div n_v"), lit(64L)).as("cap"))
      dirw.withColumn("rn", row_number().over(
          Window.partitionBy($"u").orderBy($"cooc".desc, $"v")).cast("bigint"))
        .crossJoin(broadcast(capRow))
        .filter($"rn" <= $"cap").select($"u", $"v")
    } else dirw.select($"u", $"v")
  }

  /** The [[linkPred]] pipeline over an explicit weighted pair list —
    * factored so LinkPredPropertySpec can drive it over random graphs
    * against a brute-force common-neighbor/Jaccard reference
    * (`probeMod = 1` makes every vertex a probe). `cooc` holds each
    * undirected edge once as (a, b, cooc); `deg` is the (u, deg)
    * degree table of the same graph. */
  private[graft] def linkPredCore(cooc: DataFrame, deg: DataFrame,
                                  capped: Boolean, probeMod: Int,
                                  adjOpt: Option[DataFrame] = None): DataFrame = {
    val s = cooc.sparkSession
    import s.implicits._
    val e = cooc.select($"a", $"b")
    // both two-hop sides read the adjacency; the production path
    // ([[linkPred]]) passes the memoized persisted substrate so the
    // rank window (capped) / reprojection (exact) runs once per plan
    // and no per-call storage blocks leak; the property-spec path
    // builds an unpersisted plan (tiny graphs, recompute is free)
    val adj = adjOpt.getOrElse(linkAdjacency(cooc, deg, capped))
    val probes = deg.select($"u")
      .filter(pmod(graft.functions.PortableHash.h60($"u"), lit(probeMod)) === 0)
    val cand = probes.join(adj, "u").select($"u".as("a"), $"v".as("m"))
      .join(adj.toDF("m", "b"), "m")
      .filter($"a" =!= $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("cn"))
      .join(e.toDF("lo", "hi"),
        least($"a", $"b") === $"lo" && greatest($"a", $"b") === $"hi",
        "left_anti")
    cand
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
      .select($"a".as("part"), $"b".as("cand"), $"cn",
        expr("cn * 1000000L div (da + db - cn)").as("jaccard_ppm"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"part").orderBy($"jaccard_ppm".desc, $"cn".desc, $"cand"))
        .cast("bigint"))
      .filter($"rn" <= 5)
      .select($"part", $"cand", $"cn", $"jaccard_ppm", $"rn")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections -------------------------------
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1999-12-31").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          Exact.sumMoney($"l_extendedprice").as("sum_base_price"),
          Exact.sumRevenue($"l_extendedprice", $"l_discount").as("sum_disc_price"),
          Exact.sumCharge($"l_extendedprice", $"l_discount", $"l_tax").as("sum_charge"),
          round(avg($"l_quantity"), 4).as("avg_qty"),
          round(avg($"l_extendedprice"), 4).as("avg_price"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    "q02_filter_project" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate".between(lit("1996-01-01").cast("timestamp"),
                                      lit("1996-12-31").cast("timestamp")) &&
                $"l_discount".between(0.02, 0.08) && $"l_quantity" < 10)
        .select($"l_orderkey", $"l_linenumber".cast("bigint").as("l_linenumber"),
          round($"l_extendedprice" * (lit(1) - $"l_discount"), 2).as("net_price"),
          year($"l_shipdate").cast("bigint").as("ship_year"))
    }),

    // ---- joins -------------------------------------------------------
    "q03_shipping_priority" -> ((s, d) => {
      import s.implicits._
      val cust = T.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      val ord  = T.orders(s, d).filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val li   = T.lineitem(s, d).filter($"l_shipdate" > lit("1997-01-01").cast("timestamp"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"o_orderkey", $"o_orderdate".cast("date").as("o_orderdate"), $"o_orderpriority")
        .agg(Exact.sumRevenue($"l_extendedprice", $"l_discount").as("revenue"))
        .filter($"revenue" > 300000.0)
    }),

    "q04_exists_semi_join" -> ((s, d) => {
      import s.implicits._
      // EXISTS via a single orders scan: join once, keep distinct
      // qualifying orders, then aggregate — equivalent to the semi join
      // but with one orders shuffle instead of two.
      T.lineitem(s, d)
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .select($"o_orderkey", $"o_orderpriority")
        .distinct()
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    "q05_local_supplier_volume" -> ((s, d) => {
      import s.implicits._
      val asia = T.region(s, d).filter($"r_name" === "ASIA")
      val nat  = T.nation(s, d).join(broadcast(asia), $"n_regionkey" === $"r_regionkey")
      val cust = T.customer(s, d).join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      val ord  = T.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
                $"o_orderdate" <  lit("1999-01-01").cast("timestamp"))
      val supp = T.supplier(s, d)
      // customer/supplier scale with data — no broadcast hints; AQE
      // picks shuffle joins on their keys at scale.
      T.lineitem(s, d)
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .join(supp, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .groupBy($"n_name")
        .agg(Exact.sumRevenue($"l_extendedprice", $"l_discount").as("revenue"))
    }),

    "q06_revenue_forecast" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
                $"l_discount".between(0.03, 0.07) && $"l_quantity" < 25)
        .agg(Exact.sumPriceTimesDisc($"l_extendedprice", $"l_discount").as("revenue"))
    }),

    "q07_nation_volume" -> ((s, d) => {
      import s.implicits._
      val n1 = T.nation(s, d).select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
      val n2 = T.nation(s, d).select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
      T.lineitem(s, d)
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n1), $"c_nationkey" === $"ck")
        .join(broadcast(n2), $"s_nationkey" === $"sk")
        .filter($"cust_nation".isin("NATION_1", "NATION_2") &&
                $"supp_nation".isin("NATION_3", "NATION_4"))
        .groupBy($"cust_nation", $"supp_nation",
                 year($"l_shipdate").cast("bigint").as("l_year"))
        .agg(Exact.sumRevenue($"l_extendedprice", $"l_discount").as("volume"))
    }),

    "q08_customer_order_stats" -> ((s, d) => {
      import s.implicits._
      val ord = T.orders(s, d)
      T.customer(s, d)
        .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey", $"c_name", $"c_mktsegment")
        .agg(
          count($"o_orderkey").as("n_orders"),
          coalesce(Exact.unitsToMoney(sum(Exact.cents($"o_totalprice")), 100L), lit(0.0)).as("total_spent"),
          round(coalesce(max($"o_totalprice"), lit(0.0)), 2).as("max_order"))
    }),

    "q22_full_outer" -> ((s, d) => {
      import s.implicits._
      val c = T.customer(s, d).groupBy($"c_nationkey".as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val p = T.supplier(s, d).groupBy($"s_nationkey".as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(p, $"nk_c" === $"nk_s", "full_outer")
        .select(
          coalesce($"nk_c", $"nk_s").cast("bigint").as("nationkey"),
          coalesce($"n_cust", lit(0L)).as("n_cust"),
          coalesce($"n_supp", lit(0L)).as("n_supp"))
    }),

    // ---- salted join (skew-handling on the JOIN side) ---------------
    // The join-side analog of q48's salted aggregation: a hot join key
    // (one customer owning a disproportionate share of orders) makes
    // one reducer own the whole key in a plain shuffle join. Salting
    // splits every key across S=8 reducers: the fact side gets a
    // deterministic salt, the dim side is replicated ×S (explode of a
    // literal sequence — S× a SMALL table, never the fact), and the
    // join carries (key, salt). Result identical to the plain join —
    // the oracle states the plain join. AQE's skew-join handles this
    // adaptively; the explicit form works on any engine and bounds the
    // largest reduce-side group by construction.
    "q71_salted_join" -> ((s, d) => {
      import s.implicits._
      val S = 8
      val ord = T.orders(s, d)
        .withColumn("salt", pmod($"o_orderkey", lit(S)).cast("int"))
      val cust = T.customer(s, d)
        .select($"c_custkey", $"c_mktsegment",
          explode(sequence(lit(0), lit(S - 1))).as("salt"))
      ord.join(cust, ord("o_custkey") === cust("c_custkey")
          && ord("salt") === cust("salt"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney($"o_totalprice").as("revenue"))
    }),

    // ---- temporal graph churn across order-date epochs --------------
    // The TIME dimension of the graph family: the co-purchase graph is
    // not static, and retraining cadence for everything built on it
    // (CF similarity q146, communities q164, PageRank q145) should be
    // driven by measured edge churn, not a calendar guess. The order
    // timespan splits at its data-derived midpoint; each epoch builds
    // its own edge set (two half-corpus pair shuffles — the honest
    // cost; at 100 TB these are incremental daily edge tables, q168's
    // pattern); a full-outer edge join classifies added / removed /
    // persisted, and per-part churn_ppm is the retraining signal.
    "q199_graph_epoch_churn" -> ((s, d) => {
      import s.implicits._
      val mid = T.orders(s, d)
        .agg(min($"o_orderdate").as("d0"), max($"o_orderdate").as("d1"))
        .select(expr("date_add(d0, CAST((datediff(d1, d0) div 2) AS INT))")
          .as("mid"))
      val lo = T.lineitem(s, d)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p"))
        .join(T.orders(s, d)
          .select($"o_orderkey".as("o"), $"o_orderdate".as("dt")), "o")
        .crossJoin(broadcast(mid))
      def edges(first: Boolean) = orderPairAgg(
        lo.filter(if (first) $"dt" < $"mid" else $"dt" >= $"mid")
          .select($"o", $"p").distinct())
        .select($"a", $"b")
      val cl = edges(first = true).withColumn("o1", lit(1L))
        .join(edges(first = false).withColumn("o2", lit(1L)),
          Seq("a", "b"), "full_outer")
        .select($"a", $"b",
          when($"o1".isNotNull && $"o2".isNotNull, "persisted")
            .when($"o1".isNotNull, "removed").otherwise("added").as("st"))
      cl.select(explode(array($"a", $"b")).as("part"), $"st")
        .groupBy($"part")
        .agg(sum(when($"st" === "persisted", 1L).otherwise(0L))
            .as("n_persisted"),
          sum(when($"st" === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when($"st" === "removed", 1L).otherwise(0L)).as("n_removed"))
        .withColumn("churn_ppm", expr("(n_added + n_removed) * 1000000L " +
          "div (n_persisted + n_added + n_removed)"))
    }),

    // ---- skew-audited salt factor (the q71 loop closed) -------------
    // q71 salts with a FIXED S=8; this derives S from the measured
    // key-frequency skew — the acceptance-loop rule (q163/q165/q175:
    // an audit exists to pick the config, not to be shelved). One
    // key-grain agg measures max/mean key frequency; S = the max/mean
    // ratio clamped to [2, 16] (skew 1 → minimal salting, a hot key
    // owning ×16 the mean gets 16-way splitting — bounding the
    // largest reduce-side group NEAR the mean by construction). The
    // join result is S-invariant (the oracle states the plain join +
    // the same integer S formula); S itself is a 1-row scalar for the
    // literal replication sequence, q191's loop-control pattern.
    "q197_salt_derived" -> ((s, d) => {
      import s.implicits._
      val sRow = T.orders(s, d)
        .groupBy($"o_custkey").agg(count(lit(1)).as("c"))
        .agg(expr("least(16L, greatest(2L, " +
          "max(c) div (sum(c) div count(1))))").as("s"))
        .head.getLong(0).toInt
      val ord = T.orders(s, d)
        .withColumn("salt", pmod($"o_orderkey", lit(sRow)).cast("int"))
      val cust = T.customer(s, d)
        .select($"c_custkey", $"c_mktsegment",
          explode(sequence(lit(0), lit(sRow - 1))).as("salt"))
      ord.join(cust, ord("o_custkey") === cust("c_custkey")
          && ord("salt") === cust("salt"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney($"o_totalprice").as("revenue"))
        .withColumn("salt_s", lit(sRow.toLong))
    }),

    // ---- exact moment statistics (single-pass, mergeable) -----------
    // Variance/mean via raw power sums: one hash aggregation computes
    // (n, Σq, Σq²) with map-side partials, and the variance numerator
    // n·Σq² − (Σq)² is derived from the finished sums — the mergeable
    // one-pass shape that replaces a sort-based or two-pass variance at
    // 100 TB. All integer arithmetic (quantities are integral), so the
    // result is engine-exact; at real scale the power sums move to
    // decimal(38,0) (Σq² ~ 2.5e3/row overflows int64 past ~3.7e15
    // rows/group — beyond sf0.1 but not beyond 100 TB).
    "q82_moment_stats" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .select($"l_returnflag", $"l_linestatus", $"l_quantity".cast("long").as("q"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"q").as("sum_q"),
          sum($"q" * $"q").as("sum_q2"))
        .select($"l_returnflag", $"l_linestatus", $"n", $"sum_q", $"sum_q2",
          ($"n" * $"sum_q2" - $"sum_q" * $"sum_q").as("var_num"),
          expr("(sum_q * 1000000L) div n").as("mean_q_ppm"))
    }),

    // ---- analytic window functions: value picks + rank ratios -------
    // first/nth/last value over explicit ROWS frames plus
    // percent_rank/cume_dist — rank-based ratios whose only floating
    // op is a single (rank−1)/(n−1) division (IEEE-identical across
    // engines; no accumulation). The unique (date, key) ordering makes
    // peer groups singletons, so RANGE-vs-ROWS default-frame semantics
    // can't diverge. Partitioned by customer — no global window.
    "q85_window_analytics" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.orders(s, d)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate",
          Exact.cents($"o_totalprice").as("price_c"))
        .select($"o_orderkey", $"o_custkey",
          first($"price_c").over(wRows).as("first_c"),
          nth_value($"price_c", 2).over(wRows).as("second_c"),
          last($"price_c").over(wFull).as("last_c"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }),

    // ---- window functions -------------------------------------------
    "q09_window_topk_per_group" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      T.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
    }),

    "q10_running_total" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.lineitem(s, d)
        .filter(year($"l_shipdate") === 1997)
        .withColumn("running_rev",
          Exact.unitsToMoney(
            sum(Exact.cents($"l_extendedprice") * (lit(100L) - Exact.cents($"l_discount"))).over(w),
            10000L))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber".cast("bigint").as("l_linenumber"),
                $"running_rev")
    }),

    "q11_lag_lead" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      T.orders(s, d)
        .filter($"o_custkey" < 200)
        .select($"o_custkey", $"o_orderkey",
          round(coalesce($"o_totalprice" - lag($"o_totalprice", 1).over(w), lit(0.0)), 2).as("delta_prev"),
          round(coalesce(lead($"o_totalprice", 1).over(w), lit(0.0)), 2).as("next_price"),
          ntile(4).over(w).cast("bigint").as("quartile"))
    }),

    // ---- grouping sets / rollup / cube ------------------------------
    "q12_rollup" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(grouping_id().cast("bigint").as("gid"),
             round(sum($"l_quantity"), 2).as("sum_qty"),
             count(lit(1)).as("n"))
    }),

    "q13_cube" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(grouping_id().cast("bigint").as("gid"),
             count(lit(1)).as("n"),
             Exact.sumMoney($"o_totalprice").as("total"))
    }),

    // ---- set operations ---------------------------------------------
    "q14_set_ops" -> ((s, d) => {
      import s.implicits._
      val building = T.customer(s, d).filter($"c_mktsegment" === "BUILDING").select($"c_custkey".as("k"))
      val bigBuyers = T.orders(s, d).filter($"o_totalprice" > 400000.0)
        .select($"o_custkey".as("k")).distinct()
      building.intersect(bigBuyers).select(lit("intersect").as("tag"), $"k")
        .unionAll(building.except(bigBuyers).select(lit("except").as("tag"), $"k"))
    }),

    // ---- sorts / top-k ----------------------------------------------
    "q15_topk_global" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .limit(100)
    }),

    // ---- aggregation variants ---------------------------------------
    "q16_distinct_agg" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .groupBy($"c_mktsegment")
        .agg(
          countDistinct($"c_nationkey").as("n_nations"),
          count(lit(1)).as("n_cust"),
          round(sum_distinct(round($"c_acctbal", 0)), 1).as("sum_distinct_bal"))
    }),

    "q17_having" -> ((s, d) => {
      import s.implicits._
      T.part(s, d)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_parts"),
             round(avg($"p_retailprice"), 2).as("avg_price"))
        .filter($"n_parts" > 50 && $"avg_price" > 500.0)
    }),

    // ---- subqueries --------------------------------------------------
    "q18_scalar_subquery" -> ((s, d) => {
      import s.implicits._
      // Threshold compare in exact integer space (cents * count vs
      // sum-of-cents * multiplier) — a raw double avg threshold can
      // flip rows within 1 ulp between engines/partition counts.
      // p > avg*1.05  ⟺  cents(p) * 100 * n > sum_cents * 105
      val stats = T.part(s, d)
        .agg(sum(Exact.cents($"p_retailprice")).as("sum_cents"),
             count(lit(1)).as("n"))
      T.part(s, d).join(broadcast(stats))
        .filter(Exact.cents($"p_retailprice") * lit(100L) * $"n" >
                $"sum_cents" * lit(105L))
        .select($"p_partkey", $"p_name", $"p_retailprice")
    }),

    // ---- ordered string aggregation (listagg, Spark 4) --------------
    // The SQL:2016 LISTAGG surface Spark added in 4.0: DISTINCT values
    // concatenated in an explicit WITHIN GROUP order, so the string is
    // deterministic under any partitioning (unordered listagg would
    // flap between runs — same determinism rule as sort_array before
    // collect_list elsewhere in this repo).
    "q121_listagg" -> ((s, d) => {
      T.registerAll(s, d)
      s.sql("""SELECT o_orderpriority,
              |  listagg(DISTINCT o_orderstatus, ',')
              |    WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
              |  count(*) AS n
              |FROM orders GROUP BY o_orderpriority""".stripMargin)
    }),

    // ---- correlated LATERAL join (top-3 per outer row) --------------
    // The per-row-subquery SQL surface: for each nation, the lateral
    // subquery sees that nation's key and returns its top-3 customers
    // by balance. Catalyst decorrelates this into a window-rank over
    // ONE customer shuffle — the same physical plan as q09's top-k per
    // group, so the "subquery per row" reading never executes as N
    // scans; exact cents keep the balance comparison portable.
    "q115_lateral_topk" -> ((s, d) => {
      T.registerAll(s, d)
      s.sql(Relational.lateralTopkText)
    }),

    "q19_anti_join" -> ((s, d) => {
      import s.implicits._
      val o95 = T.orders(s, d)
        .filter(year($"o_orderdate") === 1995).select($"o_custkey")
      T.customer(s, d)
        .join(o95, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_inactive"))
    }),

    // ---- scalar functions -------------------------------------------
    "q20_scalar_funcs" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .filter($"o_orderkey" < 500)
        .select(
          $"o_orderkey",
          upper(substring($"o_orderpriority", 1, 3)).as("pri3"),
          concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_pri"),
          length($"o_orderpriority").cast("bigint").as("pri_len"),
          year($"o_orderdate").cast("bigint").as("yr"),
          month($"o_orderdate").cast("bigint").as("mo"),
          dayofmonth($"o_orderdate").cast("bigint").as("dom"),
          datediff($"o_orderdate", lit("1995-01-01").cast("timestamp")).cast("bigint").as("days_since"),
          round(sqrt($"o_totalprice"), 4).as("sqrt_price"),
          round(log($"o_totalprice"), 4).as("ln_price"),
          round(pow($"o_totalprice", 0.25), 4).as("price_4rt"),
          (abs(ceil($"o_totalprice") - floor($"o_totalprice"))).cast("bigint").as("frac_flag"),
          pmod($"o_orderkey", lit(7)).cast("bigint").as("key_mod7"))
    }),

    // ---- negative-capable money aggregation -------------------------
    // c_acctbal goes negative; the converted sum (rate 0.37, 1e-4
    // units) exercises the d>1 integer-rounding path on negative
    // totals — the pmod/SQL-remainder parity ADVICE r1 flagged.
    "q49_acctbal_by_nation" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .groupBy($"c_nationkey".cast("bigint").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(when($"c_acctbal" < 0, 1).otherwise(0)).cast("bigint").as("n_negative"),
          Exact.sumMoney($"c_acctbal").as("total_balance"),
          Exact.unitsToMoney(sum(Exact.cents($"c_acctbal") * lit(37L)), 10000L)
            .as("converted_balance"))
    }),

    // ---- unpivot / melt (wide → long reshape) -----------------------
    // The inverse of q21: a wide per-flag metrics row melted to
    // (flag, metric, value) long form with the built-in unpivot
    // operator (Spark 3.4+ `Dataset.unpivot`, the MELT plan node).
    // The reshape runs on the already-aggregated 3-row table, so the
    // unpivot itself touches O(groups·metrics) rows regardless of
    // data size — the 100 TB cost is the one hash agg before it.
    "q90_unpivot" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"))
        .unpivot(Array($"l_returnflag"),
          Array($"n_rows", $"n_parts", $"n_supps"), "metric", "val")
    }),

    // ---- exact covariance / correlation numerators ------------------
    // Bivariate statistics in one pass, same mergeable power-sum shape
    // as q82: (n, Σx, Σy, Σxy, Σx², Σy²) from a single hash agg, then
    // cov/var NUMERATORS n·Σxy − Σx·Σy and n·Σx² − (Σx)² derived from
    // the finished sums. x/y are cent-quantized (discount, tax), so
    // everything is exact integer and the map-side partials merge
    // associatively. The float corr = cov/√(vx·vy) is a trivial
    // driver-side post-step; the engine deliverable is the exact
    // sums. At 100 TB the sums move to decimal(38,0) (same note as
    // q82); no division happens here, so no trunc-vs-floor hazard on
    // the possibly-negative covariance.
    "q91_corr_powersums" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .select($"l_returnflag",
          Exact.cents($"l_discount").as("x"), Exact.cents($"l_tax").as("y"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"x").as("sum_x"), sum($"y").as("sum_y"),
          sum($"x" * $"y").as("sum_xy"),
          sum($"x" * $"x").as("sum_x2"), sum($"y" * $"y").as("sum_y2"))
        .select($"l_returnflag", $"n", $"sum_x", $"sum_y", $"sum_xy",
          ($"n" * $"sum_xy" - $"sum_x" * $"sum_y").as("cov_num"),
          ($"n" * $"sum_x2" - $"sum_x" * $"sum_x").as("varx_num"),
          ($"n" * $"sum_y2" - $"sum_y" * $"sum_y").as("vary_num"))
    }),

    // ---- hierarchical percent-of-parent (ratio_to_report) -----------
    // The OLAP share tree: nation revenue as ppm of its region, region
    // revenue as ppm of the grand total — ratio_to_report at two
    // hierarchy levels. The windows (region partition + global) run
    // AFTER the aggregation, over exactly |nation| = 25 rows, so the
    // "global window" is a constant-size post-agg step — the 100 TB
    // work is the one hash agg below it. Shares are exact integer ppm
    // (non-negative, so trunc == floor).
    "q97_pct_of_parent" -> ((s, d) => {
      import s.implicits._
      val wr = Window.partitionBy($"r_name")
      val wall = Window.partitionBy()
      T.orders(s, d).join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(T.nation(s, d), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(T.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum(Exact.cents($"o_totalprice")).as("rev_c"))
        .withColumn("region_rev_c", sum($"rev_c").over(wr))
        .withColumn("total_rev_c", sum($"rev_c").over(wall))
        .select($"r_name", $"n_name", $"rev_c",
          expr("(rev_c * 1000000L) div region_rev_c").as("nation_share_ppm"),
          expr("(region_rev_c * 1000000L) div total_rev_c").as("region_share_ppm"))
    }),

    // ---- ROLLUP hierarchy with grouping_id ---------------------------
    // The GROUPING-SETS member of the aggregation surface (q97 derives
    // the hierarchy shares with windows; this emits the hierarchy
    // ITSELF): revenue at nation, region, and grand-total grain in ONE
    // aggregate via rollup(r_name, n_name) — Catalyst expands to a
    // single Expand + hash agg, so the three grains cost one shuffle,
    // not three scans (the point of the operator at 100 TB).
    // grouping_id disambiguates a real NULL key from a rollup
    // super-aggregate row (0 = leaf, 1 = region subtotal, 3 = grand
    // total — the same bitmask DuckDB's GROUPING() emits). Region dim
    // broadcast (q05's join shape).
    "q352_revenue_rollup" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d).join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(T.nation(s, d), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(T.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .select($"r_name", $"n_name", Exact.cents($"o_totalprice").as("pc"))
        .rollup($"r_name", $"n_name")
        .agg(grouping_id().cast("bigint").as("gid"),
          count(lit(1)).as("n_orders"),
          sum($"pc").cast("bigint").as("rev_c"))
        .select($"r_name", $"n_name", $"gid", $"n_orders", $"rev_c")
    }),

    // ---- pivot -------------------------------------------------------
    "q21_pivot" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select($"o_orderpriority",
          coalesce($"F", lit(0L)).as("F"),
          coalesce($"O", lit(0L)).as("O"),
          coalesce($"P", lit(0L)).as("P"))
    }),

    // ---- graph analytics: triangle count + clustering coefficient ---
    // Over the part co-occurrence graph (parts sharing an order; at
    // sf0.01: 2000 vertices, 116k edges, 414k triangles — a real
    // sparse graph, unlike the complete supplier graph). Per-vertex
    // triangle participation and local clustering coefficient — the
    // density diagnostic for any pairwise-relation graph this engine
    // produces (near-dup candidate graphs especially: a dup cluster's
    // coefficient ≈ 1 distinguishes template families from chains).
    //
    // Shape [Suri & Vassilvitskii, WWW'11]: orient every edge from
    // its lower-(degree, id) endpoint to the higher one — out-degree
    // is then O(√m) REGARDLESS of hub degree (97 vs 222 raw on this
    // graph), so no per-vertex stage ever explodes on a skewed hub (a
    // 10^6-degree vertex holds C(10^6, 2) raw wedges unoriented but
    // only its out-neighborhood oriented). Triangles are then found by
    // ADJACENCY INTERSECTION per oriented edge, not wedge explosion:
    // a triangle's orientation is always a DAG low→{mid,high},
    // mid→high, so it is discovered exactly once, at its (low, mid)
    // edge, as high ∈ N⁺(low) ∩ N⁺(mid) — one sorted-array
    // `array_intersect` per edge row. vs the earlier wedge form
    // (generate all C(outdeg, 2) center pairs, then equi-join the
    // edge list to keep the closed ones) this moves |E| rows carrying
    // O(√m) arrays through two keyed joins instead of shuffling+
    // sorting the FULL WEDGE SET (41M rows at sf0.1, |V|·m/2 in
    // general — strictly more rows than the intersection form's
    // |E|·√m array cells, and every wedge pays shuffle+sort row
    // overhead) — measured 26.4 s → 15.7 s at sf0.1 (cold substrate
    // build included; → ~6 s with the ed/adj persists below). The
    // collect_list
    // per center is bounded by the oriented out-degree, i.e. O(√m) —
    // never a hub's full degree; sinks (out-degree 0) drop from the
    // second join, which is exact: an empty N⁺ intersects to nothing.
    "q138_graph_triangles" -> ((s, d) =>
      triangleCountsOn(coocOrientedEdges(s, d), coocOrientedAdj(s, d),
          coocDeg(s, d))
        .withColumn("coef_ppm",
          when(col("deg") >= 2,
            expr("(triangles * 2000000L) div (deg * (deg - 1))"))
            .otherwise(lit(0L)))
        .withColumnRenamed("v", "part")),

    // ---- PageRank: integer-exact power iteration to the fixpoint ----
    // Link-analysis centrality over the same part co-occurrence graph
    // as q138. All mass lives in ppm-of-total integers: p0 = 1e6/N
    // (floored), each step p'(v) = 150000/N + 0.85·Σ p(u)/deg(u) with
    // every division an identical floor on both engines — so the whole
    // trajectory is bit-reproducible, no float drift. The undirected
    // graph is symmetrized, so deg(u) ≥ 1 everywhere: no dangling-mass
    // special case. Since round 10 the iteration runs TO THE INTEGER
    // FIXPOINT (ppm delta 0; 12 iterations at sf0.01, 3 at sf0.1 —
    // floor truncation kills sub-ppm changes, so the depth is small
    // and data-dependent) with localCheckpoint lineage truncation per
    // step; the DuckDB oracle replays the same trajectory in a
    // recursive CTE with the identical stopping rule.
    //
    // Shape per iteration (the 100 TB question): contributions join
    // the directed edge list on the source key and re-aggregate on the
    // destination — two keyed shuffles of |E| rows, the canonical
    // Pregel/GraphX step expressed relationally, over the persisted
    // [[coocDir]] substrate. Skewed hubs cost what they cost — the
    // contribution per edge is one int, never the neighbor list.
    "q145_pagerank" -> ((s, d) =>
      pageRankPpm(coocEdges(s, d), coocDeg(s, d),
          dirOpt = Some(coocDir(s, d)))
        .withColumnRenamed("v", "part")),

    // ---- weighted PageRank: mass splits by co-occurrence strength ---
    // The weight-aware variant of q145 over the SAME substrate: the
    // co-occurrence graph is weighted (cooc = co-order count), and
    // q145's unweighted walk treats a 1000-co-order edge like a
    // 1-co-order one — this query splits each vertex's outgoing mass
    // proportionally to edge weight (see [[weightedPageRankPpm]]).
    // Shape per iteration: identical to q145 — two keyed |E| shuffles;
    // the weighted-degree join is paid once up front via the memoized
    // persisted [[coocDw]]/[[coocWdeg]] substrates.
    "q162_weighted_pagerank" -> ((s, d) =>
      weightedPageRankPpm(coocPairs(s, d),
        pre = Some((coocDw(s, d), coocWdeg(s, d))))
        .withColumnRenamed("v", "part")),

    // ---- personalized PageRank: probe-seeded teleport ---------------
    // The graph-RETRIEVAL companion to q145's global centrality
    // [Jeh & Widom, WWW'03]: teleport mass returns to the 2%
    // content-hash probe set (q150's replay-stable rule) instead of
    // everywhere, so the stationary mass ranks vertices by proximity
    // to the seeds — the standard graph-expansion signal for
    // retrieval/recommendation from a query set. Same integer-exact
    // recurrence as q145 with a sparse teleport (see
    // [[personalizedPageRankPpm]]) — every division floors identically
    // on both engines, and since round 10 the iteration runs to the
    // ppm fixpoint with the recursive-CTE oracle replaying the same
    // stopping rule.
    //
    // Shape per iteration: identical to q145 (two keyed |E| shuffles —
    // the relational Pregel step) plus a LEFT join against the probe
    // table on the vertex key — probes are |V|/50 (data-scaling, so
    // NO broadcast hint; the equi-join shuffles or AQE broadcasts as
    // stats allow). Only the 1-row n_p scalar is crossJoin(broadcast).
    "q161_personalized_pagerank" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val deg = coocDeg(s, d).toDF("u", "deg")
      val probes = deg.select($"u".as("v"))
        .filter(pmod(graft.functions.PortableHash.h60($"v"), lit(50)) === 0)
      personalizedPageRankPpm(coocEdges(s, d), deg, probes,
          dirOpt = Some(coocDir(s, d)))
        .withColumnRenamed("v", "part")
    }),

    // ---- community detection: synchronous label propagation ---------
    // The missing member of the graph family next to centrality
    // (q145/q161/q162), closure (q138), components (q56) and link
    // prediction (q150): WHICH parts cluster into co-purchase
    // communities. Sync LPA with min-label tie-break (see
    // [[labelPropagation]]) over the same persisted substrates, run to
    // the label fixpoint through the round-10 convergence harness —
    // per iteration one |E| join + a (v,label) count + per-v argmin,
    // all keyed shuffles; the oracle replays the identical trajectory
    // in a recursive CTE with the same first-repeated-state rule.
    "q164_label_propagation" -> ((s, d) =>
      lpaLabels(s, d).withColumnRenamed("v", "part")),

    // ---- k-core decomposition: capped synchronous peeling -----------
    // The cohesion member of the graph family: the k-core is the
    // maximal subgraph where every part co-occurs with ≥k other
    // surviving parts — the standard dense-nucleus extraction before
    // community/centrality work (peripheral vertices distort both).
    // k is DATA-DERIVED (degree-distribution midpoint min+(mean−min)/2,
    // the house data-derived-threshold rule — the dense cooc graph's
    // min degree exceeds any fixed small k, which would make the peel
    // a no-op, and near-mean k collapses it entirely). Capped
    // level-synchronous peeling (see [[kCoreCapped]]; 6 rounds, the
    // cap rule shared with the oracle's fixed unrolling so capped
    // trajectories agree too). Per round: one degree agg + two
    // semi-joins over the shrinking edge set — keyed shuffles only,
    // |E| monotonically decreasing, localCheckpoint-truncated lineage.
    "q191_kcore" -> ((s, d) =>
      kCoreCapped(coocEdges(s, d), -1, 6)
        .withColumnRenamed("v", "part")),

    // ---- modularity score of the LPA partition ----------------------
    // The ACCEPTANCE metric for q164's communities (the audit rule:
    // a clustering you never score is a clustering you can't trust):
    // Newman modularity Q = Σ_c (m_c/m − (D_c/2m)²), reported per
    // community as exact integer ppk contributions — the floor runs
    // through the shifted-numerator form (+K·den before div, −K
    // after) because contributions are SIGNED and Spark's truncating
    // div only equals DuckDB's flooring // on non-negative numerators
    // (the CentroidFloorSpec rule). ppk not ppm: the shift doubles the
    // numerator range and 4m²·1e6 would overflow int64 at sf0.1 —
    // decimal(38) past ~3e8 edges either way. Cost on top of the LPA
    // run: two |E| label joins + a |V| degree join, all keyed.
    "q203_modularity" -> ((s, d) =>
      modularityPpk(coocEdges(s, d), coocDeg(s, d), lpaLabels(s, d))),

    // ---- community conductance audit ----------------------------------
    // [Kannan, Vempala & Vetta JACM'04] the OTHER community-quality
    // dial on q164's labels: modularity (q203) rewards dense insides
    // against a null model, conductance measures the BOUNDARY — φ(C) =
    // cut(C) / min(vol(C), vol(G)−vol(C)), and a community can score
    // well on one and badly on the other (many high-modularity
    // partitions have leaky cuts). Computed entirely from q203's own
    // building blocks via the identity cut(C) = vol(C) − 2·m_in(C)
    // (each internal edge absorbs 2 of the community's degree), so the
    // plan adds NOTHING to the substrate cost: the memoized labels,
    // the per-community (n, vol) agg, the m_in equi-join, one 1-row
    // total scalar. Non-negative floors only (vol ≥ 2·m_in always);
    // whole-graph community (denominator 0) reports φ = 0.
    "q357_conductance_audit" -> ((s, d) => {
      import s.implicits._
      communityStats(coocEdges(s, d), coocDeg(s, d), lpaLabels(s, d))
        .select($"community",
          $"n_vertices".cast("bigint").as("n_vertices"),
          $"m_in".cast("bigint").as("m_in"),
          $"d_tot".cast("bigint").as("vol"),
          ($"d_tot" - $"m_in" * 2L).cast("bigint").as("cut_edges"),
          expr("CASE WHEN least(d_tot, 2 * m_edges - d_tot) = 0 THEN 0L " +
            "ELSE (d_tot - 2 * m_in) * 1000000L " +
            "div least(d_tot, 2 * m_edges - d_tot) END").as("phi_ppm"))
    }),

    // ---- multi-source BFS reach profile -----------------------------
    // How much of the co-purchase graph the probe set (q161's 2%
    // content-hash seeds) reaches per hop, capped at 4 — the
    // graph-expansion diagnostic behind choosing a PPR teleport or a
    // crawl frontier depth (a 2-hop-saturating graph needs no deep
    // walk). Level-synchronous frontier expansion: per hop one keyed
    // |frontier-edges| join + distinct + anti-join against the
    // visited set, localCheckpoint-truncated — the relational BFS
    // step. Unreached vertices report as hop −1. The fixed 4-hop cap
    // is shared with the oracle's unrolling (empty frontiers no-op on
    // both sides, so early saturation agrees too).
    "q195_bfs_hops" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val verts = coocDeg(s, d).select($"v")
      val seeds = verts
        .filter(pmod(graft.functions.PortableHash.h60($"v"), lit(50)) === 0)
      bfsHopProfile(coocDir(s, d), verts, seeds, maxHops = 4)
    }),

    // ---- HyperANF: approximate neighborhood function ----------------
    // [Boldi, Rosa & Vigna, "HyperANF", WWW'11] the WHOLE-GRAPH
    // distance profile q195/q242 can only sample: N(h) = Σ_v |ball_h
    // (v)|, from which closure/effective-diameter reads fall out.
    // Exact N(h) needs |V| BFS passes (q242 probes 8 seeds for this
    // reason); HyperANF carries ONE m=32 HLL register bank per vertex
    // and replaces all of them with H register-max rounds:
    // B_h(v) = max(B_{h-1}(v), max_{(v,w)∈E} B_{h-1}(w)) — the max is
    // exactly HLL union, so B_h(v) estimates |ball_h(v)| with no
    // per-seed anything. State is PACKED: one 32-long array per
    // vertex (0 = empty register; data ranks are ≥ 1), so each round
    // shuffles |E| rows — not |E|·32 register rows — through one
    // keyed join + a 32-column element-wise max agg, localCheckpoint-
    // truncated like every iterative op in the family. Per-vertex
    // estimates are q214's integer-exact m=32 formula (same
    // constants, DECIMAL(38,0) division), summed per hop; closure_ppm
    // rides the q209 DECIMAL template against the hop-4 scalar. At
    // 100 TB this is THE neighborhood-function design: 4 passes over
    // the bucketed edge table with 256 B/vertex of mergeable state,
    // vs |V| BFS frontiers that would each shuffle the corpus.
    "q359_hyperanf" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val dir = coocDir(s, d) // (u, v), both directions present
      val rankCase = "CASE WHEN h % 36028797018963968 = 0 THEN" +
        " CAST(56 AS BIGINT) ELSE CAST(55 -" +
        " (length(bin(h % 36028797018963968)) - 1) AS BIGINT) END"
      // real-size-stats checkpoints (FreshCheckpoint): the register
      // bank is |V| rows × 256 B, and its true materialized size lets
      // the static planner broadcast it under each round's |E| join
      // instead of exchanging the edge side first (the q235 finding);
      // at a scale where the bank outgrows the broadcast threshold the
      // real size correctly reverts the round to the shuffle path
      val fresh = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(_: DataFrame)
      var regs = fresh(coocDeg(s, d).select($"v")
        .withColumn("h", graft.functions.PortableHash.h60($"v"))
        .select($"v", expr(
          "transform(sequence(0, 31), i -> CASE WHEN i =" +
            s" CAST(h div 36028797018963968 AS INT) THEN $rankCase" +
            " ELSE CAST(0 AS BIGINT) END)").as("regs")))
      def nf(r: DataFrame, hop: Int): DataFrame = r
        .select(expr(
          "aggregate(regs, CAST(0 AS BIGINT), (acc, g) -> acc +" +
            " shiftleft(CAST(1 AS BIGINT), CAST(56 - g AS INT)))")
          .as("sreg"))
        .select(expr(
          "(CAST(697000 AS DECIMAL(38,0)) * 1024 * 72057594037927936)" +
            " div (CAST(sreg AS DECIMAL(38,0)) * 1000000)").cast("long")
          .as("est"))
        .agg(sum($"est").cast("bigint").as("nf_est"))
        .select(lit(hop.toLong).as("hop"), $"nf_est")
      val curves = scala.collection.mutable.ArrayBuffer(nf(regs, 0))
      for (h <- 1 to 4) {
        regs = fresh(dir.join(regs.toDF("nb", "regs"), $"v" === $"nb")
          .select($"u".as("v"), $"regs")
          .unionAll(regs)
          .groupBy($"v")
          .agg(array((0 until 32).map(i => max($"regs"(i))): _*)
            .as("regs")))
        curves += nf(regs, h)
      }
      val curve = curves.reduce(_ unionAll _)
      val fin = curve.filter($"hop" === 4L)
        .select($"nf_est".as("nf_final"))
      curve.crossJoin(broadcast(fin))
        .select($"hop", $"nf_est",
          expr("CAST(CAST(nf_est AS DECIMAL(38,0)) * 1000000" +
            " div nf_final AS BIGINT)").as("closure_ppm"))
    }),

    // ---- sampled harmonic centrality --------------------------------
    // [Boldi & Vigna, "Axioms for Centrality", Internet Math'14] —
    // which parts sit closest to EVERYWHERE in the co-purchase graph?
    // Harmonic centrality H(v) = Σ_u 1/d(u,v), estimated from a
    // deterministic 8-seed probe set (the content-hash-smallest
    // vertices — RNG-free, the house sampling rule) with distances
    // capped at 4 hops (q195 shows the graph saturates by then;
    // unreached pairs contribute 0, exactly the harmonic convention
    // for d = ∞). Per-seed distances via [[multiSeedDistances]]
    // (labeled BFS — the shared-visited q195 profile would conflate
    // seeds); the sum is exact integer ppm (1e6 div hop). The seed
    // count is the accuracy/cost knob at 100 TB — 8 labeled BFS
    // passes, each the PageRank cost class; output is |reached|-grain.
    "q242_harmonic_centrality" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val seeds = coocDeg(s, d).select($"v")
        .orderBy(graft.functions.PortableHash.h60($"v").asc, $"v".asc)
        .limit(8)
        .select($"v".as("sd"))
      multiSeedDistances(coocDir(s, d), seeds, maxHops = 4)
        .filter($"hop" >= 1L)
        .groupBy($"v")
        .agg(count(lit(1)).as("n_seeds"),
          sum(expr("1000000 div hop")).cast("bigint").as("h_ppm"))
    }),

    // ---- bounded weighted SSSP (Bellman–Ford relaxation) -------------
    // [Bellman '58; the Δ-stepping family reduces to exactly these
    // synchronous relaxation rounds when run level-synchronously]
    // WEIGHTED shortest distances — the graph family's missing metric:
    // q195/q242 walk HOPS, but "how strongly connected" wants edge
    // costs, here w = 1 + 1024 div cooc (frequent co-purchases are
    // short edges — all integer, engine-identical). From the 4
    // h60-smallest vertices (the house seed rule), 6 synchronous
    // relaxation rounds: dist_{r+1}(sd,v) = min(dist_r(sd,v),
    // min_{(u,v)} dist_r(sd,u) + w). The cap is the determinism
    // contract (both engines replay exactly 6 rounds; the graph's
    // diameter is ~3 so the fixpoint lands earlier, and a no-improve
    // round triggers the early exit — results identical by
    // definition). Scale shape per round: one |E|-row keyed join +
    // one (sd,v) min-agg — the q195 BFS cost class with weights;
    // states are localCheckpoint-truncated; seed count is the knob.
    "q327_weighted_sssp" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      // weighted edges projected off the PERSISTED u-partitioned
      // [[coocDw]] substrate (same (u, v, cooc) multiset — wdeg joins
      // 1:1 by construction) instead of a fresh two-scan union: each
      // of the 6 relaxation rounds joins on `u`, and the projection
      // inherits the cached hash layout + sort, so no round re-scans
      // the bucketed pair table or re-shuffles the |E| rows.
      val ew = coocDw(s, d)
        .select($"u", $"v", (lit(1L) + expr("1024 div cooc")).as("w"))
      val seeds = coocDeg(s, d).select($"v")
        .orderBy(graft.functions.PortableHash.h60($"v").asc, $"v".asc)
        .limit(4).select($"v".as("sd"))
      weightedSsspDistances(ew, seeds, maxRounds = 6)
    }),

    // ---- incremental-view-maintenance retraction audit ----------------
    // [Blakeley+ SIGMOD'86 view maintenance; the Δ-processing rule
    // every CDC-fed aggregate relies on] q168 proves INSERT-only
    // incremental merge; real change feeds also carry UPDATES and
    // DELETES, which maintain an aggregate as RETRACTIONS (−old, +new).
    // This audit runs both paths over the same deterministic CDC log
    // (hash-chosen updates: h60 mod 7 amends the price; hash-chosen
    // deletes: h60 mod 13 removes the CURRENT version) and reports
    // them side by side per priority group: the delta-maintained
    // (Σop, Σop·price) against the direct recompute of the final
    // state, with a consistency bit the oracle gates at 1 — the
    // invariant that lets a 100 TB pipeline apply deltas instead of
    // recomputing. Shape: the delta log is a union of four projections
    // of ONE scan; both paths are single map-side-combinable aggs.
    "q320_ivm_retraction_audit" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val h60 = graft.functions.PortableHash.h60 _
      val f = T.orders(s, d).select(
        $"o_orderpriority".as("pri"),
        graft.functions.Exact.cents($"o_totalprice").as("c"),
        (pmod(h60($"o_orderkey"), lit(7)) === 0).as("u7"),
        (pmod(h60($"o_orderkey"), lit(13)) === 0).as("u13"))
        .localCheckpoint(true) // four delta projections + the recompute
      val deltas = f.select($"pri", lit(1L).as("op"), $"c")
        .unionAll(f.filter($"u7").select($"pri", lit(-1L).as("op"), $"c"))
        .unionAll(f.filter($"u7")
          .select($"pri", lit(1L).as("op"), ($"c" + 10000L).as("c")))
        .unionAll(f.filter($"u13")
          .select($"pri", lit(-1L).as("op"),
            when($"u7", $"c" + 10000L).otherwise($"c").as("c")))
      val inc = deltas.groupBy($"pri")
        .agg(sum($"op").cast("bigint").as("n_inc"),
          sum($"op" * $"c").cast("bigint").as("sum_inc_c"))
      val direct = f.filter(!$"u13")
        .groupBy($"pri")
        .agg(count(lit(1)).as("n_dir"),
          sum(when($"u7", $"c" + 10000L).otherwise($"c")).cast("bigint")
            .as("sum_dir_c"))
      inc.join(direct, Seq("pri"))
        .select($"pri".as("priority"), $"n_inc", $"sum_inc_c",
          $"n_dir", $"sum_dir_c",
          ($"n_inc" === $"n_dir" && $"sum_inc_c" === $"sum_dir_c")
            .cast("long").as("consistent"))
    }),

    // ---- sampled Brandes betweenness centrality ----------------------
    // [Brandes JMS'01; sampled pivots per Brandes & Pich '07] the
    // missing member of the centrality family (q145 PageRank, q212
    // HITS, q235 Katz, q242 harmonic): WHO SITS ON THE SHORTEST
    // PATHS. Exact betweenness is one BFS per vertex — the pivot
    // SAMPLE (h60-smallest seeds) is the standard estimator, and the
    // hop cap (4, q242's) bounds each pass. The seed COUNT is
    // data-derived (VERDICT r16 #7, the q197/q235 acceptance-loop
    // rule): K = clamp(bitlen(|V|) div 2 + 1, 4, 12) — Brandes & Pich
    // '07 put the pivot budget at O(log V) for fixed error, this is
    // that rule with an explicit 12-seed ceiling bounding the 100 TB
    // cost (each seed is one 4-hop BFS + σ/δ sweep); K = 8 at sf0.1
    // (|V| ≈ 20k), replayed identically by the oracle's own
    // length(bin(count(*))) derivation (bin() is unpadded in both
    // engines). Per seed: one FUSED forward level sweep computes the
    // BFS levels and the shortest-path counts σ together (σ_v = Σ σ_u
    // over DAG edges u→v — the frontier expansion with sum in place of
    // distinct; one keyed join + agg per hop), then Brandes'
    // dependency accumulation BACKWARD in ppm fixed-point:
    // δ_v = Σ_w floor(σ_v·(10⁶+δ_w)/σ_w) over DAG edges v→w — floor
    // per term, deterministic and engine-identical (non-negative
    // numerators; measured max σ·(10⁶+δ) ≈ 4.8e12 at sf0.1, far
    // inside int64 — at a corpus where σ outgrows that, the q209
    // DECIMAL(38,0) template slots into the product). Seed vertices
    // are excluded from the report (their self-dependencies are
    // Brandes' discarded v=s terms). Output: top-25 by accumulated
    // bc_ppm. Scale: K seeds × 4 hops × (one |E|-keyed join + agg)
    // forward and backward — the q242 cost class ×2, state ≤
    // |seeds|·|V| longs, no windows, no all-pairs anything.
    "q313_betweenness_sampled" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val dir = coocDir(s, d) // (u, v)
      // K from the memoized degree substrate's row count (|V|): one
      // substrate-priced count, then a driver literal — the oracle
      // re-derives the identical K from its own vertex CTE
      val nV = coocDeg(s, d).count()
      val k = math.min(12, math.max(4,
        (64 - java.lang.Long.numberOfLeadingZeros(nV)) / 2 + 1))
      val seeds = coocDeg(s, d).select($"v")
        .orderBy(graft.functions.PortableHash.h60($"v").asc, $"v".asc)
        .limit(k)
        .select($"v".as("sd"))
        .localCheckpoint(true)
      // FUSED forward sweep (r20, guide §2.4): levels + σ in one job
      // per hop via [[multiSeedSigmaLevels]] — the r19 form
      // materialized the 4-hop distance table first and then re-ran 4
      // more σ jobs semi-joined against it (9+ eager checkpoints for
      // the same per-level frames these 5 produce).
      val sig = multiSeedSigmaLevels(dir, seeds, 4)
      // backward: δ per hop level, deepest first. Real-size-stats
      // checkpoints: each level's δ state is |level|-scale, and its
      // true size lets the static planner broadcast it (and the σ
      // levels) under the per-level |E| join — the q235 finding.
      var del = sig(4).select($"sd", $"v", lit(0L).as("delta")).limit(0)
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (h <- 3 to 0 by -1) {
        val dh = org.apache.spark.sql.graft.FreshCheckpoint
          .freshLocalCheckpoint(sig(h).toDF("sd", "v", "sigv")
            .join(dir.toDF("v", "w"), Seq("v"))
            .join(sig(h + 1).toDF("sd", "w", "sigw"), Seq("sd", "w"))
            .join(del.toDF("sd", "w", "dw"), Seq("sd", "w"), "left")
            .select($"sd", $"v", $"sigv", $"sigw",
              coalesce($"dw", lit(0L)).as("dw"))
            .groupBy($"sd", $"v")
            .agg(sum(expr("sigv * (1000000 + dw) div sigw"))
              .cast("bigint").as("delta")))
        parts += dh
        del = dh
      }
      parts.reduce(_ unionAll _)
        .join(seeds.select($"sd".as("v")), Seq("v"), "left_anti")
        .groupBy($"v")
        .agg(count(lit(1)).as("n_seeds"),
          sum($"delta").cast("bigint").as("bc_ppm"))
        .orderBy($"bc_ppm".desc, $"v".asc)
        .limit(25)
    }),

    // ---- item-item similarity: top-5 co-purchase neighbors ----------
    // The collaborative-filtering kernel: for each part, the 5 most
    // similar parts by normalized co-occurrence,
    // sim ≈ cooc² / (n_a · n_b) (squared cosine over order-incidence
    // vectors), held exact in integers by TWO chained floors
    // ((cooc·1e6 div n_a)·cooc div n_b) — each factor stays ≤ 1e6·cooc
    // so the chain is int64-safe wherever cooc ≤ 1e12 co-orders, far
    // past any real co-purchase count, with identical floor semantics
    // on both engines.
    //
    // Shape: co-occurrence pairs from the per-order self-join (keyed
    // on order, bounded by order width), one (a, b) agg, two plain
    // equi-joins against the per-part order-frequency table (one row
    // per part — a data-scaling dimension, so NO broadcast hint: at
    // 100 TB that table is billions of rows and an explicit hint would
    // OOM the driver; AQE/statistics pick broadcast when it actually
    // fits), and the per-part top-5 compiles to WindowGroupLimit — no
    // global sort, no all-pairs: parts never co-purchased never meet.
    "q146_item_similarity" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d).select($"l_orderkey".as("o"), $"l_partkey".as("p"))
        .distinct()
      val freq = li.groupBy($"p").agg(count(lit(1)).as("n"))
      val cooc = coocPairs(s, d)
      val sym = cooc.select($"a".as("part"), $"b".as("nbr"), $"cooc")
        .unionAll(cooc.select($"b".as("part"), $"a".as("nbr"), $"cooc"))
      val w = Window.partitionBy($"part").orderBy($"sim_ppm".desc, $"nbr")
      sym
        .join(freq.toDF("part", "n_p"), "part")
        .join(freq.toDF("nbr", "n_n"), "nbr")
        .select($"part", $"nbr", $"cooc",
          expr("((cooc * 1000000L) div n_p) * cooc div n_n").as("sim_ppm"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 5)
        .select($"part", $"nbr", $"cooc", $"sim_ppm", $"rn")
    }),

    // ---- degree assortativity: exact power sums over edges ----------
    // Do high-degree parts co-occur with high-degree parts? The degree
    // correlation (assortativity) coefficient's sufficient statistics,
    // exactly: over every DIRECTED edge (both orientations, the
    // standard symmetrization) the int64 power sums of the endpoint
    // degrees (n, Σx, Σy=Σx, Σxy, Σx²) — Pearson r is pure downstream
    // arithmetic in whatever precision the consumer wants, and the
    // sums stay exact at any graph size (deg ≤ 1e6 keeps Σxy under
    // int64 to 9e6 edges per partial; a production run over bigger
    // degrees scales the same way q90's covariance sums do). One edge
    // build (keyed on order), two plain equi-joins against the
    // per-vertex degree table (one row per part — data-scaling, so no
    // broadcast hint; AQE decides), one 1-row agg — no all-pairs, no
    // windows.
    "q148_degree_assortativity" -> ((s, d) => {
      import s.implicits._
      val e = coocEdges(s, d)
      val dir = e.select($"a".as("u"), $"b".as("v"))
        .unionAll(e.select($"b".as("u"), $"a".as("v")))
      val deg = coocDeg(s, d).toDF("u", "deg")
      dir
        .join(deg.toDF("u", "dx"), "u")
        .join(deg.toDF("v", "dy"), "v")
        .agg(count(lit(1)).as("n_edges"),
          sum($"dx").as("s_x"),
          sum($"dx" * $"dy").as("s_xy"),
          sum($"dx" * $"dx").as("s_xx"))
    }),

    // ---- link prediction: common-neighbor / Jaccard scores ----------
    // The candidate-retrieval kernel over the same co-occurrence graph
    // (fourth consumer of the shared [[coocPairs]] substrate):
    // for a deterministic probe set of parts, the top-5 NON-adjacent
    // parts ranked by neighborhood overlap — cn = |Γ(a)∩Γ(b)| and
    // Jaccard = cn / (deg(a)+deg(b)−cn), both exact integers/ppm
    // (Adamic-Adar's 1/log weights are off the menu by the no-float
    // determinism rule; cn+Jaccard are its standard exact companions).
    //
    // Runs CAPPED at the skew-relative frontier bound (see
    // [[linkPred]]: max(64, 1.5× mean degree) ≈ p99): per-probe cost
    // is bounded by graph density, not hub degree — the production
    // shape at 100 TB. q160 audits the cap's effect vs the exact form.
    "q150_link_prediction" -> ((s, d) => linkPred(s, d, capped = true)),

    // ---- cap audit: capped vs exact link prediction (q142 pattern) --
    // The acceptance measurement for q150's frontier cap: run the
    // pipeline both capped and exact, full-outer join the top-5
    // lists on (probe, candidate), and report per probe how many of
    // the exact top-5 the capped form recovers. This is the number
    // that decides whether the cap is safe to ship on a given corpus —
    // the N·deg² exact baseline is quarantined HERE, run per rollout,
    // never in the product path (exactly like q142's ANN recall and
    // q157's KMV audit).
    "q160_linkpred_cap_audit" -> ((s, d) => {
      import s.implicits._
      val ex = linkPred(s, d, capped = false)
        .select($"part", $"cand", lit(1L).as("in_ex"))
      val cp = linkPred(s, d, capped = true)
        .select($"part", $"cand", lit(1L).as("in_cp"))
      ex.join(cp, Seq("part", "cand"), "full_outer")
        .groupBy($"part")
        .agg(sum(coalesce($"in_ex", lit(0L))).as("n_exact5"),
          sum(coalesce($"in_cp", lit(0L))).as("n_capped5"),
          sum(when($"in_ex".isNotNull && $"in_cp".isNotNull, lit(1L))
            .otherwise(lit(0L))).as("overlap5"))
    }),

    // ---- frequent 3-itemsets (market-basket support mining) ---------
    // The Apriori support-counting kernel one level above the pair
    // substrate: parts bought TOGETHER as TRIPLES, ranked by support.
    // Shape: two equi-joins keyed on the order — candidate triples per
    // order are C(w,3) with w the order width (~4 here), so the
    // intermediate is O(orders·w³), linear in the corpus, never a
    // cross-order product; the global top-20 compiles to TakeOrdered
    // (per-partition heaps + driver merge of 20-row heads), not a full
    // sort. On this corpus max triple support is 2 at sf0.01 and 1 at
    // sf0.1 — the honest long-tail shape of sparse baskets — so the
    // ranked form (support desc, then the id triple) keeps the gate
    // non-vacuous at every scale.
    "q172_frequent_triples" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      li.toDF("o", "p1").join(li.toDF("o", "p2"), "o").filter($"p1" < $"p2")
        .join(li.toDF("o", "p3"), "o").filter($"p2" < $"p3")
        .groupBy($"p1", $"p2", $"p3").agg(count(lit(1)).as("support"))
        .orderBy($"support".desc, $"p1", $"p2", $"p3")
        .limit(20)
    }),

    // ---- cross-job substrate reuse: bucketed edge table -------------
    // q148's assortativity re-derived from the ON-DISK bucketed form
    // of the substrate ([[coocBucketedTable]]): proves a later job can
    // skip the lineitem self-join entirely and compute graph stats
    // from the materialized edge table — the output hash-matches q148
    // (same oracle). NOTE the degree agg below keys on `u` over a
    // union of BOTH edge directions, so it shuffles no matter how the
    // table is laid out; what this query reuses is the materialized
    // edges (no lineitem self-join). The layout's no-exchange payoff
    // exists only for bucket-key (`a`) plans, and PlanSpec asserts it
    // there — on a groupBy("a") over the re-read — not here.
    // ---- incremental substrate maintenance (the append path) --------
    // The bucketed cooc table is "paid once per warehouse" — but
    // corpora APPEND. Because every co-occurrence edge lives inside
    // one order, an appended batch of orders contributes pairs ONLY
    // from its own orders: no old×new cross terms exist, so the
    // maintenance is batch-self-join → union-merge with the existing
    // edge table — the corpus-scale shuffle is paid only on the NEW
    // batch (|batch|, not |corpus|). This query proves it: pairs from
    // the "existing" half (even orderkeys, standing in for the
    // materialized table) merged with the odd-orderkey batch's pairs
    // reproduce the full rebuild exactly — per-bucket counts, weight
    // sums and an order-independent xor fingerprint all hash-match
    // the from-scratch oracle. At 100 TB the union-merge itself is
    // exchange-free on the old side when both sides are bucketed on
    // `a` (q55's layout), making append cost O(|batch| log |batch|).
    "q168_cooc_incremental" -> ((s, d) => {
      import s.implicits._
      graft.GraftExtensions.ensureRegistered(s)
      val li = T.lineitem(s, d)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val existing = orderPairAgg(li.filter($"o" % 2 === 0))
      val batch = orderPairAgg(li.filter($"o" % 2 =!= 0))
      existing.unionAll(batch)
        .groupBy($"a", $"b").agg(sum($"cooc").as("cooc"))
        .select(pmod($"a", lit(16L)).as("bucket"),
          graft.functions.PortableHash.h60(
            concat_ws("_", $"a", $"b", $"cooc")).as("h"),
          $"cooc")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_edges"),
          sum($"cooc").as("sum_cooc"),
          expr("bit_xor(h)").as("xor_fp"))
    }),

    "q159_cooc_substrate_reuse" -> ((s, d) => {
      import s.implicits._
      val eb = s.table(coocBucketedTable(s, d)).select($"a", $"b")
      val dir = eb.select($"a".as("u"), $"b".as("v"))
        .unionAll(eb.select($"b".as("u"), $"a".as("v")))
      val deg = dir.groupBy($"u").agg(count(lit(1)).as("deg"))
      dir
        .join(deg.toDF("u", "dx"), "u")
        .join(deg.toDF("v", "dy"), "v")
        .agg(count(lit(1)).as("n_edges"),
          sum($"dx").as("s_x"),
          sum($"dx" * $"dy").as("s_xy"),
          sum($"dx" * $"dx").as("s_xx"))
    }),

    // ---- exact OLS trend via regression power sums ------------------
    // Per-nation least-squares trend of order value over time — the
    // q91 power-sum pattern extended to regression: ONE map-side-
    // combinable hash agg collects (n, Σx, Σy, Σxy, Σx²) and the
    // slope's numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)²
    // are pure integer post-agg arithmetic (slope = num/den in
    // dollars/day, left unevaluated so both engines stay in exact
    // integer space — the q91 convention). x = day index from
    // 1995-01-01 (the fixture epoch), y = whole dollars via integer
    // half-up rounding from exact cents (non-negative, so Spark `div`
    // and DuckDB `//` truncate identically). Overflow bound: with
    // x ≤ 4e3 and y ≤ 1e6, n·Σxy stays under int64 to ~1e8 rows per
    // nation (≈ sf1000 here); past that the two products promote to
    // decimal(38,0)/HUGEINT, the agg itself never changes.
    "q178_ols_trend" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(T.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .select($"n_name",
          datediff($"o_orderdate", to_date(lit("1995-01-01"))).cast("long").as("x"),
          Exact.cents($"o_totalprice").as("c"))
        .withColumn("y", expr("(c + 50) div 100"))
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n"),
          sum($"x").as("sum_x"), sum($"y").as("sum_y"),
          sum($"x" * $"y").as("sum_xy"), sum($"x" * $"x").as("sum_x2"))
        .select($"n_name", $"n", $"sum_x", $"sum_y", $"sum_xy", $"sum_x2",
          ($"n" * $"sum_xy" - $"sum_x" * $"sum_y").as("slope_num"),
          ($"n" * $"sum_x2" - $"sum_x" * $"sum_x").as("slope_den"))
    }),

    // ---- Gini revenue concentration per nation ----------------------
    // Exact Lorenz-based Gini coefficient of customer revenue within
    // each nation: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over customers
    // sorted ascending by revenue — the inequality/concentration
    // metric behind "do 20% of customers drive 80% of revenue".
    // VALUE-BAND DECOMPOSED (q217/q227's machinery): a run of b equal
    // values x occupying ranks cum_before+1 … cum_before+b contributes
    // Σi·x = x·(b·cum_before + b(b+1)/2) exactly — equal revenues
    // commute under consecutive ranks, so the rank sum is a CLOSED
    // FORM over the (nation, x) band table and no per-customer row
    // ever passes through a window keyed on the 25-value nation (the
    // r11 verdict's borderline shape, retired). The nation-partitioned
    // cumulative window runs over distinct dollar values per nation
    // only. Revenue is quantized to whole dollars (half-up from exact
    // cents, non-negative → Spark `div` == DuckDB `//`) which keeps
    // 2T·1e6 under int64 through ~sf1; past that the final ratio
    // promotes to decimal(38,0), the aggs never change. Customers
    // with no orders are excluded (inner join — a zero-revenue cohort
    // would only raise G; the oracle excludes them identically).
    "q206_gini_concentration" -> ((s, d) => {
      import s.implicits._
      val rev = T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(T.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"c_custkey")
        .agg(sum(Exact.cents($"o_totalprice")).as("c"))
        .select($"n_name", expr("(c + 50) div 100").as("x"))
      val bands = rev.groupBy($"n_name", $"x").agg(count(lit(1)).as("b"))
      val wc = Window.partitionBy($"n_name").orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands.withColumn("cb", sum($"b").over(wc) - $"b")
        .groupBy($"n_name")
        .agg(sum($"b").cast("bigint").as("n"),
          sum($"x" * $"b").cast("bigint").as("sum_x"),
          sum($"x" * ($"b" * $"cb" + expr("(b * (b + 1)) div 2")))
            .cast("bigint").as("sum_ix"))
        .select($"n_name", $"n", $"sum_x",
          expr("((2 * sum_ix - (n + 1) * sum_x) * 1000000L) div (n * sum_x)")
            .as("gini_ppm"))
    }),

    // ---- RFM customer segmentation ----------------------------------
    // The classic marketing segmentation: per customer Recency (days
    // from last order to the fixture horizon 1998-08-02), Frequency
    // (order count) and Monetary (exact cents), each bucketed into
    // quintiles. SAMPLED-BOUNDARY quintiles (q129's equi-depth
    // machinery, r11 verdict item #3): the three global ntile(5)
    // windows over the per-customer table — billions of rows through
    // one task at 100× — are replaced by boundaries rank-selected from
    // a content-hash sample whose modulus ADAPTS to the customer count
    // (ceil(n/8192), so the sampled-row count is ~8192 at ANY scale),
    // exactly the RangePartitioner trick. Each dimension's 4
    // boundaries collapse to a single array row, broadcast back, and
    // quintile = 1 + #boundaries strictly below the value — an
    // in-row HOF over the ≤4-element array; the only windows in the
    // plan are the boundary rank-selects over the BOUNDED sample.
    // Recency quintile 1 = most recent, frequency/monetary quintile 5
    // = highest — the standard score orientation (boundary buckets are
    // equi-depth up to sampling error and tie runs; ties share a
    // bucket, which ntile's arbitrary tie-split never guaranteed).
    // Output is the ≤5³ segment census with revenue per segment.
    "q207_rfm_segments" -> ((s, d) => {
      import s.implicits._
      val pc = T.orders(s, d)
        .groupBy($"o_custkey")
        .agg(datediff(to_date(lit("1998-08-02")), max($"o_orderdate"))
            .cast("long").as("rec_days"),
          count(lit(1)).as("freq"),
          sum(Exact.cents($"o_totalprice")).as("mon_c"))
      // [[sampledBuckets]] ranks all three orderings in ONE pass over
      // the bounded sample and collapses the 3×4 boundaries into a
      // single broadcast row — the per-customer aggregate is scanned
      // 5× total rather than 13×
      sampledBuckets(pc, "o_custkey",
          Seq("rec_days", "freq", "mon_c"), nb = 5)
        .select($"mon_c", $"rec_days_q".as("r_q"),
          $"freq_q".as("f_q"), $"mon_c_q".as("m_q"))
        .groupBy($"r_q", $"f_q", $"m_q")
        .agg(count(lit(1)).as("n_customers"),
          sum($"mon_c").as("rev_c"))
    }),

    // ---- HITS hubs & authorities on the purchase bipartite graph ----
    // [Kleinberg, JACM'99] over customer→part purchase edges (distinct
    // (o_custkey, l_partkey) incidences): authoritative parts are
    // bought by strong hub customers and vice versa. Iterated as the
    // AUTH-ONLY two-hop power iteration auth' ∝ AᵀA·auth — one state
    // vector, so the recursive-CTE oracle references the recursive
    // table exactly once (the Postgres/DuckDB single-reference rule
    // that a coupled hub+auth recursion would violate) — with
    // max-normalization to 1e6 ppm each step (one 1-row scalar,
    // crossJoin(broadcast)) and a ±1 ppm tolerance stop (cap 16)
    // through [[iterateToFixpointPpm]] — floor rounding makes the
    // exact fixpoint dribble at ±1 ppm for ~5 extra |E|-join rounds
    // (measured 12 vs 7 iterations at sf0.1), and the tolerance rule
    // is replicated verbatim by the oracle's conv CTE. Hub
    // scores are derived from the converged auth vector by one more
    // half-step, normalized the same way. Per iteration: two keyed
    // |E|-row shuffles (join on p, re-join on c) — the PageRank cost
    // class; scores are single longs. Overflow bound: two-hop sums
    // reach max_deg_c·max_deg_p·1e6 ≤ 1e18 at this fixture's degree
    // profile; a 100 TB corpus with deg products past ~9e6 promotes
    // the normalization numerator to decimal(38,0), the joins never
    // change.
    "q212_hits" -> ((s, d) => {
      import s.implicits._
      val be = bipartiteEdges(s, d)
      val auth = hitsAuthPpm(be, maxIters = 16)
      val hub0 = be.join(auth.toDF("p", "a"), "p")
        .groupBy($"c").agg(sum($"a").as("h"))
      val hmax = hub0.agg(max($"h").as("hm"))
      auth.select(lit("authority").as("side"), $"v".as("id"),
          $"p".as("score_ppm"))
        .unionAll(hub0.crossJoin(broadcast(hmax))
          .select(lit("hub").as("side"), $"c".as("id"),
            expr("(h * 1000000L) div hm").as("score_ppm")))
    }),

    // ---- ship-latency order statistics by priority ------------------
    // Does order priority actually buy faster shipping? Exact
    // rank-selected p50/p90 of the order→ship latency (days from
    // o_orderdate to l_shipdate) per priority class — the SLA
    // verification for the priority field. VALUE-BAND DECOMPOSED
    // (q217's machinery for the same order-statistic problem): the
    // corpus-scale orders⋈lineitem join reduces FIRST to the bounded
    // (priority, days) weight table — latency days span the calendar,
    // not the corpus — and the cumulative window + rank selection run
    // over that ≤|priorities|·|days| table only. The rank-r value is
    // the smallest days whose cumulative count reaches r (p50 at
    // (n+1) div 2, p90 at ceil(0.9n) = (9n+9) div 10 — identical
    // integer indices both engines), so NO corpus-grain row ever
    // passes through a window partitioned on the 5-value priority key
    // (the r11 verdict's single-task-sort-at-100× shape, retired).
    "q230_ship_latency_sla" -> ((s, d) => {
      import s.implicits._
      val lat = T.lineitem(s, d)
        .join(T.orders(s, d)
            .select($"o_orderkey", $"o_orderpriority", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority",
          datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            .cast("long").as("days"))
      val bands = lat.groupBy($"o_orderpriority", $"days")
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy($"o_orderpriority").orderBy($"days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands.withColumn("cum", sum($"c").over(wc))
        .withColumn("n",
          sum($"c").over(Window.partitionBy($"o_orderpriority")))
        .groupBy($"o_orderpriority")
        .agg(max($"n").cast("bigint").as("n"),
          sum($"days" * $"c").cast("bigint").as("sum_days"),
          min(when($"cum" >= expr("(n + 1) div 2"), $"days")).as("p50_days"),
          min(when($"cum" >= expr("(9 * n + 9) div 10"), $"days"))
            .as("p90_days"))
    }),

    // ---- log-rank test: does priority change ship-latency survival? -
    // [Mantel, Cancer Chemother Rep'66] — the hypothesis test behind
    // q230's SLA percentiles and q186's KM curve: compares the
    // latency-to-ship "survival" of urgent orders (1-URGENT/2-HIGH)
    // against the rest. At each distinct latency day t: d_t items
    // ship, n1_t/n_t are still unshipped (at risk) — O₁ = Σd1_t,
    // E₁ = Σ d_t·n1_t/n_t, V = Σ d_t·n1_t·n2_t·(n_t−d_t)/(n_t²(n_t−1)),
    // χ² = (O₁−E₁)²/V. All exact ppm integers with per-term floors
    // replicated verbatim by the oracle; products run through
    // DECIMAL(38,0)/HUGEINT (the q209 wide-intermediate rule —
    // d·n1·n2·(n−d)·1e6 reaches ~5e26 at sf0.1; past ~1e7 items the
    // V numerator nears the DECIMAL(38) ceiling, where the terms
    // rescale to per-mille before the floor — the aggs never change).
    // Corpus-scale work is the q230 join reduced immediately to the
    // timespan-bounded (day) band table; at-risk counts are reverse
    // cumulative sums from the one global window OVER that bounded
    // aggregate; the χ² assembly is a 1-row fold. No censoring in
    // this data, so O₁ = n₁ exactly — the test still discriminates
    // through E and V (a group shipping LATER inflates its expected
    // count below its observed).
    "q239_logrank_priority" -> ((s, d) => {
      import s.implicits._
      val lat = T.lineitem(s, d)
        .join(T.orders(s, d)
            .select($"o_orderkey", $"o_orderpriority", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select(
          when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("g1"),
          datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            .cast("long").as("days"))
      val bands = lat.groupBy($"days")
        .agg(sum($"g1").as("d1"), count(lit(1)).as("dt"))
      val tot = bands.agg(sum($"d1").cast("bigint").as("t1"),
        sum($"dt").cast("bigint").as("tn"))
      val wc = Window.orderBy($"days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands
        .withColumn("cum1", sum($"d1").over(wc))
        .withColumn("cumt", sum($"dt").over(wc))
        .crossJoin(broadcast(tot))
        .select($"t1", $"tn", $"dt",
          ($"t1" - ($"cum1" - $"d1")).as("n1"),
          ($"tn" - ($"cumt" - $"dt")).as("nt"))
        .select($"t1", $"tn",
          expr("CAST((CAST(dt AS DECIMAL(38,0)) * n1 * 1000000) " +
            "div nt AS BIGINT)").as("e_term"),
          expr("CAST(CASE WHEN nt > 1 THEN " +
            "(CAST(dt AS DECIMAL(38,0)) * n1 * (nt - n1) * (nt - dt) " +
            "* 1000000) div (CAST(nt AS DECIMAL(38,0)) * nt * (nt - 1)) " +
            "ELSE 0 END AS BIGINT)").as("v_term"))
        .groupBy($"t1", $"tn")
        .agg(sum($"e_term").cast("bigint").as("e1_ppm"),
          sum($"v_term").cast("bigint").as("v_ppm"))
        .select($"t1".as("n1"), ($"tn" - $"t1").as("n2"),
          $"t1".as("o1"), $"e1_ppm", $"v_ppm",
          expr("CAST(CASE WHEN v_ppm > 0 THEN " +
            "(CAST(t1 * 1000000 - e1_ppm AS DECIMAL(38,0)) " +
            "* (t1 * 1000000 - e1_ppm)) div v_ppm " +
            "ELSE 0 END AS BIGINT)").as("chi2_ppm"))
    }),

    // ---- global graph summary (density + transitivity) --------------
    // The 1-row graph profile next to q138's per-vertex clustering:
    // density m/(n(n−1)/2) and GLOBAL transitivity 3·triangles/wedges
    // — the whole-graph ratio (weighted by degree) that q138's
    // per-vertex mean is NOT; the two diverge exactly when hubs are
    // locally sparse, which is the small-world diagnosis this row
    // exists for. Triangle total from the MEMOIZED degree-ordered
    // orientation substrate ([[orientedTriangles]] over
    // coocOrientedEdges/Adj — one row per triangle, O(√m) wedge
    // fan-out; the q138 substrate, reused, NOT a fresh id-oriented
    // wedge join); wedge total from the degree table; Σdg(dg−1) in
    // DECIMAL(38)/HUGEINT.
    "q266_graph_summary" -> ((s, d) => {
      import s.implicits._
      val e = coocEdges(s, d)
      val nv = coocDeg(s, d).agg(count(lit(1)).as("n"),
        sum(expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1)")).as("wdg2"))
      val ne = e.agg(count(lit(1)).as("m_edges"))
      val tri = orientedTriangles(coocOrientedEdges(s, d), coocOrientedAdj(s, d))
        .agg(count(lit(1)).as("t"))
      tri.crossJoin(broadcast(nv)).crossJoin(broadcast(ne))
        .select($"n".as("n_vertices"), $"m_edges".as("n_edges"),
          expr("m_edges * 2000000L div (n * (n - 1))").as("density_ppm"),
          $"t".as("n_triangles"),
          expr("CAST((3 * CAST(t AS DECIMAL(38,0)) * 1000000) div " +
            "(wdg2 div 2) AS BIGINT)").as("transitivity_ppm"))
    }),

    // ---- rich-club coefficients at data-derived thresholds ----------
    // [Colizza+ Nat.Phys'06] — do high-degree parts preferentially
    // co-occur with EACH OTHER? φ(k) = edges inside the deg>k club
    // over its possible edges, at thresholds k = dmax·j/8 for
    // j ∈ {4..7} (derived from the measured max degree, so the grid
    // tracks the data across scales instead of a hardcoded ladder).
    // All 4 rows always emit (empty clubs report 0). Scale shape: the
    // non-equi threshold joins broadcast the 4-ROW ks table against
    // the degree-BAND table and the degree table (never the reverse —
    // broadcasting |V| under a BNLJ is the shape the plan guard
    // bans); club membership then equi-joins the edge list twice on
    // the endpoint key (≤ 4·|E| rows through the pipeline).
    "q267_rich_club" -> ((s, d) => {
      import s.implicits._
      val deg = coocDeg(s, d)
      val dmax = deg.agg(max($"deg").as("dmax"))
      val js = Seq(4L, 5L, 6L, 7L).toDF("j")
      val ks = js.crossJoin(broadcast(dmax))
        .select($"j", expr("dmax * j div 8").as("k"))
      val degBands = deg.groupBy($"deg").agg(count(lit(1)).as("cnt"))
      val club = degBands.join(broadcast(ks), $"deg" > $"k")
        .groupBy($"j", $"k").agg(sum($"cnt").cast("bigint").as("n_k"))
      val qual = deg.join(broadcast(ks), $"deg" > $"k")
        .select($"j", $"k", $"v")
      val ek = qual.toDF("j", "k", "a")
        .join(coocEdges(s, d), Seq("a"))
        .join(qual.select($"j", $"v".as("b")), Seq("j", "b"))
        .groupBy($"j", $"k").agg(count(lit(1)).as("m_k"))
      ks.join(club, Seq("j", "k"), "left")
        .join(ek, Seq("j", "k"), "left")
        .select($"j", $"k",
          coalesce($"n_k", lit(0L)).as("n_k"),
          coalesce($"m_k", lit(0L)).as("m_k"),
          expr("CAST(CASE WHEN coalesce(n_k, 0L) > 1 THEN " +
            "coalesce(m_k, 0L) * 2000000L div (n_k * (n_k - 1)) " +
            "ELSE 0 END AS BIGINT)").as("phi_ppm"))
    }),

    // ---- 2D skyline (Pareto front) ----------------------------------
    // [Börzsönyi+ ICDE'01] — the SKYLINE operator: suppliers not
    // DOMINATED on (maximize account balance, minimize late-ship
    // rate); a supplier is out iff another is at least as good on
    // both axes and strictly better on one. The classic nested-loop
    // formulation is O(n²); in 2D the skyline is exactly the rows
    // that beat the running best of the minimized axis — so it
    // band-decomposes: per late-rate band keep the max balance, one
    // cumulative-max window over the BOUNDED band table, and a row
    // survives iff it is its band's max AND beats every strictly
    // better band (ties on both axes co-survive: neither dominates).
    // Validated against the brute-force dominance scan. Corpus work
    // is q264's one supplier-grain agg + one balance-band agg.
    "q269_skyline_2d" -> ((s, d) => {
      import s.implicits._
      val g = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("supp"),
          (datediff(to_date($"l_shipdate"), to_date($"o_orderdate")) > 90)
            .cast("long").as("late"))
        .groupBy($"supp")
        .agg(count(lit(1)).as("n"), sum($"late").cast("bigint").as("x"))
      val pt = T.supplier(s, d)
        .select($"s_suppkey".as("supp"), Exact.cents($"s_acctbal").as("bal_c"))
        .join(g, "supp")
        .select($"supp", $"bal_c", expr("x * 1000000L div n").as("late_ppm"))
      // cumulative max band-decomposed (q124's band-offset rule): the
      // fine band table is bounded only by ppm resolution (≤1e6+1
      // rows), too big for one global window partition — so prefix-max
      // over ≤1001 COARSE bands (div 1000) globally, within-coarse-band
      // prefix-max partitioned, prior = greatest of the two (greatest
      // skips nulls; null only when both empty = first band overall)
      val band = pt.groupBy($"late_ppm").agg(max($"bal_c").as("band_max"))
        .withColumn("cband", expr("late_ppm div 1000"))
      val wcoarse = Window.orderBy($"cband")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cpref = band.groupBy($"cband").agg(max($"band_max").as("c_max"))
        .withColumn("c_prior", max($"c_max").over(wcoarse))
        .select($"cband", $"c_prior")
      val wfine = Window.partitionBy($"cband").orderBy($"late_ppm")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cb = band.withColumn("in_prior", max($"band_max").over(wfine))
        .join(cpref, Seq("cband"))
        .select($"late_ppm", $"band_max",
          greatest($"in_prior", $"c_prior").as("prior_max"))
      pt.join(cb, Seq("late_ppm"))
        .filter($"bal_c" === $"band_max" &&
          ($"prior_max".isNull || $"bal_c" > $"prior_max"))
        .select($"supp", $"bal_c", $"late_ppm")
    }),

    // ---- empirical-Bayes shrinkage of per-supplier late rates -------
    // [Efron & Morris, JASA'75 lineage] — the small-area-estimation
    // tool for per-segment rates nobody should trust raw: a supplier
    // with 5 lines and 3 late reads 60%, but the honest estimate
    // pools toward the corpus. Beta-binomial method of moments:
    // prior mean p̄ = Σx/Σn; prior strength m = p̄(1−p̄)/v − 1 from
    // the unweighted between-supplier variance v of observed rates
    // (clamped to [0, 1e5] pseudo-lines — v below binomial noise
    // would send m negative/unbounded); shrunk = (x + m·p̄)/(n + m).
    // Every division floors identically in both engines (all terms
    // non-negative → div == //), dev² in DECIMAL(38)/HUGEINT. Scale
    // shape: one corpus join reduced to the supplier-grain (n, x)
    // table; the 1-row pooled/variance/strength scalars broadcast
    // back — nothing corpus-scale after the first agg.
    "q264_eb_shrunk_rates" -> ((s, d) => {
      import s.implicits._
      val g = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("supp"),
          (datediff(to_date($"l_shipdate"), to_date($"o_orderdate")) > 90)
            .cast("long").as("late"))
        .groupBy($"supp")
        .agg(count(lit(1)).as("n"), sum($"late").cast("bigint").as("x"))
      val tot = g.agg(count(lit(1)).as("k"),
          sum($"n").cast("bigint").as("w"),
          sum($"x").cast("bigint").as("sx"))
        .select($"k", expr("sx * 1000000L div w").as("pbar"))
      val v = g.crossJoin(broadcast(tot))
        .select((expr("x * 1000000L div n") - $"pbar").as("dev"), $"k")
        // greatest(k-1, 1): with a single supplier (k = 1) the
        // between-group variance is undefined — degrade to 0 (full
        // shrink to the pooled rate) instead of dividing by zero;
        // mirrored in the oracle
        .agg(expr("CAST(sum(CAST(dev AS DECIMAL(38,0)) * dev) div " +
          "greatest(max(k) - 1, 1) AS BIGINT)").as("v_pp2"))
      // `m_prior`, not `m`: PlanSpec's broadcast-hint name heuristic
      // bans the bare aliases u/v/m (the q203 m_edges rule)
      val prior = v.crossJoin(broadcast(tot))
        .select($"pbar",
          expr("CAST(greatest(0L, least(100000L, " +
            "(pbar * (1000000L - pbar)) div greatest(v_pp2, 1L) - 1)) " +
            "AS BIGINT)").as("m_prior"))
      g.crossJoin(broadcast(prior))
        .select($"supp", $"n", $"x",
          expr("x * 1000000L div n").as("raw_ppm"),
          expr("(x * 1000000L + m_prior * pbar) div (n + m_prior)")
            .as("shrunk_ppm"))
    }),

    // ---- graph diameter lower bound (double BFS sweep) ---------------
    // [Magnien, Latapy & Habib '09] — the standard cheap diameter
    // estimate: BFS from a content-hash-chosen start (q242's seed
    // convention), BFS again from the farthest vertex found; the
    // second eccentricity is a provable diameter LOWER bound, usually
    // tight in practice. Two capped BFS passes over the memoized cooc
    // substrate (the q195 labeled-frontier core via
    // multiSeedDistances, 6-hop cap — the dense co-purchase graph
    // saturates at 2-3); the two 1-row farthest-vertex argmaxes are
    // loop-control scalars (q191 rule); ties break to the smallest
    // vertex id in both engines. 1-row report.
    "q282_double_sweep" -> ((s, d) => {
      import s.implicits._
      // the memoized persisted substrate, not a fresh two-scan union:
      // each of the up-to-12 BFS hops (2 sweeps × 6) re-consumed the
      // union, so the persisted reuse removes a bucketed-table re-scan
      // + re-union per hop (identical rows — coocDir is exactly this
      // union). NOT exchange elimination: coocDir is deliberately
      // cached unpartitioned (see its scaladoc) so AQE broadcasts the
      // small per-hop frontier over an exchange-free cache scan.
      val dirE = coocDir(s, d)
      val seed = T.boundedCollect(
        coocDeg(s, d).select($"v")
          .orderBy(graft.functions.PortableHash.h60($"v"), $"v")
          .limit(1), 1, "q282 seed").head.getLong(0)
      def sweep(src: Long): (DataFrame, Long, Long) = {
        val dist = multiSeedDistances(dirE, Seq(src).toDF("sd"), 6)
        val far = T.boundedCollect(
          dist.orderBy($"hop".desc, $"v").limit(1), 1, "q282 far").head
        (dist, far.getLong(2), far.getLong(1))
      }
      val (d1, ecc1, far1) = sweep(seed)
      val nReach = d1.count()
      val (_, ecc2, far2) = sweep(far1)
      Seq((seed, ecc1, far1, ecc2, far2, nReach))
        .toDF("seed", "ecc1", "far_vertex", "diam_lb", "far_vertex2",
          "n_reached")
    }),

    // ---- isotonic calibration of late rate vs quantity ---------------
    // [Barlow+ '72 PAVA; Zadrozny & Elkan KDD'02 calibration] — fit the
    // best NON-DECREASING late-rate curve over quantity bins: the
    // monotone calibrator a score→probability mapping needs, computed
    // NOT by the sequential pool-adjacent-violators loop but by its
    // closed-form minimax characterization fitted_i =
    // max_{j≤i} min_{k≥i} avg(j..k) — which is pure relational algebra
    // over the BIN-BOUNDED prefix table (≤50 bins → ≤1275 intervals →
    // ≤64k triples; corpus-independent after the one binning agg).
    // Exactness: floor is monotone, so the minimax of floored ppm
    // averages IS the floor of the exact rational minimax — no
    // fraction comparisons needed; equality with a direct sequential
    // PAVA reference is property-tested (IsotonicPropertySpec).
    "q277_isotonic_calibration" -> ((s, d) => {
      import s.implicits._
      val bins = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select(expr("CAST(round(l_quantity) AS BIGINT)").as("bin"),
          (datediff(to_date($"l_shipdate"), to_date($"o_orderdate")) > 90)
            .cast("long").as("late"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"late").cast("bigint").as("x"))
      bins.join(isotonicFitPpm(bins), "bin")
        .select($"bin", $"n", $"x",
          expr("x * 1000000L div n").as("raw_ppm"), $"iso_ppm")
    }),

    // ---- holdout Brier audit of the q264 shrinkage -------------------
    // The acceptance loop for q264 (the house rule: every estimator
    // ships with the audit that could reject it): split orders in half
    // by the portable content hash (whole ORDERS, so no within-order
    // leakage), fit the beta-binomial shrinkage on the TRAIN half
    // only, and score both raw and shrunk per-supplier rates on the
    // TEST half's lines by the Brier decomposition
    // Σ(pred − late·1e6)² = n·pred² − 2·pred·1e6·x + x·1e12 — exact
    // integers in DECIMAL(38)/HUGEINT, reported as the per-line mean
    // (ppm²) plus the relative improvement. Shrinkage must WIN
    // (improvement > 0) or the q264 prior is hurting. Suppliers
    // restricted to both halves (inner join) so the two predictors
    // score the same lines. Scale shape: q264's aggs twice (train fit,
    // test actuals) + a supplier-keyed join; the 1-row prior scalars
    // broadcast.
    "q276_eb_holdout_audit" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("supp"),
          pmod(graft.functions.PortableHash.h60($"l_orderkey"), lit(2))
            .as("half"),
          (datediff(to_date($"l_shipdate"), to_date($"o_orderdate")) > 90)
            .cast("long").as("late"))
      val g = li.groupBy($"supp", $"half")
        .agg(count(lit(1)).as("n"), sum($"late").cast("bigint").as("x"))
      val tr = g.filter($"half" === 0).select($"supp", $"n", $"x")
      val te = g.filter($"half" === 1)
        .select($"supp", $"n".as("n_te"), $"x".as("x_te"))
      val tot = tr.agg(count(lit(1)).as("k"),
          sum($"n").cast("bigint").as("w"),
          sum($"x").cast("bigint").as("sx"))
        .select($"k", expr("sx * 1000000L div w").as("pbar"))
      val v = tr.crossJoin(broadcast(tot))
        .select((expr("x * 1000000L div n") - $"pbar").as("dev"), $"k")
        .agg(expr("CAST(sum(CAST(dev AS DECIMAL(38,0)) * dev) div " +
          "greatest(max(k) - 1, 1) AS BIGINT)").as("v_pp2"))
      val prior = v.crossJoin(broadcast(tot))
        .select($"pbar",
          expr("CAST(greatest(0L, least(100000L, " +
            "(pbar * (1000000L - pbar)) div greatest(v_pp2, 1L) - 1)) " +
            "AS BIGINT)").as("m_prior"))
      val sc = tr.crossJoin(broadcast(prior))
        .select($"supp",
          expr("x * 1000000L div n").as("raw_ppm"),
          expr("(x * 1000000L + m_prior * pbar) div (n + m_prior)")
            .as("shrunk_ppm"))
        .join(te, "supp")
        .select(
          $"n_te",
          expr("CAST(n_te AS DECIMAL(38,0)) * raw_ppm * raw_ppm " +
            "- 2 * CAST(raw_ppm AS DECIMAL(38,0)) * 1000000 * x_te " +
            "+ CAST(x_te AS DECIMAL(38,0)) * 1000000000000").as("se_raw"),
          expr("CAST(n_te AS DECIMAL(38,0)) * shrunk_ppm * shrunk_ppm " +
            "- 2 * CAST(shrunk_ppm AS DECIMAL(38,0)) * 1000000 * x_te " +
            "+ CAST(x_te AS DECIMAL(38,0)) * 1000000000000").as("se_shrunk"))
      sc.agg(count(lit(1)).as("n_suppliers"),
          sum($"n_te").cast("bigint").as("n_test_lines"),
          sum($"se_raw").as("sr"), sum($"se_shrunk").as("ss"))
        .select($"n_suppliers", $"n_test_lines",
          expr("CAST(sr div n_test_lines AS BIGINT)").as("brier_raw_pp2"),
          expr("CAST(ss div n_test_lines AS BIGINT)").as("brier_shrunk_pp2"),
          expr("CAST(((sr - ss) * 1000000) div sr AS BIGINT)")
            .as("improvement_ppm"))
    }),

    // ---- k-truss peel: edge-grain cohesion (capped) -----------------
    // [Cohen '08] — the EDGE-grain analog of q191's vertex k-core: an
    // edge survives the k-truss iff it closes ≥ k−2 triangles among
    // surviving edges, so the peel strips "bridge" co-purchases and
    // keeps communities that are triangle-dense, not merely
    // high-degree (a hub vertex survives k-core on degree alone; its
    // spoke edges die here). CAPPED at 4 peel rounds (q191's
    // cap-audit rule): at sf0.01/k=10 the peel is mid-collapse
    // (93k→17k edges, still working — the cap arms the audit), at
    // sf0.001 the denser graph is already a fixpoint. Per round:
    // triangles enumerate ONCE each via [[orientedTriangles]] over a
    // FRESH (deg, id) degree-ordered orientation of the shrinking
    // edge set (re-built each round because degrees change as edges
    // peel) — wedge fan-out bounded O(√m) per vertex, O(m^1.5) total,
    // regardless of hub skew; each triangle contributes support to
    // its 3 id-normalized edges (least/greatest, since orientation
    // order is by degree, not id) via one map-side-combinable hash
    // agg; lineage truncates per round with localCheckpoint. Declared
    // at vertex grain: surviving truss degree.
    "q263_ktruss_peel" -> ((s, d) => {
      import s.implicits._
      val k = 10
      val fresh = org.apache.spark.sql.graft.FreshCheckpoint
        .freshLocalCheckpoint(_: DataFrame)
      var e = fresh(coocEdges(s, d))
      for (_ <- 1 to 4) {
        val dg = e.select($"a".as("x")).unionAll(e.select($"b".as("x")))
          .groupBy($"x").agg(count(lit(1)).as("dx"))
        // per-round substrate materialization (q138's ed/adj persist
        // rule, which this loop used to skip): ed feeds BOTH the
        // adjacency build and the triangle probe, adj feeds both
        // intersect sides — unmaterialized, each reference re-ran the
        // orientation join / collect_list agg within every round's
        // plan. One eager checkpoint each makes every reference a
        // scan; real-size-stats checkpoints (FreshCheckpoint) let the
        // static planner broadcast whichever of ed/adj/sup actually
        // fits instead of estimating from join products (q235 rule).
        val ed = fresh(orientEdges(e, dg))
        val adj = fresh(orientedAdjacency(ed))
        val tri = orientedTriangles(ed, adj)
        val sup = tri.select(explode(array(
            struct(least($"u", $"w").as("a"), greatest($"u", $"w").as("b")),
            struct(least($"u", $"z").as("a"), greatest($"u", $"z").as("b")),
            struct(least($"w", $"z").as("a"), greatest($"w", $"z").as("b"))))
            .as("ed"))
          .groupBy($"ed.a".as("a"), $"ed.b".as("b"))
          .agg(count(lit(1)).as("sup"))
        e = fresh(e.join(sup, Seq("a", "b")).filter($"sup" >= k - 2)
          .select($"a", $"b"))
      }
      e.unionAll(e.select($"b".as("a"), $"a".as("b")))
        .groupBy($"a".as("part")).agg(count(lit(1)).as("truss_deg"))
    }),

    // ---- Kruskal–Wallis rank test: latency across ALL priorities ----
    // [Kruskal & Wallis, JASA'52] — the k-group extension of q208's
    // Mann–Whitney and the omnibus companion to q239's two-group
    // log-rank / q241's ordered trend: does ship latency differ across
    // the 5 priorities AT ALL? H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1)
    // on midranks. Exactness: DOUBLED midranks (r2 = 2·cum_before +
    // b + 1 — the q208/q237 decomposition, so no halves exist) from
    // the global (days) value-band table; the per-group terms
    // R2_j²/(4n_j) floor in DECIMAL(38)/HUGEINT and both engines
    // replicate the floors verbatim (q239's per-term convention). The
    // tie-correction mass Σ(t³−t)/(N³−N) is reported as its own ppm
    // column rather than compounding a second division into H.
    // Bounds: R2_j² ≤ 4N⁴ caps int128/DECIMAL(38) at N ≈ 2e9 items —
    // past that the terms rescale (the q239 note); the per-group
    // term sum stays in DECIMAL(38,0) the whole way (an int64 term
    // sum would already overflow at N ≈ 3e6). Scale shape: the
    // corpus join reduces immediately to the timespan-bounded (days)
    // band table + a (priority, days) grid; the one global window
    // runs over the bounded bands (PlanSpec's Aggregate bounder);
    // assembly is a 1-row fold.
    "q255_kruskal_wallis" -> ((s, d) => {
      import s.implicits._
      val lat = T.lineitem(s, d)
        .join(T.orders(s, d)
            .select($"o_orderkey", $"o_orderpriority", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority".as("g"),
          datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            .cast("long").as("days"))
      val vb = lat.groupBy($"days").agg(count(lit(1)).as("b"))
      val wc = Window.orderBy($"days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r2 = vb.withColumn("cum", sum($"b").over(wc))
        .select($"days",
          (lit(2L) * ($"cum" - $"b") + $"b" + lit(1L)).as("r2"))
      val gb = lat.groupBy($"g", $"days").agg(count(lit(1)).as("c"))
      val gr = gb.join(r2, "days")
        .groupBy($"g")
        .agg(sum($"c").cast("bigint").as("n_g"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * r2")).as("r2_g"))
      val tot = gr.agg(sum($"n_g").cast("bigint").as("n"))
      // div returns BIGINT even for DECIMAL operands — cast each term
      // back to DECIMAL(38,0) before summing: the term MASS is ~N^3/4,
      // which overflows int64 around N ≈ 3e6 items (~sf0.5) while the
      // oracle's HUGEINT sum keeps going; DECIMAL(38) holds to N ≈ 2e9
      val terms = gr
        .select(expr("CAST((r2_g * r2_g) div (4 * CAST(n_g AS DECIMAL(38,0)))" +
          " AS DECIMAL(38,0))").as("term"))
        .agg(sum($"term").as("s_terms"))
      val ties = vb
        .agg(sum(expr("CAST(b AS DECIMAL(38,0)) * b * b - b")).as("t3"))
      terms.crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
        .select($"n".as("n_total"),
          // s_terms is DECIMAL(38,0); the 12e6 scale-up stays in
          // DECIMAL — a long product overflows ANSI at ~7.7e11 term
          // mass (hit at sf0.01)
          expr("CAST((CAST(s_terms AS DECIMAL(38,0)) * 12000000) div " +
            "(CAST(n AS DECIMAL(38,0)) * (n + 1)) " +
            "- 3000000 * (n + 1) AS BIGINT)").as("h_ppm"),
          expr("CAST((t3 * 1000000) div " +
            "(CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)")
            .as("tie_ppm"))
    }),

    // ---- multiple OLS: ship latency ~ quantity + discount -----------
    // q178's power-sum regression extended to TWO regressors with an
    // intercept: does a bigger or more-discounted line item ship
    // slower? β = M⁻¹b solved by CRAMER'S RULE on the exact integer
    // normal-equation moments — ONE map-side-combinable hash agg
    // collects (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y), and
    // each β is a ratio of two 3×3 integer determinants. Determinant
    // terms reach n·Σx₁²·Σx₂² ≈ 5e22 at sf0.1 (9e28 at 100×), so all
    // four determinants assemble in DECIMAL(38,0)/HUGEINT (the q209
    // rule). The system is sign-normalized (det M forced positive by
    // flipping all four determinants together — ratios unchanged) and
    // each βᵢ·1e6 floors via the SHIFTED NUMERATOR (+K·detM, −K after;
    // K = 1e9 covers |β| < 1000 days per unit; K·detM ≈ 5e37 < 1e38
    // at 100× — the CentroidFloorSpec rule, engine-version-proof for
    // the signed numerators). x₁ = quantity, x₂ = discount in whole
    // percent (both small exact integers); y = order→ship days.
    // Property-tested against a BigInt Cramer reference in
    // RankStatsPropertySpec.
    "q240_ols_latency_multi" -> ((s, d) => {
      import s.implicits._
      val pts = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select(
          datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            .cast("long").as("y"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"))
      val g = pts.agg(count(lit(1)).as("n"),
        sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"y").as("sy"),
        sum($"x1" * $"x1").as("s11"), sum($"x2" * $"x2").as("s22"),
        sum($"x1" * $"x2").as("s12"),
        sum($"x1" * $"y").as("s1y"), sum($"x2" * $"y").as("s2y"))
      g.select($"n",
        expr(cramerBeta(0, "DECIMAL(38,0)", "div")).as("b0_ppm"),
        expr(cramerBeta(1, "DECIMAL(38,0)", "div")).as("b1_ppm"),
        expr(cramerBeta(2, "DECIMAL(38,0)", "div")).as("b2_ppm"))
    }),

    // ---- conformal residual intervals for the latency model ---------
    // The q240 ACCEPTANCE LOOP CLOSED (the house audit→act rule):
    // q240 fits the latency model; this query CALIBRATES it, split-
    // conformal style [Vovk et al., '05] — exact p50/p90 of the signed
    // day-quantized residuals y − (β₀ + β₁x₁ + β₂x₂), the half-widths
    // a deployment would add around ŷ for 50%/90% coverage. β comes
    // from the SAME shared cramerBeta expressions (both engines), the
    // 1-row coefficient scalar joins back broadcast, and the residual
    // quantiles run VALUE-BAND DECOMPOSED (q230's rank rule) over the
    // bounded (resid_day) table — residual days span the calendar,
    // not the corpus. Day quantization floors via the shifted
    // numerator (+1e6·1e6 before div 1e6, −1e6 after — residual ppm
    // is SIGNED). In-sample calibration (the fixture has no holdout
    // split); the residual-band machinery is identical for a split
    // sample at scale.
    "q245_conformal_latency" -> ((s, d) => {
      import s.implicits._
      val pts = T.lineitem(s, d)
        .join(T.orders(s, d).select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select(
          datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            .cast("long").as("y"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"))
      val g = pts.agg(count(lit(1)).as("n"),
        sum($"x1").as("s1"), sum($"x2").as("s2"), sum($"y").as("sy"),
        sum($"x1" * $"x1").as("s11"), sum($"x2" * $"x2").as("s22"),
        sum($"x1" * $"x2").as("s12"),
        sum($"x1" * $"y").as("s1y"), sum($"x2" * $"y").as("s2y"))
      val betas = g.select(
        expr(cramerBeta(0, "DECIMAL(38,0)", "div")).as("b0"),
        expr(cramerBeta(1, "DECIMAL(38,0)", "div")).as("b1"),
        expr(cramerBeta(2, "DECIMAL(38,0)", "div")).as("b2"))
      val bands = pts.crossJoin(broadcast(betas))
        .select(expr("(y * 1000000L - (b0 + b1 * x1 + b2 * x2) " +
          "+ 1000000000000L) div 1000000L - 1000000L").as("rd"))
        .groupBy($"rd").agg(count(lit(1)).as("c"))
      val wc = Window.orderBy($"rd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands.withColumn("cum", sum($"c").over(wc))
        .withColumn("n", sum($"c").over(Window.partitionBy()))
        .agg(max($"n").cast("bigint").as("n"),
          min(when($"cum" >= expr("(n + 1) div 2"), $"rd"))
            .as("p50_resid_days"),
          min(when($"cum" >= expr("(9 * n + 9) div 10"), $"rd"))
            .as("p90_resid_days"))
    }),

    // ---- Cochran–Armitage trend test: lateness vs priority ----------
    // [Cochran, Biometrics'54; Armitage'55] — does the LATE-shipment
    // rate (order→ship > 60 days) trend monotonically across the
    // ORDERED priority classes (score = the priority digit 1..5)?
    // The ordered-alternative refinement of q209's unordered χ²:
    // T_N = N·Σsᵢdᵢ − D·Σsᵢnᵢ and χ² = N·T_N² / (D(N−D)(N·S₂ − S₁²))
    // with S₁ = Σsᵢnᵢ, S₂ = Σsᵢ²nᵢ — the z²-form of the binomial
    // trend statistic, exact ppm integers (the square makes the
    // numerator non-negative: div == // with no shift). T_N and the
    // int64 moments stay in BIGINT (T_N ≈ 9e11 at sf0.1, 9e15 at
    // 100×); the squared numerator assembles in DECIMAL(38,0)/HUGEINT
    // and reaches ~5e35 at sf0.1 — past ~sf10 it rescales to
    // per-mille before the floor, the aggs never change. Corpus-scale
    // work is ONE hash agg to the 5-row (score, n, d) cell table;
    // everything after is a 1-row fold. Degenerate guards (all late,
    // none late, single class) return 0 identically in both engines.
    "q241_trend_test" -> ((s, d) => {
      import s.implicits._
      val cells = T.lineitem(s, d)
        .join(T.orders(s, d)
            .select($"o_orderkey", $"o_orderpriority", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select(
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("sc"),
          when(datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
            > 60, 1L).otherwise(0L).as("late"))
        .groupBy($"sc")
        .agg(count(lit(1)).as("ni"), sum($"late").as("di"))
      cells.agg(
          sum($"ni").cast("bigint").as("n"),
          sum($"di").cast("bigint").as("dd"),
          sum($"sc" * $"di").cast("bigint").as("sd"),
          sum($"sc" * $"ni").cast("bigint").as("s1"),
          sum($"sc" * $"sc" * $"ni").cast("bigint").as("s2"))
        .select($"n", $"dd".as("d_late"),
          ($"n" * $"sd" - $"dd" * $"s1").as("t_n"),
          expr("CAST(CASE WHEN dd > 0 AND dd < n " +
            "AND n * s2 - s1 * s1 > 0 THEN " +
            "(CAST(n AS DECIMAL(38,0)) * (n * sd - dd * s1) " +
            "* (n * sd - dd * s1) * 1000000) " +
            "div (CAST(dd AS DECIMAL(38,0)) * (n - dd) " +
            "* (n * s2 - s1 * s1)) " +
            "ELSE 0 END AS BIGINT)").as("chi2_ppm"))
    }),

    // ---- ABC / Pareto revenue classification ------------------------
    // The inventory-management classic: customers sorted by revenue
    // DESC, class A while the running share stays ≤ 80%, B to 95%,
    // C after — "which 20% of customers drive 80% of revenue",
    // operationalized. Exact integer class boundaries (5·cum ≤ 4·total
    // and 20·cum ≤ 19·total — no ppm rounding at the cut), with the
    // running revenue sum BAND-DECOMPOSED like q221: cumulative
    // revenue before each distinct value from the bounded value-band
    // window, within-band cumulation partitioned on the value — no
    // global window over the customer table. Output: per-class census
    // with exact share ppm.
    "q227_abc_classification" -> ((s, d) => {
      import s.implicits._
      val rev = T.orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(Exact.cents($"o_totalprice")).as("rc"))
      val tot = rev.agg(sum($"rc").as("total"))
      val wBand = Window.orderBy($"rc".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bands = rev.groupBy($"rc").agg(sum($"rc").as("bt"))
        .withColumn("cum_le", sum($"bt").over(wBand))
        .select($"rc", ($"cum_le" - $"bt").as("cum_before"))
      val wIn = Window.partitionBy($"rc").orderBy($"o_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("wc", sum($"rc").over(wIn))
        .join(bands, "rc")
        .crossJoin(broadcast(tot))
        .withColumn("cum", $"cum_before" + $"wc")
        .withColumn("abc_class",
          when($"cum" * 5 <= $"total" * 4, "A")
            .when($"cum" * 20 <= $"total" * 19, "B")
            .otherwise("C"))
        .groupBy($"abc_class")
        .agg(count(lit(1)).as("n_customers"),
          sum($"rc").cast("bigint").as("rev_c"))
        .crossJoin(broadcast(tot))
        .select($"abc_class", $"n_customers", $"rev_c",
          expr("(rev_c * 1000000L) div total").as("rev_share_ppm"))
    }),

    // ---- brand homophily: modularity of an ATTRIBUTE partition ------
    // Do customers co-purchase within part brands? The [[modularityPpk]]
    // scorer applied to a GIVEN partition (brand) instead of a learned
    // one (q203's LPA labels) — the standard attribute-assortativity
    // audit [Newman, PRE'03 mixing patterns]: contrib_ppk > 0 means
    // within-brand co-purchase above the degree-expected baseline.
    // Honest answer on this fixture: ~0 (orders draw parts
    // independently of brand), exactly like q203's Q = 0 — the scorer
    // proves the absence of structure either way. Cost: two |E| label
    // joins + a |V| degree join over the shared substrates; the brand
    // label table is the part dimension, joined keyed (scales with
    // data, never broadcast-hinted).
    "q225_brand_homophily" -> ((s, d) => {
      import s.implicits._
      val lab = T.part(s, d)
        .select($"p_partkey".as("v"), $"p_brand".as("community"))
      modularityPpk(coocEdges(s, d), coocDeg(s, d), lab)
    }),

    // ---- degree-distribution power-law profile ----------------------
    // Is the co-purchase graph scale-free, and how heavy is its tail?
    // The q210 floor-log2 machinery applied to the graph: vertices
    // bucketed by band = floor(log2(deg)) (length(bin(x))−1 — exact
    // bit arithmetic), one row per occupied band with the OLS slope of
    // (band, floor_log2(n_band)) attached — slope ≈ −(α−1) for a
    // power-law tail, and the answer to "can any fixed per-vertex cap
    // work on this graph" (q160's cap audit assumes the tail shape
    // this query measures). Everything post-[[coocDeg]] is band-
    // bounded (≤ ~40 rows); the 1-row regression crosses back onto the
    // band table broadcast.
    "q219_degree_distribution" -> ((s, d) => {
      import s.implicits._
      val bands = coocDeg(s, d)
        .select(expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("band"))
        .groupBy($"band").agg(count(lit(1)).as("n_vertices"))
        .withColumn("y", expr("CAST(length(bin(n_vertices)) - 1 AS BIGINT)"))
      val reg = bands.agg(count(lit(1)).as("n_bands"),
          sum($"band").as("sum_x"), sum($"y").as("sum_y"),
          sum($"band" * $"y").as("sum_xy"),
          sum($"band" * $"band").as("sum_x2"))
        .select($"n_bands",
          ($"n_bands" * $"sum_xy" - $"sum_x" * $"sum_y").as("slope_num"),
          ($"n_bands" * $"sum_x2" - $"sum_x" * $"sum_x").as("slope_den"))
      bands.select($"band", $"n_vertices")
        .crossJoin(broadcast(reg))
    }),

    // ---- exact weighted median per brand ----------------------------
    // The quantity-weighted median sale price per part brand — the
    // robust center that volume-weights every transaction (q100's
    // order-statistic family extended with weights; a plain median
    // over-counts small orders). Lower weighted median: the smallest
    // price whose cumulative weight reaches half the total,
    // 2·cumw ≥ W as an exact integer inequality. Shape: one corpus
    // hash agg to the (brand, price) weight table, then brand-
    // partitioned cumulative windows over that BOUNDED table (distinct
    // prices per brand, not rows) — the same band decomposition as
    // q154's prefix sums; no global window anywhere. Prices quantized
    // to whole dollars (half-up from exact cents), weights are the
    // integral l_quantity — both non-negative, so div == //.
    "q217_weighted_median" -> ((s, d) => {
      import s.implicits._
      val pts = T.lineitem(s, d)
        .join(T.part(s, d).select($"p_partkey", $"p_brand"),
          $"l_partkey" === $"p_partkey")
        .select($"p_brand",
          expr("(CAST(round(l_extendedprice * 100) AS BIGINT) + 50) div 100")
            .as("price_d"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      val grp = pts.groupBy($"p_brand", $"price_d").agg(sum($"w").as("wv"))
      val wc = Window.partitionBy($"p_brand").orderBy($"price_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grp.withColumn("cumw", sum($"wv").over(wc))
        .withColumn("w_total",
          sum($"wv").over(Window.partitionBy($"p_brand")))
        .filter($"cumw" * 2 >= $"w_total")
        .groupBy($"p_brand")
        .agg(max($"w_total").cast("bigint").as("w_total"),
          min($"price_d").as("wmedian_dollars"))
    }),

    // ---- Herfindahl–Hirschman supplier concentration per nation -----
    // The antitrust-standard concentration index next to q206's Gini
    // and q227's ABC: HHI = Σ share² over supplier revenue shares
    // within each nation, shares in exact basis points (rc·1e4 div
    // total — DECIMAL(38) for the product, the q209 wide-intermediate
    // rule, then back to ≤1e4 longs), so HHI ∈ [0, 1e8] with the
    // DOJ thresholds at 1500·1e4 / 2500·1e4. Floor-quantized shares
    // under-count by ≤ n_suppliers basis-point fractions —
    // deterministic, identical both engines. Shape: one lineitem⋈
    // supplier keyed join + two hash aggs; the 25-row nation total
    // joins back broadcast. Monopoly reads 1e8, atomistic → 0.
    "q233_hhi_concentration" -> ((s, d) => {
      import s.implicits._
      val rev = T.lineitem(s, d)
        .join(T.supplier(s, d).select($"s_suppkey", $"s_nationkey"),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(T.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"s_suppkey")
        .agg(sum(Exact.cents($"l_extendedprice")).as("rc"))
      val tot = rev.groupBy($"n_name").agg(sum($"rc").as("tc"))
      rev.join(broadcast(tot), Seq("n_name"))
        .select($"n_name",
          expr("CAST((CAST(rc AS DECIMAL(38,0)) * 10000) div tc AS BIGINT)")
            .as("sbp"))
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum($"sbp" * $"sbp").cast("bigint").as("hhi"))
    }),

    // ---- Katz centrality with data-derived attenuation --------------
    // The third classical centrality next to q145's PageRank and
    // q212's HITS (see [[katzPpm]]): counts ALL walks reaching a
    // vertex, attenuated α per hop, with α = 1e6 div (dmax+1) derived
    // from the graph's own measured max degree so convergence is
    // structural (α·λmax < 1 always), never a tuning guess. Runs on
    // the shared [[coocDir]]/[[coocDeg]] substrates through the
    // shared tolerance fixpoint; the recursive-CTE oracle replays the
    // identical trajectory and successor-pick stop.
    "q235_katz_centrality" -> ((s, d) =>
      katzPpm(coocDir(s, d), coocDeg(s, d))
        .withColumnRenamed("v", "part"))
  )

  /** Same text on Spark SQL and DuckDB (q28 convention): a correlated
    * LATERAL subquery with ORDER BY + LIMIT per outer row. */
  val lateralTopkText: String =
    """SELECT n_name, c_name, bal_c
      |FROM nation n, LATERAL (
      |  SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY bal_c DESC, c_name
      |  LIMIT 3) t""".stripMargin

  /** Shared tail of the PageRank-family fixpoint oracles: the
    * recursive CTE `pr` carries (iter, v, p) for iterations 0..32;
    * the result is the state at the FIRST iteration k whose successor
    * state is identical on every vertex (the ppm fixpoint), falling
    * back to the capped state at 32 — exactly the stopping rule
    * [[iterateToFixpointPpm]] implements, so the engines agree on
    * every trajectory, converged or capped. */
  private[operators] def prFixpointTail(outCol: String, maxIters: Int = 32): String =
    s"""conv AS (
       |  SELECT a.iter AS k
       |  FROM pr a JOIN pr b ON b.iter = a.iter + 1 AND b.v = a.v
       |  GROUP BY a.iter
       |  HAVING max(CASE WHEN a.p = b.p THEN 0 ELSE 1 END) = 0),
       |pick AS (SELECT coalesce(min(k), $maxIters) AS k FROM conv)
       |SELECT pr.v AS part, CAST(pr.p AS BIGINT) AS $outCol
       |FROM pr JOIN pick ON pr.iter = pick.k""".stripMargin

  /** q148's exact sums; also q159's ground truth (the bucketed
    * substrate must reproduce them bit-for-bit). */
  private val assortativityText: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT x.p AS a, y.p AS b
      |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
      |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
      |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u)
      |SELECT count(*) AS n_edges,
      |  CAST(sum(dx.deg) AS BIGINT) AS s_x,
      |  CAST(sum(dx.deg * dy.deg) AS BIGINT) AS s_xy,
      |  CAST(sum(dx.deg * dx.deg) AS BIGINT) AS s_xx
      |FROM dir JOIN deg dx ON dx.u = dir.u JOIN deg dy ON dy.u = dir.v""".stripMargin

  /** Shared link-prediction CTEs ([[linkPred]]'s graph build): the
    * weighted directed adjacency, exact degrees, the skew-relative
    * capped adjacency (max(64, 1.5× mean degree) strongest edges per
    * vertex), and the 2% probe set. */
  private val linkPredCtes: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |cooc AS (
      |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS cooc
      |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p GROUP BY 1, 2),
      |dirw AS (SELECT a AS u, b AS v, cooc FROM cooc
      |  UNION ALL SELECT b AS u, a AS v, cooc FROM cooc),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM dirw GROUP BY u),
      |capr AS (
      |  SELECT greatest(
      |    (3 * (SELECT count(*) FROM cooc)) // (SELECT count(*) FROM deg),
      |    64) AS cap),
      |adj AS (
      |  SELECT u, v FROM (
      |    SELECT u, v,
      |      row_number() OVER (PARTITION BY u ORDER BY cooc DESC, v) AS rn
      |    FROM dirw) r, capr WHERE rn <= capr.cap),
      |probes AS (
      |  SELECT u FROM deg
      |  WHERE CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) % 50 = 0)""".stripMargin

  /** One scored-top-5 link-prediction branch over adjacency `src`
    * (`adj` = capped, `dirw` = exact), CTE names suffixed `sfx`. */
  private def linkPredBranch(src: String, sfx: String): String =
    s"""twohop$sfx AS (
       |  SELECT d1.u AS a, d2.v AS b, CAST(count(*) AS BIGINT) AS cn
       |  FROM probes p JOIN $src d1 ON d1.u = p.u JOIN $src d2 ON d2.u = d1.v
       |  WHERE d2.v != d1.u
       |  GROUP BY 1, 2),
       |nonedge$sfx AS (
       |  SELECT t.* FROM twohop$sfx t
       |  WHERE NOT EXISTS (SELECT 1 FROM cooc e
       |    WHERE e.a = least(t.a, t.b) AND e.b = greatest(t.a, t.b))),
       |t5$sfx AS (
       |  SELECT part, cand, cn, jaccard_ppm,
       |    CAST(row_number() OVER (PARTITION BY part
       |      ORDER BY jaccard_ppm DESC, cn DESC, cand) AS BIGINT) AS rn
       |  FROM (
       |    SELECT c.a AS part, c.b AS cand, c.cn,
       |      c.cn * 1000000 // (da.deg + db.deg - c.cn) AS jaccard_ppm
       |    FROM nonedge$sfx c
       |    JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b) s)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q115_lateral_topk" -> lateralTopkText,

    "q178_ols_trend" ->
      """WITH pts AS (
        |  SELECT n_name,
        |    CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS x,
        |    (CAST(round(o_totalprice * 100) AS BIGINT) + 50) // 100 AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |g AS (
        |  SELECT n_name, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |    CAST(sum(x * x) AS BIGINT) AS sum_x2
        |  FROM pts GROUP BY 1)
        |SELECT n_name, n, sum_x, sum_y, sum_xy, sum_x2,
        |  n * sum_xy - sum_x * sum_y AS slope_num,
        |  n * sum_x2 - sum_x * sum_x AS slope_den
        |FROM g""".stripMargin,

    "q145_pagerank" ->
      s"""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |nv AS (SELECT count(*) AS n_v FROM deg),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, 1000000 // n_v AS p FROM deg CROSS JOIN nv
        |  UNION ALL
        |  SELECT c.iter + 1, dir.v,
        |    150000 // nv.n_v + (850000 * CAST(sum(c.c) AS BIGINT)) // 1000000 AS p
        |  FROM (SELECT pr.iter, pr.v AS u, pr.p // deg.deg AS c
        |        FROM pr JOIN deg ON deg.u = pr.v
        |        WHERE pr.iter < 32) c
        |  JOIN dir ON dir.u = c.u CROSS JOIN nv
        |  GROUP BY c.iter, dir.v, nv.n_v),
        |${prFixpointTail("pr_ppm")}""".stripMargin,

    // the Katz recurrence with the measured-dmax attenuation and the
    // q212-style ±1 ppm successor-pick stop (cap 16)
    "q235_katz_centrality" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |al AS (SELECT CAST(1000000 // (max(deg) + 1) AS BIGINT) AS a_ppm FROM deg),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, CAST(1000000 AS BIGINT) AS p FROM deg
        |  UNION ALL
        |  SELECT s.iter + 1, s.v,
        |    CAST(1000000 + (al.a_ppm * s.sx) // 1000000 AS BIGINT) AS p
        |  FROM (
        |    SELECT pr.iter, dir.v, CAST(sum(pr.p) AS BIGINT) AS sx
        |    FROM dir JOIN pr ON pr.v = dir.u
        |    WHERE pr.iter < 16
        |    GROUP BY pr.iter, dir.v) s
        |  CROSS JOIN al),
        |conv AS (
        |  SELECT a.iter + 1 AS k
        |  FROM pr a JOIN pr b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(abs(a.p - b.p)) <= 1),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv)
        |SELECT pr.v AS part, CAST(pr.p AS BIGINT) AS katz_ppm
        |FROM pr JOIN pick ON pr.iter = pick.k""".stripMargin,

    "q162_weighted_pagerank" ->
      s"""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |cooc AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS cooc
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p
        |  GROUP BY 1, 2),
        |dirw AS (
        |  SELECT a AS u, b AS v, cooc FROM cooc
        |  UNION ALL SELECT b AS u, a AS v, cooc FROM cooc),
        |wdeg AS (SELECT u, CAST(sum(cooc) AS BIGINT) AS wdeg FROM dirw GROUP BY u),
        |nv AS (SELECT count(*) AS n_v FROM wdeg),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, 1000000 // n_v AS p FROM wdeg CROSS JOIN nv
        |  UNION ALL
        |  SELECT s.iter + 1, s.v, 150000 // nv.n_v + (850000 * s.sc) // 1000000 AS p
        |  FROM (
        |    SELECT pr.iter, d.v,
        |      CAST(sum((pr.p * d.cooc) // w.wdeg) AS BIGINT) AS sc
        |    FROM dirw d JOIN pr ON pr.v = d.u JOIN wdeg w ON w.u = d.u
        |    WHERE pr.iter < 32
        |    GROUP BY pr.iter, d.v) s
        |  CROSS JOIN nv),
        |${prFixpointTail("wpr_ppm")}""".stripMargin,

    "q161_personalized_pagerank" ->
      s"""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |pprobes AS (
        |  SELECT u AS v FROM deg
        |  WHERE CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) % 50 = 0),
        |np AS (SELECT count(*) AS n_p FROM pprobes),
        |pr AS (
        |  SELECT 0 AS iter, deg.u AS v,
        |    CASE WHEN p2.v IS NOT NULL THEN 1000000 // np.n_p ELSE 0 END AS p
        |  FROM deg LEFT JOIN pprobes p2 ON p2.v = deg.u CROSS JOIN np
        |  UNION ALL
        |  SELECT c.iter + 1, dir.v,
        |    CASE WHEN pb.v IS NOT NULL THEN 150000 // np.n_p ELSE 0 END
        |      + (850000 * CAST(sum(c.c) AS BIGINT)) // 1000000 AS p
        |  FROM (SELECT pr.iter, pr.v AS u, pr.p // deg.deg AS c
        |        FROM pr JOIN deg ON deg.u = pr.v
        |        WHERE pr.iter < 32) c
        |  JOIN dir ON dir.u = c.u
        |  LEFT JOIN pprobes pb ON pb.v = dir.v CROSS JOIN np
        |  GROUP BY c.iter, dir.v, pb.v, np.n_p),
        |${prFixpointTail("ppr_ppm")}""".stripMargin,

    "q164_label_propagation" ->
      s"""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, u AS p FROM deg
        |  UNION ALL
        |  SELECT t.iter + 1, t.v, t.lab AS p FROM (
        |    SELECT c.iter, c.v, c.lab,
        |      row_number() OVER (PARTITION BY c.iter, c.v
        |        ORDER BY c.cnt DESC, c.lab) AS rn
        |    FROM (
        |      SELECT pr.iter, dir.v, pr.p AS lab, count(*) AS cnt
        |      FROM dir JOIN pr ON pr.v = dir.u
        |      WHERE pr.iter < 16
        |      GROUP BY pr.iter, dir.v, pr.p) c) t
        |  WHERE t.rn = 1),
        |${prFixpointTail("community", 16)}""".stripMargin,

    // the q164 LPA trajectory re-run to its fixpoint labels, then
    // Newman modularity per community with the shifted signed floor
    "q203_modularity" ->
      s"""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, u AS p FROM deg
        |  UNION ALL
        |  SELECT t.iter + 1, t.v, t.lab AS p FROM (
        |    SELECT c.iter, c.v, c.lab,
        |      row_number() OVER (PARTITION BY c.iter, c.v
        |        ORDER BY c.cnt DESC, c.lab) AS rn
        |    FROM (
        |      SELECT pr.iter, dir.v, pr.p AS lab, count(*) AS cnt
        |      FROM dir JOIN pr ON pr.v = dir.u
        |      WHERE pr.iter < 16
        |      GROUP BY pr.iter, dir.v, pr.p) c) t
        |  WHERE t.rn = 1),
        |conv AS (
        |  SELECT a.iter AS k
        |  FROM pr a JOIN pr b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(CASE WHEN a.p = b.p THEN 0 ELSE 1 END) = 0),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv),
        |lab AS (
        |  SELECT pr.v, CAST(pr.p AS BIGINT) AS c
        |  FROM pr JOIN pick ON pr.iter = pick.k),
        |mm AS (SELECT count(*) AS m FROM e),
        |din AS (
        |  SELECT la.c, count(*) AS m_in
        |  FROM e JOIN lab la ON la.v = e.a
        |  JOIN lab lb ON lb.v = e.b AND lb.c = la.c
        |  GROUP BY la.c),
        |dc AS (
        |  SELECT lab.c, count(*) AS n_vertices,
        |    CAST(sum(deg.deg) AS BIGINT) AS d_tot
        |  FROM lab JOIN deg ON deg.u = lab.v
        |  GROUP BY lab.c)
        |SELECT dc.c AS community, dc.n_vertices,
        |  CAST(coalesce(din.m_in, 0) AS BIGINT) AS m_in, dc.d_tot,
        |  ((4 * mm.m * CAST(coalesce(din.m_in, 0) AS BIGINT)
        |      - dc.d_tot * dc.d_tot) * 1000
        |    + 1000 * 4 * mm.m * mm.m) // (4 * mm.m * mm.m) - 1000
        |    AS contrib_ppk
        |FROM dc LEFT JOIN din ON din.c = dc.c, mm""".stripMargin,

    // q164's LPA fixpoint labels re-derived, then boundary conductance
    // per community via cut = vol − 2·m_in (identical chain to q203's
    // up to `dc`; only the final select differs)
    "q357_conductance_audit" ->
      s"""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |pr AS (
        |  SELECT 0 AS iter, u AS v, u AS p FROM deg
        |  UNION ALL
        |  SELECT t.iter + 1, t.v, t.lab AS p FROM (
        |    SELECT c.iter, c.v, c.lab,
        |      row_number() OVER (PARTITION BY c.iter, c.v
        |        ORDER BY c.cnt DESC, c.lab) AS rn
        |    FROM (
        |      SELECT pr.iter, dir.v, pr.p AS lab, count(*) AS cnt
        |      FROM dir JOIN pr ON pr.v = dir.u
        |      WHERE pr.iter < 16
        |      GROUP BY pr.iter, dir.v, pr.p) c) t
        |  WHERE t.rn = 1),
        |conv AS (
        |  SELECT a.iter AS k
        |  FROM pr a JOIN pr b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(CASE WHEN a.p = b.p THEN 0 ELSE 1 END) = 0),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv),
        |lab AS (
        |  SELECT pr.v, CAST(pr.p AS BIGINT) AS c
        |  FROM pr JOIN pick ON pr.iter = pick.k),
        |mm AS (SELECT count(*) AS m FROM e),
        |din AS (
        |  SELECT la.c, count(*) AS m_in
        |  FROM e JOIN lab la ON la.v = e.a
        |  JOIN lab lb ON lb.v = e.b AND lb.c = la.c
        |  GROUP BY la.c),
        |dc AS (
        |  SELECT lab.c, count(*) AS n_vertices,
        |    CAST(sum(deg.deg) AS BIGINT) AS vol
        |  FROM lab JOIN deg ON deg.u = lab.v
        |  GROUP BY lab.c)
        |SELECT dc.c AS community, CAST(dc.n_vertices AS BIGINT) AS n_vertices,
        |  CAST(coalesce(din.m_in, 0) AS BIGINT) AS m_in, dc.vol,
        |  CAST(dc.vol - 2 * coalesce(din.m_in, 0) AS BIGINT) AS cut_edges,
        |  CAST(CASE WHEN least(dc.vol, 2 * mm.m - dc.vol) = 0 THEN 0
        |    ELSE (dc.vol - 2 * coalesce(din.m_in, 0)) * 1000000
        |      // least(dc.vol, 2 * mm.m - dc.vol) END AS BIGINT) AS phi_ppm
        |FROM dc LEFT JOIN din ON din.c = dc.c, mm""".stripMargin,

    // 4 materialized register-max rounds (the unrolled-iteration
    // rule), q214's m=32 bank per VERTEX: j/rank from the shared
    // md5-h60 form, per-vertex HUGEINT estimate, per-hop sum
    "q359_hyperanf" -> {
      val round = (k: Int) =>
        s""",
          |r$k AS MATERIALIZED (
          |  SELECT v, j, CAST(max(reg) AS BIGINT) AS reg FROM (
          |    SELECT v, j, reg FROM r${k - 1}
          |    UNION ALL
          |    SELECT ed.u AS v, rr.j, rr.reg
          |    FROM ed JOIN r${k - 1} rr ON rr.v = ed.v)
          |  GROUP BY v, j)""".stripMargin
      val nfAt = (k: Int) =>
        s""",
          |nf$k AS (
          |  SELECT CAST($k AS BIGINT) AS hop,
          |    CAST(sum(est) AS BIGINT) AS nf_est FROM (
          |    SELECT v,
          |      CAST((CAST(697000 AS HUGEINT) * 1024 * 72057594037927936)
          |        // (CAST(sum(CAST(1 AS BIGINT) << CAST(56 - reg AS INT))
          |          + (32 - count(*)) * 72057594037927936 AS HUGEINT)
          |          * 1000000) AS BIGINT) AS est
          |    FROM r$k GROUP BY v) t)""".stripMargin
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |ed AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |verts AS (SELECT DISTINCT u AS v FROM ed),
        |h AS (SELECT v,
        |  CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT)
        |    AS h FROM verts),
        |r0 AS MATERIALIZED (SELECT v, h // 36028797018963968 AS j,
        |  CAST(CASE WHEN h % 36028797018963968 = 0 THEN 56
        |       ELSE 55 - (length(bin(h % 36028797018963968)) - 1)
        |  END AS BIGINT) AS reg FROM h)""".stripMargin +
        (1 to 4).map(round).mkString +
        (0 to 4).map(nfAt).mkString +
        """,
          |curve AS (SELECT * FROM nf0 UNION ALL SELECT * FROM nf1
          |  UNION ALL SELECT * FROM nf2 UNION ALL SELECT * FROM nf3
          |  UNION ALL SELECT * FROM nf4),
          |fin AS (SELECT nf_est AS nf_final FROM curve WHERE hop = 4)
          |SELECT hop, nf_est,
          |  CAST(CAST(nf_est AS HUGEINT) * 1000000 // nf_final AS BIGINT)
          |    AS closure_ppm
          |FROM curve CROSS JOIN fin""".stripMargin
    },

    "q146_item_similarity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |freq AS (SELECT p, count(*) AS n FROM li GROUP BY p),
        |cooc AS (
        |  SELECT x.p AS a, y.p AS b, count(*) AS cooc
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT a AS part, b AS nbr, cooc FROM cooc
        |  UNION ALL SELECT b AS part, a AS nbr, cooc FROM cooc),
        |scored AS (
        |  SELECT s.part, s.nbr, s.cooc,
        |    ((s.cooc * 1000000) // fp.n) * s.cooc // fn.n AS sim_ppm
        |  FROM sym s JOIN freq fp ON fp.p = s.part JOIN freq fn ON fn.p = s.nbr)
        |SELECT part, nbr, cooc, CAST(sim_ppm AS BIGINT) AS sim_ppm, rn FROM (
        |  SELECT part, nbr, cooc, sim_ppm,
        |    CAST(row_number() OVER (
        |      PARTITION BY part ORDER BY sim_ppm DESC, nbr) AS BIGINT) AS rn
        |  FROM scored) t
        |WHERE rn <= 5""".stripMargin,

    "q148_degree_assortativity" -> assortativityText,
    // identical ground truth: q159 must reproduce q148's sums from the
    // bucketed on-disk substrate
    "q159_cooc_substrate_reuse" -> assortativityText,

    "q172_frequent_triples" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
        |SELECT a.p AS p1, b.p AS p2, c.p AS p3, count(*) AS support
        |FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |          JOIN li c ON b.o = c.o AND b.p < c.p
        |GROUP BY 1, 2, 3
        |ORDER BY support DESC, p1, p2, p3
        |LIMIT 20""".stripMargin,

    // ground truth = the FULL from-scratch pair build: equality proves
    // the incremental union-merge maintains the substrate exactly
    "q168_cooc_incremental" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |fullp AS (
        |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS cooc
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p GROUP BY 1, 2)
        |SELECT a % 16 AS bucket, count(*) AS n_edges,
        |  CAST(sum(cooc) AS BIGINT) AS sum_cooc,
        |  bit_xor(CAST('0x' || substr(md5(
        |    CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR) || '_' ||
        |    CAST(cooc AS VARCHAR)), 1, 15) AS BIGINT)) AS xor_fp
        |FROM fullp GROUP BY 1""".stripMargin,

    "q150_link_prediction" ->
      s"""$linkPredCtes,
         |${linkPredBranch("adj", "")}
         |SELECT part, cand, cn, jaccard_ppm, rn
         |FROM t5 WHERE rn <= 5""".stripMargin,

    "q160_linkpred_cap_audit" ->
      s"""$linkPredCtes,
         |${linkPredBranch("adj", "_cp")},
         |${linkPredBranch("dirw", "_ex")}
         |SELECT coalesce(ex.part, cp.part) AS part,
         |  CAST(count(ex.cand) AS BIGINT) AS n_exact5,
         |  CAST(count(cp.cand) AS BIGINT) AS n_capped5,
         |  CAST(sum(CASE WHEN ex.cand IS NOT NULL AND cp.cand IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS overlap5
         |FROM (SELECT * FROM t5_ex WHERE rn <= 5) ex
         |FULL JOIN (SELECT * FROM t5_cp WHERE rn <= 5) cp
         |  ON cp.part = ex.part AND cp.cand = ex.cand
         |GROUP BY 1""".stripMargin,

    // ground truth via the unoriented a<b<c triple join (each triangle
    // counted once), affordable at oracle scale only
    "q138_graph_triangles" ->
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        |  GROUP BY v),
        |tr AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |perv AS (
        |  SELECT v, count(*) AS tri FROM (
        |    SELECT a AS v FROM tr UNION ALL SELECT b AS v FROM tr
        |    UNION ALL SELECT c AS v FROM tr)
        |  GROUP BY v)
        |SELECT deg.v AS part, deg.deg,
        |  CAST(coalesce(perv.tri, 0) AS BIGINT) AS triangles,
        |  CASE WHEN deg.deg >= 2 THEN
        |    (CAST(coalesce(perv.tri, 0) AS BIGINT) * 2000000) // (deg.deg * (deg.deg - 1))
        |  ELSE 0 END AS coef_ppm
        |FROM deg LEFT JOIN perv ON perv.v = deg.v""".stripMargin,

    // the same capped peel unrolled: 6 fixed rounds, each a no-op once
    // the fixpoint is reached — the Spark side caps at the same 6.
    // AS MATERIALIZED throughout: inlined CTEs would re-expand each
    // round's predecessor multiplicatively (4^6 lineitem scans)
    "q191_kcore" -> {
      val peel = (0 until 6).map { i =>
        s"""d${i + 1} AS MATERIALIZED (
           |  SELECT v, count(*) AS deg FROM (
           |    SELECT a AS v FROM e$i UNION ALL SELECT b AS v FROM e$i)
           |  GROUP BY v),
           |k${i + 1} AS MATERIALIZED (
           |  SELECT v FROM d${i + 1} WHERE deg >= (SELECT k FROM kv)),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e$i e
           |  JOIN k${i + 1} x ON e.a = x.v
           |  JOIN k${i + 1} y ON e.b = y.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
         |d0 AS MATERIALIZED (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
         |  GROUP BY v),
         |kv AS MATERIALIZED (
         |  SELECT min(deg) +
         |    ((CAST(sum(deg) AS BIGINT) // count(*)) - min(deg)) // 2 AS k
         |  FROM d0),
         |$peel
         |SELECT v AS part, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT a AS v FROM e6 UNION ALL SELECT b AS v FROM e6)
         |GROUP BY v""".stripMargin
    },

    // the same 4-hop frontier expansion unrolled (materialized — the
    // per-hop predecessors would otherwise re-expand multiplicatively)
    "q195_bfs_hops" -> {
      val hops = (1 to 4).map { h =>
        s"""f$h AS MATERIALIZED (
           |  SELECT DISTINCT d.v FROM dirw d
           |  JOIN f${h - 1} f ON d.u = f.v
           |  WHERE d.v NOT IN (SELECT v FROM vis${h - 1})),
           |vis$h AS MATERIALIZED (
           |  SELECT v FROM vis${h - 1} UNION SELECT v FROM f$h)"""
          .stripMargin
      }.mkString(",\n")
      val counts = (0 to 4).map { h =>
        s"""SELECT CAST($h AS BIGINT) AS hop,
           |  CAST(count(*) AS BIGINT) AS n_vertices FROM f$h
           |  HAVING count(*) > 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
         |dirw AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b AS u, a AS v FROM e),
         |vs AS MATERIALIZED (
         |  SELECT DISTINCT v FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)),
         |f0 AS MATERIALIZED (
         |  SELECT v FROM vs
         |  WHERE CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
         |    AS BIGINT) % 50 = 0),
         |vis0 AS MATERIALIZED (SELECT v FROM f0),
         |$hops
         |$counts
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS hop,
         |  CAST(count(*) AS BIGINT) AS n_vertices FROM vs
         |  WHERE v NOT IN (SELECT v FROM vis4)
         |  HAVING count(*) > 0""".stripMargin
    },

    // the 6 synchronous relaxation rounds unrolled and materialized
    // (each round re-reads the previous state twice — once direct,
    // once under the edge join — so inlined CTEs would re-expand
    // multiplicatively, the q195/q191 rule); identical weights, seeds
    // and min-fold
    "q327_weighted_sssp" -> {
      val rounds = (1 to 6).map { r =>
        s"""r$r AS MATERIALIZED (
           |  SELECT sd, v, min(dist) AS dist FROM (
           |    SELECT sd, v, dist FROM r${r - 1}
           |    UNION ALL
           |    SELECT r.sd, e.v, r.dist + e.w
           |    FROM r${r - 1} r JOIN ew e ON e.u = r.v) u
           |  GROUP BY sd, v)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT x.p AS a, y.p AS b, count(*) AS cooc
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |ew AS MATERIALIZED (
         |  SELECT u, v, CAST(1 + 1024 // cooc AS BIGINT) AS w FROM (
         |    SELECT a AS u, b AS v, cooc FROM e0
         |    UNION ALL SELECT b, a, cooc FROM e0) b),
         |vs AS (SELECT DISTINCT u AS v FROM ew),
         |sd AS MATERIALIZED (
         |  SELECT v FROM vs
         |  ORDER BY CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
         |    AS BIGINT), v LIMIT 4),
         |r0 AS MATERIALIZED (
         |  SELECT v AS sd, v, CAST(0 AS BIGINT) AS dist FROM sd),
         |$rounds
         |SELECT sd, v, CAST(dist AS BIGINT) AS dist FROM r6""".stripMargin
    },

    // the labeled BFS unrolled to 4 materialized hops (the q195/q191
    // CTE rule), seeds = the 8 md5-smallest vertices
    "q242_harmonic_centrality" -> {
      val hops = (1 to 4).map { h =>
        s"""f$h AS MATERIALIZED (
           |  SELECT DISTINCT f.sd, d.v FROM dirw d
           |  JOIN f${h - 1} f ON d.u = f.v
           |  WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} x
           |                    WHERE x.sd = f.sd AND x.v = d.v)),
           |vis$h AS MATERIALIZED (
           |  SELECT sd, v, hop FROM vis${h - 1}
           |  UNION ALL SELECT sd, v, CAST($h AS BIGINT) AS hop FROM f$h)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
         |dirw AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b AS u, a AS v FROM e),
         |vs AS MATERIALIZED (
         |  SELECT DISTINCT v FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)),
         |sds AS MATERIALIZED (
         |  SELECT v AS sd FROM vs
         |  ORDER BY CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
         |    AS BIGINT), v
         |  LIMIT 8),
         |f0 AS MATERIALIZED (SELECT sd, sd AS v FROM sds),
         |vis0 AS MATERIALIZED (
         |  SELECT sd, v, CAST(0 AS BIGINT) AS hop FROM f0),
         |$hops
         |SELECT v, CAST(count(*) AS BIGINT) AS n_seeds,
         |  CAST(sum(1000000 // hop) AS BIGINT) AS h_ppm
         |FROM vis4 WHERE hop >= 1 GROUP BY v""".stripMargin
    },

    // both maintenance paths replayed over the identical hash-chosen
    // CDC log; the consistency bit is the gated invariant
    "q320_ivm_retraction_audit" ->
      s"""WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pri,
        |    ${graft.functions.Exact.centsSql("o_totalprice")} AS c,
        |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM orders),
        |f AS (SELECT k, pri, c, h % 7 = 0 AS u7, h % 13 = 0 AS u13 FROM o),
        |deltas AS (
        |  SELECT pri, 1 AS op, c FROM f
        |  UNION ALL SELECT pri, -1, c FROM f WHERE u7
        |  UNION ALL SELECT pri, 1, c + 10000 FROM f WHERE u7
        |  UNION ALL SELECT pri, -1, CASE WHEN u7 THEN c + 10000 ELSE c END
        |    FROM f WHERE u13),
        |inc AS (
        |  SELECT pri, CAST(sum(op) AS BIGINT) AS n_inc,
        |    CAST(sum(op * c) AS BIGINT) AS sum_inc_c
        |  FROM deltas GROUP BY 1),
        |direct AS (
        |  SELECT pri, CAST(count(*) AS BIGINT) AS n_dir,
        |    CAST(sum(CASE WHEN u7 THEN c + 10000 ELSE c END) AS BIGINT)
        |      AS sum_dir_c
        |  FROM f WHERE NOT u13 GROUP BY 1)
        |SELECT i.pri AS priority, i.n_inc, i.sum_inc_c, d.n_dir,
        |  d.sum_dir_c,
        |  CAST(i.n_inc = d.n_dir AND i.sum_inc_c = d.sum_dir_c AS BIGINT)
        |    AS consistent
        |FROM inc i JOIN direct d ON i.pri = d.pri""".stripMargin,

    // q242's BFS preamble + a σ forward sweep and Brandes' δ backward
    // sweep, every floor replayed term-by-term (q195's materialized-
    // CTE rule throughout — DuckDB inlines plain CTEs multiplicatively)
    "q313_betweenness_sampled" -> {
      val hops = (1 to 4).map { h =>
        s"""f$h AS MATERIALIZED (
           |  SELECT DISTINCT f.sd, d.v FROM dirw d
           |  JOIN f${h - 1} f ON d.u = f.v
           |  WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} x
           |                    WHERE x.sd = f.sd AND x.v = d.v)),
           |vis$h AS MATERIALIZED (
           |  SELECT sd, v, hop FROM vis${h - 1}
           |  UNION ALL SELECT sd, v, CAST($h AS BIGINT) AS hop FROM f$h)"""
          .stripMargin
      }.mkString(",\n")
      val sigs = (1 to 4).map { h =>
        s"""sig$h AS MATERIALIZED (
           |  SELECT s.sd, d.v, CAST(sum(s.sig) AS BIGINT) AS sig
           |  FROM sig${h - 1} s JOIN dirw d ON d.u = s.v
           |  JOIN vis4 t ON t.sd = s.sd AND t.v = d.v AND t.hop = $h
           |  GROUP BY s.sd, d.v)""".stripMargin
      }.mkString(",\n")
      val dels = (3 to 0 by -1).map { h =>
        s"""del$h AS MATERIALIZED (
           |  SELECT s.sd, s.v,
           |    CAST(sum(s.sig * (1000000 + COALESCE(dl.delta, 0)) // sw.sig)
           |      AS BIGINT) AS delta
           |  FROM sig$h s JOIN dirw d ON d.u = s.v
           |  JOIN sig${h + 1} sw ON sw.sd = s.sd AND sw.v = d.v
           |  LEFT JOIN del${h + 1} dl ON dl.sd = sw.sd AND dl.v = sw.v
           |  GROUP BY s.sd, s.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT x.p AS a, y.p AS b
         |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
         |dirw AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b AS u, a AS v FROM e),
         |vs AS MATERIALIZED (
         |  SELECT DISTINCT v FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)),
         |kk AS MATERIALIZED (
         |  SELECT least(12, greatest(4, length(bin(count(*))) // 2 + 1))
         |    AS k FROM vs),
         |sds AS MATERIALIZED (
         |  SELECT sd FROM (
         |    SELECT v AS sd, row_number() OVER (ORDER BY
         |      CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
         |        AS BIGINT), v) AS rn
         |    FROM vs) t, kk WHERE t.rn <= kk.k),
         |f0 AS MATERIALIZED (SELECT sd, sd AS v FROM sds),
         |vis0 AS MATERIALIZED (
         |  SELECT sd, v, CAST(0 AS BIGINT) AS hop FROM f0),
         |$hops,
         |sig0 AS MATERIALIZED (
         |  SELECT sd, sd AS v, CAST(1 AS BIGINT) AS sig FROM sds),
         |$sigs,
         |del4 AS MATERIALIZED (
         |  SELECT sd, v, CAST(0 AS BIGINT) AS delta FROM sig4 WHERE 1 = 0),
         |$dels,
         |alld AS (
         |  SELECT * FROM del0 UNION ALL SELECT * FROM del1
         |  UNION ALL SELECT * FROM del2 UNION ALL SELECT * FROM del3)
         |SELECT v, CAST(count(*) AS BIGINT) AS n_seeds,
         |  CAST(sum(delta) AS BIGINT) AS bc_ppm
         |FROM alld WHERE v NOT IN (SELECT sd FROM sds)
         |GROUP BY v ORDER BY bc_ppm DESC, v LIMIT 25""".stripMargin
    },

    "q121_listagg" ->
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // GROUP BY ROLLUP with the same GROUPING bitmask semantics
    "q352_revenue_rollup" ->
      s"""SELECT r_name, n_name,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT) AS rev_c
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q97_pct_of_parent" ->
      s"""WITH g AS (
        |  SELECT r_name, n_name,
        |    CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT) AS rev_c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name),
        |w AS (
        |  SELECT r_name, n_name, rev_c,
        |    CAST(sum(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS region_rev_c,
        |    CAST(sum(rev_c) OVER () AS BIGINT) AS total_rev_c
        |  FROM g)
        |SELECT r_name, n_name, rev_c,
        |  (rev_c * 1000000) // region_rev_c AS nation_share_ppm,
        |  (region_rev_c * 1000000) // total_rev_c AS region_share_ppm
        |FROM w""".stripMargin,

    "q90_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag, count(*) AS n_rows,
        |    count(DISTINCT l_partkey) AS n_parts,
        |    count(DISTINCT l_suppkey) AS n_supps
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, val
        |FROM w UNPIVOT (val FOR metric IN (n_rows, n_parts, n_supps))""".stripMargin,

    "q91_corr_powersums" ->
      s"""WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(${Exact.centsSql("l_discount")}) AS BIGINT) AS sum_x,
        |    CAST(sum(${Exact.centsSql("l_tax")}) AS BIGINT) AS sum_y,
        |    CAST(sum(${Exact.centsSql("l_discount")} * ${Exact.centsSql("l_tax")})
        |      AS BIGINT) AS sum_xy,
        |    CAST(sum(${Exact.centsSql("l_discount")} * ${Exact.centsSql("l_discount")})
        |      AS BIGINT) AS sum_x2,
        |    CAST(sum(${Exact.centsSql("l_tax")} * ${Exact.centsSql("l_tax")})
        |      AS BIGINT) AS sum_y2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n, sum_x, sum_y, sum_xy,
        |  n * sum_xy - sum_x * sum_y AS cov_num,
        |  n * sum_x2 - sum_x * sum_x AS varx_num,
        |  n * sum_y2 - sum_y * sum_y AS vary_num
        |FROM g""".stripMargin,

    "q82_moment_stats" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS sum_q2
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus, n, sum_q, sum_q2,
        |  n * sum_q2 - sum_q * sum_q AS var_num,
        |  (sum_q * 1000000) // n AS mean_q_ppm
        |FROM g""".stripMargin,

    "q85_window_analytics" ->
      s"""SELECT o_orderkey, o_custkey,
        |  first_value(price_c) OVER wr AS first_c,
        |  nth_value(price_c, 2) OVER wr AS second_c,
        |  last_value(price_c) OVER wf AS last_c,
        |  percent_rank() OVER wo AS pr,
        |  cume_dist() OVER wo AS cd
        |FROM (SELECT o_orderkey, o_custkey, o_orderdate,
        |        ${Exact.centsSql("o_totalprice")} AS price_c FROM orders) t
        |WINDOW
        |  wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    // salted join == plain join, by construction
    "q71_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
        |  ${Exact.sumMoneySql("o_totalprice")} AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q199_graph_epoch_churn" ->
      """WITH b AS (
        |  SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1 FROM orders),
        |mid AS (
        |  SELECT CAST(d0 AS DATE) +
        |    CAST(datediff('day', d0, d1) // 2 AS INTEGER) AS m
        |  FROM b),
        |lo AS (
        |  SELECT l_orderkey AS o, l_partkey AS p, o_orderdate AS dt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |op1 AS (SELECT DISTINCT o, p FROM lo WHERE dt < (SELECT m FROM mid)),
        |op2 AS (SELECT DISTINCT o, p FROM lo WHERE dt >= (SELECT m FROM mid)),
        |e1 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op1 x JOIN op1 y ON x.o = y.o WHERE x.p < y.p),
        |e2 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM op2 x JOIN op2 y ON x.o = y.o WHERE x.p < y.p),
        |cl AS (
        |  SELECT coalesce(e1.a, e2.a) AS a, coalesce(e1.b, e2.b) AS b,
        |    CASE WHEN e1.a IS NOT NULL AND e2.a IS NOT NULL THEN 'persisted'
        |         WHEN e1.a IS NOT NULL THEN 'removed'
        |         ELSE 'added' END AS st
        |  FROM e1 FULL JOIN e2 ON e1.a = e2.a AND e1.b = e2.b),
        |pv AS (SELECT unnest([a, b]) AS part, st FROM cl)
        |SELECT part,
        |  CAST(sum(CASE WHEN st = 'persisted' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_persisted,
        |  CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  (CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) +
        |   CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT))
        |    * 1000000 //
        |  (CAST(sum(CASE WHEN st = 'persisted' THEN 1 ELSE 0 END) AS BIGINT) +
        |   CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) +
        |   CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT))
        |    AS churn_ppm
        |FROM pv GROUP BY part""".stripMargin,

    // salted == plain join; S replayed by the same integer formula
    "q197_salt_derived" ->
      s"""WITH kc AS (
        |  SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1),
        |sv AS (
        |  SELECT least(16, greatest(2,
        |    max(c) // (CAST(sum(c) AS BIGINT) // count(*)))) AS s
        |  FROM kc)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  ${Exact.sumMoneySql("o_totalprice")} AS revenue,
        |  CAST((SELECT s FROM sv) AS BIGINT) AS salt_s
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  ${Exact.sumMoneySql("l_extendedprice")} AS sum_base_price,
        |  ${Exact.sumRevenueSql("l_extendedprice", "l_discount")} AS sum_disc_price,
        |  ${Exact.sumChargeSql("l_extendedprice", "l_discount", "l_tax")} AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 2) AS net_price,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 10""".stripMargin,

    "q03_shipping_priority" ->
      s"""SELECT * FROM (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |    ${Exact.sumRevenueSql("l_extendedprice", "l_discount")} AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1997-01-01'
        |  GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority) t
        |WHERE revenue > 300000.0""".stripMargin,

    "q04_exists_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q05_local_supplier_volume" ->
      s"""SELECT n_name,
        |  ${Exact.sumRevenueSql("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01'
        |GROUP BY n_name""".stripMargin,

    "q06_revenue_forecast" ->
      s"""SELECT ${Exact.sumPriceTimesDiscSql("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25""".stripMargin,

    "q07_nation_volume" ->
      s"""SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  ${Exact.sumRevenueSql("l_extendedprice", "l_discount")} AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_3', 'NATION_4')
        |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)""".stripMargin,

    "q08_customer_order_stats" ->
      s"""SELECT c_custkey, c_name, c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  coalesce(${Exact.unitsToMoneySql("sum(" + Exact.centsSql("o_totalprice") + ")", 100L)}, 0.0) AS total_spent,
        |  round(coalesce(max(o_totalprice), 0.0), 2) AS max_order
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment""".stripMargin,

    "q22_full_outer" ->
      """SELECT CAST(coalesce(nk_c, nk_s) AS BIGINT) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier GROUP BY 1) p
        |ON nk_c = nk_s""".stripMargin,

    "q09_window_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    "q10_running_total" ->
      s"""SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  ${Exact.unitsToMoneySql("sum(" + Exact.centsSql("l_extendedprice") + " * (100 - " + Exact.centsSql("l_discount") + ")) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 10000L)} AS running_rev
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997""".stripMargin,

    "q11_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  round(coalesce(o_totalprice - lag(o_totalprice, 1) OVER w, 0.0), 2) AS delta_prev,
        |  round(coalesce(lead(o_totalprice, 1) OVER w, 0.0), 2) AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q13_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n, ${Exact.sumMoneySql("o_totalprice")} AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q14_set_ops" ->
      """WITH building AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |big_buyers AS (
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000.0)
        |SELECT 'intersect' AS tag, k FROM (SELECT k FROM building INTERSECT SELECT k FROM big_buyers)
        |UNION ALL
        |SELECT 'except' AS tag, k FROM (SELECT k FROM building EXCEPT SELECT k FROM big_buyers)""".stripMargin,

    "q15_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q16_distinct_agg" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  count(*) AS n_cust,
        |  round(CAST(sum(DISTINCT round(c_acctbal, 0)) AS DOUBLE), 1) AS sum_distinct_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q17_having" ->
      """SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
        |FROM part GROUP BY p_brand
        |HAVING count(*) > 50 AND round(avg(p_retailprice), 2) > 500.0""".stripMargin,

    "q18_scalar_subquery" ->
      s"""SELECT p_partkey, p_name, p_retailprice
        |FROM part
        |WHERE ${Exact.centsSql("p_retailprice")} * 100 * (SELECT count(*) FROM part)
        |    > (SELECT sum(${Exact.centsSql("p_retailprice")}) FROM part) * 105""".stripMargin,

    "q19_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |GROUP BY c_mktsegment""".stripMargin,

    "q20_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |  o_orderstatus || '-' || o_orderpriority AS status_pri,
        |  CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |  round(sqrt(o_totalprice), 4) AS sqrt_price,
        |  round(ln(o_totalprice), 4) AS ln_price,
        |  round(pow(o_totalprice, 0.25), 4) AS price_4rt,
        |  CAST(abs(ceil(o_totalprice) - floor(o_totalprice)) AS BIGINT) AS frac_flag,
        |  CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
        |FROM orders WHERE o_orderkey < 500""".stripMargin,

    "q49_acctbal_by_nation" ->
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey, count(*) AS n_cust,
        |  CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |  ${Exact.sumMoneySql("c_acctbal")} AS total_balance,
        |  ${Exact.unitsToMoneySql("sum(" + Exact.centsSql("c_acctbal") + " * 37)", 10000L)} AS converted_balance
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "q21_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q206_gini_concentration" ->
      """WITH rev AS (
        |  SELECT n_name, c_custkey,
        |    (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) + 50)
        |      // 100 AS x
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT n_name, x, CAST(count(*) AS BIGINT) AS b
        |  FROM rev GROUP BY 1, 2),
        |cum AS (
        |  SELECT n_name, x, b,
        |    CAST(sum(b) OVER (PARTITION BY n_name ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b
        |      AS BIGINT) AS cb
        |  FROM bands),
        |g AS (
        |  SELECT n_name, CAST(sum(b) AS BIGINT) AS n,
        |    CAST(sum(x * b) AS BIGINT) AS sum_x,
        |    CAST(sum(x * (b * cb + (b * (b + 1)) // 2)) AS BIGINT) AS sum_ix
        |  FROM cum GROUP BY 1)
        |SELECT n_name, n, sum_x,
        |  CAST(((2 * sum_ix - (n + 1) * sum_x) * 1000000) // (n * sum_x)
        |    AS BIGINT) AS gini_ppm
        |FROM g""".stripMargin,

    "q207_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', max(o_orderdate), DATE '1998-08-02') AS BIGINT)
        |      AS rec_days,
        |    count(*) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_c
        |  FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n_all FROM pc),
        |sample AS (
        |  SELECT pc.* FROM pc, n
        |  WHERE CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
        |    AS BIGINT) % GREATEST(1, (n_all + 8191) // 8192) = 0),
        |cnt AS (SELECT count(*) AS cnt FROM sample),
        |rb AS (
        |  SELECT rec_days AS b FROM (
        |    SELECT rec_days, row_number() OVER (ORDER BY rec_days, o_custkey)
        |      AS rn, (SELECT cnt FROM cnt) AS cnt FROM sample) t
        |  WHERE rn IN (1*cnt//5, 2*cnt//5, 3*cnt//5, 4*cnt//5)),
        |fb AS (
        |  SELECT freq AS b FROM (
        |    SELECT freq, row_number() OVER (ORDER BY freq, o_custkey)
        |      AS rn, (SELECT cnt FROM cnt) AS cnt FROM sample) t
        |  WHERE rn IN (1*cnt//5, 2*cnt//5, 3*cnt//5, 4*cnt//5)),
        |mb AS (
        |  SELECT mon_c AS b FROM (
        |    SELECT mon_c, row_number() OVER (ORDER BY mon_c, o_custkey)
        |      AS rn, (SELECT cnt FROM cnt) AS cnt FROM sample) t
        |  WHERE rn IN (1*cnt//5, 2*cnt//5, 3*cnt//5, 4*cnt//5)),
        |scored AS (
        |  SELECT mon_c,
        |    CAST(1 + (SELECT count(*) FROM rb WHERE rb.b < pc.rec_days)
        |      AS BIGINT) AS r_q,
        |    CAST(1 + (SELECT count(*) FROM fb WHERE fb.b < pc.freq)
        |      AS BIGINT) AS f_q,
        |    CAST(1 + (SELECT count(*) FROM mb WHERE mb.b < pc.mon_c)
        |      AS BIGINT) AS m_q
        |  FROM pc)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers,
        |  CAST(sum(mon_c) AS BIGINT) AS rev_c
        |FROM scored GROUP BY 1, 2, 3""".stripMargin,

    // the auth-only HITS two-hop recursion with per-iteration max
    // normalization, the house first-repeated-state pick, and the
    // final hub half-step off the converged auth vector
    "q212_hits" ->
      """WITH RECURSIVE be AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |parts AS (SELECT DISTINCT p FROM be),
        |pr AS (
        |  SELECT 0 AS iter, p AS v, CAST(1000000 AS BIGINT) AS p FROM parts
        |  UNION ALL
        |  SELECT s.iter + 1, s.v,
        |    CAST((s.sp * 1000000) // max(s.sp) OVER (PARTITION BY s.iter)
        |      AS BIGINT) AS p
        |  FROM (
        |    SELECT h.iter, be2.p AS v, CAST(sum(h.h) AS BIGINT) AS sp
        |    FROM (
        |      SELECT pr.iter, be.c, CAST(sum(pr.p) AS BIGINT) AS h
        |      FROM be JOIN pr ON pr.v = be.p
        |      WHERE pr.iter < 16
        |      GROUP BY pr.iter, be.c) h
        |    JOIN be be2 ON be2.c = h.c
        |    GROUP BY h.iter, be2.p) s),
        |conv AS (
        |  SELECT a.iter + 1 AS k
        |  FROM pr a JOIN pr b ON b.iter = a.iter + 1 AND b.v = a.v
        |  GROUP BY a.iter
        |  HAVING max(abs(a.p - b.p)) <= 1),
        |pick AS (SELECT coalesce(min(k), 16) AS k FROM conv),
        |auth AS (
        |  SELECT pr.v, CAST(pr.p AS BIGINT) AS p
        |  FROM pr JOIN pick ON pr.iter = pick.k),
        |hub0 AS (
        |  SELECT be.c, CAST(sum(a.p) AS BIGINT) AS h
        |  FROM be JOIN auth a ON a.v = be.p GROUP BY be.c)
        |SELECT 'authority' AS side, v AS id, p AS score_ppm FROM auth
        |UNION ALL
        |SELECT 'hub' AS side, c AS id,
        |  CAST((h * 1000000) // (SELECT max(h) FROM hub0) AS BIGINT) AS score_ppm
        |FROM hub0""".stripMargin,

    "q230_ship_latency_sla" ->
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |bands AS (
        |  SELECT o_orderpriority, days, CAST(count(*) AS BIGINT) AS c
        |  FROM lat GROUP BY 1, 2),
        |cum AS (
        |  SELECT o_orderpriority, days, c,
        |    CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        |  FROM bands)
        |SELECT o_orderpriority, max(n) AS n,
        |  CAST(sum(days * c) AS BIGINT) AS sum_days,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS p50_days,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN days END) AS p90_days
        |FROM cum GROUP BY o_orderpriority""".stripMargin,

    // the per-latency-day at-risk/expected/variance terms replayed with
    // identical per-term floors in HUGEINT
    // one wedge-join triangle count + degree power sums; the same
    // wdg2 // 2 then // floor order as the engine
    "q266_graph_summary" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y
        |  ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
        |dir AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg FROM dir GROUP BY 1),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(dg AS HUGEINT) * (dg - 1)) AS HUGEINT) AS wdg2
        |  FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t FROM e w1
        |  JOIN e w2 ON w1.a = w2.a AND w1.b < w2.b
        |  JOIN e c ON c.a = w1.b AND c.b = w2.b)
        |SELECT nv.n AS n_vertices, ne.m AS n_edges,
        |  CAST(ne.m * 2000000 // (nv.n * (nv.n - 1)) AS BIGINT)
        |    AS density_ppm,
        |  tri.t AS n_triangles,
        |  CAST((3 * CAST(tri.t AS HUGEINT) * 1000000) // (nv.wdg2 // 2)
        |    AS BIGINT) AS transitivity_ppm
        |FROM nv, ne, tri""".stripMargin,

    // the data-derived threshold grid and both club joins replayed;
    // empty clubs emit with zeros via the left joins
    "q267_rich_club" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y
        |  ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
        |dir AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT u AS v, CAST(count(*) AS BIGINT) AS deg
        |  FROM dir GROUP BY 1),
        |dm AS (SELECT CAST(max(deg) AS BIGINT) AS dmax FROM deg),
        |ks AS (
        |  SELECT CAST(j AS BIGINT) AS j,
        |    (SELECT dmax FROM dm) * j // 8 AS k
        |  FROM (VALUES (4), (5), (6), (7)) t(j)),
        |degbands AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt
        |  FROM deg GROUP BY 1),
        |club AS (
        |  SELECT j, k, CAST(sum(cnt) AS BIGINT) AS n_k
        |  FROM degbands JOIN ks ON degbands.deg > ks.k GROUP BY 1, 2),
        |qual AS (
        |  SELECT j, k, v FROM deg JOIN ks ON deg.deg > ks.k),
        |ek AS (
        |  SELECT qa.j, qa.k, CAST(count(*) AS BIGINT) AS m_k
        |  FROM qual qa JOIN e ON e.a = qa.v
        |  JOIN qual qb ON qb.j = qa.j AND qb.v = e.b
        |  GROUP BY 1, 2)
        |SELECT ks.j, ks.k,
        |  CAST(coalesce(club.n_k, 0) AS BIGINT) AS n_k,
        |  CAST(coalesce(ek.m_k, 0) AS BIGINT) AS m_k,
        |  CAST(CASE WHEN coalesce(club.n_k, 0) > 1 THEN
        |    coalesce(ek.m_k, 0) * 2000000 // (club.n_k * (club.n_k - 1))
        |  ELSE 0 END AS BIGINT) AS phi_ppm
        |FROM ks
        |LEFT JOIN club ON club.j = ks.j AND club.k = ks.k
        |LEFT JOIN ek ON ek.j = ks.j AND ek.k = ks.k""".stripMargin,

    // the band-decomposed dominance test replayed: per-band max, one
    // cumulative max over the bounded band table, brute-force-
    // validated survivors
    "q269_skyline_2d" ->
      s"""WITH g AS (
        |  SELECT l.l_suppkey AS supp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN datediff('day', o.o_orderdate,
        |      l.l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |pt AS (
        |  SELECT s.s_suppkey AS supp,
        |    ${graft.functions.Exact.centsSql("s.s_acctbal")} AS bal_c,
        |    g.x * 1000000 // g.n AS late_ppm
        |  FROM supplier s JOIN g ON g.supp = s.s_suppkey),
        |band AS (
        |  SELECT late_ppm, CAST(max(bal_c) AS BIGINT) AS band_max
        |  FROM pt GROUP BY 1),
        |cb AS (
        |  SELECT late_ppm, band_max,
        |    max(band_max) OVER (ORDER BY late_ppm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prior_max
        |  FROM band)
        |SELECT pt.supp, pt.bal_c, pt.late_ppm
        |FROM pt JOIN cb ON cb.late_ppm = pt.late_ppm
        |WHERE pt.bal_c = cb.band_max
        |  AND (cb.prior_max IS NULL OR pt.bal_c > cb.prior_max)""".stripMargin,

    // two unrolled 6-hop materialized BFS chains (the q195 rule);
    // hash-smallest seed and (hop DESC, v) argmaxes replayed
    "q282_double_sweep" -> {
      def chain(sw: Int, seedCte: String): String = {
        val hops = (1 to 6).map { h =>
          s"""f${sw}_$h AS MATERIALIZED (
             |  SELECT DISTINCT d.v FROM dirw d
             |  JOIN f${sw}_${h - 1} f ON d.u = f.v
             |  WHERE d.v NOT IN (SELECT v FROM vis${sw}_${h - 1})),
             |vis${sw}_$h AS MATERIALIZED (
             |  SELECT v, hop FROM vis${sw}_${h - 1}
             |  UNION ALL SELECT v, CAST($h AS BIGINT) FROM f${sw}_$h)"""
            .stripMargin
        }.mkString(",\n")
        s"""f${sw}_0 AS MATERIALIZED (SELECT v FROM $seedCte),
           |vis${sw}_0 AS MATERIALIZED (
           |  SELECT v, CAST(0 AS BIGINT) AS hop FROM f${sw}_0),
           |$hops""".stripMargin
      }
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y
         |  ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |dirw AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b AS u, a AS v FROM e),
         |vs AS MATERIALIZED (SELECT DISTINCT u AS v FROM dirw),
         |sd AS MATERIALIZED (
         |  SELECT v FROM vs
         |  ORDER BY CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15)
         |    AS BIGINT), v LIMIT 1),
         |${chain(1, "sd")},
         |far1 AS MATERIALIZED (
         |  SELECT v, hop FROM vis1_6 ORDER BY hop DESC, v LIMIT 1),
         |far1v AS MATERIALIZED (SELECT v FROM far1),
         |${chain(2, "far1v")},
         |far2 AS MATERIALIZED (
         |  SELECT v, hop FROM vis2_6 ORDER BY hop DESC, v LIMIT 1)
         |SELECT (SELECT v FROM sd) AS seed,
         |  (SELECT hop FROM far1) AS ecc1,
         |  (SELECT v FROM far1) AS far_vertex,
         |  (SELECT hop FROM far2) AS diam_lb,
         |  (SELECT v FROM far2) AS far_vertex2,
         |  (SELECT CAST(count(*) AS BIGINT) FROM vis1_6)
         |    AS n_reached""".stripMargin
    },

    // the minimax characterization replayed on the same prefix table;
    // floors inside min/max are exact (floor is monotone)
    "q277_isotonic_calibration" ->
      """WITH pts AS (
        |  SELECT CAST(round(l.l_quantity) AS BIGINT) AS bin,
        |    CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 90
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(late) AS BIGINT) AS x
        |  FROM pts GROUP BY 1),
        |pre AS (
        |  SELECT bin, n, x,
        |    CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |    CAST(sum(x) OVER (ORDER BY bin) AS BIGINT) AS cx
        |  FROM bins),
        |iv AS (
        |  SELECT j.bin AS j, k.bin AS k,
        |    (k.cx - (j.cx - j.x)) * 1000000 // (k.cn - (j.cn - j.n))
        |      AS avg_ppm
        |  FROM pre j JOIN pre k ON j.bin <= k.bin),
        |mm AS (
        |  SELECT b.bin, iv.j, min(iv.avg_ppm) AS mn
        |  FROM bins b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
        |  GROUP BY 1, 2)
        |SELECT bins.bin, bins.n, bins.x,
        |  bins.x * 1000000 // bins.n AS raw_ppm, f.iso_ppm
        |FROM bins JOIN (SELECT bin, CAST(max(mn) AS BIGINT) AS iso_ppm
        |  FROM mm GROUP BY 1) f USING (bin)""".stripMargin,

    // the q264 chain fit on the hash-parity train half, Brier
    // decomposition per supplier in HUGEINT, identical floors
    "q276_eb_holdout_audit" ->
      """WITH li AS (
        |  SELECT l.l_suppkey AS supp,
        |    CAST('0x' || substr(md5(CAST(l.l_orderkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 2 AS half,
        |    CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 90
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (
        |  SELECT supp, half, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(late) AS BIGINT) AS x
        |  FROM li GROUP BY 1, 2),
        |tr AS (SELECT supp, n, x FROM g WHERE half = 0),
        |te AS (SELECT supp, n AS n_te, x AS x_te FROM g WHERE half = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(n) AS BIGINT) AS w, CAST(sum(x) AS BIGINT) AS sx FROM tr),
        |pb AS (SELECT sx * 1000000 // w AS pbar FROM tot),
        |v AS (
        |  SELECT CAST(sum(CAST(x * 1000000 // n - (SELECT pbar FROM pb)
        |      AS HUGEINT)
        |    * (x * 1000000 // n - (SELECT pbar FROM pb)))
        |    // greatest((SELECT k FROM tot) - 1, 1) AS BIGINT) AS v_pp2
        |  FROM tr),
        |m AS (
        |  SELECT CAST(greatest(0, least(100000,
        |    ((SELECT pbar FROM pb) * (1000000 - (SELECT pbar FROM pb)))
        |      // greatest((SELECT v_pp2 FROM v), 1) - 1)) AS BIGINT) AS m),
        |preds AS (
        |  SELECT supp, x * 1000000 // n AS raw_ppm,
        |    (x * 1000000 + (SELECT m FROM m) * (SELECT pbar FROM pb))
        |      // (n + (SELECT m FROM m)) AS shrunk_ppm
        |  FROM tr),
        |sc AS (
        |  SELECT te.n_te,
        |    CAST(te.n_te AS HUGEINT) * p.raw_ppm * p.raw_ppm
        |      - 2 * CAST(p.raw_ppm AS HUGEINT) * 1000000 * te.x_te
        |      + CAST(te.x_te AS HUGEINT) * 1000000000000 AS se_raw,
        |    CAST(te.n_te AS HUGEINT) * p.shrunk_ppm * p.shrunk_ppm
        |      - 2 * CAST(p.shrunk_ppm AS HUGEINT) * 1000000 * te.x_te
        |      + CAST(te.x_te AS HUGEINT) * 1000000000000 AS se_shrunk
        |  FROM preds p JOIN te ON te.supp = p.supp)
        |SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(n_te) AS BIGINT) AS n_test_lines,
        |  CAST(sum(se_raw) // sum(n_te) AS BIGINT) AS brier_raw_pp2,
        |  CAST(sum(se_shrunk) // sum(n_te) AS BIGINT) AS brier_shrunk_pp2,
        |  CAST((sum(se_raw) - sum(se_shrunk)) * 1000000 // sum(se_raw)
        |    AS BIGINT) AS improvement_ppm
        |FROM sc""".stripMargin,

    // the method-of-moments chain replayed with identical floors and
    // the identical [0, 1e5] strength clamp; scalars via subqueries
    "q264_eb_shrunk_rates" ->
      """WITH g AS (
        |  SELECT l.l_suppkey AS supp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN datediff('day', o.o_orderdate,
        |      l.l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS w,
        |    CAST(sum(x) AS BIGINT) AS sx FROM g),
        |pb AS (SELECT sx * 1000000 // w AS pbar FROM tot),
        |v AS (
        |  SELECT CAST(sum(CAST(x * 1000000 // n - (SELECT pbar FROM pb)
        |      AS HUGEINT)
        |    * (x * 1000000 // n - (SELECT pbar FROM pb)))
        |    // greatest((SELECT k FROM tot) - 1, 1) AS BIGINT) AS v_pp2
        |  FROM g),
        |m AS (
        |  SELECT CAST(greatest(0, least(100000,
        |    ((SELECT pbar FROM pb) * (1000000 - (SELECT pbar FROM pb)))
        |      // greatest((SELECT v_pp2 FROM v), 1) - 1)) AS BIGINT) AS m)
        |SELECT supp, n, x, x * 1000000 // n AS raw_ppm,
        |  (x * 1000000 + (SELECT m FROM m) * (SELECT pbar FROM pb))
        |    // (n + (SELECT m FROM m)) AS shrunk_ppm
        |FROM g""".stripMargin,

    // 4 unrolled peel rounds (AS MATERIALIZED — the q191 rule: DuckDB
    // inlines CTEs, so an un-materialized chain re-expands each round
    // multiplicatively); id-oriented wedge triangles, support ≥ k−2
    "q263_ktruss_peel" -> {
      val rounds = (0 until 4).map { i =>
        s"""tri$i AS MATERIALIZED (
           |  SELECT w1.a AS u, w1.b AS v, w2.b AS w
           |  FROM e$i w1 JOIN e$i w2 ON w1.a = w2.a AND w1.b < w2.b
           |  JOIN e$i c ON c.a = w1.b AND c.b = w2.b),
           |s$i AS MATERIALIZED (
           |  SELECT a, b, count(*) AS s FROM (
           |    SELECT u AS a, v AS b FROM tri$i
           |    UNION ALL SELECT u, w FROM tri$i
           |    UNION ALL SELECT v, w FROM tri$i) e3
           |  GROUP BY 1, 2),
           |e${i + 1} AS MATERIALIZED (
           |  SELECT e.a, e.b FROM e$i e
           |  JOIN s$i ON s$i.a = e.a AND s$i.b = e.b
           |  WHERE s$i.s >= 8),""".stripMargin
      }.mkString("\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT x.p AS a, y.p AS b FROM li x JOIN li y
         |  ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |$rounds
         |dir AS (SELECT a AS u FROM e4 UNION ALL SELECT b FROM e4)
         |SELECT u AS part, count(*) AS truss_deg FROM dir GROUP BY 1""".stripMargin
    },

    // the doubled-midrank H replayed with identical per-group floors;
    // the tie mass reported separately, not compounded into H
    "q255_kruskal_wallis" ->
      """WITH lat AS (
        |  SELECT o.o_orderpriority AS g,
        |    CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
        |      AS days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |vb AS (SELECT days, CAST(count(*) AS BIGINT) AS b
        |  FROM lat GROUP BY 1),
        |r2 AS (
        |  SELECT days,
        |    2 * (CAST(sum(b) OVER (ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - b) + b + 1 AS r2
        |  FROM vb),
        |gb AS (SELECT g, days, CAST(count(*) AS BIGINT) AS c
        |  FROM lat GROUP BY 1, 2),
        |gr AS (
        |  SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
        |    CAST(sum(CAST(c AS HUGEINT) * r2.r2) AS HUGEINT) AS r2_g
        |  FROM gb JOIN r2 ON r2.days = gb.days GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM gr),
        |terms AS (
        |  SELECT CAST(sum((r2_g * r2_g) // (4 * CAST(n_g AS HUGEINT)))
        |    AS HUGEINT) AS s_terms
        |  FROM gr),
        |ties AS (
        |  SELECT CAST(sum(CAST(b AS HUGEINT) * b * b - b) AS HUGEINT) AS t3
        |  FROM vb)
        |SELECT tot.n AS n_total,
        |  CAST((12000000 * terms.s_terms)
        |    // (CAST(tot.n AS HUGEINT) * (tot.n + 1))
        |    - 3000000 * (tot.n + 1) AS BIGINT) AS h_ppm,
        |  CAST((ties.t3 * 1000000)
        |    // (CAST(tot.n AS HUGEINT) * tot.n * tot.n - tot.n)
        |    AS BIGINT) AS tie_ppm
        |FROM tot, terms, ties""".stripMargin,

    "q239_logrank_priority" ->
      """WITH lat AS (
        |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END AS g1,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |bands AS (
        |  SELECT days, CAST(sum(g1) AS BIGINT) AS d1,
        |    CAST(count(*) AS BIGINT) AS dt
        |  FROM lat GROUP BY 1),
        |tot AS (SELECT CAST(sum(d1) AS BIGINT) AS t1,
        |               CAST(sum(dt) AS BIGINT) AS tn FROM bands),
        |risk AS (
        |  SELECT t1, tn, dt,
        |    t1 - (CAST(sum(d1) OVER (ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - d1) AS n1,
        |    tn - (CAST(sum(dt) OVER (ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - dt) AS nt
        |  FROM bands CROSS JOIN tot),
        |terms AS (
        |  SELECT t1, tn,
        |    CAST((CAST(dt AS HUGEINT) * n1 * 1000000) // nt AS BIGINT)
        |      AS e_term,
        |    CAST(CASE WHEN nt > 1 THEN
        |      (CAST(dt AS HUGEINT) * n1 * (nt - n1) * (nt - dt) * 1000000)
        |        // (CAST(nt AS HUGEINT) * nt * (nt - 1))
        |      ELSE 0 END AS BIGINT) AS v_term
        |  FROM risk),
        |g AS (
        |  SELECT t1, tn, CAST(sum(e_term) AS BIGINT) AS e1_ppm,
        |    CAST(sum(v_term) AS BIGINT) AS v_ppm
        |  FROM terms GROUP BY 1, 2)
        |SELECT t1 AS n1, tn - t1 AS n2, t1 AS o1, e1_ppm, v_ppm,
        |  CAST(CASE WHEN v_ppm > 0 THEN
        |    (CAST(t1 * 1000000 - e1_ppm AS HUGEINT)
        |      * (t1 * 1000000 - e1_ppm)) // v_ppm
        |    ELSE 0 END AS BIGINT) AS chi2_ppm
        |FROM g""".stripMargin,

    // the identical Cramer determinant text (cramerBeta) with HUGEINT
    // casts and DuckDB's // floor division
    "q240_ols_latency_multi" ->
      s"""WITH pts AS (
        |  SELECT CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
        |      AS y,
        |    CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |    CAST(sum(x2 * y) AS BIGINT) AS s2y
        |  FROM pts)
        |SELECT n,
        |  ${cramerBeta(0, "HUGEINT", "//")} AS b0_ppm,
        |  ${cramerBeta(1, "HUGEINT", "//")} AS b1_ppm,
        |  ${cramerBeta(2, "HUGEINT", "//")} AS b2_ppm
        |FROM g""".stripMargin,

    // the same cramerBeta coefficients replayed, residuals quantized
    // with the identical shifted floor, p50/p90 by the q230 rank rule
    "q245_conformal_latency" ->
      s"""WITH pts AS (
        |  SELECT CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)
        |      AS y,
        |    CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |    CAST(sum(x2 * y) AS BIGINT) AS s2y
        |  FROM pts),
        |b AS (
        |  SELECT ${cramerBeta(0, "HUGEINT", "//")} AS b0,
        |    ${cramerBeta(1, "HUGEINT", "//")} AS b1,
        |    ${cramerBeta(2, "HUGEINT", "//")} AS b2
        |  FROM g),
        |bands AS (
        |  SELECT (y * 1000000 - (b0 + b1 * x1 + b2 * x2)
        |      + 1000000000000) // 1000000 - 1000000 AS rd,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM pts CROSS JOIN b GROUP BY 1),
        |cum AS (
        |  SELECT rd, c,
        |    CAST(sum(c) OVER (ORDER BY rd
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM bands)
        |SELECT max(n) AS n,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN rd END) AS p50_resid_days,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN rd END)
        |    AS p90_resid_days
        |FROM cum""".stripMargin,

    "q241_trend_test" ->
      """WITH cells AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
        |      > 60 THEN 1 ELSE 0 END) AS BIGINT) AS di
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(sum(di) AS BIGINT) AS dd,
        |    CAST(sum(sc * di) AS BIGINT) AS sd,
        |    CAST(sum(sc * ni) AS BIGINT) AS s1,
        |    CAST(sum(sc * sc * ni) AS BIGINT) AS s2
        |  FROM cells)
        |SELECT n, dd AS d_late, n * sd - dd * s1 AS t_n,
        |  CAST(CASE WHEN dd > 0 AND dd < n AND n * s2 - s1 * s1 > 0 THEN
        |    (CAST(n AS HUGEINT) * (n * sd - dd * s1)
        |      * (n * sd - dd * s1) * 1000000)
        |      // (CAST(dd AS HUGEINT) * (n - dd) * (n * s2 - s1 * s1))
        |    ELSE 0 END AS BIGINT) AS chi2_ppm
        |FROM g""".stripMargin,

    "q233_hhi_concentration" ->
      s"""WITH rev AS (
        |  SELECT n_name, s_suppkey,
        |    CAST(sum(${Exact.centsSql("l_extendedprice")}) AS BIGINT) AS rc
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT n_name, CAST(sum(rc) AS BIGINT) AS tc
        |        FROM rev GROUP BY 1)
        |SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(sbp * sbp) AS BIGINT) AS hhi
        |FROM (
        |  SELECT rev.n_name,
        |    CAST((CAST(rc AS HUGEINT) * 10000) // tc AS BIGINT) AS sbp
        |  FROM rev JOIN tot USING (n_name)) t
        |GROUP BY n_name""".stripMargin,

    "q227_abc_classification" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS total FROM rev),
        |cum AS (
        |  SELECT rc, o_custkey,
        |    CAST(sum(rc) OVER (ORDER BY rc DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM rev),
        |cls AS (
        |  SELECT CASE WHEN cum * 5 <= tot.total * 4 THEN 'A'
        |              WHEN cum * 20 <= tot.total * 19 THEN 'B'
        |              ELSE 'C' END AS abc_class,
        |    rc, tot.total
        |  FROM cum CROSS JOIN tot)
        |SELECT abc_class, count(*) AS n_customers,
        |  CAST(sum(rc) AS BIGINT) AS rev_c,
        |  CAST((sum(rc) * 1000000) // max(total) AS BIGINT) AS rev_share_ppm
        |FROM cls GROUP BY abc_class""".stripMargin,

    // q203's modularity arithmetic on the brand attribute partition
    "q225_brand_homophily" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |lab AS (SELECT p_partkey AS v, p_brand AS c FROM part),
        |mm AS (SELECT count(*) AS m FROM e),
        |din AS (
        |  SELECT la.c, count(*) AS m_in
        |  FROM e JOIN lab la ON la.v = e.a
        |  JOIN lab lb ON lb.v = e.b AND lb.c = la.c
        |  GROUP BY la.c),
        |dc AS (
        |  SELECT lab.c, count(*) AS n_vertices,
        |    CAST(sum(deg.deg) AS BIGINT) AS d_tot
        |  FROM lab JOIN deg ON deg.u = lab.v
        |  GROUP BY lab.c)
        |SELECT dc.c AS community, dc.n_vertices,
        |  CAST(coalesce(din.m_in, 0) AS BIGINT) AS m_in, dc.d_tot,
        |  ((4 * mm.m * CAST(coalesce(din.m_in, 0) AS BIGINT)
        |      - dc.d_tot * dc.d_tot) * 1000
        |    + 1000 * 4 * mm.m * mm.m) // (4 * mm.m * mm.m) - 1000
        |    AS contrib_ppk
        |FROM dc LEFT JOIN din ON din.c = dc.c CROSS JOIN mm""".stripMargin,

    "q219_degree_distribution" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT x.p AS a, y.p AS b
        |  FROM li x JOIN li y ON x.o = y.o WHERE x.p < y.p),
        |dir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM dir GROUP BY u),
        |bands AS (
        |  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS band,
        |    count(*) AS n_vertices
        |  FROM deg GROUP BY 1),
        |b2 AS (
        |  SELECT band, n_vertices,
        |    CAST(length(bin(n_vertices)) - 1 AS BIGINT) AS y
        |  FROM bands),
        |reg AS (
        |  SELECT count(*) AS n_bands,
        |    CAST(sum(band) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |    CAST(sum(band * y) AS BIGINT) AS sum_xy,
        |    CAST(sum(band * band) AS BIGINT) AS sum_x2
        |  FROM b2)
        |SELECT band, n_vertices, n_bands,
        |  n_bands * sum_xy - sum_x * sum_y AS slope_num,
        |  n_bands * sum_x2 - sum_x * sum_x AS slope_den
        |FROM b2 CROSS JOIN reg""".stripMargin,

    "q217_weighted_median" ->
      """WITH pts AS (
        |  SELECT p_brand,
        |    (CAST(round(l_extendedprice * 100) AS BIGINT) + 50) // 100
        |      AS price_d,
        |    CAST(round(l_quantity) AS BIGINT) AS w
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |grp AS (
        |  SELECT p_brand, price_d, CAST(sum(w) AS BIGINT) AS wv
        |  FROM pts GROUP BY 1, 2),
        |cum AS (
        |  SELECT p_brand, price_d,
        |    CAST(sum(wv) OVER (PARTITION BY p_brand ORDER BY price_d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumw,
        |    CAST(sum(wv) OVER (PARTITION BY p_brand) AS BIGINT) AS w_total
        |  FROM grp)
        |SELECT p_brand, max(w_total) AS w_total,
        |  min(price_d) AS wmedian_dollars
        |FROM cum WHERE cumw * 2 >= w_total
        |GROUP BY p_brand""".stripMargin
  )
}
