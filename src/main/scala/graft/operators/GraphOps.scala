package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col,
  collect_list, collect_set, count, explode, expr, lit, max, min, posexplode, row_number,
  size, sort_array, struct, sum, when}
import graft.spark.Materialize

/** Iterative graph ranking over edge tables (the crawl-frontier /
  * entity-importance tier of a training-data pipeline: PageRank over the
  * link graph decides which domains get crawl budget, long before any
  * per-document quality signal exists).
  *
  * Companion to [[Dedup.connectedComponents]] (the other iterative graph
  * operator): CC answers "which rows are the same thing", PageRank answers
  * "which nodes matter".
  */
object GraphOps {

  /** TRIANGLE COUNTING by degree-ordered orientation (Suri &
    * Vassilvitskii, WWW'11 — "the curse of the last reducer"): the
    * undirected edge set is oriented from the smaller to the larger
    * endpoint under the total order (degree, id); wedges are then
    * generated only between each node's OUT-neighbors, and a wedge plus
    * its closing edge is a triangle, counted exactly once (the
    * orientation makes every triangle a DAG with a unique 2-out-degree
    * apex).
    *
    * Scale shape: THE naive wedge join explodes as Σ deg² — one celebrity
    * vertex with degree 10⁶ yields 10¹² wedges in a single reducer. The
    * orientation caps out-degree at O(√m), bounding total wedges at
    * O(m^{3/2}) with NO skewed reducer — that bound, not the triple-join
    * SQL the oracle runs, is what survives a 100 TB graph. Everything is
    * equi-joins + one explode; the oriented edge list is checkpointed
    * once and drives both wedge sides.
    *
    * The graph here: parts co-occurring in an order (the co-purchase
    * graph; triangles measure clustering / bundle cohesion).
    *
    * Cost bounds — both standard practice on co-occurrence graphs, both
    * reproducible by the SQL oracle with identical predicates:
    *  - `maxBasket`: drop orders with more than this many distinct parts
    *    before pairing. A b-item basket emits C(b,2) edges, so one
    *    mega-basket (a wholesale order, a crawler artifact) can dominate
    *    the whole edge set; capping bounds per-order work AND real-world
    *    skew. The count-per-order window shuffles on the same key as the
    *    pairing self-join, so the cap adds no extra exchange.
    *  - `vertexMod`: keep only parts with `p % vertexMod == 0` — a
    *    deterministic 1/vertexMod vertex sample, scaling edges by
    *    ~1/vertexMod² and wedge volume by ~1/vertexMod³. Triangle DENSITY
    *    estimates from uniform vertex samples are the standard
    *    approximation (Doulion-style) when the exact global count is not
    *    worth the wedge volume.
    */
  def triangleCount(lineitem: DataFrame,
      maxBasket: Int = Int.MaxValue,
      vertexMod: Long = 1L): DataFrame = {
    // r11: basket-array edge build (see orderBaskets) — the maxBasket cap
    // becomes a size() filter on the aggregated array instead of a
    // count-per-order window (the window re-shuffled and sorted the
    // whole (o, p) projection; size() is free on the already-built
    // basket), and pair generation is a task-local suffix explode
    // instead of an o-keyed self-join. Same rows by construction.
    val filtered = {
      val base = lineitem.select(col("l_orderkey"), col("l_partkey"))
      if (vertexMod > 1L) base.filter(col("l_partkey") % vertexMod === 0L) else base
    }
    val baskets0 = orderBaskets(filtered)
    val baskets =
      if (maxBasket == Int.MaxValue) baskets0
      else baskets0.filter(size(col("ps")) <= maxBasket)
    // consumed by degree agg, orientation, AND the closing-edge join
    val e = Materialize(basketPairs(baskets)
      .select(col("src").as("u"), col("dst").as("v")).distinct())
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient by (degree, id): struct comparison gives the total order
    val oriented = Materialize(e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))
    // out-neighbor wedges; x.t < y.t emits each unordered pair once,
    // already id-ordered to match the closing edge's u < v normal form
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.s") === col("y.s") && col("x.t") < col("y.t"))
      .select(col("x.t").as("u"), col("y.t").as("v"))
    val closed = wedges.join(e, Seq("u", "v"))
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nt = closed.agg(count(lit(1)).as("n_triangles"))
    nv.crossJoin(broadcast(ne)).crossJoin(broadcast(nt))
  }

  /** CONNECTED COMPONENTS over the support-thresholded co-purchase graph:
    * parts are connected when they co-occur in at least `minSupport`
    * distinct orders (the classic market-basket support prune — one-off
    * co-occurrences are noise; repeated ones are bundles), and each part
    * is labeled with its component's minimum part id. Emits one row per
    * part in the pruned graph — the "product family" assignment a
    * recommender or assortment analysis consumes.
    *
    * Scale shape: the pair aggregation replaces [[triangleCount]]'s
    * DISTINCT with a count-and-filter — same shuffle, and the support
    * threshold prunes the edge set BEFORE the iterative stage (at sf0.1
    * it cuts 1.2M raw co-occurrence edges to ~3.6k stable ones; real
    * retail graphs shrink similarly). Components run on the pruned graph
    * via [[Dedup.connectedComponents]] — the large-star/small-star
    * algorithm, O(log² n) rounds of hash-partitioned equi-joins, no
    * driver-side graph object.
    */
  def coPurchaseComponents(lineitem: DataFrame, minSupport: Long = 2L): DataFrame = {
    Dedup.connectedComponents(coPurchaseEdges(lineitem, minSupport)).orderBy("node")
  }

  /** INCREMENTAL connected components by GRAPH CONTRACTION — the
    * maintenance path a 100 TB graph needs when edges arrive in
    * batches: never re-run CC over all history; run it over yesterday's
    * COMPONENT GRAPH (one node per component) plus today's delta edges
    * relabeled through yesterday's labels, then compose the two label
    * maps. Cost ∝ components + delta, not ∝ total edges.
    *
    * Correctness is a label-preservation argument: labels are component
    * MINIMA, contraction replaces each old component by its minimum,
    * and the minimum of a union of groups is the minimum of their
    * minima — so the composed labeling is IDENTICAL to the full
    * recompute. The registered oracle is exactly that full recompute
    * (g3's recursive-CTE SQL shape), so hash equality is the proof —
    * the same oracle-is-the-other-path trick as the encoding-merge
    * contract.
    *
    * Here the "batches" are a deterministic parity split of the edge
    * set ((src+dst) % 2), so both engines see the same graph while the
    * Spark side exercises the real two-phase machinery.
    */
  def coPurchaseComponentsIncremental(lineitem: DataFrame,
      minSupport: Long = 2L): DataFrame = {
    // the edge build (distinct + self-join) feeds FIVE consumers across
    // the two phases — materialize it once or each one re-runs it
    val e = Materialize(coPurchaseEdges(lineitem, minSupport))
    val e1 = e.filter((col("src") + col("dst")) % 2 === 0)
    val e2 = e.filter((col("src") + col("dst")) % 2 =!= 0)
    val c1 = Dedup.connectedComponents(e1)
    val e2r = e2
      .join(c1.select(col("node").as("src"), col("component").as("csrc")),
        Seq("src"), "left")
      .join(c1.select(col("node").as("dst"), col("component").as("cdst")),
        Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))
    // self-edges keep delta-untouched old components alive in round 2
    val selfE = c1.select(col("component").as("src"),
      col("component").as("dst")).distinct()
    val c2 = Dedup.connectedComponents(e2r.unionAll(selfE))
    val final1 = c1
      .join(c2.select(col("node").as("component"),
        col("component").as("final")), Seq("component"))
      .select(col("node"), col("final").as("component"))
    val nodes2only = e2
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .join(c1.select("node"), Seq("node"), "left_anti")
    val final2 = nodes2only.join(c2, Seq("node"))
      .select(col("node"), col("component"))
    final1.unionAll(final2).orderBy("node")
  }

  /** Per-order sorted distinct part arrays — the shared first stage of
    * every co-purchase derivation (r11 optimization round). One keyed
    * aggregate with map-side partial `collect_set`, so the shuffle
    * carries ≈ the distinct (order, part) pairs once; the previous
    * shape (`distinct()` then an o-keyed self-join) paid an extra
    * exchange for the distinct AND re-shuffled both join sides by `o`
    * — guide §2.4 (remove shuffles outright: two operations keyed the
    * same way share one exchange when the key is established once).
    * Pair/triple enumeration then happens task-locally by exploding
    * ordered array suffixes — identical row multiset to the o-equi-join
    * (the array is sorted + distinct, so suffix pairs ARE the p1 < p2
    * pairs), with the same per-order skew bound (a b-item basket expands
    * b²/2 inside one task either way).
    */
  private def orderBaskets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** All p1 < p2 co-occurrence pairs per basket, task-local (no join):
    * posexplode each element, pair it with every later element of the
    * sorted array. Emits exactly the rows of the old o-keyed self-join.
    */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(posexplode(col("ps")).as(Seq("i", "src")), col("ps"))
      .select(col("src"), explode(expr("slice(ps, i + 2, size(ps))")).as("dst"))

  /** Support-pruned co-purchase edge list (src < dst): parts co-occurring
    * in ≥ `minSupport` distinct orders. Shared by [[coPurchaseComponents]]
    * and [[bfsHops]]' demo so both graph queries walk the SAME graph.
    */
  def coPurchaseEdges(lineitem: DataFrame, minSupport: Long = 2L): DataFrame =
    basketPairs(orderBaskets(lineitem))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
      .select("src", "dst")

  /** DEGREE DISTRIBUTION of the support-pruned co-purchase graph — the
    * first diagnostic run on any production graph: a heavy-tailed
    * histogram says "orient before counting wedges" ([[triangleCount]])
    * and "expect skewed reducers on vertex joins"; its max degree IS
    * the celebrity-vertex bound the other graph operators size against.
    * Two keyed aggregates after the edge build: per-node degree (state
    * ∝ vertices), then nodes-per-degree (state ∝ distinct degrees —
    * metadata scale). Engine-exact by construction: counts only.
    */
  def degreeHistogram(lineitem: DataFrame, minSupport: Long = 2L): DataFrame = {
    val e = coPurchaseEdges(lineitem, minSupport)
    e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** MULTI-SOURCE BFS: minimum hop distance from a seed set, bounded at
    * `maxHops` — the "what's within k links of X" primitive (crawl
    * frontier expansion, related-product discovery, blast-radius
    * queries). Frontier-at-a-time iteration: each round joins ONLY the
    * newly-reached frontier against the symmetrized edge list and
    * anti-joins the visited set, so a node is expanded exactly once and
    * per-round work is ∝ frontier × degree, never nodes × edges. The
    * edge list is the loop invariant (cached); the visited set is
    * eagerly checkpointed per round — the same lineage-truncation
    * discipline as [[pageRank]] (without it, round k recomputes rounds
    * 1..k−1 once per downstream consumer). Distances are integers and
    * min-hop is partition-invariant, so the result is engine-exact.
    *
    * Seeds outside the edge set still report hop 0 (a seed is at
    * distance 0 from itself whether or not anything links to it).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0 && maxHops <= 12, "bounded BFS only")
    Materialize.cached(edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))) { sym =>
      var dist = Materialize(seeds.select(col("node"), lit(0L).as("hops")))
      var frontier = dist.select("node")
      var h = 1
      while (h <= maxHops) {
        val next = Materialize(frontier.join(sym, frontier("node") === sym("src"))
          .select(sym("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("hops")))
        // dist stays the LAZY union of the materialized frontiers (r12):
        // the old shape re-checkpointed the whole accumulated dist every
        // round — an O(|V|) extra materialization per hop whose only
        // benefit was early block release; the frontiers are disjoint, so
        // their union holds the same rows once, the plan depth is ≤
        // maxHops unions of LogicalRDDs, and one action per hop is saved.
        dist = dist.union(next)
        frontier = next.select("node")
        h += 1
      }
      dist.orderBy("node")
    }
  }

  /** Registered-query harness (g4_bfs_hops): hop distance from the
    * Brand#11 parts over the same support-pruned co-purchase graph as
    * g3 — "how far is every product from this brand's neighborhood".
    */
  def bfsHopsDemo(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#11", maxHops: Int = 3): DataFrame =
    bfsHops(coPurchaseEdges(lineitem),
      part.filter(col("p_brand") === brand).select(col("p_partkey").as("node")),
      maxHops)

  /** LINK PREDICTION by common-neighbor counting over the support-pruned
    * co-purchase graph: for every NON-adjacent pair of parts, how many
    * parts are co-purchased with both — the classic "customers who buy
    * these also buy..." candidate generator (Liben-Nowell & Kleinberg,
    * CIKM'03: common-neighbors and its Jaccard normalization are the
    * standard first-line link predictors). Emits the top-k candidate
    * edges with the evidence a recommender ranks on: shared-neighbor
    * count, both degrees, and Jaccard of the neighborhoods in floor
    * permille — all integer arithmetic, so the result is engine-exact.
    *
    * Scale shape: the wedge self-join through the shared neighbor is the
    * only superlinear step, and its volume is Σ deg² over the PRUNED
    * graph — the support threshold (and the heavy-tail diagnosis from
    * [[degreeHistogram]]) is what keeps that bounded; on a 100 TB graph
    * the same query runs after the same prune, optionally with
    * [[triangleCount]]'s orientation trick if a celebrity vertex
    * survives pruning. Candidate pairs then anti-join the edge list
    * (drop already-connected pairs) and pick up two broadcast-size
    * degree lookups; the final top-k is a TakeOrderedAndProject, never
    * a full sort. The (common DESC, a, b) order is total — (a, b) is
    * unique per pair — so the k-boundary is deterministic.
    */
  def linkPrediction(lineitem: DataFrame, minSupport: Long = 2L,
      k: Int = 25): DataFrame = {
    val e = Materialize(coPurchaseEdges(lineitem, minSupport))
    val sym = e.select(col("src").as("x"), col("dst").as("y"))
      .union(e.select(col("dst").as("x"), col("src").as("y")))
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("d"))
    val common = sym.as("l").join(sym.as("r"),
        col("l.y") === col("r.y") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("a"), col("r.x").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(e, common("a") === e("src") && common("b") === e("dst"), "left_anti")
      .join(broadcast(deg.select(col("x").as("a"), col("d").as("deg_a"))), "a")
      .join(broadcast(deg.select(col("x").as("b"), col("d").as("deg_b"))), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        expr("common * 1000 div (deg_a + deg_b - common)").as("jaccard_permille"))
      .orderBy(col("common").desc, col("a"), col("b"))
      .limit(k)
  }

  /** FREQUENT TRIPLES (market-basket level 3): part triples co-occurring
    * in ≥ `minSupport` distinct orders — the step after the pairwise
    * co-purchase edges, where bundles ("the three things bought
    * together") live. A-priori in plan form:
    *
    *  - items below `minSupport` order-frequency are pruned FIRST — the
    *    classic downward-closure argument (a triple's support ≤ any
    *    member item's support) makes the prune semantics-preserving, so
    *    the oracle can stay a plain three-way join + HAVING while the
    *    executed plan never enumerates triples of rare items;
    *  - `maxBasket` caps per-order candidate work at C(cap, 3) — the
    *    same mega-basket bound as [[triangleCount]], applied by the
    *    oracle too (a predicate, not an approximation);
    *  - the three-way self-join is equi on the order key, so each
    *    order's triples are generated within one hash-join task; the
    *    support count is then a single map-side-combined aggregate
    *    ((o, p) is distinct, so COUNT(*) per triple IS distinct-order
    *    support).
    *
    * Output bounded to the top `k` by (support DESC, part ids) — a total
    * order, deterministic at the cut.
    */
  def frequentTriples(lineitem: DataFrame, minSupport: Long = 2L,
      maxBasket: Int = 8, k: Int = 50): DataFrame = {
    // r11: basket arrays (see orderBaskets) — the cap is a size() filter
    // on the aggregated array (the old count-per-order window re-sorted
    // the whole (o, p) projection), and triple enumeration is two chained
    // task-local suffix explodes over the sorted array instead of a
    // THREE-way o-keyed self-join (two shuffles of the fact projection
    // gone). Same triples by construction: the array is sorted+distinct,
    // so suffix chains ARE the p1 < p2 < p3 combinations, once each.
    // The r10 shape also ran an a-priori item prune (downward closure,
    // optimization-only, absent from the oracle). With the basket cap in
    // place it no longer pays: triple volume is already ≤ C(cap, 3) per
    // order (linear in orders at every scale), the prune removes almost
    // nothing on a dense co-purchase corpus (avg item support ≫
    // minSupport), and the array-side formulations all cost more than
    // they save — measured r11: array_intersect against the ~20k-item
    // frequent-set array is O(rows × |set|) because ArrayIntersect
    // rebuilds the probe hash set per row (g9 2.3 s → 166 s, reverted);
    // the explode + broadcast-semi-join + regroup form re-pays the
    // groupBy(o) exchange the basket build exists to avoid. Map-side
    // partial aggregation of the (p1,p2,p3) counts already collapses
    // sub-threshold triples before the shuffle.
    val capped = orderBaskets(lineitem)
      .filter(size(col("ps")) >= 3 && size(col("ps")) <= maxBasket)
    capped
      .select(posexplode(col("ps")).as(Seq("i", "p1")), col("ps"))
      .select(col("p1"), expr("slice(ps, i + 2, size(ps))").as("rest"))
      .select(col("p1"), posexplode(col("rest")).as(Seq("j", "p2")), col("rest"))
      .select(col("p1"), col("p2"),
        explode(expr("slice(rest, j + 2, size(rest))")).as("p3"))
      .groupBy("p1", "p2", "p3")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(k)
  }

  /** ASSOCIATION RULES over the co-purchase pairs: for every frequent
    * ordered pair (a → b), the support count, CONFIDENCE in floor basis
    * points (co/n_a — "of the orders with a, how many also had b") and
    * LIFT in floor permille (co·N/(n_a·n_b) — how far above independence
    * the pair sits; 1000 = independent). The actionable output of
    * market-basket mining — [[frequentTriples]] finds the sets, this
    * ranks the implications. All integer cross-multiplication: co ≤ n ≤
    * N ≤ 10⁵ at sf0.1 ⇒ co·N·1000 ≤ 10¹³ — BIGINT headroom.
    *
    * Scale shape: item counts and pair counts are two map-side-combined
    * aggregates over the same (order, part) projection; item counts
    * broadcast back twice (dimension-sized). Both rule directions come
    * from ONE undirected pair count via a 2-struct explode — the pair
    * join is never run twice. Top-k by (lift DESC, a, b) — total order,
    * deterministic cut.
    */
  def associationRules(lineitem: DataFrame, minSupport: Long = 2L,
      k: Int = 50): DataFrame = {
    // r11: basket arrays (one aggregate) feed all three consumers —
    // order count (= basket rows), item counts (one explode), and
    // task-local pair generation (no o-keyed self-join); see
    // orderBaskets. Same counts by construction.
    val baskets = Materialize(orderBaskets(lineitem))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCounts = baskets.select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("n_item"))
    val pairs = basketPairs(baskets)
      .groupBy(col("src").as("u"), col("dst").as("v"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minSupport)
    val directed = pairs.select(explode(array(
        struct(col("u").as("ante"), col("v").as("cons"), col("co")),
        struct(col("v").as("ante"), col("u").as("cons"), col("co")))).as("r"))
      .select(col("r.ante"), col("r.cons"), col("r.co"))
    directed
      .join(broadcast(itemCounts.select(col("p").as("ante"), col("n_item").as("n_ante"))), "ante")
      .join(broadcast(itemCounts.select(col("p").as("cons"), col("n_item").as("n_cons"))), "cons")
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("co"), col("n_ante"), col("n_cons"),
        expr("co * 10000 div n_ante").as("confidence_bp"),
        expr("co * n_orders * 1000 div (n_ante * n_cons)").as("lift_permille"))
      .orderBy(col("lift_permille").desc, col("ante"), col("cons"))
      .limit(k)
  }

  /** PageRank with a FIXED iteration count, INTEGER-EXACT: scores live in
    * micro-units (init 10⁶ per node) and every step is floor arithmetic —
    * contribution = score ÷ outdegree, update = 150000 + 85·Σin ÷ 100
    * (damping 0.85, teleport 0.15) — so results are bit-identical on any
    * engine and any partitioning, unlike float PageRank whose partial-sum
    * reassociation drifts per run. Fixed iterations instead of an FP
    * convergence test keep the contract deterministic; rank ORDER is
    * what downstream consumes and it stabilizes within a few iterations.
    *
    * Scale shape: one iteration = one equi-join of the score table onto
    * the (outdegree-annotated) edge list + one groupBy(dst) partial-
    * aggregated sum — both hash-partitioned on node keys, nothing
    * quadratic, no driver-side graph object (the adjacency stays a
    * distributed table; GraphX-style vertex mirroring is unnecessary for
    * a rank computation this shape). The outdegree-annotated edge list
    * and (when needed) the node set are CACHED: they are the loop
    * invariants, and without pinning them lazy lineage recomputes the
    * upstream edge derivation (often a join+distinct) once per iteration
    * per consumer — the classic iterative-Spark trap. The cached
    * footprint is the same working set any graph engine holds resident.
    * Dangling nodes (no out-edges) simply contribute nothing; nodes with
    * no in-edges settle at the teleport floor. For deep iteration counts
    * at 100 TB, checkpoint every ~10 rounds to cut lineage — at the
    * shallow counts used for frontier ranking the plain loop is the
    * faster plan.
    *
    * `allNodesReceiveMass = true` declares that every node has at least
    * one in-edge (always true for a symmetrized/undirected graph). The
    * update then reads the mass aggregate directly and the whole
    * node-set branch disappears: no node-set materialization and no
    * per-iteration left join — one join + one aggregate per iteration.
    * With the default `false`, scores are kept for ALL nodes via a left
    * join against the node set, so in-edge-less nodes still settle at
    * the teleport floor instead of vanishing from the output.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      allNodesReceiveMass: Boolean = false): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // Degree-annotate with a src-keyed WINDOW, not groupBy+self-join:
    // one exchange of the edge list (plus a local sort) instead of two,
    // and — decisive at the 250 MB/core heap shape — the edge list is
    // scanned ONCE, so the caller needn't cache its (possibly expensive)
    // edge derivation just to feed two readers. The cached eDeg keeps
    // its src hash-partitioning, so each iteration's score join only
    // shuffles the (small) score side.
    val annotated = e.withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src")))
    val initScore = lit(1000000L).as("score")
    val update = expr(
      "150000 + 85 * coalesce(mass, CAST(0 AS BIGINT)) DIV 100").as("score")
    // Either branch ends with an EAGER checkpoint so the loop invariants
    // can be unpersisted before returning: the lazily-returned DataFrame
    // would otherwise pin the edge caches in executor storage for the
    // rest of the session (the trainCentroids unpersist convention,
    // adapted to a lazy return value).
    Materialize.cached(annotated) { eDeg =>
      if (allNodesReceiveMass) {
        // Iteration 1 needs NO score join: the init score is uniform, so
        // each edge's contribution is the constant-score floor division —
        // computable straight off the annotated edge list. This also
        // removes the node-set seed entirely (at scale that seed is a
        // distinct over 2·|E| rows — a whole shuffle for nothing).
        var scores = eDeg
          .groupBy("dst")
          .agg(sum(expr("1000000 DIV outdeg")).as("mass"))
          .select(col("dst").as("node"), update)
        for (_ <- 2 to iterations) {
          scores = scores
            .join(eDeg, col("node") === col("src"))
            .select(col("dst"), expr("score DIV outdeg").as("c"))
            .groupBy("dst")
            .agg(sum(col("c")).as("mass"))
            .select(col("dst").as("node"), update)
        }
        Materialize(scores)
      } else {
        // seed off the CACHED annotated edges, not `e` — two reads of `e`
        // would recompute the caller's edge derivation twice
        Materialize.cached(eDeg.select(col("src").as("node"))
            .union(eDeg.select(col("dst").as("node"))).distinct()) { nodes =>
          var scores = nodes.select(col("node"), initScore)
          for (_ <- 1 to iterations) {
            val inMass = scores
              .join(eDeg, col("node") === col("src"))
              .select(col("dst"), expr("score DIV outdeg").as("c"))
              .groupBy("dst")
              .agg(sum(col("c")).as("mass"))
            scores = nodes
              .join(inMass, nodes("node") === inMass("dst"), "left")
              .select(col("node"), update)
          }
          Materialize(scores)
        }
      }
    }
  }

  /** Entity importance over the order graph: PageRank on the UNDIRECTED
    * bipartite customer↔supplier graph induced by lineitems (edge =
    * "this customer bought from this supplier at least once"). The
    * even/odd node encoding (customer 2k, supplier 2k+1) keeps the two
    * key spaces disjoint inside one BIGINT node id. Top-k by rank —
    * TakeOrderedAndProject, then the rank window runs over k rows only.
    *
    * The expensive pair derivation (fact-fact join + distinct) is
    * scanned exactly ONCE and never cached: symmetrization explodes
    * each pair into both directions in the same pass, and pageRank's
    * window-based degree annotation needs no second read. The only
    * persisted loop state is pageRank's own eDeg cache (r11 — the
    * previous cache-base-then-union shape held the pair set AND the
    * annotated edges in storage simultaneously, the margin that tipped
    * the 8 GB/250 MB-per-core heap at sf10).
    */
  def supplierRank(orders: DataFrame, lineitem: DataFrame,
      k: Int = 25, iterations: Int = 3): DataFrame = {
    val base = lineitem
      .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey").as("ok"), col("o_custkey")), "ok")
      .select((col("o_custkey") * 2).cast("long").as("c_node"),
        (col("l_suppkey") * 2 + 1).cast("long").as("s_node"))
      .distinct()
    // Symmetrize by EXPLODING each pair into both directions — one scan
    // of base, so the expensive fact-fact join + distinct needs no cache
    // at all (the r10 shape cached base to feed a two-read union, which
    // held pair-set + annotated-edge storage simultaneously: the margin
    // that tipped the 8 GB heap at sf10). pageRank scans its input once
    // (window-annotated) and caches only eDeg.
    val edges = base.select(explode(array(
        struct(col("c_node").as("src"), col("s_node").as("dst")),
        struct(col("s_node").as("src"), col("c_node").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // Symmetrized graph ⇒ every node has in-edges: take the lean path.
    val ranked = pageRank(edges, iterations, allNodesReceiveMass = true)
    val top = ranked.orderBy(col("score").desc, col("node")).limit(k)
    val w = Window.orderBy(col("score").desc, col("node"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"),
        when(col("node") % 2 === 1, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        expr("node DIV 2").as("key"),
        col("score").as("score_micro"))
      .orderBy("rank")
  }

  /** k-CORE decomposition membership (g5): the maximal subgraph where
    * every node keeps ≥ k neighbors — the standard "structurally
    * embedded" filter (spam/fraud rings, community cores, crawl-graph
    * cleanup) that degree alone can't express: a high-degree node whose
    * neighbors are all pendants still falls out of the core.
    *
    * Iterative peeling to the FIXPOINT: each round keeps the nodes with
    * ≥ k surviving neighbors and recounts. Peeling is confluent (the
    * k-core is unique regardless of removal order), so the result is
    * partition-invariant and engine-exact; the DuckDB oracle unrolls
    * more rounds than the fixture needs and the extra rounds are
    * idempotent no-ops. Per distributed round: one equi-join of the edge
    * list against the shrinking keep-set and one map-side-combining
    * degree count — work ∝ surviving edges, the same frontier discipline
    * as [[bfsHops]]; the symmetrized edge list is the cached loop
    * invariant and the keep-set is eagerly checkpointed (lineage
    * truncation).
    *
    * Size-adaptive, like [[Dedup.connectedComponents]] and through the
    * same rule ([[graft.spark.Materialize.fitsOnDriver]]): each
    * keep-set checkpoint observes its size and its degree sum, and half
    * the degree sum bounds the edges left among the kept nodes. Once
    * that bound × 16 bytes fits `spark.sql.autoBroadcastJoinThreshold`,
    * those edges are collected once and the same synchronous peel runs
    * round by round on the driver ([[peelOnDriver]]) — same rounds, same
    * round count, same convergence test, same `maxRounds` require; the
    * result is a local relation with the keep-set's schema (g5 at sf0.01:
    * 21 → 10 jobs). A threshold of -1 keeps every round distributed.
    *
    * Convergence past `maxRounds` fails loudly rather than returning a
    * half-peeled graph as if it were the core (at the registered k = 2
    * the fixtures converge in ≤ 6 rounds; asserted per-scale in the
    * spec, and a regenerated fixture that peels longer trips the
    * require, not the hash gate). The oracle unrolls maxRounds−1 peel
    * rounds, so WHENEVER the require passes the oracle has also reached
    * the same fixpoint — the two can only disagree by erroring, never
    * by silently diverging.
    */
  def kCore(lineitem: DataFrame, k: Long = 2L, minSupport: Long = 2L,
      maxRounds: Int = 12): DataFrame = {
    val spark = lineitem.sparkSession
    val e0 = coPurchaseEdges(lineitem, minSupport)
    Materialize.cached(e0.select(col("src"), col("dst"))
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))) { sym =>
      // survivor count and degree sum ride each round's own checkpoint job
      // via observe() (r12, the CC-loop device; fallback jobs where the
      // metrics don't arrive — see Materialize.observedMetric)
      def peeled(surviving: DataFrame): (DataFrame, Long, Long) =
        Materialize.counted(surviving
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
          .filter(col("core_deg") >= k),
          coalesce(sum(col("core_deg")), lit(0L)))
      def small(degSum: Long) = Materialize.fitsOnDriver(spark, (degSum + 1) / 2)
      var (kept, n, degSum) = peeled(sym)
      var converged = false
      var round = 1
      while (!converged && round < maxRounds && !small(degSum)) {
        val (next, n2, d2) = Materialize.round(kept)(peeled(sym
          .join(kept.select(col("node").as("src")), Seq("src"))
          .join(kept.select(col("node").as("dst")), Seq("dst"))))
        converged = n2 == n
        n = n2
        degSum = d2
        kept = next
        round += 1
      }
      val core =
        if (converged || !small(degSum)) kept
        else Materialize.round(kept) {
          // the edges left among the kept nodes, each once (sym's src < dst
          // half is e0), read from sym's cache
          val edges = sym.filter(col("src") < col("dst"))
            .join(kept.select(col("node").as("src")), Seq("src"))
            .join(kept.select(col("node").as("dst")), Seq("dst"))
            .select(col("src"), col("dst"))
            .collect()
          val (nodes, degs, ok) = peelOnDriver(edges, k, n, round, maxRounds)
          converged = ok
          // the node column keeps its input type (l_partkey's)
          val box: Long => Any = kept.schema("node").dataType match {
            case IntegerType => _.toInt
            case _ => v => v
          }
          val rows = new java.util.ArrayList[Row](nodes.length)
          for (j <- nodes.indices) rows.add(Row(box(nodes(j)), degs(j)))
          spark.createDataFrame(rows, kept.schema)
        }
      require(converged,
        s"k-core peel (k=$k) did not reach its fixpoint in $maxRounds rounds")
      core.orderBy("node")
    }
  }

  /** The driver finish of [[kCore]]: the same synchronous peel over the
    * collected edges left among the current keep-set (`n` nodes after
    * `round` rounds), continuing the distributed loop's round count and
    * convergence test. Ids are indexed once through a sorted primitive
    * array; a node stays while it has ≥ max(k, 1) surviving neighbors
    * (the distributed degree count only emits nodes that have one).
    * Returns the kept nodes, their core degrees, and whether the
    * fixpoint was reached.
    */
  private def peelOnDriver(edges: Array[Row], k: Long, n: Long, round: Int,
      maxRounds: Int): (Array[Long], Array[Long], Boolean) = {
    def id(r: Row, i: Int) = r.getAs[Number](i).longValue
    val ids = Dedup.sortedIds(edges.flatMap(r => Array(id(r, 0), id(r, 1))))
    val a = edges.map(r => java.util.Arrays.binarySearch(ids, id(r, 0)))
    val b = edges.map(r => java.util.Arrays.binarySearch(ids, id(r, 1)))
    val alive = Array.fill(ids.length)(true)
    val deg = new Array[Long](ids.length)
    var kept = n
    var converged = false
    var r = round
    while (!converged && r < maxRounds) {
      java.util.Arrays.fill(deg, 0L)
      for (i <- a.indices if alive(a(i)) && alive(b(i))) {
        deg(a(i)) += 1
        deg(b(i)) += 1
      }
      var n2 = 0L
      for (j <- ids.indices) {
        alive(j) = deg(j) > 0 && deg(j) >= k
        if (alive(j)) n2 += 1
      }
      converged = n2 == kept
      kept = n2
      r += 1
    }
    val keep = ids.indices.filter(alive(_)).toArray
    (keep.map(ids(_)), keep.map(deg(_)), converged)
  }

  /** BOUNDED-HOP CHEAPEST PATH (g6): minimum edge-cost walk of ≤
    * `maxHops` edges from a seed set, over the co-purchase graph with
    * integer costs 10⁶ div support — the WEIGHTED companion of
    * [[bfsHops]] (hop count treats a 2-order co-occurrence and a
    * 200-order one identically; cost-weighted reach is what "closely
    * related products" actually means).
    *
    * Fixed-round Bellman-Ford relaxation: dist_t(v) = min(dist_{t-1}(v),
    * min over edges (u,v) of dist_{t-1}(u) + w(u,v)). Costs are positive
    * integers, so the fixed-round result ("cheapest walk using ≤ H
    * edges") is well-defined, partition-invariant, and engine-exact —
    * the same fixed-iteration discipline as [[pageRank]], and the DuckDB
    * oracle unrolls the identical H rounds as MATERIALIZED min-tables
    * (never a recursive walk ENUMERATION, whose path count explodes
    * where the relaxation table stays ≤ |V|).
    *
    * Per round: one equi-join of the distance table onto the cached
    * weighted edge list + one map-side-combining min — the distance
    * table never exceeds the vertex set, and nothing is quadratic.
    */
  def cheapestPath(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#11", maxHops: Int = 3,
      minSupport: Long = 2L): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8, "bounded relaxation only")
    // r11: basket-array pair generation (see orderBaskets) — no self-join
    val e0 = basketPairs(orderBaskets(lineitem))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
      .select(col("src"), col("dst"), expr("1000000 div c").as("w"))
    Materialize.cached(e0.select(col("src"), col("dst"), col("w"))
        .union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))) { sym =>
      var dist = Materialize(part.filter(col("p_brand") === brand)
        .select(col("p_partkey").as("node"), lit(0L).as("cost")))
      for (_ <- 1 to maxHops) {
        val relaxed = dist.join(sym, dist("node") === sym("src"))
          .select(sym("dst").as("node"), (dist("cost") + sym("w")).as("cost"))
        dist = Materialize.round(dist)(Materialize(dist.union(relaxed)
          .groupBy("node").agg(min(col("cost")).as("cost"))))
      }
      dist.orderBy("node")
    }
  }

  /** COMMUNITY DETECTION via synchronous label propagation (LPA) — the
    * missing granularity between [[coPurchaseComponents]] (communities =
    * connectivity, one label per connected blob) and [[triangleCount]]
    * (local density only): after k rounds of "adopt the label most
    * common among your neighbors", densely-linked product clusters
    * converge to shared labels while bridge edges don't glue them
    * together the way connected components do.
    *
    * Determinism (the reason LPA is usually NOT hash-checkable, solved
    * here): synchronous rounds (all nodes update from the previous
    * round's labels — no update-order dependence) and a total
    * tie-break — highest neighbor count, then SMALLEST label. Both
    * engines then compute the identical fixed-iteration result.
    *
    * Scale shape, per round: ONE equi-join of the symmetric edge list
    * against the label table (hash-partitioned on the label side's
    * node key) and ONE keyed aggregate in which the argmax is a
    * `max(struct(count, -label))` — partial-aggregable map-side, so a
    * celebrity node's millions of (neighbor-label, count) pairs combine
    * before the shuffle; the window-per-node formulation the oracle
    * uses would instead sort every node's label multiset. Labels are
    * checkpointed eagerly per round ([[pageRank]]'s lineage-truncation
    * discipline) and the edge cache is released before returning.
    */
  def lpaCommunities(lineitem: DataFrame, iterations: Int = 3,
      minSupport: Long = 2L): DataFrame =
    lpaOnEdges(coPurchaseEdges(lineitem, minSupport), iterations)

  /** LPA core over an explicit `(src, dst)` edge list — see
    * [[lpaCommunities]] for semantics and scale notes.
    */
  def lpaOnEdges(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10, "bounded synchronous LPA")
    Materialize.cached(edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))) { sym =>
      var labels = Materialize(sym.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node")))
      for (_ <- 1 to iterations)
        labels = Materialize.round(labels)(Materialize(sym
          .join(labels, sym("v") === labels("node"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("u").as("node"))
          .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
          .select(col("node"), (-col("m.neg")).as("lbl"))))
      labels
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
        .orderBy("community")
    }
  }

  /** DEGREE ASSORTATIVITY sufficient statistics — do high-degree nodes
    * link to other hubs (assortative, r > 0) or to the periphery
    * (disassortative, r < 0)? The one-number topology diagnostic that
    * decides whether hub-targeted sampling or salting is worth it.
    * Newman's r is a Pearson correlation over edge endpoint degrees;
    * its float form never hash-matches, so the operator reports the
    * EXACT integer sufficient statistics over the m undirected edges —
    * m, S1 = Σ(dᵤ+dᵥ), S2 = Σ(dᵤ²+dᵥ²), S3 = Σ dᵤ·dᵥ — from which
    * r = (S3/m − (S1/2m)²) / (S2/2m − (S1/2m)²) reconstructs ([[
    * TimeSeries.autocorrelation]]'s report-the-fraction contract).
    * BIGINT headroom: degrees ≤ 10⁵ and edges ≤ 10⁹ keep S2 ≤ 10¹⁹…
    * just past 2⁶³ at the extreme — S2/S3 ride as DECIMAL(38,0) and
    * cast down, so the fixture values are BIGINT while the shape
    * survives graphs that would overflow.
    *
    * Scale shape: one edge build ([[coPurchaseEdges]]), one degree
    * aggregate (∝ nodes), two hash joins of edges against the degree
    * frame, one global reduce. No window, no sort.
    */
  def assortativityStats(lineitem: DataFrame,
      minSupport: Long = 2L): DataFrame = {
    val e = coPurchaseEdges(lineitem, minSupport)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    e
      .join(deg.select(col("node").as("src"), col("d").as("du")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("d").as("dv")), Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("du") + col("dv")).as("s1"),
        sum((col("du").cast("decimal(38,0)") * col("du") +
          col("dv").cast("decimal(38,0)") * col("dv"))).as("s2d"),
        sum(col("du").cast("decimal(38,0)") * col("dv")).as("s3d"))
      .select(col("n_edges"), col("s1"),
        col("s2d").cast("long").as("s2"), col("s3d").cast("long").as("s3"))
  }
}
