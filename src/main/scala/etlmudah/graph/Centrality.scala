package etlmudah.graph

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import etlmudah.scale.Dedup.{localRows, sortedDistinct}

/** Graph centrality over co-occurrence graphs — the ranking half of the
  * graph tier (connected components, the clustering half, lives in
  * `scale.Dedup.dupClusters`). The motivating pipeline shape is web/
  * catalog curation: given an item graph (parts co-purchased in one
  * order, domains co-linked from one page), rank items by stationary
  * importance so downstream sampling/capping can prefer central items —
  * the CommonCrawl/FineWeb discipline of ranking hosts by centrality
  * before selecting documents.
  *
  * PageRank here is INTEGER-LATTICE: every rank is a BIGINT on a fixed
  * lattice (`scale` units = rank 1.0) and every step is BIGINT
  * multiply/divide. Spark's `div` and DuckDB's `//` agree on all
  * non-negative operands (both truncate, and floor == truncate above
  * zero), so a fixed-iteration run is EXACTLY reproducible cross-engine
  * — the same portability discipline as the integer-lattice LSH
  * projections (`scale.Similarity`) — and the oracle is a plain
  * unrolled-CTE SQL query that hash-matches, not an epsilon envelope.
  */
object Centrality {

  /** Co-occurrence edge mining: two distinct items sharing a group key
    * (parts in one order, tokens in one doc, hosts on one page) get a
    * DIRECTED edge each way, weighted by the number of co-occurrences.
    *
    * Scale shape: ONE exchange keyed on the group, pair fan-out
    * generated in-stage from each group's collected item list, weight
    * aggregate map-side combined on (src, dst). API contract: the
    * per-group collect_list buffer does NOT spill — callers must feed
    * groups whose item count is row-bounded (TPC-H orders hold ≤ 7
    * lineitems; web pages hold tens of links). That is the same bound
    * the former self-join's degree² fan-out already imposed (any group
    * of k items produces k² pair rows downstream regardless of
    * formulation), so a group small enough to mine at all is small
    * enough to collect; for inputs with unbounded groups, cap or
    * threshold the group upstream (the q89 source-cap discipline). */
  def cooccurrenceEdges(df: DataFrame, groupCol: String,
                        itemCol: String): DataFrame = {
    // One exchange keyed on the group, then the pair fan-out is generated
    // INSIDE the stage from each group's collected item list — identical
    // multiset of ordered pairs to the self-join formulation (the double
    // explode enumerates every row pair within the group; null groups are
    // dropped like the join's equi-key did, and collect_list skips null
    // items exactly as the null-propagating src=!=dst filter did), but
    // without sorting both join sides: the self-join planned an SMJ whose
    // sort of 2x|rows| dominated the mine (measured 2x end-to-end on the
    // sf0.1 co-purchase mine, 3.8s -> 1.9s; optimization guide §2.4).
    // The per-group list is bounded by basket size — the same bound the
    // join's degree² fan-out already imposed, so any basket this row can
    // hold (k items -> k² pair rows downstream) is safe to collect.
    df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(collect_list(col(itemCol).cast("long")).as("__items"))
      .select(explode(col("__items")).as("src"), col("__items"))
      .select(col("src"), explode(col("__items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Undirected co-occurrence pairs (u < v, weight = co-occurrence
    * count, weight >= `minWeight`): the triangle tier's input. The
    * weight threshold is the significance prefilter (the PMI/
    * collocation-mining discipline of q112): a single shared basket is
    * noise, repeat co-occurrence is signal — and it is ALSO the
    * fan-out governor, since thresholding is what keeps a dense
    * co-occurrence graph to its signal-bearing core before any
    * quadratic-in-degree analysis runs on it. */
  def cooccurrencePairs(df: DataFrame, groupCol: String, itemCol: String,
                        minWeight: Long = 2L): DataFrame = {
    // Same collected-list pair generation as [[cooccurrenceEdges]] (one
    // group-keyed exchange, pair fan-out inside the stage, no self-join
    // sort); u < v keeps one direction exactly as the join's filter did.
    df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(collect_list(col(itemCol).cast("long")).as("__items"))
      .select(explode(col("__items")).as("u"), col("__items"))
      .select(col("u"), explode(col("__items")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** Synchronous LABEL-PROPAGATION communities (Raghavan, Albert &
    * Kumara 2007) over an undirected weighted pair list (u, v,
    * weight), made fully deterministic: classic LPA updates
    * asynchronously in random order — unreproducible by design — so
    * this runs `iters` SYNCHRONOUS rounds with a total tie order
    * (each node adopts the label carrying the maximum incident weight
    * among its neighbors' current labels, ties to the SMALLEST
    * label), which replays bit-for-bit in any engine. With fixed
    * small `iters` this is the near-clique community SCREEN (dup
    * families, co-purchase clusters) at near-linear cost — the
    * standard LPA trade against modularity optimizers, which this is
    * not. Synchronous LPA can 2-cycle on bipartite structures;
    * bounded `iters` makes that a non-issue (the round-3 labels ARE
    * the deliverable, exactly as the oracle unrolls them).
    *
    * Scale: the pageRankInt loop discipline — the symmetric edge
    * table materializes ONCE and never exchanges in-loop while the
    * |V|-sized label frame broadcasts; per-round work is one |E| join
    * + one (node, label)-keyed map-side-combined aggregate + one
    * struct-max argmax. Isolated nodes are out of domain (edge-list
    * input); a node whose label no one adopts is its own singleton
    * community. */
  def labelPropagation(pairs: DataFrame, iters: Int = 3,
                       localEdgeThreshold: Long = 500000L,
                       broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = pairs.select(col("u").cast("long").as("src"),
      col("v").cast("long").as("dst"), col("weight").cast("long").as("w"))
    val ew = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .localCheckpoint(true)
    val local = ew.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    val nodes = pin(ew.select(col("src").as("node")).distinct())
    val n = nodes.count()
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    var labels = pin(nodes.withColumn("label", col("node")))
    var it = 0
    while (it < iters) {
      val contrib = ew
        .join(small(labels.select(col("node").as("src"), col("label"))),
          Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("w")).as("__wsum"))
      labels = pin(contrib.groupBy(col("node"))
        .agg(max(struct(col("__wsum"), (-col("label")).as("__nl"),
          col("label"))).as("__b"))
        .select(col("node"), col("__b.label").as("label")))
      it += 1
    }
    labels.orderBy(col("node"))
  }

  /** Pairwise ASSOCIATION RULES over baskets (the Agrawal–Srikant
    * market-basket surface at the 2-itemset tier): for every item pair
    * with co-support ≥ `minSupport` DISTINCT baskets, both directed
    * confidences plus support and lift, top `k` by lift — the
    * complements/substitutes readout behind the co-purchase graph
    * (lift > 1 complements, < 1 substitutes). All inputs are exact
    * BIGINT basket counts, so every ratio replays engine-exactly at
    * 6dp.
    *
    * Scale shape: the basket frame DISTINCTs first (multiplicity is
    * not evidence in the support model — and it is also what bounds
    * the self-join fan-out to degree², the [[cooccurrencePairs]]
    * argument), pair counting reuses [[cooccurrencePairs]] verbatim,
    * margins are one map-side-combined item aggregate joined in by
    * item key, and the basket total rides a broadcast single-row
    * frame. minSupport prunes BEFORE the margin joins, so the rule
    * frame entering them is the signal-bearing core only. */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
                       minSupport: Long = 3L, k: Int = 20): DataFrame = {
    // Pin the distinct basket-item frame: three consumers read it (the
    // pair mine, the per-item margins, the basket total) and without the
    // pin each one replans the full scan + distinct (3 fact scans + 3
    // distinct exchanges measured — guide §5 reuse, the q167
    // localCheckpoint precedent). The pinned frame is |distinct (basket,
    // item)| — the same frame every downstream aggregate already
    // shuffles, never wider than the input fact table.
    val items = df
      .where(col(groupCol).isNotNull && col(itemCol).isNotNull)
      .select(col(groupCol).as("g"), col(itemCol).cast("long").as("item"))
      .distinct()
      .localCheckpoint(true)
    val pairs = cooccurrencePairs(items, "g", "item", minWeight = minSupport)
      .withColumnRenamed("weight", "co_support")
    val margins = items.groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val total = items.agg(countDistinct(col("g")).as("n_baskets"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    pairs
      .join(margins.select(col("item").as("u"), col("n_item").as("n_u")), "u")
      .join(margins.select(col("item").as("v"), col("n_item").as("n_v")), "v")
      .crossJoin(broadcast(total))
      .select(col("u"), col("v"), col("co_support"), col("n_u"), col("n_v"),
        col("n_baskets"),
        round(d(col("co_support")) / d(col("n_baskets")), 6).as("support"),
        round(d(col("co_support")) / d(col("n_u")), 6).as("conf_u_v"),
        round(d(col("co_support")) / d(col("n_v")), 6).as("conf_v_u"),
        round(d(col("co_support")) * d(col("n_baskets")) /
          (d(col("n_u")) * d(col("n_v"))), 6).as("lift"))
      .orderBy(col("lift").desc, col("u").asc, col("v").asc)
      .limit(k)
  }

  /** k-CORE peel (Seidman 1983; the Batagelj–Zaveršnik peel made
    * bulk-synchronous): repeatedly drop nodes whose degree WITHIN the
    * surviving subgraph is < k, `rounds` times; returns the survivors
    * with their in-core degree. Bulk peeling converges in at most
    * O(peel depth) rounds — callers size `rounds` to reach the
    * fixpoint (CentralitySpec pins that one extra round is a no-op at
    * the registered setting, the pageRankInt bounded-iteration
    * contract), and the serial unroll is exactly what the oracle
    * replays round by round.
    *
    * Input `pairs(u, v)`: undirected simple edges (self-loops dropped,
    * both orientations derived here). Scale shape per round: one
    * degree aggregate over the symmetrized edge frame restricted to
    * the alive set by two semi-joins — the alive frame broadcasts
    * below `broadcastNodeThreshold` (the labelPropagation discipline),
    * so the edge table is never shuffled by the loop; the edge frame
    * is materialized once. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 4,
            localEdgeThreshold: Long = 500000L,
            broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (nodes, degrees, pin) =
      peelSetup(pairs, localEdgeThreshold, broadcastNodeThreshold)
    var alive = nodes
    var it = 0
    while (it < rounds) {
      alive = pin(degrees(alive).filter(col("deg") >= k)
        .select(col("node")))
      it += 1
    }
    degrees(alive).select(col("node"), col("deg").as("core_degree"))
      .orderBy(col("node"))
  }

  /** Shared peel plumbing for the core family: symmetrize + simple-ify
    * the edge list once, pin it, and hand back (alive-nodes frame,
    * in-subgraph-degree fn, pin fn). Same layout thresholds as
    * [[kCore]]: the edge frame is materialized ONCE and never
    * reshuffled by the loops; alive frames broadcast into the two
    * semi-joins below `broadcastNodeThreshold`. */
  private def peelSetup(pairs: DataFrame, localEdgeThreshold: Long,
                        broadcastNodeThreshold: Long):
      (DataFrame, DataFrame => DataFrame, DataFrame => DataFrame) = {
    val e = pairs.select(col("u").cast("long").as("src"),
        col("v").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val local = sym.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    val nodes = pin(sym.select(col("src").as("node")).distinct())
    val n = nodes.count()
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    def degrees(a: DataFrame): DataFrame = sym
      .join(small(a.select(col("node").as("src"))), Seq("src"), "left_semi")
      .join(small(a.select(col("node").as("dst"))), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    (nodes, degrees, pin)
  }

  /** ADAPTIVE k-core: the innermost non-empty core at or below `kMax` —
    * peel at kMax; if the fixpoint is empty, retry at kMax−1, down to
    * k=1 (whose core is all of `sym`'s nodes, so the result is never
    * vacuous on a non-empty graph). Survivors carry their in-core
    * degree plus the `k_used` that produced them. This is the
    * SF-robust form of [[kCore]]: a thinning graph (the co-purchase
    * weight≥2 graph empties its 3-core as SF grows) degrades to the
    * densest core that EXISTS instead of returning zero rows.
    *
    * Scale shape: identical to [[kCore]] per round; at most `kMax`
    * peels, each early-exiting on a driver-side fixpoint count (one
    * scalar per round). The descending order means the common dense
    * case pays exactly one peel. */
  def kCoreAdaptive(pairs: DataFrame, kMax: Int, rounds: Int = 10,
                    localEdgeThreshold: Long = 500000L,
                    broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(kMax >= 1, s"kMax must be >= 1, got $kMax")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (nodes, degrees, pin) =
      peelSetup(pairs, localEdgeThreshold, broadcastNodeThreshold)
    var k = kMax
    while (k >= 1) {
      var alive = nodes
      var prev = -1L
      var cnt = alive.count()
      var it = 0
      while (it < rounds && cnt != prev) {
        prev = cnt
        alive = pin(degrees(alive).filter(col("deg") >= k)
          .select(col("node")))
        cnt = alive.count()
        it += 1
      }
      if (cnt > 0 || k == 1)
        return degrees(alive)
          .select(col("node"), col("deg").as("core_degree"),
            lit(k).cast("long").as("k_used"))
          .orderBy(col("node"))
      k -= 1
    }
    throw new IllegalStateException("unreachable: k=1 always returns")
  }

  /** FULL coreness decomposition (Seidman ladder iterated à la
    * Batagelj–Zaveršnik 2003, bulk-synchronous): core number per node
    * — the largest k whose k-core contains it. Levels ascend from k=1
    * (whose fixpoint is every node of the simple graph); each level
    * peels the PREVIOUS level's fixpoint to its own fixpoint
    * (driver-detected via one scalar count per round), and
    * coreness(v) = max level whose fixpoint kept v. Returns
    * (node, coreness) ordered by node; the degeneracy is
    * max(coreness).
    *
    * Scale shape: per round identical to [[kCore]] (one degree
    * aggregate over the pinned edge frame restricted by two
    * semi-joins); total rounds = Σ per-level peel depths ≤ degeneracy
    * × max depth — measured 10–53 on the co-purchase graphs. The
    * 100 TB dial for high-degeneracy graphs is the h-index fixpoint
    * iteration (Lü et al. 2016), which converges in O(iterations ×
    * one windowed aggregate) independent of the ladder height — a
    * caller decision, not a silent substitution. `maxLevels` /
    * `maxRoundsPerLevel` are hard caps (bounded-iteration contract);
    * exceeding them throws rather than silently truncating. */
  def coreness(pairs: DataFrame, maxLevels: Int = 64,
               maxRoundsPerLevel: Int = 64,
               localEdgeThreshold: Long = 500000L,
               broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    val (nodes, degrees, pin) =
      peelSetup(pairs, localEdgeThreshold, broadcastNodeThreshold)
    var alive = nodes
    var cnt = alive.count()
    var k = 1
    var acc: DataFrame = null
    while (cnt > 0) {
      if (k > maxLevels) throw new IllegalStateException(
        s"coreness ladder exceeded maxLevels=$maxLevels")
      var prev = -1L
      var it = 0
      while (cnt != prev) {
        if (it >= maxRoundsPerLevel) throw new IllegalStateException(
          s"level $k exceeded maxRoundsPerLevel=$maxRoundsPerLevel")
        prev = cnt
        alive = pin(degrees(alive).filter(col("deg") >= k)
          .select(col("node")))
        cnt = alive.count()
        it += 1
      }
      if (cnt > 0) {
        val lvl = alive.withColumn("k", lit(k).cast("long"))
        acc = if (acc == null) lvl else acc.unionByName(lvl)
      }
      k += 1
    }
    if (acc == null)
      return nodes.select(col("node"), lit(1L).as("coreness")).limit(0)
    acc.groupBy(col("node")).agg(max(col("k")).as("coreness"))
      .orderBy(col("node"))
  }

  /** k-TRUSS peel (Cohen 2008) — the EDGE-support cousin of the
    * k-core: repeatedly drop edges lying in fewer than k−2 triangles
    * WITHIN the surviving subgraph, `rounds` times (bulk-synchronous;
    * fixpoint measured at ≤2 rounds on the co-purchase graphs —
    * callers size `rounds` past it, the kCore discipline). The truss
    * is the standard community-core readout: k-core keeps hubs with
    * many arbitrary neighbors, k-truss keeps edges EMBEDDED in
    * triangle-dense neighborhoods — spam stars die, cliques survive.
    * Returns the surviving edges with their in-truss support,
    * ordered (u, v).
    *
    * Per round: symmetrize the surviving edge frame, count each
    * edge's common neighbors via two equi-joins (edge ⋈ adjacency on
    * u ⋈ adjacency on (v, w)) and filter. Scale shape: the wedge join
    * is the triangle-counting cost — on graphs whose thresholded core
    * is wedge-heavy, the degree-ordered orientation
    * ([[triangleCounts]]'s Schank–Wagner plan, each triangle generated
    * once and exploded to its three edges) is the documented dial;
    * this bulk form keeps every join an EQUI-join either way. */
  def kTruss(pairs: DataFrame, k: Int, rounds: Int = 4,
             localEdgeThreshold: Long = 500000L): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = pairs.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val local = e.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    var cur = pin(e)
    var it = 0
    while (it < rounds) {
      val sym = pin(cur.select(col("u").as("a"), col("v").as("b"))
        .unionByName(cur.select(col("v").as("a"), col("u").as("b"))))
      val sup = cur
        .join(sym.select(col("a").as("u"), col("b").as("w")), Seq("u"))
        .join(sym.select(col("a").as("v"), col("b").as("w")),
          Seq("v", "w"), "left_semi")
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
      cur = pin(sup.filter(col("support") >= k - 2)
        .select(col("u"), col("v")))
      it += 1
    }
    // Report support recomputed ONCE over the FINAL surviving edge
    // set, so the value always describes the returned truss — even
    // when `rounds` undershoots the fixpoint (where the start-of-
    // round support would describe the penultimate set). At a
    // fixpoint the recompute is numerically a no-op. Left join +
    // coalesce keeps survivors whose support dropped to 0 visible
    // rather than silently dropping them.
    val symF = pin(cur.select(col("u").as("a"), col("v").as("b"))
      .unionByName(cur.select(col("v").as("a"), col("u").as("b"))))
    val supF = cur
      .join(symF.select(col("a").as("u"), col("b").as("w")), Seq("u"))
      .join(symF.select(col("a").as("v"), col("b").as("w")),
        Seq("v", "w"), "left_semi")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("support"))
    cur.join(supF, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("u"), col("v"))
  }

  /** [[kTruss]]'s wedge-heavy-graph dial — the SAME numbers via the
    * Schank–Wagner DEGREE-ORDERED ORIENTATION (the [[triangleStats]]
    * plan): each round orients every surviving edge from its lower-
    * degree endpoint (ties by id), enumerates each triangle exactly
    * ONCE as a wedge at its lowest vertex closed by an oriented edge,
    * then credits the triangle to its three edges. Support values are
    * identical to the symmetric-adjacency count — a triangle is a
    * triangle — but the wedge fan-out is bounded by the ORIENTED
    * out-degree (O(sqrt(m)) on any graph, Schank & Wagner 2005)
    * instead of the raw degree, so a celebrity hub no longer
    * quadratically explodes the wedge join. Registered as an
    * identical-statistic twin: q356's oracle is q348's VERBATIM (the
    * q340/q345 dial discipline — the plan changes, the number
    * doesn't). Same under-sized-`rounds` contract as [[kTruss]]:
    * support is recomputed over the RETURNED edge set. */
  def kTrussOriented(pairs: DataFrame, k: Int, rounds: Int = 4,
                     localEdgeThreshold: Long = 500000L): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = pairs.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val local = e.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    // support over `cur` via once-per-triangle oriented enumeration;
    // returns (u, v, support) for EVERY cur edge (0 when none)
    def supports(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("u").as("node"))
        .unionByName(cur.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = (col("du") < col("dv")) ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = cur
        .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
        .select(when(keep, col("u")).otherwise(col("v")).as("s"),
          when(keep, col("v")).otherwise(col("u")).as("t"),
          when(keep, col("dv")).otherwise(col("du")).as("dt"))
        .localCheckpoint(true)
      val wedges = oriented
        .select(col("s"), col("t").as("t1"), col("dt").as("dt1"))
        .join(oriented.select(col("s"), col("t").as("t2"),
          col("dt").as("dt2")), Seq("s"))
        .filter(col("dt1") < col("dt2") ||
          (col("dt1") === col("dt2") && col("t1") < col("t2")))
      val tri = wedges.join(
        oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"))
      val credited = tri.select(col("s").as("a"), col("t1").as("b"))
        .unionByName(tri.select(col("s").as("a"), col("t2").as("b")))
        .unionByName(tri.select(col("t1").as("a"), col("t2").as("b")))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("__sup"))
      cur.join(credited, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("__sup"), lit(0L)).as("support"))
    }
    var cur = pin(e)
    var it = 0
    while (it < rounds) {
      cur = pin(supports(cur).filter(col("support") >= k - 2)
        .select(col("u"), col("v")))
      it += 1
    }
    supports(cur).orderBy(col("u"), col("v"))
  }

  /** [[coreness]]'s 100 TB tier — the SAME numbers via the H-INDEX
    * FIXPOINT (Lü, Zhou, Zhang & Stanley 2016, "The H-index of a
    * network node": iterating c ← H(neighbor c values) from the
    * degrees converges exactly to the core number). Why it scales
    * where the ladder does not: the ladder pays Σ per-level peel
    * depths rounds (measured 10–53; grows with the degeneracy), each
    * a fresh semi-join restriction; the h-index iteration pays one
    * edge-frame join + one per-node windowed fold PER ITERATION, and
    * the iteration count is the graph's "coreness relaxation depth" —
    * independent of the ladder height (measured 2–4 on the
    * co-purchase graphs vs the ladder's 10–53).
    *
    * Per-iteration shape: edges join the current (node, c) frame on
    * the NEIGHBOR side only, then aggregate to a per-(node, value)
    * HISTOGRAM (hash aggregate with map-side partial combine — a
    * celebrity node's adjacency is split across executors before any
    * per-node work), then one cumulative fold over the <= |distinct
    * c| histogram rows per node. NO window ever touches the raw
    * adjacency: the count-threshold identity H(v) = max k with >= k
    * neighbors of value >= k replaces the per-neighbor ranking, so
    * the hot-node ceiling of the ranked form is engineered away, not
    * just documented. No global window anywhere. Fixpoint detected by
    * a driver-side changed-count scalar; `maxIters` is the hard cap
    * (bounded-iteration contract — exceeding throws, never
    * truncates). */
  def corenessHIndex(pairs: DataFrame, maxIters: Int = 64,
                     localEdgeThreshold: Long = 500000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = pairs.select(col("u").cast("long").as("src"),
        col("v").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val local = sym.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    // c0 = degree
    var c = pin(sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("c")))
    // Fixpoint check WITHOUT a per-round join: the relaxation is
    // pointwise MONOTONE NON-INCREASING (H(v) <= deg(v) gives
    // c1 <= c0; H is monotone in its neighbor values, so c_t <= c_{t-1}
    // inductively — Lü et al. 2016's convergence argument), and every
    // round emits the same node set (each node with an edge appears as
    // src in sym). Under pointwise c' <= c, sum(c') = sum(c) iff
    // c' = c everywhere — so one bounded sum scalar per round replaces
    // the former next-vs-prev join + filter + count.
    def sumOf(df: DataFrame): Long =  // coalesce: empty graph sums to 0
      df.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0)
    var cSum = sumOf(c)
    var it = 0
    var changed = true
    while (changed) {
      if (it >= maxIters) throw new IllegalStateException(
        s"h-index iteration exceeded maxIters=$maxIters")
      val next = pin(hIndexStep(sym, c))
      val nextSum = sumOf(next)
      changed = nextSum != cSum
      c = next
      cSum = nextSum
      it += 1
    }
    c.select(col("node"), col("c").as("coreness"))
      .orderBy(col("node"))
  }

  /** One h-index relaxation step: c'(v) = H over v's neighbor values.
    * H(v) = max k with >= k neighbors of value >= k, computed WITHOUT
    * ranking the raw adjacency: aggregate to a per-(node, value)
    * HISTOGRAM first (hash aggregate — map-side partial combine
    * splits a celebrity node's adjacency across executors), then one
    * cumulative fold over the <= |distinct c| histogram rows per
    * node. H = max over distinct values v' of min(v', ccnt(v')) where
    * ccnt(v') = #neighbors with c >= v' — equal to the classic ranked
    * form: any feasible k has ccnt(k) >= k and the smallest distinct
    * value v' >= k gives min(v', ccnt(v')) >= min(v', k) = k;
    * conversely every min(v', ccnt(v')) is itself feasible (k <= v'
    * implies ccnt(k) >= ccnt(v') >= k). The only window runs over the
    * AGGREGATED histogram (PlanShapeSpec pins this), so the hot-node
    * partition is bounded by its distinct neighbor-value count, not
    * its degree. */
  def hIndexStep(sym: DataFrame, c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src")).orderBy(col("__nc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sym
      .join(c.select(col("node").as("dst"), col("c").as("__nc")),
        Seq("dst"))
      .groupBy(col("src"), col("__nc"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__ccnt", sum(col("__cnt")).over(w))
      .groupBy(col("src").as("node"))
      .agg(max(least(col("__nc"), col("__ccnt"))).as("c"))
  }

  /** Per-node triangle participation over an undirected (u, v) edge
    * list: returns (node, degree, triangles) for every node with an
    * edge, ordered by triangles DESC then node. Direction and
    * duplicate edges are canonicalized away first; self-loops and
    * edges with a null end are dropped.
    *
    * Driver tier: graphs given as at most `localEdgeThreshold`
    * canonical edge rows (before dedup) with integral node ids are
    * counted on the driver from one collect of that list (one Spark
    * job to count it, one to read it): primitive long/int arrays, edges
    * deduplicated as packed (slot, slot) keys, then degree-ordered
    * forward adjacency (each edge points from its lower (degree, id)
    * end, Schank & Wagner 2005's orientation) with one marker sweep
    * per node — O(m^1.5) work, ~60 B per edge of driver memory at
    * peak (~30 MB at the 500k default). The result goes back as an
    * in-memory local relation in output order, with the schema the
    * Spark path produces. Pass 0 to force the Spark path.
    *
    * Spark path: the same orientation as equi-joins (the MapReduce
    * formulation is Suri & Vassilvitskii 2011) — each triangle is
    * generated exactly once as a wedge at its lowest-ranked vertex,
    * closed by an oriented edge. Max out-degree is O(√E) on any graph,
    * so the wedge count Σ outdeg² is the minimum over orientations, and
    * both joins are pure equi-joins (the wedge-endpoint ordering is a
    * post-join filter on the carried degree), never an OR-condition
    * nested loop. Exact counting costs the wedge count by construction;
    * on graphs whose thresholded core is still wedge-heavy, sample
    * wedges upstream (Seshadhri et al. 2013) — approximation is a
    * caller decision, not something this operator does silently.
    *
    * Why triangles: near-dup components are near-cliques
    * (triangle-dense) and spam link farms are stars (triangle-free), so
    * triangles / C(degree, 2) separates the two where degree alone
    * cannot. */
  def triangleStats(edges: DataFrame,
                    localEdgeThreshold: Long = 500000L): DataFrame = {
    val canon = edges.select(
        least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val integral = canon.schema("u").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (integral && canon.queryExecution.toRdd.count() <= localEdgeThreshold)
      return trianglesOnDriver(canon)
    // und and deg are each read by MULTIPLE consumers (deg + oriented;
    // oriented's two joins + the final left join). Unpinned, every
    // consumer replans the scan→distinct / union→aggregate subtree (4
    // scans + duplicated exchanges measured at sf0.1) — pin both (the
    // q167/q253 localCheckpoint discipline, guide §5 reuse). Both
    // frames are |E|- and |V|-bounded, strictly smaller than the input.
    val und = canon.distinct().localCheckpoint(true)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val keep = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(keep, col("u")).otherwise(col("v")).as("s"),
        when(keep, col("v")).otherwise(col("u")).as("t"),
        when(keep, col("dv")).otherwise(col("du")).as("dt"))
      .localCheckpoint(true)
    val wedges = oriented.select(col("s"), col("t").as("t1"), col("dt").as("dt1"))
      .join(oriented.select(col("s"), col("t").as("t2"), col("dt").as("dt2")),
        Seq("s"))
      .filter(col("dt1") < col("dt2") ||
        (col("dt1") === col("dt2") && col("t1") < col("t2")))
    val tri = wedges.join(
      oriented.select(col("s").as("t1"), col("t").as("t2")), Seq("t1", "t2"))
    // each triangle contributes its three corners: generate them
    // IN-STAGE with one explode over the triangle row instead of a
    // 3-way union of projections, which replanned (and re-executed)
    // the wedge + closure joins once per branch (guide §2.4 duplicated
    // subtrees). Identical node multiset → identical counts.
    val perNode = tri
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .orderBy(desc("triangles"), col("node"))
  }

  /** The driver tier of [[triangleStats]] over its canonical (u < v)
    * edge rows: collects them as primitive arrays and counts every
    * triangle once at its lowest-ranked corner. */
  private def trianglesOnDriver(canon: DataFrame): DataFrame = {
    val parts = canon.select(col("u").cast("long"), col("v").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val u = Array.newBuilder[Long]
        val v = Array.newBuilder[Long]
        rows.foreach { r => u += r.getLong(0); v += r.getLong(1) }
        Iterator.single((u.result(), v.result()))
      }.collect()
    val us = parts.flatMap(_._1)
    val vs = parts.flatMap(_._2)
    // node slots in id order; an edge is the packed key (slot u, slot v)
    val ids = sortedDistinct(us ++ vs)
    def slot(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val es = sortedDistinct(Array.tabulate(us.length)(k =>
      slot(us(k)).toLong << 32 | slot(vs(k))))
    val n = ids.length
    val deg = new Array[Long](n)
    es.foreach { e => deg((e >>> 32).toInt) += 1; deg(e.toInt) += 1 }
    // orient each edge from its lower (degree, id) end: forward lists
    // in CSR form, out-degree O(sqrt(m)) on any graph
    def below(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val start = new Array[Int](n + 1)
    es.foreach { e =>
      val (a, b) = ((e >>> 32).toInt, e.toInt)
      start((if (below(a, b)) a else b) + 1) += 1
    }
    for (i <- 0 until n) start(i + 1) += start(i)
    val fwd = new Array[Int](es.length)
    val fill = start.clone()
    es.foreach { e =>
      val (a, b) = ((e >>> 32).toInt, e.toInt)
      val (s, t) = if (below(a, b)) (a, b) else (b, a)
      fwd(fill(s)) = t
      fill(s) += 1
    }
    val tri = new Array[Long](n)
    val mark = Array.fill(n)(-1)
    for (s <- 0 until n) {
      for (k <- start(s) until start(s + 1)) mark(fwd(k)) = s
      for (k <- start(s) until start(s + 1)) {
        val t = fwd(k)
        for (j <- start(t) until start(t + 1)) if (mark(fwd(j)) == s) {
          tri(s) += 1; tri(t) += 1; tri(fwd(j)) += 1
        }
      }
    }
    // stable sort: ties on triangles stay in slot (= node id) order
    val order = Array.range(0, n).sortBy(i => -tri(i))
    localRows(canon.sparkSession, StructType(Seq(
        canon.schema("u").copy(name = "node"),
        StructField("degree", LongType, nullable = false),
        StructField("triangles", LongType, nullable = false))),
      n) { r =>
      val i = order(r)
      (ids(i), deg(i), tri(i))
    }
  }

  /** Fixed-iteration integer-lattice PageRank over a directed,
    * positively-weighted edge table (src, dst, weight — all BIGINT).
    * Returns (node, rank) with rank on the `scale` lattice, ordered
    * rank DESC with node as the deterministic tie-break.
    *
    * The recurrence, chosen so every term is exact BIGINT arithmetic
    * that an unrolled SQL oracle replays verbatim:
    *
    *   N       = |distinct src ∪ dst|
    *   outw(v) = Σ weight over v's out-edges
    *   r₀(v)   = scale div N
    *   c(v)    = Σ over in-edges e=(u,v): (r(u) * w(e)) div outw(u)
    *   r'(v)   = (15 * scale) div (100 * N)  +  (85 * c(v)) div 100
    *
    * i.e. damping 0.85 with per-edge truncating division. Dangling
    * nodes (no out-edges) leak their damped mass rather than
    * redistributing it — fine for a RANKING (every variant preserves
    * order on the same graph) and essential for exactness: the
    * redistribution term would need a global sum fed back into every
    * node, another exchange per round for no ranking benefit.
    *
    * Determinism: addition on BIGINT is associative/commutative, so
    * partial aggregation order cannot change c(v); `div` truncates and
    * all operands are non-negative, so Spark and DuckDB agree bit for
    * bit. Overflow bound: requires scale × maxWeight < 2⁶³ (the per-edge
    * product r(u)·w(e) with r ≤ scale); the default lattice of 10¹²
    * leaves six decimal orders of headroom for weights.
    *
    * Scale shape: the edge pipeline is materialized EXACTLY ONCE
    * (`localCheckpoint`), already carrying each edge's out-weight via
    * an unordered window over src (no separate aggregate + join, no
    * second materialization of the mining upstream — measured ~1.6×
    * end-to-end on the sf0.1 co-purchase graph vs the two-checkpoint
    * formulation). The node table derives from the checkpointed edges,
    * so nothing upstream ever runs twice. The rank table is |V| rows
    * against |E| edges, so up to `broadcastNodeThreshold` nodes BOTH
    * per-round joins broadcast the rank/contribution side: edge rows
    * are never exchanged inside the loop, and each round's only
    * shuffle is the ≤|V| map-side-combined contribution aggregate.
    * Past the threshold (graphs whose VERTEX set alone overflows
    * executors — 10⁹-node web graphs) the joins fall back to shuffles
    * keyed on src/dst and the plan stays the textbook
    * exchange-per-round one. Per-round checkpoints keep the plan from
    * growing with iteration count (the `dupClusters` discipline).
    * Graphs at or below `localEdgeThreshold` edges instead run every
    * round on a single partition: per-round cost becomes scheduling,
    * not shuffling — the right layout for a post-aggregation item
    * graph on one machine. The default threshold is tighter than
    * `dupClusters`' (500k vs 5M): a PageRank round does three joins'
    * worth of work per edge where label propagation does one, so the
    * single-partition layout stops paying off earlier. */
  def pageRankInt(edges: DataFrame, iters: Int = 3,
                  scale: Long = 1000000000000L,
                  localEdgeThreshold: Long = 500000L,
                  broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // out-weights ride along via an UNORDERED window (whole-partition
    // frame: no sort order, so long-sum associativity keeps it exact),
    // and this is the ONLY materialization of the edge pipeline
    val ew = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("weight").cast("long").as("weight"))
      .withColumn("outw", sum(col("weight")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(true)
    val local = ew.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    val nodes = pin(
      ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0L)
      return nodes.withColumn("rank", lit(null).cast("long"))
    // r0 and the teleport base use the SAME div the oracle writes out
    var ranks = pin(nodes.withColumn("rank", expr(s"${scale}L div ${n}L")))
    val base = s"(15 * ${scale}L) div (100 * ${n}L)"
    // |V|-sized frames ride the broadcast path below the threshold so
    // the |E|-sized ew table is never exchanged inside the loop
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    var it = 0
    while (it < iters) {
      ranks = pin(prRound(ew, nodes, ranks, base, small))
      it += 1
    }
    ranks.orderBy(desc("rank"), col("node"))
  }

  /** PERSONALIZED PageRank on the same integer lattice — random walk
    * with restart where ALL teleport mass lands on the `seeds` set
    * (Haveliwala 2002, topic-sensitive PageRank; the graph-proximity
    * primitive behind seed-based curation: "rank everything by how
    * reachable it is from the hosts/documents we already trust").
    * Identical arithmetic to [[pageRankInt]] except the teleport term:
    * seeds get (15 * scale) div (100 * |S|), non-seeds get 0, and r0
    * puts scale div |S| on seeds only. Same exactness (BIGINT, div),
    * same loop shape (|E| table materialized once, |V| frames ride the
    * broadcast-or-exchange dial), so the same unrolled-CTE oracle
    * discipline applies. `seeds` is a (node BIGINT) frame; only seeds
    * present in the graph carry teleport mass. */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
                              iters: Int = 3,
                              scale: Long = 1000000000000L,
                              localEdgeThreshold: Long = 500000L,
                              broadcastNodeThreshold: Long = 10000000L)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ew = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("weight").cast("long").as("weight"))
      .withColumn("outw", sum(col("weight")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(true)
    val local = ew.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    // |V| frame with the seed flag riding along (seeds are |V|-bounded)
    val nodes = pin(
      ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct()
        .join(seeds.select(col("node").cast("long").as("node"))
          .distinct().withColumn("is_seed", lit(true)),
          Seq("node"), "left")
        .withColumn("is_seed", coalesce(col("is_seed"), lit(false))))
    val nS = nodes.where(col("is_seed")).count()
    require(nS > 0, "personalized PageRank needs >= 1 seed in the graph")
    var ranks = pin(nodes.withColumn("rank",
      expr(s"CASE WHEN is_seed THEN ${scale}L div ${nS}L ELSE 0L END")))
    val seedBase = s"(15 * ${scale}L) div (100 * ${nS}L)"
    val n = nodes.count()
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    var it = 0
    while (it < iters) {
      val contrib = ew
        .join(small(ranks.select(col("node").as("src"), col("rank"))),
          Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank * weight) div outw").as("c"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      ranks = pin(nodes.join(small(contrib), Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          expr(s"CASE WHEN is_seed THEN $seedBase ELSE 0L END" +
            " + (85 * coalesce(c, 0L)) div 100").as("rank")))
      it += 1
    }
    ranks.orderBy(desc("rank"), col("node"))
  }

  /** One [[pageRankInt]] round, exposed for plan rehearsal: the
    * rank/contribution (|V|-sized) sides pass through `small` — the
    * broadcast hint below the node threshold, identity above it, where
    * the joins must key-exchange instead (the plan CentralitySpec pins
    * with broadcasting force-disabled). */
  private[etlmudah] def prRound(ew: DataFrame, nodes: DataFrame,
                                ranks: DataFrame, base: String,
                                small: DataFrame => DataFrame): DataFrame = {
    val contrib = ew
      .join(small(ranks.select(col("node").as("src"), col("rank"))),
        Seq("src"))
      .select(col("dst").as("node"),
        expr("(rank * weight) div outw").as("c"))
      .groupBy("node").agg(sum(col("c")).as("c"))
    nodes.join(small(contrib), Seq("node"), "left")
      .select(col("node"),
        expr(s"$base + (85 * coalesce(c, 0L)) div 100").as("rank"))
  }

  /** Bounded-hop BFS shortest depths from a seed set — the CRAWL
    * FRONTIER primitive (seed-host expansion: "everything reachable
    * within h hops of the hosts we trust", the breadth layer under
    * [[personalizedPageRankInt]]'s proximity ranking). Returns
    * (node, depth) for every node within `maxHops` of a seed, depth =
    * the SHORTEST hop count (0 = seed itself); unreached nodes are
    * absent. Deterministic with no arithmetic to align: the layer
    * construction IS the definition.
    *
    * Loop shape: edges materialize ONCE (deduplicated to the reach
    * relation — weights are irrelevant to reachability); per hop the
    * frontier (|V|-bounded) rides the broadcast-or-exchange dial into
    * one equi-join, the new layer dedups and anti-joins the visited
    * set, and per-round checkpoints stop plan growth. An empty
    * frontier short-circuits the remaining hops, so sparse seed
    * neighborhoods cost what they reach, not maxHops scans. */
  def bfsDepths(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                localEdgeThreshold: Long = 500000L,
                broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct().localCheckpoint(true)
    val local = e.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    val n = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().count()
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    var visited = pin(seeds.select(col("node").cast("long").as("node"))
      .distinct().withColumn("depth", lit(0L)))
    var frontier = visited.select(col("node"))
    var hop = 1
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = e
        .join(small(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(small(visited.select(col("node"))), Seq("node"), "left_anti")
        .withColumn("depth", lit(hop.toLong))
      frontier = pin(next).select(col("node"))
      visited = pin(visited.unionByName(
        frontier.withColumn("depth", lit(hop.toLong))))
      hop += 1
    }
    visited.orderBy(col("depth"), col("node"))
  }

  /** HITS hubs & authorities on the integer lattice (Kleinberg,
    * "Authoritative sources in a hyperlinked environment", JACM 1999)
    * — the second classic link-centrality next to [[pageRankInt]],
    * and the one that separates DIRECTORY pages (hubs: link to many
    * good authorities) from DESTINATION pages (authorities: linked by
    * many good hubs). Per round: auth(v) = Σ_{u→v} hub(u)·w, then
    * hub(u) = Σ_{u→v} auth(v)·w, each half-round renormalized.
    *
    * Exactness: the textbook L2 normalization is replaced by L∞ —
    * x'(v) = (x(v) · scale) div max(x) — because MAX and truncating
    * division are BIGINT-exact and engine-portable where a float norm
    * is neither; power iteration's ranking is invariant to the
    * normalization choice. The max arrives as ONE broadcast row, never
    * a driver collect. Overflow bound: raw values reach
    * scale · totalWeight, and renormalizing multiplies by scale before
    * dividing, so scale² · totalWeight < 2⁶³ must hold — the default
    * 10⁶ lattice covers graphs up to ~9·10⁶ total edge weight; drop
    * scale for heavier graphs (ranking needs far fewer digits than
    * overflow allows).
    *
    * Loop shape ([[pageRankInt]] discipline): edges materialize ONCE;
    * per half-round the only shuffle is the ≤|V| map-side-combined
    * sum, with the |V|-sized score frame riding the broadcast-or-
    * exchange dial; per-round checkpoints stop plan growth. Returns
    * (node, hub, auth) ordered auth DESC, node ASC. */
  def hitsInt(edges: DataFrame, iters: Int = 2,
              scale: Long = 1000000L,
              localEdgeThreshold: Long = 500000L,
              broadcastNodeThreshold: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ew = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("weight").cast("long").as("weight"))
      .localCheckpoint(true)
    val local = ew.count() <= localEdgeThreshold
    def pin(df: DataFrame): DataFrame =
      (if (local) df.coalesce(1) else df).localCheckpoint(true)
    val nodes = pin(
      ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0L)
      return nodes.select(col("node"), lit(0L).as("hub"),
        lit(0L).as("auth"))
    def small(df: DataFrame): DataFrame =
      if (!local && n <= broadcastNodeThreshold) broadcast(df) else df
    // renormalize to the scale lattice by the frame max (L∞): exact on
    // BIGINT, and every node with any mass keeps a nonzero score
    def renorm(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col(c)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"CASE WHEN __mx > 0 THEN ($c * ${scale}L) div __mx " +
            s"ELSE 0L END").as(c))
    }
    // one half-round: score mass flows across edges in `dir`ection
    def halfRound(score: DataFrame, from: String, to: String,
                  in: String, out: String): DataFrame = {
      val raw = ew
        .join(small(score.select(col("node").as(from), col(in))),
          Seq(from))
        .select(col(to).as("node"),
          (col(in) * col("weight")).as("__m"))
        .groupBy("node").agg(sum(col("__m")).as(out))
      renorm(nodes.join(small(raw), Seq("node"), "left")
        .select(col("node"), coalesce(col(out), lit(0L)).as(out)), out)
    }
    var hub = pin(nodes.withColumn("hub", lit(scale)))
    var auth: DataFrame = null
    var it = 0
    while (it < iters) {
      auth = pin(halfRound(hub, "src", "dst", "hub", "auth"))
      hub = pin(halfRound(auth, "dst", "src", "auth", "hub"))
      it += 1
    }
    nodes.join(small(hub), Seq("node")).join(small(auth), Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
      .orderBy(desc("auth"), col("node"))
  }
}
