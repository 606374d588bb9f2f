package etlmudah.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CentralitySpec extends SparkSpec {

  private val SCALE = 1000000000000L

  /** Serial replay of the EXACT integer recurrence pageRankInt
    * documents — Long `/` truncates like Spark's `div` on these
    * non-negative operands, so any divergence is an engine bug, not
    * float noise. */
  private def serialPageRank(edges: Seq[(Long, Long, Long)],
                             iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> SCALE / n).toMap
    val base = (15L * SCALE) / (100L * n)
    (0 until iters).foreach { _ =>
      val c = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => (r(s) * w) / outw(s) }.sum
      }
      r = nodes.map(v => v -> (base + (85L * c.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long, Long)], iters: Int) = {
    import spark.implicits._
    Centrality.pageRankInt(edges.toDF("src", "dst", "weight"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRankInt matches the serial integer replay on a directed graph") {
    // 1 -> 2 -> 3 -> 1 plus a 4 -> 2 feeder and a weighted 1 -> 3 chord:
    // cycles, a dangling-ish feeder, and unequal out-weights
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (4L, 2L, 5L), (1L, 3L, 3L))
    (1 to 4).foreach { it =>
      assert(run(edges, it) == serialPageRank(edges, it), s"iters=$it")
    }
  }

  /** Serial replay of the seeded recurrence: teleport mass only on
    * seeds, normalized by |S|. */
  private def serialPpr(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                        iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val s = nodes.count(seeds).toLong
    val outw = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._3).sum }
    var r = nodes.map(v => v -> (if (seeds(v)) SCALE / s else 0L)).toMap
    val base = (15L * SCALE) / (100L * s)
    (0 until iters).foreach { _ =>
      val c = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (a, _, w) => (r(a) * w) / outw(a) }.sum
      }
      r = nodes.map(v => v -> ((if (seeds(v)) base else 0L) +
        (85L * c.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  test("personalizedPageRankInt matches the serial seeded replay; proximity beats distance") {
    import spark.implicits._
    // seed 1 feeds 2 which feeds 3; node 5 feeds 4 in a far component —
    // 4 is UNREACHABLE from the seed and must rank below 2 and 3
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L),
      (5L, 4L, 1L), (4L, 5L, 1L), (1L, 3L, 1L))
    val seeds = Set(1L)
    def run(it: Int) = Centrality.personalizedPageRankInt(
        edges.toDF("src", "dst", "weight"),
        Seq(1L).toDF("node"), it)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (1 to 4).foreach { it =>
      assert(run(it) == serialPpr(edges, seeds, it), s"iters=$it")
    }
    val out = run(3)
    assert(out(2L) > out(4L) && out(3L) > out(4L),
      s"seed-reachable nodes must outrank the far component: $out")
    assert(out(4L) == 0L || out(5L) == 0L || (out(4L) < out(2L)),
      "no teleport mass may leak to the far component")
  }

  test("pageRankInt ranks the hub of a star highest; spokes tie") {
    val spokes = (2L to 9L)
    val edges = spokes.flatMap(s => Seq((s, 1L, 1L), (1L, s, 1L)))
    val out = run(edges, 3)
    assert(out(1L) > out(2L), s"hub must outrank spokes: $out")
    assert(spokes.map(out).toSet.size == 1, "spokes must tie exactly")
    assert(out == serialPageRank(edges, 3))
  }

  test("pageRankInt: dangling nodes keep the teleport base; empty edges yield empty ranks") {
    // 2 has no out-edges: it receives from 1 but leaks its damped mass
    val edges = Seq((1L, 2L, 1L))
    val out = run(edges, 2)
    assert(out == serialPageRank(edges, 2))
    assert(out(1L) == (15L * SCALE) / (100L * 2L),
      "a node with no in-edges holds exactly the teleport base")
    import spark.implicits._
    val empty = Centrality.pageRankInt(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight"))
    assert(empty.count() == 0)
  }

  test("cooccurrenceEdges: symmetric weighted pairs, no self-loops") {
    import spark.implicits._
    val items = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 7L)) // singleton group 12 yields no edges
    val out = Centrality.cooccurrenceEdges(
        items.toDF("g", "item"), "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 2L), (2L, 1L, 2L), (1L, 3L, 1L),
      (3L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L)))
  }

  /** triangleStats at the default threshold (the driver tier on these
    * graphs) pinned to the forced Spark path (threshold 0): same rows
    * in the same order, same schema. Returns node -> (degree,
    * triangles). */
  private def triStatsBothTiers(
      edges: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] = {
    val driver = Centrality.triangleStats(edges)
    val joins = Centrality.triangleStats(edges, localEdgeThreshold = 0L)
    assert(driver.schema == joins.schema)
    val rows = driver.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == joins.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  private def triStats(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    triStatsBothTiers(edges.toDF("u", "v"))
  }

  /** Serial triangle replay: brute-force closed wedges over the
    * canonical undirected edge set. */
  private def serialTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val es = und.toSet
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
    val deg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n).toLong).toMap
    val tri = (for {
      Seq(x, y, z) <- nodes.sorted.combinations(3)
      if es((x, y)) && es((x, z)) && es((y, z))
    } yield Seq(x, y, z)).toSeq.flatten
      .groupBy(identity).map { case (n, ts) => n -> ts.size.toLong }
    nodes.map(n => n -> (deg(n), tri.getOrElse(n, 0L))).toMap
  }

  test("triangleStats matches a brute-force replay; direction/duplicate input canonicalized") {
    // K4 on 1-4 (every node in 3 triangles) + a pendant 5 + an isolated
    // edge 6-7; edges fed in MIXED direction with a duplicate
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (3L, 2L),
      (2L, 4L), (4L, 3L), (4L, 5L), (6L, 7L))
    val got = triStats(edges)
    assert(got == serialTriangles(edges), s"got $got")
    assert(got(1L) == ((3L, 3L)) && got(5L) == ((1L, 0L)) && got(6L) == ((1L, 0L)))
    // int node ids stay ints on both tiers
    import spark.implicits._
    val ints = edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v")
    val driver = Centrality.triangleStats(ints)
    val joins = Centrality.triangleStats(ints, localEdgeThreshold = 0L)
    assert(driver.schema == joins.schema &&
      driver.schema("node").dataType == org.apache.spark.sql.types.IntegerType)
    assert(driver.collect().toSeq == joins.collect().toSeq)
  }

  test("triangleStats: the driver tier runs at most 2 Spark jobs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L),
      (4L, 3L), (4L, 5L), (6L, 7L)).toDF("u", "v")
    val (jobs, out) =
      countingJobs(Centrality.triangleStats(edges).collect())
    assert(out.length == 7)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("triangleStats: skewed star closes no triangles; adding one rim edge closes exactly one") {
    val star = (2L to 40L).map(s => (1L, s))
    assert(triStats(star).values.forall(_._2 == 0L))
    val withRim = star :+ ((2L, 3L))
    val got = triStats(withRim)
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L && got(3L)._2 == 1L &&
      got(4L)._2 == 0L)
    assert(got == serialTriangles(withRim))
  }

  test("cooccurrencePairs: u<v canonical, weight threshold applied") {
    import spark.implicits._
    val items = Seq((10L, 2L), (10L, 1L), (11L, 1L), (11L, 2L), (11L, 3L))
    val out = Centrality.cooccurrencePairs(items.toDF("g", "item"), "g", "item",
        minWeight = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L, 2L)), s"got $out")
  }

  test("pageRankInt: forced distributed layout matches default bit-exactly " +
    "on a power-law graph with a hot star") {
    import spark.implicits._
    // planted skew: hub 0 takes an in-edge from EVERY other node (the
    // high-in-degree star that melts a naive contribution reducer) plus
    // a ring so every node has an out-edge and mass keeps circulating
    val n = 2000
    val star = (1 until n).map(i => (i.toLong, 0L, 1L))
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong, 2L))
    val edges = (star ++ ring).toDF("src", "dst", "weight").repartition(8)
    val t0 = System.nanoTime()
    val forced = Centrality.pageRankInt(edges, iters = 3,
        localEdgeThreshold = 0L, broadcastNodeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val secs = (System.nanoTime() - t0) / 1e9
    val dflt = Centrality.pageRankInt(edges, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(forced.toSeq == dflt.toSeq,
      "distributed layout must be bit-identical to the local/broadcast one")
    assert(forced.head._1 == 0L, "the hot hub must rank first")
    assert(secs < 120.0, f"forced-distributed PageRank took $secs%.1f s")
  }

  test("personalizedPageRankInt: forced distributed layout matches default " +
    "bit-exactly on the hot-star graph") {
    import spark.implicits._
    val n = 2000
    val star = (1 until n).map(i => (i.toLong, 0L, 1L))
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong, 2L))
    val edges = (star ++ ring).toDF("src", "dst", "weight").repartition(8)
    val seeds = Seq(0L, 7L).toDF("node")
    def run(le: Long, bt: Long) = Centrality.personalizedPageRankInt(
        edges, seeds, iters = 3,
        localEdgeThreshold = le, broadcastNodeThreshold = bt)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val forced = run(0L, 0L)
    val dflt = run(500000L, 10000000L)
    assert(forced.toSeq == dflt.toSeq,
      "seeded distributed layout must be bit-identical to local/broadcast")
    assert(forced.head._1 == 0L, "the seeded hot hub must rank first")
  }

  test("pageRankInt round plan: above the node threshold the |V| side is " +
    "NOT broadcast; below it the hint forces a broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val edges = (1L to 50L).map(i => (i, i % 10, 1L))
      .toDF("src", "dst", "weight")
    val ew = edges.withColumn("outw",
      sum(col("weight")).over(Window.partitionBy("src")))
    val nodes = ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node"))).distinct()
    val ranks = nodes.withColumn("rank", lit(1000000L))
    // force-disable automatic broadcasting so the plan shows only what
    // OUR code asks for (AQE off: the static plan is the contract)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // above-threshold path: small = identity — every join must
      // key-exchange, nothing broadcasts
      val shuffled = Centrality.prRound(ew, nodes, ranks, "0L", identity)
        .queryExecution.executedPlan.toString
      assert(!shuffled.contains("BroadcastHashJoin"),
        shuffled.take(800))
      assert(shuffled.contains("SortMergeJoin") ||
        shuffled.contains("ShuffledHashJoin"), shuffled.take(800))
      // below-threshold path: small = broadcast hint — the rank side
      // must broadcast even with auto-broadcast disabled
      val bcast = Centrality.prRound(ew, nodes, ranks, "0L",
          df => org.apache.spark.sql.functions.broadcast(df))
        .queryExecution.executedPlan.toString
      assert(bcast.contains("BroadcastHashJoin"), bcast.take(800))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("triangleStats: thresholded power-law head at volume — orientation " +
    "bounds the wedge fan-out, counts stay exact") {
    import spark.implicits._
    // Zipf-ish co-occurrence core: a 60-clique head (the thresholded
    // survivors of a hot item family) + 3000 star spokes on node 1 +
    // disjoint rim triangles. Degree-ordered orientation must keep the
    // star's wedges at zero (spokes orient INTO the hub, hub fans only
    // into the clique) and count the clique exactly: C(60,3) triangles,
    // each clique node in C(59,2).
    val clique = for (u <- 1L to 60L; v <- u + 1 to 60L) yield (u, v)
    val spokes = (1000L until 4000L).map(s => (1L, s))
    val rims = (5000L until 5300L by 3).flatMap(i =>
      Seq((i, i + 1), (i + 1, i + 2), (i, i + 2)))
    val edges = (clique ++ spokes ++ rims).toDF("u", "v").repartition(8)
    val t0 = System.nanoTime()
    val got = triStatsBothTiers(edges)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got(1L) == ((3059L, 59L * 58L / 2L)),
      s"hub (clique + spokes): ${got(1L)}")
    assert((2L to 60L).forall(got(_) == ((59L, 59L * 58L / 2L))),
      "every clique node sits in C(59,2) triangles")
    assert(got(1000L) == ((1L, 0L)), "spokes close nothing")
    assert(got(5000L) == ((2L, 1L)) && got(5001L) == ((2L, 1L)))
    assert(secs < 120.0, f"thresholded-head triangles took $secs%.1f s")
  }

  test("q218 shape on sf0.001: ranks positive, ordered, one row per co-purchased part") {
    val li = etlmudah.Tables.lineitem(spark, sf0001)
    val edges = Centrality.cooccurrenceEdges(li, "l_orderkey", "l_partkey")
    val pr = Centrality.pageRankInt(edges, iters = 3).collect()
    val nodes = edges.select("src").distinct().count()
    assert(pr.length == nodes && pr.forall(_.getLong(1) > 0L))
    val ranks = pr.map(_.getLong(1)).toSeq
    assert(ranks == ranks.sortBy(-_), "output must be rank-descending")
  }

  /** Serial synchronous-LPA replay: all labels update simultaneously
    * from the previous round; argmax by (weight desc, label asc). */
  private def serialLpa(pairs: Seq[(Long, Long, Long)],
                        iters: Int): Map[Long, Long] = {
    val sym = pairs.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    var lab = sym.map(_._1).distinct.map(n => n -> n).toMap
    (0 until iters).foreach { _ =>
      val old = lab
      lab = sym.groupBy(_._2).map { case (node, es) =>
        val byLabel = es.groupBy(e => old(e._1))
          .map { case (l, xs) => (l, xs.map(_._3).sum) }
        node -> byLabel.toSeq.sortBy { case (l, ws) => (-ws, l) }.head._1
      }
    }
    lab
  }

  test("labelPropagation: serial synchronous replay; bridge does not merge tight communities") {
    import spark.implicits._
    // two weight-5 triangles joined by a weight-1 bridge, plus a
    // pendant pair — the bridge must NOT merge the triangles
    val pairs = Seq(
      (1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L),
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L),
      (3L, 10L, 1L),
      (20L, 21L, 2L))
    for (iters <- 1 to 3) {
      val got = Centrality.labelPropagation(
          pairs.toDF("u", "v", "weight"), iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == serialLpa(pairs, iters), s"iters=$iters")
    }
    val finalLab = serialLpa(pairs, 3)
    assert(Set(1L, 2L, 3L).map(finalLab).size == 1)
    assert(Set(10L, 11L, 12L).map(finalLab).size == 1)
    assert(finalLab(1L) != finalLab(10L), "bridge must not merge")
    // the isolated PAIR is the documented synchronous 2-cycle: each
    // endpoint adopts the other's label every round, so after an odd
    // round count the labels sit swapped — deterministically
    assert(finalLab(20L) == 21L && finalLab(21L) == 20L)
  }

  test("associationRules: known baskets, distinct-basket counting, lift order") {
    import spark.implicits._
    // basket 1 holds A twice: multiplicity must NOT inflate support
    val df = Seq(
      (1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L),
      (4L, 20L), (4L, 30L),
      (5L, 10L)
    ).toDF("basket", "item")
    val r = Centrality.associationRules(df, "basket", "item",
      minSupport = 2L, k = 10).collect()
    // pairs >= 2 baskets: (10,20) co=3, (20,30) co=2; (10,30) co=1 pruned
    assert(r.length == 2)
    val first = r.head   // lift (20,30) = 5*2/(4*2) = 1.25 tops the list
    assert((first.getAs[Long]("u"), first.getAs[Long]("v")) == ((20L, 30L)))
    assert(first.getAs[Long]("co_support") == 2L)
    assert(first.getAs[Double]("lift") == 1.25)
    assert(first.getAs[Double]("conf_u_v") == 0.5)      // 2/4
    assert(first.getAs[Double]("conf_v_u") == 1.0)      // 2/2
    val second = r(1)    // lift (10,20) = 5*3/(4*4) = 0.9375
    assert((second.getAs[Long]("u"), second.getAs[Long]("v")) == ((10L, 20L)))
    assert(second.getAs[Double]("lift") == 0.9375)
    assert(second.getAs[Double]("support") == 0.6)      // 3/5
  }

  /** Serial JVM HITS on the identical integer lattice: h0 = scale,
    * auth = renorm(Σ hub·w in-edges), hub = renorm(Σ auth·w out). */
  private def serialHits(edges: Seq[(Long, Long, Long)], iters: Int,
                         scale: Long): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    def renorm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = if (m.isEmpty) 0L else m.values.max
      nodes.map(v => v ->
        (if (mx > 0) m.getOrElse(v, 0L) * scale / mx else 0L)).toMap
    }
    var hub = nodes.map(_ -> scale).toMap
    var auth = Map.empty[Long, Long]
    (0 until iters).foreach { _ =>
      auth = renorm(edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => hub(e._1) * e._3).sum })
      hub = renorm(edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auth(e._2) * e._3).sum })
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  test("hitsInt: equals the serial integer replay; partitioning cannot matter") {
    import spark.implicits._
    // a directory pair pointing into a 3-node authority core + a chain
    val edges = Seq(
      (1L, 10L, 2L), (1L, 11L, 1L), (1L, 12L, 1L),
      (2L, 10L, 1L), (2L, 11L, 3L),
      (10L, 20L, 1L), (11L, 20L, 1L), (20L, 1L, 1L))
    val want = serialHits(edges, iters = 2, scale = 1000000L)
    Seq(1, 5).foreach { parts =>
      val got = Centrality.hitsInt(
          edges.toDF("src", "dst", "weight").repartition(parts), iters = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == want, s"parts=$parts")
    }
    // hubs vs authorities separate: node 2's weight-3 edge into the
    // top authority makes it the top hub; node 11 collects the
    // heaviest endorsements (top authority, saturated at scale)
    val byHub = want.toSeq.sortBy { case (v, (h, _)) => (-h, v) }
    val byAuth = want.toSeq.sortBy { case (v, (_, a)) => (-a, v) }
    assert(byHub.head._1 == 2L && byHub.head._2._1 == 1000000L)
    assert(byAuth.head._1 == 11L && byAuth.head._2._2 == 1000000L)
  }

  test("bfsDepths: shortest depths, hop bound, isolated seed kept, partitioning cannot matter") {
    import spark.implicits._
    // 1 -> 2 -> 3 -> 4, plus a shortcut 1 -> 3 (depth(3) must be 1,
    // not 2), a back edge 4 -> 1, and an unreachable island 10 -> 11
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 1L),
      (10L, 11L))
    Seq(1, 5).foreach { parts =>
      val got = Centrality.bfsDepths(
          edges.toDF("src", "dst").repartition(parts),
          Seq(1L, 99L).toDF("node"), maxHops = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 99 is not in the graph but is still a depth-0 trust anchor;
      // 4 is 2 hops out (3 -> 4); 10/11 unreachable
      assert(got == Map(1L -> 0L, 99L -> 0L, 2L -> 1L, 3L -> 1L,
        4L -> 2L), s"parts=$parts: $got")
    }
    // hop bound 1 cuts node 4; hop bound 0 returns just the seeds
    val h1 = Centrality.bfsDepths(edges.toDF("src", "dst"),
      Seq(1L).toDF("node"), maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    assert(Centrality.bfsDepths(edges.toDF("src", "dst"),
      Seq(7L).toDF("node"), maxHops = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 0L)))
  }

  test("hitsInt: empty graph returns empty; single edge saturates both scores") {
    import spark.implicits._
    val empty = Centrality.hitsInt(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight"))
    assert(empty.count() == 0L)
    val one = Centrality.hitsInt(
        Seq((1L, 2L, 7L)).toDF("src", "dst", "weight"), iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // 1 is the only hub (max ⇒ scale), 2 the only authority
    assert(one == Map(1L -> ((1000000L, 0L)), 2L -> ((0L, 1000000L))))
  }

  /** Serial bulk-synchronous k-core peel — the documented recurrence. */
  private def serialKCore(edges: Seq[(Long, Long)], k: Int,
                          rounds: Int): Map[Long, Int] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1)))
      .filter(e => e._1 != e._2).distinct
    var alive = sym.map(_._1).toSet
    def degrees(a: Set[Long]): Map[Long, Int] =
      sym.filter(e => a(e._1) && a(e._2)).groupBy(_._1)
        .map { case (n, es) => n -> es.size }
    for (_ <- 1 to rounds)
      alive = degrees(alive).filter(_._2 >= k).keySet
    degrees(alive)
  }

  test("kCore: clique survives, tail peels, extra round is a no-op, serial replay at any partitioning") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a pendant chain 4-5-6 + triangle {7,8,9}
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,6L),(7L,8L),(8L,9L),(7L,9L))
    def run(k: Int, rounds: Int, parts: Int) =
      Centrality.kCore(edges.toDF("u", "v").repartition(parts), k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    // k=3: only the 4-clique survives (triangle degree 2 < 3)
    assert(run(3, 3, 1) == Map(1L->3, 2L->3, 3L->3, 4L->3))
    // k=2: clique + triangle survive, chain peels (5 then 6... 6 first)
    val k2 = Map(1L->3, 2L->3, 3L->3, 4L->3, 7L->2, 8L->2, 9L->2)
    assert(run(2, 3, 4) == k2)
    // extra rounds past the fixpoint change nothing
    assert(run(2, 6, 2) == k2)
    // seeded random graphs: distributed == serial replay, any partitioning
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val k = 2 + rnd.nextInt(3)
      val rounds = 8
      val got = Centrality.kCore(
        es.toDF("u", "v").repartition(1 + rnd.nextInt(5)), k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got == serialKCore(es, k, rounds), s"k=$k es=$es")
    }
  }

  /** Serial peel to fixpoint at k (no round budget). */
  private def serialFixpoint(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1)))
      .filter(e => e._1 != e._2).distinct
    def degrees(a: Set[Long]): Map[Long, Int] =
      sym.filter(e => a(e._1) && a(e._2)).groupBy(_._1)
        .map { case (n, es) => n -> es.size }
    var alive = sym.map(_._1).toSet
    var prev = Set.empty[Long]
    while (alive != prev) {
      prev = alive
      alive = degrees(alive).filter(_._2 >= k).keySet
    }
    alive
  }

  /** Serial coreness: max k whose k-core fixpoint keeps the node. */
  private def serialCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    var k = 1
    var acc = Map.empty[Long, Long]
    var core = serialFixpoint(edges, k)
    while (core.nonEmpty) {
      acc = acc ++ core.map(_ -> k.toLong)
      k += 1
      core = serialFixpoint(edges, k)
    }
    acc
  }

  test("kCoreAdaptive: serves the innermost non-empty core at or below kMax") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + pendant chain 4-5-6 + triangle {7,8,9}
    val full = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,6L),(7L,8L),(8L,9L),(7L,9L))
    def run(edges: Seq[(Long, Long)], kMax: Int) =
      Centrality.kCoreAdaptive(edges.toDF("u", "v"), kMax, rounds = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a 3-core exists: identical to kCore(k=3), k_used = 3
    assert(run(full, 3).toSet ==
      Set((1L,3L,3L), (2L,3L,3L), (3L,3L,3L), (4L,3L,3L)))
    // no 3-core (triangle + chain only): degrades to the 2-core
    val tri = Seq((4L,5L),(5L,6L),(7L,8L),(8L,9L),(7L,9L))
    assert(run(tri, 3).toSet ==
      Set((7L,2L,2L), (8L,2L,2L), (9L,2L,2L)))
    // pure chain: even the 2-core is empty — k=1 keeps everything
    val chain = Seq((4L,5L),(5L,6L))
    assert(run(chain, 3).toSet ==
      Set((4L,1L,1L), (5L,2L,1L), (6L,1L,1L)))
  }

  test("coreness: known decomposition + serial replay at any partitioning") {
    import spark.implicits._
    val full = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,6L),(7L,8L),(8L,9L),(7L,9L))
    def run(edges: Seq[(Long, Long)], parts: Int) =
      Centrality.coreness(edges.toDF("u", "v").repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // clique nodes coreness 3, triangle 2, chain tail 1
    assert(run(full, 3) == Map(1L->3L, 2L->3L, 3L->3L, 4L->3L,
      5L->1L, 6L->1L, 7L->2L, 8L->2L, 9L->2L))
    // seeded random graphs: distributed ladder == serial ladder
    val rnd = new scala.util.Random(12)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val got = run(es, 1 + rnd.nextInt(5))
      assert(got == serialCoreness(es), s"es=$es")
    }
  }

  /** Serial k-truss peel to fixpoint: drop edges with < k−2 common
    * neighbors within the surviving edge set. */
  private def serialKTruss(edges: Seq[(Long, Long)],
                           k: Int): Map[(Long, Long), Int] = {
    var cur = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct.toSet
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (n, ps) => n -> ps.map(_._2).toSet }
      es.iterator.map { case (u, v) =>
        (u, v) -> (adj(u) & adj(v)).size
      }.toMap
    }
    var prev = Set.empty[(Long, Long)]
    while (cur != prev) {
      prev = cur
      cur = supports(cur).filter(_._2 >= k - 2).keySet
    }
    supports(cur)
  }

  test("kTruss: clique survives, star dies, serial replay at any partitioning") {
    import spark.implicits._
    // 4-clique + a star at 10 (no triangles) + a triangle
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (10L,11L),(10L,12L),(10L,13L),(7L,8L),(8L,9L),(7L,9L))
    def run(es: Seq[(Long, Long)], k: Int, parts: Int) =
      Centrality.kTruss(es.toDF("u", "v").repartition(parts), k, rounds = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt)
        .toMap
    // k=3: every clique/triangle edge survives, the star vanishes
    val k3 = run(edges, 3, 3)
    assert(k3.keySet == Set((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),
      (3L,4L),(7L,8L),(8L,9L),(7L,9L)))
    assert(k3((1L,2L)) == 2 && k3((7L,8L)) == 1) // in-truss supports
    // k=4: only the 4-clique (every edge in 2 triangles)
    assert(run(edges, 4, 2).keySet ==
      Set((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)))
    // seeded random graphs: distributed == serial fixpoint
    val rnd = new scala.util.Random(15)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(70)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      val k = 3 + rnd.nextInt(2)
      val got = run(es, k, 1 + rnd.nextInt(5))
      assert(got == serialKTruss(es, k), s"k=$k es=$es")
    }
  }

  test("kTruss under-sized rounds: support describes the RETURNED edge set, not the penultimate one") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + triangles (3,4,5) and (4,5,6). For k=4 the
    // peel cascades: round 1 kills (3,5),(5,6),(4,6); round 2 kills
    // (4,5) (its supporting triangles are gone). With rounds=1 the
    // returned set still contains (4,5) — its support must be the
    // RECOMPUTED 0 over the survivors, not the stale pre-peel 2.
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (3L,5L),(4L,5L),(4L,6L),(5L,6L))
    val one = Centrality.kTruss(edges.toDF("u", "v"), k = 4, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(one((4L, 5L)) == 0L, "stale penultimate support leaked")
    assert(one((1L, 2L)) == 2L && one((3L, 4L)) == 2L)
    // and at the fixpoint the recompute is a no-op vs the serial peel
    val fx = Centrality.kTruss(edges.toDF("u", "v"), k = 4, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt)
      .toMap
    assert(fx == serialKTruss(edges, 4))
  }

  test("kTrussOriented == kTruss bit-for-bit: the degree-ordered orientation changes the plan, not the number") {
    import spark.implicits._
    def m(r: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      r.collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    def both(es: Seq[(Long, Long)], k: Int, rounds: Int, parts: Int) = {
      val df = es.toDF("u", "v").repartition(parts)
      (m(Centrality.kTruss(df, k, rounds)),
        m(Centrality.kTrussOriented(df, k, rounds)))
    }
    // clique + star + triangle (the kTruss fixture), at the fixpoint
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (10L,11L),(10L,12L),(10L,13L),(7L,8L),(8L,9L),(7L,9L))
    for (k <- Seq(3, 4)) {
      val (a, b) = both(edges, k, 6, 3)
      assert(a == b, s"k=$k")
    }
    // UNDER-sized rounds: the recomputed-support contract must agree
    // too (cascading peel fixture from the kTruss rounds test)
    val cascade = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (3L,5L),(4L,5L),(4L,6L),(5L,6L))
    val (a1, b1) = both(cascade, 4, 1, 2)
    assert(a1 == b1 && a1((4L, 5L)) == 0L)
    // seeded random graphs incl. a hot star (the orientation's reason
    // to exist): equality at every partitioning
    val rnd = new scala.util.Random(29)
    (1 to 4).foreach { _ =>
      val es = Seq.fill(80)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter(e => e._1 != e._2) ++ (1L to 12L).map(i => (0L, 100L + i))
      val k = 3 + rnd.nextInt(2)
      val (a, b) = both(es, k, 5, 1 + rnd.nextInt(4))
      assert(a == b, s"k=$k es=$es")
    }
  }

  test("corenessHIndex == coreness ladder on known and random graphs (the Lü et al. fixpoint theorem, pinned)") {
    import spark.implicits._
    val full = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,6L),(7L,8L),(8L,9L),(7L,9L))
    def hx(edges: Seq[(Long, Long)], parts: Int) =
      Centrality.corenessHIndex(edges.toDF("u", "v").repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ladder(edges: Seq[(Long, Long)]) =
      Centrality.coreness(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hx(full, 3) == ladder(full))
    val rnd = new scala.util.Random(14)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      assert(hx(es, 1 + rnd.nextInt(5)) == ladder(es), s"es=$es")
    }
  }

  test("coreness: per-level fixpoints on sf0.001 — degeneracy core == kCore at the same k") {
    val edges = Centrality.cooccurrenceEdges(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        "l_orderkey", "l_partkey")
      .filter(col("src") < col("dst") && col("weight") >= 2L)
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true)
    val cn = Centrality.coreness(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val degeneracy = cn.values.max
    // the nodes at max coreness ARE kCore's fixpoint at that k (run
    // kCore past its measured depth so it is at ITS fixpoint too)
    val atK = Centrality.kCore(edges, degeneracy.toInt, rounds = 20)
      .collect().map(_.getLong(0)).toSet
    assert(cn.filter(_._2 == degeneracy).keySet == atK)
    // and every node of the simple graph got a core number >= 1
    assert(cn.values.forall(_ >= 1L))
  }

  test("kCore: registered q309 setting reaches fixpoint (round 10 is a no-op) on sf0.001") {
    val edges = Centrality.cooccurrenceEdges(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        "l_orderkey", "l_partkey")
      .filter(col("src") < col("dst") && col("weight") >= 2L)
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true)
    val at10 = Centrality.kCore(edges, 3, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val at12 = Centrality.kCore(edges, 3, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at10 == at12)
    assert(at10.forall(_._2 >= 3))
  }
}
