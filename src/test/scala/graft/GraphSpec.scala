package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Level-synchronous BFS: hop minimality, cycle termination, multi-seed
  * union semantics, the maxHops bound, and unreachable-node exclusion —
  * the contracts the WITH RECURSIVE oracle of `graph_reach` relies on.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def dists(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) =
    Materialize.scoped {
      Graph.bfs(edges.toDF("u", "v"), seeds.toDF("node"), maxHops)
        .as[(Long, Int)].collect().toMap
    }

  test("chain graph: hops equal path length, bound truncates") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    assert(dists(chain, Seq(1L), 10) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    assert(dists(chain, Seq(1L), 2) === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("cycle terminates and keeps first-discovery distance") {
    // 1→2→3→1 cycle plus a tail; UNION-distinct recursion in the oracle
    // terminates the same way: no (node, hops) pair repeats
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 9L)
    assert(dists(g, Seq(1L), 10) === Map(1L -> 0, 2L -> 1, 3L -> 2, 9L -> 3))
  }

  test("diamond takes the shorter arm") {
    val g = Seq(1L -> 2L, 2L -> 4L, 1L -> 3L, 3L -> 5L, 5L -> 4L)
    assert(dists(g, Seq(1L), 10)(4L) === 2)
  }

  test("multi-seed: distance is min over seeds; unreachable excluded") {
    val g = Seq(1L -> 2L, 2L -> 3L, 10L -> 3L, 50L -> 60L)
    val d = dists(g, Seq(1L, 10L), 10)
    assert(d === Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 1))
    assert(!d.contains(60L)) // reachable only from 50, not a seed
  }

  test("seed-only graph with no outgoing edges returns the seed at 0") {
    assert(dists(Seq(7L -> 8L), Seq(99L), 5) === Map(99L -> 0))
  }

  test("weighted sssp: relaxation beats the direct edge, horizon bounds path length") {
    // 1→2 (5), 2→3 (1), 1→3 (10), 3→4 (1): the 2-edge path to 3 costs 6,
    // beating the direct 10; node 4 needs 3 edges for its cheapest path
    val g = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 1L))
    def run(rounds: Int) = Materialize.scoped {
      Graph.sssp(g.toDF("u", "v", "w"), Seq(1L).toDF("node"), rounds)
        .as[(Long, Long)].collect().toMap
    }
    assert(run(3) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 7L))
    // 2-round horizon: 4 is reachable only via 1→3→4 (11) within 2 edges
    assert(run(2) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 11L))
    // parallel edges collapse to their min weight before relaxing
    val multi = g ++ Seq((1L, 2L, 2L))
    assert(Materialize.scoped {
      Graph.sssp(multi.toDF("u", "v", "w"), Seq(1L).toDF("node"), 3)
        .as[(Long, Long)].collect().toMap
    }(2L) === 2L)
  }

  test("fixed-point pagerank: hand-computed chain after one round") {
    // chain 1→2→3, N=3: base = (15 × 1e12) DIV 300 = 5e10; each
    // contribution is (1e12 DIV 3) DIV 1 = 333333333333, damped
    // (×85 DIV 100) to 283333333333
    val got = Materialize.scoped {
      Graph.pagerank(Seq(1L -> 2L, 2L -> 3L).toDF("u", "v"), iters = 1)
        .as[(Long, Long)].collect().toMap
    }
    assert(got === Map(
      1L -> 50000000000L,
      2L -> 333333333333L,
      3L -> 333333333333L))
  }

  test("pagerank mass is conserved up to floor leakage; ranks positive") {
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 1L)
    val ranks = Materialize.scoped {
      Graph.pagerank(g.toDF("u", "v"), iters = 4)
        .as[(Long, Long)].collect().toMap
    }
    assert(ranks.keySet === Set(1L, 2L, 3L, 4L))
    assert(ranks.values.forall(_ > 0))
    // leaky formulation: total ≤ 1e12, but floor losses are tiny
    val total = ranks.values.sum
    assert(total <= 1000000000000L && total > 900000000000L, s"total=$total")
  }

  test("graph_pagerank matches an exact integer replay at sf0.001") {
    val got = SparkEntry.queries("graph_pagerank")(spark, sfTiny)
      .as[(Long, Long)].collect().toMap

    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect()
    val adj = li.groupBy(_._1).values.flatMap { lines =>
      val byLn = lines.groupBy(_._2).map { case (ln, ls) => ln -> ls.map(_._3).toSeq }
      byLn.toSeq.flatMap { case (ln, ps) =>
        val nxt = byLn.getOrElse(ln + 1, Seq.empty[Long])
        for (p <- ps; p2 <- nxt if p2 != p) yield (p, p2)
      }
    }.toSeq
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).distinct
    val n = nodes.size.toLong
    val outdeg = adj.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var pr = nodes.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to 3) {
      val inc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, v) <- adj) inc(v) += pr(u) / outdeg(u)
      pr = nodes.map(nd =>
        nd -> (15000000000000L / (100 * n) + inc(nd) * 85 / 100)).toMap
    }
    assert(got === pr)
  }

  test("graph_reach matches a driver-style replay of its own oracle shape") {
    // semantic pin at tiny SF: recompute min-hop distances with a plain
    // iterative loop over collected edges (small here) and compare
    val q = SparkEntry.queries("graph_reach")(spark, sfTiny)
    val got = q.as[(Long, Int)].collect().toMap

    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect()
    val byOrder = li.groupBy(_._1)
    val adj = byOrder.values.flatMap { lines =>
      // (orderkey, linenumber) is NOT unique in the synthetic data — the
      // adjacency is a multimap join, all pairs across consecutive lines
      val byLn = lines.groupBy(_._2).map { case (ln, ls) => ln -> ls.map(_._3).toSeq }
      byLn.toSeq.flatMap { case (ln, ps) =>
        val nxt = byLn.getOrElse(ln + 1, Seq.empty[Long])
        for (p <- ps; p2 <- nxt if p2 != p) yield (p, p2)
      }
    }.toSeq
    val und = (adj ++ adj.map(_.swap)).distinct
    val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seed = li.map(_._3).min
    var dist = Map(seed -> 0)
    var frontier = Set(seed)
    for (hop <- 1 to 4) {
      val nxt = frontier.flatMap(n => nbrs.getOrElse(n, Set.empty)) -- dist.keySet
      nxt.foreach(n => dist += n -> hop)
      frontier = nxt
    }
    assert(got === dist)
  }

  test("triangles: K4 counts 3 per node; square counts none; input noise dropped") {
    import spark.implicits._
    // K4 given with mixed directions, a duplicate edge, and a self-loop:
    // canonicalization must absorb all of it. Every node of K4 sits in
    // C(3,2) = 3 triangles.
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L), (2L, 3L),
      (4L, 2L), (3L, 4L), (3L, 3L)).toDF("u", "v")
    val got = Materialize.scoped {
      Graph.triangles(k4).orderBy("node").as[(Long, Long)].collect().toSeq
    }
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))

    // a 4-cycle has wedges but no closing edge
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    assert(Materialize.scoped(Graph.triangles(square).isEmpty))
  }

  test("triangles matches a brute-force count on the sf0.001 co-line graph") {
    val got = Materialize.scoped {
      SparkEntry.queries("graph_triangles")(spark, sfTiny)
        .as[(Long, Long)].collect().toMap
    }
    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect().toSeq
    val adj = li.groupBy(_._1).values.flatMap { lines =>
      val byLn = lines.groupBy(_._2).map { case (ln, ls) => ln -> ls.map(_._3).toSeq }
      byLn.toSeq.flatMap { case (ln, ps) =>
        val nxt = byLn.getOrElse(ln + 1, Seq.empty[Long])
        for (p <- ps; p2 <- nxt if p2 != p) yield (p, p2)
      }
    }.toSeq
    val ce = adj.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = ce.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    val ceSeq = ce.toSeq
    for {
      (a, b) <- ceSeq
      c <- nodes if c > b && ce.contains((b, c)) && ce.contains((a, c))
    } {
      expected(a) = expected.getOrElse(a, 0L) + 1
      expected(b) = expected.getOrElse(b, 0L) + 1
      expected(c) = expected.getOrElse(c, 0L) + 1
    }
    assert(got === expected.toMap)
  }

  test("graph_modularity equals the brute-force Newman Q by community") {
    val rows = SparkEntry.queries("graph_modularity")(spark, sfTiny)
      .select($"community", $"m", $"e_in", $"dout", $"din", $"q_contrib")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    // brute force: labeled directed co-line edges from the raw tables
    val brand = Tables.part(spark, sfTiny)
      .select($"p_partkey", $"p_brand").as[(Long, String)].collect().toMap
    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Long, Long)].collect()
    // (ok, ln) is NOT unique in the synthetic data — a true multimap
    // join, exactly like the operator's equi-join
    val byLine = li.groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3))
    val edges = li.flatMap { case (ok, ln, u) =>
      byLine.getOrElse((ok, ln + 1), Array.empty[Long])
        .filter(_ != u).map(v => (brand(u), brand(v)))
    }
    val m = edges.length.toLong
    val eIn  = edges.filter(e => e._1 == e._2).groupBy(_._1).view.mapValues(_.length.toLong)
    val dOut = edges.groupBy(_._1).view.mapValues(_.length.toLong)
    val dIn  = edges.groupBy(_._2).view.mapValues(_.length.toLong)
    var qSum = 0.0
    rows.foreach { case (c, mq, ei, dou, din, qc) =>
      assert(mq === m)
      assert(ei === eIn.getOrElse(c, 0L), s"$c e_in")
      assert(dou === dOut.getOrElse(c, 0L), s"$c dout")
      assert(din === dIn.getOrElse(c, 0L), s"$c din")
      val num = (BigInt(m) * ei - BigInt(dou) * din).toDouble
      assert(qc === num / (m.toDouble * m.toDouble), s"$c q_contrib")
      qSum += qc
    }
    // the summed contributions are the partition's modularity: a sane
    // labeling of a sparse graph keeps |Q| well inside [-1, 1]
    assert(qSum > -1.0 && qSum < 1.0)
    // every community present in the edge frame is reported
    assert(rows.map(_._1).toSet === (dOut.keySet ++ dIn.keySet))
  }

  private def core(edges: Seq[(Long, Long)], k: Int) = Materialize.scoped {
    Graph.kcore(edges.toDF("u", "v"), k)
      .as[(Long, Long)].collect().toMap
  }

  test("kcore: tail peels, triangle survives at k=2, dissolves at k=3") {
    // triangle 1-2-3 plus pendant 3-4: the 2-core is exactly the
    // triangle (every survivor's core degree is 2); k=3 removes all
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    assert(core(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(core(g, 3) === Map.empty[Long, Long])
  }

  test("kcore: peel CASCADES — removing one endpoint re-exposes the next") {
    // path 1-2-3-4-5 at k=2: endpoints peel first, which drops their
    // neighbors below k, and the whole path dissolves over multiple
    // rounds — the fixpoint a single-pass degree filter would miss
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    assert(core(path, 2) === Map.empty[Long, Long])
    // ...while closing the path into a cycle makes every node degree 2
    val cycle = path :+ (5L -> 1L)
    assert(core(cycle, 2) ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 2L))
  }

  test("kcore: direction, duplicates, and self-loops are normalized away") {
    // both directions + a repeated edge + a self-loop must count once:
    // a naive degree count would see node 1 at degree 4 and keep it
    val g = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 1L -> 1L, 2L -> 3L, 3L -> 1L)
    assert(core(g, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(core(g, 3) === Map.empty[Long, Long])
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int) = Materialize.scoped {
    Graph.labelPropagation(edges.toDF("u", "v"), rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("label propagation: synchronous rounds, min tie-break, frequency wins") {
    // star 1-{2,3,4} plus the 2-3 edge; hand-computed synchronous rounds
    val g = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L)
    // round 1 from identity labels: every neighbor multiset is all-ties,
    // so the min label is picked everywhere
    assert(lpa(g, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // round 2: node 1 sees {1,1,1} (frequency), node 4 follows the hub
    assert(lpa(g, 2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // round 3: node 1 sees {1,1,2} — count 2 beats count 1 — and the
    // whole graph settles on label 1
    assert(lpa(g, 3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("label propagation: duplicate, reverse, and self edges are normalized") {
    val clean = lpa(Seq(1L -> 2L, 2L -> 3L), 2)
    val noisy = lpa(Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 3L), 2)
    assert(clean === noisy)
  }

  /** The co-line adjacency rebuilt driver-side, shared by the replay
    * tests below (same multimap-join semantics as the engine's).
    */
  private def tinyAdj(): Seq[(Long, Long)] = {
    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect()
    li.groupBy(_._1).values.flatMap { lines =>
      val byLn = lines.groupBy(_._2).map { case (ln, ls) => ln -> ls.map(_._3).toSeq }
      byLn.toSeq.flatMap { case (ln, ps) =>
        val nxt = byLn.getOrElse(ln + 1, Seq.empty[Long])
        for (p <- ps; p2 <- nxt if p2 != p) yield (p, p2)
      }
    }.toSeq
  }

  test("graph_label_propagation matches an exact synchronous replay at sf0.001") {
    val got = SparkEntry.queries("graph_label_propagation")(spark, sfTiny)
      .as[(Long, Long)].collect().toMap
    val adj = tinyAdj()
    val und = (adj ++ adj.map(_.swap))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = nbrs.map { case (u, ns) =>
        val cnt = ns.map(lab).groupBy(identity).map { case (l, o) => (l, o.size) }
        u -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === lab)
  }

  test("graph_jaccard_links matches a brute-force capped replay at sf0.001") {
    val got = SparkEntry.queries("graph_jaccard_links")(spark, sfTiny)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val adj = tinyAdj()
    val und = (adj ++ adj.map(_.swap))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val deg = nbrs.map { case (k, v) => k -> v.size.toLong }
    val undSet = und.toSet
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((w, ns) <- nbrs if ns.size <= 64; x <- ns; y <- ns if x < y)
      cn((x, y)) += 1
    val exp = cn.toSeq.collect { case ((u, v), c) if !undSet((u, v)) =>
      val uni = deg(u) + deg(v) - c
      (u, v, c, uni, c * 1000000L / uni)
    }.sortBy { case (u, v, _, _, j) => (-j, u, v) }.take(50)
    assert(got === exp)
  }

  test("graph_jaccard_links wedgeCap=auto equals the explicitly-set derived cap") {
    def links(): Seq[(Long, Long, Long, Long, Long)] =
      SparkEntry.queries("graph_jaccard_links")(spark, sfTiny)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // derive the cap independently via the operator's own degree frame
    val adj = ops.Graph.coLineAdj(spark, sfTiny)
    val und = adj.select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .distinct()
    val deg = und.select($"a".as("u")).union(und.select($"b".as("u")))
      .groupBy($"u").agg(count(lit(1)).as("deg"))
    val derived = Knobs.graphWedgeCap.fromP99(deg, "deg")
    try {
      spark.conf.set("spark.graft.graph.wedgeCap", "auto")
      val auto = links()
      spark.conf.set("spark.graft.graph.wedgeCap", derived.toString)
      assert(auto === links(),
        s"auto (derived cap $derived) must equal the explicit cap")
    } finally spark.conf.unset("spark.graft.graph.wedgeCap")
  }

  test("graph_hits matches an exact BigInt replay at sf0.001") {
    val got = SparkEntry.queries("graph_hits")(spark, sfTiny)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    // same multimap adjacency as the pagerank replay: duplicate
    // (order, linenumber) pairs yield duplicate edges, and HITS sums
    // over edge INSTANCES
    val li = Tables.lineitem(spark, sfTiny)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect()
    val adj = li.groupBy(_._1).values.flatMap { lines =>
      val byLn = lines.groupBy(_._2).map { case (ln, ls) => ln -> ls.map(_._3).toSeq }
      byLn.toSeq.flatMap { case (ln, ps) =>
        val nxt = byLn.getOrElse(ln + 1, Seq.empty[Long])
        for (p <- ps; p2 <- nxt if p2 != p) yield (p, p2)
      }
    }.toSeq
    val nodes = (adj.map(_._1) ++ adj.map(_._2)).distinct
    val UNIT = BigInt(1000000000000L)
    var hub = nodes.map(_ -> UNIT).toMap
    var auth = Map.empty[Long, BigInt]
    for (_ <- 1 to 2) {
      val araw = scala.collection.mutable.Map.empty[Long, BigInt]
        .withDefaultValue(BigInt(0))
      for ((u, v) <- adj) araw(v) += hub(u)
      val amax = araw.values.max
      auth = nodes.map(n => n -> araw(n) * UNIT / amax).toMap
      val hraw = scala.collection.mutable.Map.empty[Long, BigInt]
        .withDefaultValue(BigInt(0))
      for ((u, v) <- adj) hraw(u) += auth(v)
      val hmax = hraw.values.max
      hub = nodes.map(n => n -> hraw(n) * UNIT / hmax).toMap
    }
    val exp = nodes.map(n => n -> ((hub(n).toLong, auth(n).toLong))).toMap
    assert(got === exp)
    // L-infinity normalization: both families peak exactly at the unit
    assert(got.values.map(_._1).max === 1000000000000L)
    assert(got.values.map(_._2).max === 1000000000000L)
  }
}
