package graft

import graft.ops.{Analytics, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Properties for the round-4 mining operators: fixed-point PageRank
  * (q117), Apriori basket pairs (q118), exact weighted median (q119). The
  * DuckDB oracle pins values at sf0.01; these pin the algorithmic
  * invariants on hand-built inputs and sf0.001. */
class GraphSpec extends SparkSpec {

  private type Edge = (Long, Long, Long)

  /** Collect an operator's `(id, value)` rows inside [[Caches.scoped]], so
    * the persisted frames and per-round checkpoints it registers are
    * released once the result is on the driver. */
  private def pairs(df: => DataFrame): Map[Long, Long] = {
    val before = Caches.liveCountHere
    val got = Caches.scoped(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(Caches.liveCountHere == before, "operator caches outlived the scope")
    got
  }

  /** Driver-side fixed-point PageRank in `Long`s: 1e6 edge shares, teleport
    * over `teleport` (default: every node; base 0 elsewhere), and with
    * `redistribute` the dangling mass re-spread over all nodes each round. */
  private def refRank(edges: Seq[Edge], iterations: Int, redistribute: Boolean = false,
      teleport: Option[Set[Long]] = None): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val ow = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val tele = teleport.getOrElse(nodes.toSet)
    val init = nodes.map(v => v -> (if (tele(v)) Graph.Scale / tele.size else 0L)).toMap
    var rank = init
    for (_ <- 1 to iterations) {
      val contrib = edges.groupMapReduce(_._2) { case (s, _, w) =>
        rank(s) * (w * Graph.ShareScale / ow(s)) / Graph.ShareScale }(_ + _)
      val dshare =
        if (redistribute) nodes.filterNot(ow.contains).map(rank).sum / nodes.size else 0L
      rank = nodes.map(v => v -> (init(v) * (100 - Graph.Damping) / 100 +
        Graph.Damping * (contrib.getOrElse(v, 0L) + dshare) / 100)).toMap
    }
    rank
  }

  /** Driver-side Bellman–Ford: `rounds` min-plus relaxations from `seeds`. */
  private def refPaths(edges: Seq[Edge], seeds: Seq[Long], rounds: Int): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = for ((s, d, w) <- edges; ds <- dist.get(s)) yield d -> (ds + w)
      dist = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    dist
  }

  /** Driver-side synchronous min-label LPA: symmetrized weights, self-loops
    * dropped, each node adopting the smallest label among its top-voted. */
  private def refLpa(edges: Seq[Edge], rounds: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap { case (s, d, w) => Seq((s, d) -> w, (d, s) -> w) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    var label = und.keys.map { case (a, _) => a -> a }.toMap
    for (_ <- 1 to rounds) {
      val votes = und.toSeq.flatMap { case ((a, b), w) => label.get(b).map(l => (a, l) -> w) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      label = votes.groupBy(_._1._1).map { case (a, vs) =>
        val top = vs.values.max
        a -> vs.collect { case ((_, l), v) if v == top => l }.min
      }
    }
    label
  }

  test("pageRank matches an integer reference on a hand-built graph") {
    import spark.implicits._
    // 4-node graph: 1→2, 1→3, 2→3, 3→1, 4→3 (node 4 dangles nothing; all
    // nodes have out-edges except none — 4 has one edge out, receives none)
    val edgeList = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (4L, 3L, 5L))
    val edges = edgeList.toDF("src", "dst", "w")
    val got = pairs(Graph.pageRank(edges, iterations = 5))

    // In-test reference: same fixed-point integer recurrence, scalar loop.
    val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct.sorted
    val ow = edgeList.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val share = edgeList.map { case (s, d, w) => (s, d) -> (w * Graph.ShareScale) / ow(s) }.toMap
    val init = Graph.Scale / nodes.size
    val base = init * (100 - Graph.Damping) / 100
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to 5) {
      val contrib = nodes.map { n =>
        n -> share.collect { case ((s, d), sh) if d == n => (rank(s) * sh) / Graph.ShareScale }.sum
      }.toMap
      rank = nodes.map(n => n -> (base + 85L * contrib(n) / 100)).toMap
    }
    assert(got == rank, s"got=$got expected=$rank")
  }

  test("pageRank matches the scalar reference on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 5
      val edgeList = (for {
        s <- 1L to n; d <- 1L to n
        if s != d && rnd.nextDouble() < 0.12
      } yield (s, d, 1L + rnd.nextInt(9))).toVector
      val got = pairs(Graph.pageRank(edgeList.toDF("src", "dst", "w"), iterations = 4))
      val nodes = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct
      val ow = edgeList.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val share = edgeList.map { case (s, d, w) => (s, d) -> (w * Graph.ShareScale) / ow(s) }.toMap
      val init = Graph.Scale / nodes.size
      val base = init * (100 - Graph.Damping) / 100
      var rank = nodes.map(_ -> init).toMap
      for (_ <- 1 to 4) {
        val contrib = nodes.map { v =>
          v -> share.collect { case ((s, d), sh) if d == v => (rank(s) * sh) / Graph.ShareScale }.sum
        }.toMap
        rank = nodes.map(v => v -> (base + 85L * contrib(v) / 100)).toMap
      }
      assert(got == rank, s"trial $trial (n=$n, ${edgeList.size} edges)")
    }
  }

  test("triangleCounts matches brute-force triple enumeration on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 15 + trial * 5
      val und = (for {
        u <- 1L to n; v <- 1L to n
        if u != v && rnd.nextDouble() < 0.2
      } yield (u, v)).toVector // directed duplicates exercise canonicalization
      val got = pairs(Graph.triangleCounts(und.toDF("u", "v")))
      val es = und.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
      val ids = (und.map(_._1) ++ und.map(_._2)).distinct.sorted
      val expected = (for {
        a <- ids; b <- ids if a < b && es((a, b))
        c <- ids if b < c && es((b, c)) && es((a, c))
      } yield Seq(a, b, c)).flatten
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == expected, s"trial $trial (n=$n)")
    }
  }

  test("shortestHops matches scalar BFS on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 20L + trial * 5
      val edges = (for {
        s <- 1L to n; d <- 1L to n
        if s != d && rnd.nextDouble() < 0.08
      } yield (s, d)).toVector
      val seeds = (1L to n).filter(_ => rnd.nextDouble() < 0.15).toVector match {
        case Vector() => Vector(1L)
        case v        => v
      }
      val hops = 3
      val got = pairs(Graph.shortestHops(edges.toDF("src", "dst"), seeds.toDF("id"), hops))
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to hops) {
        val relaxed = dist.toSeq.flatMap { case (u, du) =>
          adj.getOrElse(u, Vector()).map(_ -> (du + 1L))
        }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      }
      assert(got == dist, s"trial $trial (n=$n, seeds=${seeds.size})")
    }
  }

  test("q117 ranks are positive and rank mass stays below the scale budget") {
    val ranks = pairs(Graph.q117Pagerank(spark, sf())).values
    assert(ranks.nonEmpty)
    ranks.foreach(r => assert(r > 0))
    // Integer floor-division only loses mass, never creates it: total rank
    // can never exceed the fixed-point budget (1e12).
    assert(ranks.sum <= Graph.Scale)
  }

  test("shortestHops computes BFS distances on a path graph, bounded by maxHops") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = pairs(Graph.shortestHops(edges, seeds, maxHops = 2))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got=$got (4 is beyond 2 hops)")
  }

  test("triangleCounts on K4 minus one edge: two triangles sharing an edge") {
    import spark.implicits._
    // edges (1,2),(1,3),(2,3),(2,4),(3,4) — triangles {1,2,3} and {2,3,4};
    // fed partly reversed + duplicated to exercise canonicalization.
    val und = Seq((2L, 1L), (1L, 3L), (2L, 3L), (3L, 2L), (4L, 2L), (3L, 4L))
      .toDF("u", "v")
    val got = pairs(Graph.triangleCounts(und))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"got=$got")
  }

  test("degree orientation bounds wedge fan-out on a planted star (hub emits no wedges)") {
    import spark.implicits._
    // Star K_{1,50}: center 0 (degree 50, HIGHEST), leaves 1..50 (degree 1).
    // Raw-id orientation would point every edge 0→leaf — out-degree 50 at
    // the hub, C(50,2)=1225 wedges. Degree orientation points every edge
    // leaf→hub: max out-degree 1, ZERO wedges — the arboricity bound.
    val star = (1L to 50L).map(l => (0L, l)).toDF("u", "v")
    val oriented = Graph.orientByDegree(star)
    val outDeg = oriented.groupBy("s").count().agg(max("count")).head.getLong(0)
    assert(outDeg == 1L, s"hub must emit nothing; max out-degree=$outDeg")
    assert(oriented.filter(col("s") === 0L).count() == 0L, "all edges point INTO the hub")
    assert(pairs(Graph.triangleCounts(star)).isEmpty, "a star has no triangles")
    // Star + one leaf-leaf edge: exactly one triangle {0, 1, 2}.
    val tri = pairs(Graph.triangleCounts(star.union(Seq((1L, 2L)).toDF("u", "v"))))
    assert(tri == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), s"got=$tri")
  }

  test("pageRankRedistributed conserves more mass than the simplified form and matches scalar ref") {
    import spark.implicits._
    // 1→2, 2→3; node 3 dangles (receives, never emits). Redistribution
    // returns its mass to the pool each iteration.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val got = pairs(Graph.pageRankRedistributed(edges, iterations = 4))
    // Scalar reference of the same integer recurrence.
    val nodes = Seq(1L, 2L, 3L)
    val share = Map((1L, 2L) -> Graph.ShareScale, (2L, 3L) -> Graph.ShareScale)
    val init = Graph.Scale / 3
    val base = init * (100 - Graph.Damping) / 100
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to 4) {
      val dshare = rank(3L) / 3
      val contrib = nodes.map { v =>
        v -> share.collect { case ((s, d), sh) if d == v => (rank(s) * sh) / Graph.ShareScale }.sum
      }.toMap
      rank = nodes.map(v => v -> (base + 85L * (contrib(v) + dshare) / 100)).toMap
    }
    assert(got == rank, s"got=$got expected=$rank")
    val simplified = pairs(Graph.pageRank(edges, iterations = 4)).values.sum
    assert(got.values.sum > simplified, "redistribution conserves the dangling mass")
  }

  test("q118 Apriori invariant: pair support never exceeds either item's support") {
    val pairs = Analytics.q118BasketPairs(spark, sf("sf0.01")).collect()
    assert(pairs.nonEmpty)
    val baskets = Tables.lineitem(spark, sf("sf0.01"))
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val sup = baskets.groupBy("l_partkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { r =>
      val (p1, p2, s) = (r.getAs[Long]("p1"), r.getAs[Long]("p2"), r.getAs[Long]("support"))
      assert(p1 < p2, "pairs are canonically ordered")
      assert(s >= 3, "minsup filter")
      assert(s <= math.min(sup(p1), sup(p2)), "anti-monotone support")
    }
  }

  test("q120 temporal join: SCD2 intervals partition time — each fact matches at most once") {
    import graft.ops.Events
    val out = Events.q120TemporalJoin(spark, sf()).collect()
    val facts = Tables.events(spark, sf())
      .filter(col("event_type").isin("click", "view")).count()
    // Intervals are disjoint per user, so the inner join can only LOSE
    // facts (those before the user's first state), never duplicate them.
    assert(out.map(_.getAs[Long]("n_events")).sum <= facts)
    assert(out.forall(r => Set("signup", "purchase")(r.getAs[String]("state"))))
  }

  test("q123 rolling 7-day distinct users dominates each day's own distinct count") {
    import graft.ops.Events
    val rolling = Events.q123RollingDistinct(spark, sf()).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("n_users_7d")).toMap
    val daily = Tables.events(spark, sf())
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct().groupBy("day").count().collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("count")).toMap
    val totalUsers = Tables.events(spark, sf()).select("user_id").distinct().count()
    assert(rolling.keySet == daily.keySet, "one row per observed day")
    rolling.foreach { case (d, n) =>
      assert(n >= daily(d) && n <= totalUsers, s"day=$d rolling=$n daily=${daily(d)}")
    }
  }

  test("q124 MAD stats are internally consistent per group") {
    val rows = Analytics.q124MadOutliers(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n_rows"),
        "the median side of the data can never be outliers")
    }
  }

  test("q119 weighted median balances weight mass in every group") {
    val med = Analytics.q119WeightedMedian(spark, sf()).collect()
    assert(med.nonEmpty)
    val rows = Tables.lineitem(spark, sf())
      .select(col("l_returnflag"), year(col("l_shipdate")).cast("long"),
        col("l_extendedprice"), col("l_quantity").cast("long"))
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getDouble(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    med.foreach { r =>
      val key = (r.getAs[String]("return_flag"), r.getAs[Long]("ship_year"))
      val m = r.getAs[Double]("weighted_median")
      val grp = rows(key)
      val tot = grp.map(_._2).sum
      val below = grp.filter(_._1 < m).map(_._2).sum
      val atOrBelow = grp.filter(_._1 <= m).map(_._2).sum
      // Weighted-median definition: strictly-below mass under half (else an
      // earlier price would have crossed); mass through the median reaches
      // half.
      assert(2 * below < tot, s"$key below=$below tot=$tot")
      assert(2 * atOrBelow >= tot, s"$key atOrBelow=$atOrBelow tot=$tot")
    }
  }

  test("q214 modularity: planted twin triangles score Q=1/2 exactly; identities on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mod").toString
    // two disjoint trade triangles over nations {0,1,2} and {3,4,5}: LPA
    // floods each to its min label, and two equal disconnected cliques
    // have modularity exactly 1/2 (contribution 1/4 = 250000 ppm each)
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
    (0L to 5L).map(n => (n, n)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    (0L to 5L).map(n => (n, n)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    pairs.zipWithIndex.map { case ((_, dst), i) => (i.toLong, dst) }
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((src, _), i) => (i.toLong, src) }
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ops.Graph.q214Modularity(spark, dir).collect()
      .map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("internal_w"),
          r.getAs[Long]("degree_w"), r.getAs[Long]("q_contrib_ppm")))).toMap
    assert(out == Map(0L -> ((3L, 3L, 6L, 250000L)), 3L -> ((3L, 3L, 6L, 250000L))))
    Caches.releaseAll()
    // real graph: the partition is exactly q171's; internal mass is
    // bounded by degree mass; Q respects Newman's [-1/2, 1) range
    val mod = ops.Graph.q214Modularity(spark, sf()).collect()
    val lpa = ops.Graph.q171LpaCommunities(spark, sf()).collect()
    assert(mod.map(r => (r.getAs[Long]("community"), r.getAs[Long]("n_members"))).toSet
      == lpa.map(r => (r.getAs[Long]("community"), r.getAs[Long]("n_members"))).toSet)
    val s2 = mod.map(_.getAs[Long]("degree_w")).sum
    mod.foreach { r =>
      assert(2L * r.getAs[Long]("internal_w") <= r.getAs[Long]("degree_w"))
      assert(r.getAs[Long]("q_contrib_ppm") <= 1000000L)
    }
    assert(2L * mod.map(_.getAs[Long]("internal_w")).sum <= s2)
    val q = mod.map(_.getAs[Long]("q_contrib_ppm")).sum
    assert(q >= -500000L && q < 1000000L, s"Q=$q ppm out of range")
    Caches.releaseAll()
  }

  test("q203 k-core peel: planted clique+pendant peels exactly; curve laws on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kcore").toString
    // 4-clique (parts 1..4 co-ordered twice via orders 10/11) + pendant
    // part 5 attached to 4 (orders 12/13): 7 edges. Round 1 peels node 5
    // (degree 1 < 3); the clique (degree 3 each) is the 3-core and holds.
    val rows =
      Seq(10L, 11L).flatMap(o => Seq(1L, 2L, 3L, 4L).map(p => (o, p))) ++
        Seq(12L, 13L).flatMap(o => Seq(4L, 5L).map(p => (o, p)))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = ops.Graph.q203KcorePeel(spark, dir).collect()
      .map(r => r.getAs[Long]("round") ->
        ((r.getAs[Long]("n_alive"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_edges")))).toMap
    assert(out(0L) == ((5L, 0L, 7L)))
    assert(out(1L) == ((4L, 1L, 6L)))
    (2L to 10L).foreach(r => assert(out(r) == ((4L, 0L, 6L)), s"round $r"))
    Caches.releaseAll()
    // real data: curve is monotone, removals telescope, fixpoint reached
    // within the 10 fixed rounds at this sf
    val curve = ops.Graph.q203KcorePeel(spark, sf()).collect()
      .sortBy(_.getAs[Long]("round"))
    val alive = curve.map(_.getAs[Long]("n_alive")).toSeq
    assert(alive == alive.sorted.reverse, "n_alive must be non-increasing")
    assert(curve.map(_.getAs[Long]("n_removed")).sum == alive.head - alive.last)
    assert(curve.last.getAs[Long]("n_removed") == 0L, "not converged in 12 rounds")
    Caches.releaseAll()
  }

  test("q218 incremental triangles: planted delta census exact; IVM law on sf") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-itri").toString
    // Old orders (key % 10 != 0): {1,2,3}×2 → old triangle; {1,5}×2 → old
    // edge. New orders (key % 10 == 0): {1,2,4}×2 → new edges (1,4),(2,4)
    // (a d2 triangle with old (1,2)); {2,5}×2 → new (2,5) (d1 triangle
    // with old (1,2),(1,5)); {6,7,8}×2 → an all-new d3 triangle.
    val rows =
      Seq(1L, 2L).flatMap(o => Seq(1L, 2L, 3L).map(p => (o, p))) ++
        Seq(4L, 5L).flatMap(o => Seq(1L, 5L).map(p => (o, p))) ++
        Seq(10L, 20L).flatMap(o => Seq(1L, 2L, 4L).map(p => (o, p))) ++
        Seq(40L, 50L).flatMap(o => Seq(2L, 5L).map(p => (o, p))) ++
        Seq(60L, 70L).flatMap(o => Seq(6L, 7L, 8L).map(p => (o, p)))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = ops.Graph.q218IncrementalTriangles(spark, dir).collect().head
    assert(r.getAs[Long]("n_edges_old") == 4L)
    assert(r.getAs[Long]("n_edges_delta") == 6L)
    assert(r.getAs[Long]("tri_old") == 1L)
    assert(r.getAs[Long]("tri_d1") == 1L)
    assert(r.getAs[Long]("tri_d2") == 1L)
    assert(r.getAs[Long]("tri_d3") == 1L)
    assert(r.getAs[Long]("tri_delta") == 3L)
    assert(r.getAs[Long]("tri_full") == 4L)
    assert(r.getAs[Long]("ivm_match") == 1L)
    Caches.releaseAll()
    // real corpus: the delta decomposition must telescope exactly
    val c = ops.Graph.q218IncrementalTriangles(spark, sf()).collect().head
    assert(c.getAs[Long]("ivm_match") == 1L)
    assert(c.getAs[Long]("tri_d1") + c.getAs[Long]("tri_d2") +
      c.getAs[Long]("tri_d3") == c.getAs[Long]("tri_delta"))
    assert(c.getAs[Long]("tri_old") + c.getAs[Long]("tri_delta") ==
      c.getAs[Long]("tri_full"))
    Caches.releaseAll()
  }

  test("loop operators equal driver-side Long recurrences on a seeded weighted graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edgeList = (for {
      s <- 1L to 18L; d <- 1L to 18L
      if s != d && rnd.nextDouble() < 0.15
    } yield (s, d, 1L + rnd.nextInt(9))).toVector
    val edges = edgeList.toDF("src", "dst", "w")
    val seeds = Seq(1L, 5L)
    assert(pairs(Graph.pageRank(edges, 4)) == refRank(edgeList, 4))
    assert(pairs(Graph.pageRankRedistributed(edges, 4)) ==
      refRank(edgeList, 4, redistribute = true))
    assert(pairs(Graph.shortestHops(edges, seeds.toDF("id"), 3)) ==
      refPaths(edgeList.map { case (s, d, _) => (s, d, 1L) }, seeds, 3))
    assert(pairs(Graph.cheapestPaths(edges, seeds.toDF("id"), 3)) ==
      refPaths(edgeList, seeds, 3))
  }

  test("labelPropagationWithGraph equals a scalar min-label LPA on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 15L + trial * 5
      // sparse, small weights (many vote ties), self-loops and both
      // orientations of some pairs (merged weights) included
      val edgeList = (for {
        s <- 1L to n; d <- 1L to n
        if rnd.nextDouble() < (if (s == d) 0.2 else 0.08)
      } yield (s, d, 1L + rnd.nextInt(3))).toVector
      val (und, labels) = Caches.scoped {
        val (u, l) = Graph.labelPropagationWithGraph(edgeList.toDF("src", "dst", "w"), 4)
        (u.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap,
          l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      val ref = refLpa(edgeList, 4)
      assert(labels == ref, s"trial $trial (n=$n, ${edgeList.size} edges)")
      assert(ref.values.toSet.size > 1, s"trial $trial: one community tests no tie-break")
      assert(und.keys.forall { case (a, b) => a != b && und.contains((b, a)) })
    }
  }

  test("q234 personalized PageRank equals a driver-side recurrence over the sf trade graph") {
    def longs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val suppNation = longs(Tables.supplier(spark, sf()), "s_suppkey", "s_nationkey").toMap
    val orderCust = longs(Tables.orders(spark, sf()), "o_orderkey", "o_custkey").toMap
    val custNation = longs(Tables.customer(spark, sf()), "c_custkey", "c_nationkey").toMap
    val edgeList = longs(Tables.lineitem(spark, sf()), "l_orderkey", "l_suppkey")
      .flatMap { case (o, sk) =>
        for (src <- suppNation.get(sk); c <- orderCust.get(o); dst <- custNation.get(c))
          yield (src, dst)
      }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case ((src, dst), w) => (src, dst, w) }.toSeq
    val seeds = longs(Tables.nation(spark, sf()), "n_nationkey", "n_regionkey")
      .collect { case (nk, 0L) => nk }.toSet
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).toSet
    assert(nodes.exists(seeds) && !nodes.forall(seeds), "needs seed and non-seed nodes")
    val got = Caches.scoped(Graph.q234PersonalizedPagerank(spark, sf()).collect()
      .map(r => r.getAs[Long]("nation_id") -> r.getAs[Long]("ppr_scaled")).toMap)
    assert(got == refRank(edgeList, 5, teleport = Some(seeds)))
  }
}
