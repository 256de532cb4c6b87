package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** PageRank over edge frames: conservation, dangling handling,
  * weighted splits, and equality with the literal recursion. */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pageRank: hand two-node graph with a dangling sink, mass conserved") {
    import spark.implicits._
    val e = Seq(("a", "b")).toDF("src", "dst")
    val r1 = GraphOps.pageRank(e, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // N=2, r0=0.5 each; b is dangling (no out-edges): dang=0.5
    // rA = 0.15/2 + 0.85*(0 + 0.5/2) = 0.2875
    // rB = 0.15/2 + 0.85*(0.5 + 0.25) = 0.7125
    assert(math.abs(r1("a") - 0.2875) < 1e-9)
    assert(math.abs(r1("b") - 0.7125) < 1e-9)
    assert(math.abs(r1.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("pageRank: symmetric cycle is uniform; mass conserved over iterations") {
    import spark.implicits._
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    for (it <- Seq(1, 3, 7)) {
      val r = GraphOps.pageRank(cyc, "src", "dst", iters = it)
        .collect().map(_.getDouble(1))
      assert(math.abs(r.sum - 1.0) < 1e-9, s"iter $it: mass conserved")
      assert(r.max - r.min < 1e-12, s"iter $it: cycle stays uniform")
    }
  }

  test("pageRank: weights split contributions proportionally; parallel edges collapse") {
    import spark.implicits._
    // a sends 3/4 of its rank to b, 1/4 to c; b,c return to a
    val e = Seq(("a", "b", 3.0), ("a", "c", 1.0),
      ("b", "a", 1.0), ("c", "a", 1.0)).toDF("src", "dst", "w")
    val r = GraphOps.pageRank(e, "src", "dst", Some("w"), iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // r0 = 1/3 each: rb = 0.05 + 0.85*(1/3*0.75) = 0.2625
    // rc = 0.05 + 0.85*(1/3*0.25) ≈ 0.120833; ra = 0.05 + 0.85*2/3
    assert(math.abs(r("b") - (0.05 + 0.85 * 0.25)) < 1e-9)
    assert(math.abs(r("c") - (0.05 + 0.85 / 12)) < 1e-9)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // unweighted parallel edges count: two a->b edges ≡ weight 2
    val par2 = Seq(("a", "b"), ("a", "b"), ("a", "c"))
      .toDF("src", "dst")
    val rp = GraphOps.pageRank(par2, "src", "dst", iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val w2 = Seq(("a", "b", 2.0), ("a", "c", 1.0)).toDF("src", "dst", "w")
    val rw = GraphOps.pageRank(w2, "src", "dst", Some("w"), iters = 1)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    for (k <- rp.keys) assert(math.abs(rp(k) - rw(k)) < 1e-12)
  }

  test("triangleStats + adamicAdar: hand K4-minus-an-edge values, dup/reverse/self edges collapse") {
    import spark.implicits._
    // K4 on {1..4} minus edge (3,4); plus a reverse dup and a self-loop
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (2L, 1L), (3L, 3L)).toDF("s", "d")
    val tri = GraphOps.triangleStats(e, "s", "d")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_
          .asInstanceOf[Double])))).toMap
    // triangles: (1,2,3) and (1,2,4)
    assert(tri(1L) == ((3L, 2L, Some(2.0 / 3))))
    assert(tri(2L) == ((3L, 2L, Some(2.0 / 3))))
    assert(tri(3L) == ((2L, 1L, Some(1.0))))
    assert(tri(4L) == ((2L, 1L, Some(1.0))))
    val aa = GraphOps.adamicAdar(e, "s", "d").collect()
    // only non-adjacent pair with common neighbors: (3,4) via {1,2}
    assert(aa.length == 1)
    val r = aa.head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getAs[Long]("n_common") == 2L)
    assert(math.abs(r.getAs[Double]("aa_score") - 2.0 / math.log(3.0))
      < 1e-9)
    // a path graph has no triangles: everything 0 / null coefficients
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val pt = GraphOps.triangleStats(path, "s", "d").collect()
    assert(pt.forall(_.getLong(2) == 0L))
    assert(pt.filter(_.getLong(1) < 2).forall(_.isNullAt(3)))
  }

  test("degreeAssortativity: star is maximally disassortative, regular graph null, hand path value") {
    import spark.implicits._
    // star: center deg 3, leaves deg 1 → perfectly disassortative
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val rs = GraphOps.degreeAssortativity(star, "s", "d").collect().head
    assert(rs.getLong(0) == 3L)
    assert(math.abs(rs.getDouble(1) - (-1.0)) < 1e-9,
      s"star r = ${rs.getDouble(1)}")
    // cycle: every degree 2 → zero variance → null
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val rc = GraphOps.degreeAssortativity(cyc, "s", "d").collect().head
    assert(rc.getLong(0) == 3L && rc.isNullAt(1))
    // path 1-2-3: degrees 1,2,1; directed pairs (1,2),(2,1),(2,1),(1,2)
    // ... i.e. (x,y) ∈ {(1,2),(2,1)}×2 → r = -1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val rp = GraphOps.degreeAssortativity(path, "s", "d").collect().head
    assert(math.abs(rp.getDouble(1) - (-1.0)) < 1e-9)
  }

  test("seedDistances: path-graph hops, multi-seed min, beyond-horizon null") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val one = GraphOps.seedDistances(path, "s", "d",
      Seq(1L).toDF("id"), "id", maxHops = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(one == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> Some(3L), 5L -> None), one.toString)
    val two = GraphOps.seedDistances(path, "s", "d",
      Seq(1L, 5L, 99L).toDF("id"), "id", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L),
      two.toString)
    intercept[IllegalArgumentException] {
      GraphOps.seedDistances(path, "s", "d",
        Seq(99L).toDF("id"), "id")
    }
  }

  test("labelPropagation: bridged triangles settle into two communities, runs deterministic") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("s", "d")
    val out = GraphOps.labelPropagation(e, "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val left = Set(1L, 2L, 3L).map(out)
    val right = Set(10L, 11L, 12L).map(out)
    assert(left.size == 1, s"left triangle must agree: $out")
    assert(right.size == 1, s"right triangle must agree: $out")
    assert(left != right, s"bridge must not merge the communities: $out")
    val again = GraphOps.labelPropagation(e, "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again, "sync LPA must be deterministic")
    intercept[IllegalArgumentException] {
      GraphOps.labelPropagation(e, "s", "d", rounds = 0)
    }
  }

  test("marketBasket pairRules: hand support/confidence/lift, dup rows collapse, mega-basket excluded") {
    import spark.implicits._
    // baskets: {x,y} ×3, {x,z}, {y}, plus a dup row and a mega-basket
    val rows = Seq(
      (1L, "x"), (1L, "y"), (1L, "y"),       // dup (1,y) collapses
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "y"),
      (4L, "x"), (4L, "z"),
      (5L, "y")) ++
      (1 to 50).map(i => (99L, s"m$i"))      // mega-basket, excluded
    val out = graft.operators.MarketBasket.pairRules(
      rows.toDF("basket", "item"), "basket", "item",
      minPairCount = 2L, maxBasketSize = 10)
      .collect()
    // only (x,y) reaches pair_count >= 2; mega-basket items never pair
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getString(0) == "x" && r.getString(1) == "y")
    assert(r.getAs[Long]("pair_count") == 3L)
    assert(r.getAs[Long]("count_a") == 4L && r.getAs[Long]("count_b") == 4L)
    // nb = 5 kept baskets: support 3/5; conf 3/4 both ways;
    // lift = (3/5)/((4/5)(4/5)) = 15/16
    assert(math.abs(r.getAs[Double]("support") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("conf_a_to_b") - 0.75) < 1e-12)
    assert(math.abs(r.getAs[Double]("conf_b_to_a") - 0.75) < 1e-12)
    assert(math.abs(r.getAs[Double]("lift") - 15.0 / 16) < 1e-12)
    intercept[IllegalArgumentException] {
      graft.operators.MarketBasket.pairRules(
        rows.toDF("basket", "item"), "basket", "item", minPairCount = 0L)
    }
  }

  test("personalizedPageRank: concentrates near seeds, equals the literal restart recursion") {
    import spark.implicits._
    // two loosely-coupled triangles; seed in the left one
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("id")
    val got = GraphOps.personalizedPageRank(edges, "src", "dst",
      seeds, "id", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conserved")
    assert(got("a") > got("x") && got("b") > got("y"),
      s"rank must concentrate near the seed: $got")
    // literal recursion replay (c splits out-weight between a and x)
    val adj = Map("a" -> Seq("b"), "b" -> Seq("c"),
      "c" -> Seq("a", "x"), "x" -> Seq("y"), "y" -> Seq("z"),
      "z" -> Seq("x"))
    val nodes = Seq("a", "b", "c", "x", "y", "z")
    val tV = nodes.map(v => v -> (if (v == "a") 1.0 else 0.0)).toMap
    var rank = tV
    for (_ <- 1 to 3) {
      val dang = nodes.filterNot(adj.contains).map(rank).sum
      val contrib = nodes.map { v =>
        v -> nodes.filter(u => adj.getOrElse(u, Nil).contains(v))
          .map(u => rank(u) / adj(u).size).sum
      }.toMap
      rank = nodes.map(v =>
        v -> (0.15 * tV(v) + 0.85 * (contrib(v) + dang * tV(v)))).toMap
    }
    for (v <- nodes)
      assert(math.abs(got(v) - rank(v)) < 1e-9, s"node $v")
    // seeds outside the graph are ignored (q stays a valid seed)
    val got2 = GraphOps.personalizedPageRank(edges, "src", "dst",
      Seq("a", "nope").toDF("id"), "id", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (v <- nodes) assert(math.abs(got2(v) - got(v)) < 1e-12)
    // all seeds outside the graph fail loudly
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(edges, "src", "dst",
        Seq("nope").toDF("id"), "id")
    }
  }

  test("hits: star graph separates hubs from authorities; L1 normalized") {
    import spark.implicits._
    val e = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = GraphOps.hits(e, "src", "dst", iters = 3)
      .collect().map(x => x.getString(0) ->
        ((x.getDouble(1), x.getDouble(2)))).toMap
    // c is the sole authority; a, b are the (equal) hubs
    assert(math.abs(r("c")._2 - 1.0) < 1e-9 && r("c")._1 == 0.0)
    assert(math.abs(r("a")._1 - 0.5) < 1e-9 && r("a")._2 == 0.0)
    assert(math.abs(r("b")._1 - 0.5) < 1e-9)
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-9, "hubs sum 1")
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-9, "auths sum 1")
  }

  test("hits: equals the literal normalized recursion on a weighted digraph") {
    import spark.implicits._
    val edges = Seq(("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
      ("c", "a", 3.0), ("d", "c", 1.0)).toDF("src", "dst", "w")
    val got = GraphOps.hits(edges, "src", "dst", Some("w"), iters = 3)
      .collect().map(x => x.getString(0) ->
        ((x.getDouble(1), x.getDouble(2)))).toMap
    val out = Map("a" -> Seq(("b", 2.0), ("c", 1.0)),
      "b" -> Seq(("c", 1.0)), "c" -> Seq(("a", 3.0)),
      "d" -> Seq(("c", 1.0)))
    val nodes = Seq("a", "b", "c", "d")
    var hub = nodes.map(_ -> 0.25).toMap
    var auth = nodes.map(_ -> 0.25).toMap
    for (_ <- 1 to 3) {
      val aRaw = nodes.map(v => v -> out.toSeq.flatMap { case (u, es) =>
        es.filter(_._1 == v).map(_._2 * hub(u)) }.sum).toMap
      val aSum = aRaw.values.sum
      auth = nodes.map(v => v ->
        (if (aSum > 0) aRaw(v) / aSum else auth(v))).toMap
      val hRaw = nodes.map(u => u -> out.getOrElse(u, Nil)
        .map { case (v, w) => w * auth(v) }.sum).toMap
      val hSum = hRaw.values.sum
      hub = nodes.map(u => u ->
        (if (hSum > 0) hRaw(u) / hSum else hub(u))).toMap
    }
    for (v <- nodes) {
      assert(math.abs(got(v)._1 - hub(v)) < 1e-9, s"hub $v")
      assert(math.abs(got(v)._2 - auth(v)) < 1e-9, s"auth $v")
    }
    intercept[IllegalArgumentException] {
      GraphOps.hits(edges, "src", "dst", iters = 0)
    }
  }

  test("pageRank: equals the literal recursion on a small digraph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "c")).toDF("src", "dst")
    val got = GraphOps.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // driver-side replication
    val adj = Map("a" -> Seq("b", "c"), "b" -> Seq("c"),
      "c" -> Seq("a"), "d" -> Seq("c"))
    val nodes = Seq("a", "b", "c", "d")
    var rank = nodes.map(_ -> 0.25).toMap
    for (_ <- 1 to 3) {
      val dang = nodes.filterNot(adj.contains).map(rank).sum
      val contrib = nodes.map { v =>
        v -> nodes.filter(u => adj.getOrElse(u, Nil).contains(v))
          .map(u => rank(u) / adj(u).size).sum
      }.toMap
      rank = nodes.map(v =>
        v -> (0.15 / 4 + 0.85 * (contrib(v) + dang / 4))).toMap
    }
    for (v <- nodes)
      assert(math.abs(got(v) - rank(v)) < 1e-9, s"node $v: ${got(v)} vs ${rank(v)}")
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, "src", "dst", damping = 1.0)
    }
  }

  test("checkpointDir: reliable-checkpoint path equals the localCheckpoint path, scoped dir restored") {
    import spark.implicits._
    // a small graph that exercises dangling mass (pageRank), ties
    // (labelPropagation), and multi-hop relaxation (seedDistances)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e")).toDF("src", "dst")
    val seeds = Seq("a").toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graphckpt").toString
    val before = spark.sparkContext.getCheckpointDir
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // the reliable path: the context's checkpoint dir set around the call
    def reliable(df: => org.apache.spark.sql.DataFrame): Seq[String] =
      TestSpark.withCheckpointDir(dir)(rows(df))
    try {
      assert(reliable(GraphOps.pageRank(edges, "src", "dst", iters = 3)) ==
        rows(GraphOps.pageRank(edges, "src", "dst", iters = 3)))
      assert(reliable(GraphOps.labelPropagation(edges, "src", "dst",
        rounds = 3)) ==
        rows(GraphOps.labelPropagation(edges, "src", "dst", rounds = 3)))
      assert(reliable(GraphOps.seedDistances(edges, "src", "dst", seeds,
        "id", maxHops = 3)) ==
        rows(GraphOps.seedDistances(edges, "src", "dst", seeds, "id",
          maxHops = 3)))
      assert(reliable(GraphOps.hits(edges, "src", "dst", iters = 2)) ==
        rows(GraphOps.hits(edges, "src", "dst", iters = 2)))
      // the reliable path actually WROTE checkpoints
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "checkpoint dir must be used")
      // and the session's global checkpoint setting is untouched
      assert(spark.sparkContext.getCheckpointDir == before,
        "scoped dir must be restored")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
