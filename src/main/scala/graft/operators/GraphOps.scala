package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Lineage.pin

/** Graph analytics over edge frames. Connected components (the dedup
  * clusterer) lives with the dedup family in [[graft.llm.Dedup]];
  * this hosts the rank/centrality side. Every iterative operator
  * truncates its per-round lineage with [[graft.llm.Lineage.pin]].
  */
object GraphOps {

  /** Weighted PageRank (Brin & Page 1998) with a FIXED iteration
    * count — the importance/centrality readout over any edge frame
    * (source-citation graphs for corpus curation, user-interaction
    * graphs, entity graphs from linkage):
    * r_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} r_t(u)·w(u,v)/outw(u)
    * + dangling_t/N), with dangling mass (rank parked on nodes
    * without out-edges) redistributed uniformly — the standard
    * stochastic-matrix completion, so Σ r = 1 holds exactly at every
    * iteration. Fixed `iters` (not convergence-tested) keeps the
    * result deterministic and oracle-replayable; parallel edges
    * collapse by summed weight first.
    *
    * Determinism: every float fold (out-weights, contributions,
    * dangling mass) decimal-rounds each term before the exact sum
    * (the dsum discipline), so ranks are partition-invariant and
    * hash cross-engine.
    *
    * Scale shape: the per-iteration work is ONE src-keyed equi-join
    * of the edge frame against the rank frame and ONE dst-keyed
    * fold — the standard distributed PageRank shape (edges never
    * materialize per-pair state beyond themselves). Edge/out-weight
    * frames are materialized once and the rank frame per iteration
    * (Lineage.pin) so the plan stays linear in `iters` instead
    * of re-deriving the edge aggregation exponentially. N rides as a
    * broadcast 1-row frame — no driver collect anywhere. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    import graft.functions.GraftFunctions.dsum
    require(iters >= 1 && iters <= 50,
      s"iters must be in [1,50], got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    val wAgg = weightCol match {
      case Some(c) => dsum(col(c).cast("double"), 12)
      case None    => count(lit(1)).cast("double")
    }
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(wAgg.as("w"))
      .transform(pin)
    val outw = e.groupBy(col("src")).agg(dsum(col("w"), 12).as("__ow"))
    val ew = e.join(outw, Seq("src")).transform(pin)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .transform(pin)
    val nFrame = nodes.agg(count(lit(1)).cast("long").as("__n"))
    // The rank frame CARRIES the per-node dangling flag (r19): the
    // set of nodes without out-edges is fixed, so the per-iteration
    // left_anti join against the out-weight frame (one extra
    // node-keyed shuffle per iteration) collapses to one flag column
    // computed once — the dangling mass becomes a filtered fold over
    // the already-pinned rank frame, and the update joins contrib
    // against ranks itself instead of a separate node frame. Same
    // node set, same dsum folds, byte-identical ranks.
    var ranks = nodes
      .join(outw.select(col("src").as("node"), lit(true).as("__has_out")),
        Seq("node"), "left")
      .crossJoin(broadcast(nFrame))
      .select(col("node"),
        (lit(1.0) / col("__n").cast("double")).as("rank"),
        col("__has_out").isNull.as("__dang"))
      .transform(pin)
    for (_ <- 1 to iters) {
      val dangling = ranks.filter(col("__dang"))
        .agg(coalesce(dsum(col("rank"), 12), lit(0.0)).as("__dm"))
      val contrib = ew
        .join(ranks, ew("src") === ranks("node"))
        .select(col("dst"),
          (col("rank") * col("w") / col("__ow")).as("__c"))
        .groupBy(col("dst")).agg(dsum(col("__c"), 12).as("__sum"))
      ranks = ranks
        .join(contrib, ranks("node") === contrib("dst"), "left")
        .crossJoin(broadcast(nFrame))
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(1.0 - damping) / col("__n").cast("double") +
            lit(damping) * (coalesce(col("__sum"), lit(0.0)) +
              col("__dm") / col("__n").cast("double"))).as("rank"),
          col("__dang"))
        .transform(pin)
    }
    ranks.select(col("node"), col("rank"))
      .orderBy(col("rank").desc, col("node").asc)
  }

  /** Personalized PageRank (the random walk with restart of Haveliwala
    * 2002 / Jeh & Widom 2003): [[pageRank]] with the uniform teleport
    * replaced by restarts into a SEED set — r converges to proximity
    * from the seeds, the "related items" / "expand this entity set"
    * readout a retrieval stack runs over citation or co-occurrence
    * graphs (seeds = the query's entities, ranks = graph-context
    * relevance). Update: r_{t+1}(v) = (1−d)·t(v) + d·(Σ_{u→v}
    * r_t(u)·w/outw(u) + dangling_t·t(v)) with t uniform over
    * seeds ∩ graph nodes — dangling mass restarts into the seeds
    * (the standard RWR completion), so Σ r = 1 at every iteration
    * and rank stays CONCENTRATED near the seeds instead of leaking
    * to the uniform distribution.
    *
    * Same determinism and scale shape as [[pageRank]] (decimal-
    * rounded folds, keyed join + fold per iteration, checkpointed
    * graph-sized frames); the teleport column rides the node frame.
    * Seeds outside the graph are ignored; at least one seed must be
    * a graph node. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      weightCol: Option[String] = None, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    import graft.functions.GraftFunctions.dsum
    require(iters >= 1 && iters <= 50,
      s"iters must be in [1,50], got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0,1), got $damping")
    val wAgg = weightCol match {
      case Some(c) => dsum(col(c).cast("double"), 12)
      case None    => count(lit(1)).cast("double")
    }
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(wAgg.as("w"))
      .transform(pin)
    val outw = e.groupBy(col("src")).agg(dsum(col("w"), 12).as("__ow"))
    val ew = e.join(outw, Seq("src")).transform(pin)
    val nodes0 = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes0, Seq("node"))
      .select(col("node"), lit(true).as("__seed"))
    val sFrame = seedSet.agg(count(lit(1)).cast("long").as("__ns"))
    // The rank frame carries the teleport weight AND the dangling
    // flag (r19, the [[pageRank]] restructure): the per-iteration
    // left_anti join against the out-weight frame collapses to a
    // flag computed once, and the update joins contrib against the
    // rank frame itself. Same node set, same dsum folds,
    // byte-identical ranks.
    val nodes = nodes0.join(seedSet, Seq("node"), "left")
      .join(outw.select(col("src").as("node"), lit(true).as("__has_out")),
        Seq("node"), "left")
      .crossJoin(broadcast(sFrame))
      .select(col("node"),
        when(coalesce(col("__seed"), lit(false)),
          lit(1.0) / col("__ns").cast("double"))
          .otherwise(lit(0.0)).as("__t"),
        col("__has_out").isNull.as("__dang"))
      .transform(pin)
    require(!nodes.where(col("__t") > 0.0).isEmpty,
      "personalizedPageRank: no seed is a node of the graph")
    var ranks = nodes.select(col("node"), col("__t"), col("__dang"),
      col("__t").as("rank")).transform(pin)
    for (_ <- 1 to iters) {
      val dangling = ranks.filter(col("__dang"))
        .agg(coalesce(dsum(col("rank"), 12), lit(0.0)).as("__dm"))
      val contrib = ew
        .join(ranks, ew("src") === ranks("node"))
        .select(col("dst"),
          (col("rank") * col("w") / col("__ow")).as("__c"))
        .groupBy(col("dst")).agg(dsum(col("__c"), 12).as("__sum"))
      ranks = ranks
        .join(contrib, ranks("node") === contrib("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("__t"), col("__dang"),
          (lit(1.0 - damping) * col("__t") +
            lit(damping) * (coalesce(col("__sum"), lit(0.0)) +
              col("__dm") * col("__t"))).as("rank"))
        .transform(pin)
    }
    ranks.select(col("node"), col("rank"))
      .orderBy(col("rank").desc, col("node").asc)
  }

  /** Canonical undirected simple edges: self-loops dropped, endpoints
    * ordered (a < b), parallel/reverse duplicates collapsed. */
  private def undirectedSimple(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  /** Per-node triangle counts and local clustering coefficient over
    * the undirected simple graph — the cohesion readout (community
    * density, spam-farm detection: organic neighborhoods close
    * triangles, synthetic link structures don't). Each triangle
    * a < b < c is enumerated exactly once via the ordered wedge join
    * ((a,b) ⋈ (b,c) then closing on (a,c)); clustering(v) =
    * triangles(v) / C(deg v, 2), null below degree 2.
    *
    * Scale shape: the classic two-join triangle plan — wedge volume
    * Σ deg², both joins node-keyed, per-node counts from a 3-way
    * explode of the triangle frame. Nothing enumerates non-edges. */
  def triangleStats(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = undirectedSimple(edges, srcCol, dstCol).transform(pin)
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("degree"))
    val wedge = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = wedge.join(e.select(col("a").as("x"), col("b").as("z")),
      Seq("x", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val dD = col("degree").cast("double")
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") >= 2L,
          col("n_triangles").cast("double") / (dD * (dD - 1.0) / 2.0)))
      .orderBy(col("node"))
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003, "Friends and
    * neighbors on the web"): for every NON-adjacent pair with at
    * least one common neighbor, score Σ_z 1/ln(deg z) over the common
    * neighbors — rare shared neighbors count more than hubs. The
    * standard "which edge forms next" readout over co-occurrence /
    * interaction graphs, ranked score-descending.
    *
    * Scale shape: one z-keyed wedge join (Σ deg² rows), an edge
    * anti-join, a degree fetch on the middle node, one pair-keyed
    * fold with decimal-rounded 1/ln terms. Common neighbors have
    * degree ≥ 2 by construction, so ln never sees 1. */
  def adamicAdar(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    import graft.functions.GraftFunctions.dsum
    val e = undirectedSimple(edges, srcCol, dstCol).transform(pin)
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("__deg"))
    val wedge = adj.select(col("node").as("z"), col("nbr").as("u"))
      .join(adj.select(col("node").as("z"), col("nbr").as("v")),
        Seq("z"))
      .filter(col("u") < col("v"))
    val open = wedge.join(
      e.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"),
      "left_anti")
    open.join(deg.withColumnRenamed("node", "z"), Seq("z"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("n_common"),
        dsum(lit(1.0) / log(col("__deg").cast("double")), 12)
          .as("aa_score"))
      .orderBy(col("aa_score").desc, col("u").asc, col("v").asc)
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over every edge, both orientations — r > 0
    * means hubs attach to hubs (social-style mixing), r < 0 hubs to
    * leaves (star/infrastructure mixing). The one-number structure
    * readout that says whether a co-occurrence graph is
    * community-like or hub-and-spoke before anything heavier runs.
    * Degenerate graphs (all degrees equal) emit null r.
    *
    * Scale shape: degree frame (node-keyed count), two degree
    * fetches onto the edge frame, ONE moment fold with
    * decimal-rounded terms — no iteration, nothing quadratic. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    import graft.functions.GraftFunctions.dsum
    val e = undirectedSimple(edges, srcCol, dstCol).transform(pin)
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("__deg"))
    val both = adj
      .join(deg, Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("__deg").as("__dn")),
        Seq("nbr"))
      .select(col("__deg").cast("double").as("__x"),
        col("__dn").cast("double").as("__y"))
    val mom = both.agg(
      count(lit(1)).cast("long").as("__m"),
      dsum(col("__x"), 6).as("__sx"), dsum(col("__y"), 6).as("__sy"),
      dsum(col("__x") * col("__y"), 6).as("__sxy"),
      dsum(col("__x") * col("__x"), 6).as("__sxx"),
      dsum(col("__y") * col("__y"), 6).as("__syy"))
    val mD = col("__m").cast("double")
    val cov = col("__sxy") / mD - (col("__sx") / mD) * (col("__sy") / mD)
    val vx = col("__sxx") / mD - (col("__sx") / mD) * (col("__sx") / mD)
    val vy = col("__syy") / mD - (col("__sy") / mD) * (col("__sy") / mD)
    mom.select(
      // Column `/` is double division — cast back for the edge count
      (col("__m") / 2L).cast("long").as("n_edges"),
      when(col("__m") >= 2L && vx > 0.0 && vy > 0.0,
        cov / (sqrt(vx) * sqrt(vy))).as("assortativity"))
  }

  /** Synchronous label propagation communities (Raghavan, Albert &
    * Kumara 2007) made DETERMINISTIC: labels start as node ids; each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label, isolated opinions
    * kept (no neighbors → label unchanged); all nodes update
    * simultaneously from the previous round (sync — the async
    * variant is order-dependent and unreproducible). A FIXED round
    * count keeps it oracle-replayable; communities are the label
    * partition after the last round. The cheap community detector
    * over co-occurrence graphs (co-purchase categories, co-citation
    * clusters) where modularity solvers are overkill.
    *
    * Scale shape: per round ONE node-keyed adj⋈labels join, one
    * (node, label) count, one per-node top-1 window — all keyed on
    * nodes; label frames pinned per round (plan linear in
    * rounds). */
  def labelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    val e = undirectedSimple(edges, srcCol, dstCol).transform(pin)
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .transform(pin)
    val nodes = adj.select(col("node")).distinct().transform(pin)
    var labels = nodes.select(col("node"), col("node").as("label"))
      .transform(pin)
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.select(col("node").as("nbr"),
          col("label").as("__nl")), Seq("nbr"))
        .groupBy(col("node"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
      // top-1 as an AGGREGATE, not a row_number window (r19): min_by
      // over (-count, label) picks the most frequent label with the
      // smallest-label tie-break — identical to the windowed top-1,
      // minus the per-round Sort+Window stage (counts are >= 1, so
      // the negation cannot overflow)
      val pick = votes.groupBy(col("node"))
        .agg(min_by(col("__nl"),
          struct((-col("__c")).as("__negc"), col("__nl"))).as("__new"))
      labels = labels.join(pick, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"))
        .transform(pin)
    }
    labels.orderBy(col("node"))
  }

  /** Bounded-hop BFS distance from a seed set (synchronous min-relax
    * over the undirected graph): distance(v) = fewest edges from any
    * seed, null beyond `maxHops` — the blast-radius readout
    * (contamination spread through a co-occurrence graph, linkage
    * neighborhoods around flagged entities). Deterministic and
    * oracle-replayable: `maxHops` unrolled relax rounds, each
    * dist_i(v) = min(dist_{i−1}(v), 1 + min over neighbors).
    *
    * Scale shape: per round ONE node-keyed adj⋈dist join + a
    * node-keyed min — the LPA/pageRank iteration shape; dist frames
    * pinned per round. Seeds outside the graph are ignored;
    * at least one must be a node. */
  def seedDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1,50], got $maxHops")
    val e = undirectedSimple(edges, srcCol, dstCol).transform(pin)
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
      .transform(pin)
    val nodes = adj.select(col("node")).distinct()
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"))
      .select(col("node"), lit(0L).as("__sd"))
    var dist = nodes.join(seedSet, Seq("node"), "left")
      .select(col("node"), col("__sd").as("distance"))
      .transform(pin)
    require(!dist.where(col("distance").isNotNull).isEmpty,
      "seedDistances: no seed is a node of the graph")
    for (_ <- 1 to maxHops) {
      val relax = adj
        .join(dist.select(col("node").as("nbr"),
          col("distance").as("__nd")), Seq("nbr"))
        .filter(col("__nd").isNotNull)
        .groupBy(col("node"))
        .agg((min(col("__nd")) + 1L).as("__via"))
      dist = dist.join(relax, Seq("node"), "left")
        .select(col("node"),
          least(col("distance"), col("__via")).as("distance"))
        .transform(pin)
    }
    dist.orderBy(col("distance").asc_nulls_last, col("node").asc)
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) with a FIXED
    * iteration count — the bipartite-centrality companion to
    * [[pageRank]]: authority(v) = Σ_{u→v} hub(u)·w, hub(u) =
    * Σ_{u→v} authority(v)·w, each side L1-normalized after its
    * update (sum-to-1 — deterministic, unlike the L2 convention,
    * and exactly replayable in SQL). The readout for directed
    * reference graphs where "points at good things" and "is pointed
    * at by good things" are DIFFERENT qualities — citation/link
    * curation, where PageRank's single score conflates them.
    *
    * Same determinism and scale shape as [[pageRank]]: decimal-
    * rounded term sums, one keyed join + fold per half-step on the
    * collapsed edge frame, score frames pinned per
    * iteration, N and the normalizers ride as broadcast 1-row
    * frames. Nodes with no in-edges hold authority 0 (hubs likewise
    * without out-edges); degenerate graphs where a whole side sums
    * to 0 keep the previous scores rather than dividing by zero. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, iters: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions.dsum
    require(iters >= 1 && iters <= 50,
      s"iters must be in [1,50], got $iters")
    val wAgg = weightCol match {
      case Some(c) => dsum(col(c).cast("double"), 12)
      case None    => count(lit(1)).cast("double")
    }
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(wAgg.as("w"))
      .transform(pin)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .transform(pin)
    val nFrame = nodes.agg(count(lit(1)).cast("long").as("__n"))
    var scores = nodes.crossJoin(broadcast(nFrame))
      .select(col("node"),
        (lit(1.0) / col("__n").cast("double")).as("hub"),
        (lit(1.0) / col("__n").cast("double")).as("auth"))
      .transform(pin)
    // Per half-step the score frame is its own node carrier (r19):
    // the previous auth/hub fallbacks already ride the frame, so the
    // separate node-frame join and the self-join on the previous
    // scores (two extra node-keyed shuffles per half-step) collapse
    // into ONE left join of the fold result onto the score frame.
    // Same node set, same folds, byte-identical scores.
    for (_ <- 1 to iters) {
      val aRaw = e.join(scores, e("src") === scores("node"))
        .select(col("dst"), (col("hub") * col("w")).as("__t"))
        .groupBy(col("dst")).agg(dsum(col("__t"), 12).as("__a"))
      val aSum = aRaw.agg(
        coalesce(dsum(col("__a"), 12), lit(0.0)).as("__as"))
      val withA = scores
        .join(aRaw, scores("node") === aRaw("dst"), "left")
        .crossJoin(broadcast(aSum))
        .select(col("node"), col("hub"),
          when(col("__as") > 0.0,
            coalesce(col("__a"), lit(0.0)) / col("__as"))
            .otherwise(col("auth")).as("auth"))
        .transform(pin)
      val hRaw = e.join(withA, e("dst") === withA("node"))
        .select(col("src"), (col("auth") * col("w")).as("__t"))
        .groupBy(col("src")).agg(dsum(col("__t"), 12).as("__h"))
      val hSum = hRaw.agg(
        coalesce(dsum(col("__h"), 12), lit(0.0)).as("__hs"))
      scores = withA
        .join(hRaw, withA("node") === hRaw("src"), "left")
        .crossJoin(broadcast(hSum))
        .select(col("node"),
          when(col("__hs") > 0.0,
            coalesce(col("__h"), lit(0.0)) / col("__hs"))
            .otherwise(col("hub")).as("hub"),
          col("auth"))
        .transform(pin)
    }
    scores.select(col("node"), col("hub"), col("auth"))
      .orderBy(col("auth").desc, col("node").asc)
  }
}
