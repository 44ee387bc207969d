package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Seam.Pins

/** Distributed graph centrality over an edge table — the crawl- and
  * catalog-prioritization primitive (CommonCrawl ranks its frontier
  * by link centrality; a marketplace ranks products by who buys
  * them). PageRank as iterated relational algebra: no graph runtime,
  * no message passing — each iteration is a join from ranks to edges
  * plus a map-side-combined sum on the destination, exactly the shape
  * Catalyst/AQE already know how to scale (skew-split the hot-page
  * join, combine contributions before the exchange — a celebrity
  * node's in-mass arrives as ≤ #partitions partials, never a row
  * list).
  *
  * Integer-deterministic (the q101/q116 DIV convention): mass starts
  * at `scale DIV n` per node, a node's contribution is
  * `rank DIV out_degree`, and the damped update is
  * `(100-d)·(scale DIV n) DIV 100 + d·in_mass DIV 100` — every value
  * non-negative int64 (in_mass ≤ scale = 10¹²; d·in_mass ≤ 10¹⁴), so
  * the q153 oracle replays all iterations bit-for-bit and the result
  * is independent of partitioning, join order and summation order.
  * Truncation loses mass deterministically — PageRank needs ordering
  * fidelity, not conservation.
  *
  * Dangling nodes (no out-edges): their mass leaks instead of
  * teleporting — deterministic and cheap (redistributing it costs a
  * global scalar per iteration); callers who need conservation
  * symmetrize the edge set (a symmetric graph has no dangling
  * nodes), which is what the q153 query does.
  */
object Graph {

  /** Per-(JVM, edge-plan) materialized loop feeds — the r11 q298
    * lesson generalized (its door re-derived purchase edges per call:
    * 11.7 s → 4.2 s once materialized; r12 applies the same
    * discipline to what the LOOPS re-derive per call): every
    * centrality invocation used to re-pay the edge distinct, the
    * degree census, the (src, dst, out_degree) flows join and the
    * node-spine distinct as in-session pins, so a family
    * of queries over the SAME edge table (q153/q166/q286/q298 on the
    * purchase graph; q294/q299 on its directed half) re-billed ~3
    * shuffles + 2 materializations each. The feeds are a pure
    * function of (edge plan, src, dst, assumeDistinct), so they are
    * written ONCE per JVM to a temp parquet dir and every later call
    * — including from a recycled bench session — re-READS them
    * (parquet-backed lineage is linear by construction, which is all
    * the pins existed to guarantee).
    *
    * Key = the CANONICALIZED analyzed plan's string (exprIds
    * normalized): two reads of the same parquet path — or a temp view
    * over one, the SQL-door shape — canonicalize identically, while
    * any real difference in the edge derivation changes the text.
    * The full string is the key (not its 32-bit hash), so a collision
    * cannot silently serve the wrong graph's feeds. Memoizing by plan
    * accepts the same contract every dir-keyed materialization here
    * accepts: the underlying files must not be rewritten mid-JVM.
    *
    * GATED to file-backed plans: a LocalRelation leaf (a DataFrame
    * built from a Seq) renders WITHOUT its data in the canonicalized
    * string, so two different in-memory graphs with the same schema
    * would collide and the second would silently be served the
    * first's feeds; a LogicalRDD leaf (a checkpointed upstream)
    * carries a per-instance RDD identity, so its key never repeats
    * and the memo would only leak temp dirs. Both fall back to the
    * per-call pin path — exactly the pre-r12 behavior.
    */
  private val feedsMemo = new graft.sources.JvmMemo[String]

  /** A loop's inputs. `flows` is built when first read: only PageRank
    * reads it, so HITS never pins it on the per-call path. */
  private final class Feeds(val e: DataFrame, flowsOf: => DataFrame,
                            val nodes: DataFrame) {
    lazy val flows: DataFrame = flowsOf
  }

  /** The leaf scans' root paths, or None when any leaf is not a
    * file-source relation (the memoization gate). The paths are a
    * MANDATORY key component: a LogicalRelation's CANONICALIZED
    * string renders as `Relation [cols] parquet` — location elided —
    * so two different edge tables with the same schema (the directed
    * and symmetrized purchase graphs) would otherwise collide and
    * HITS would silently run over PageRank's graph (caught by the
    * q294 oracle in r12 development). */
  private def leafPaths(df: DataFrame): Option[Seq[String]] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.isEmpty) None
    else {
      val paths = leaves.map {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              Some(fs.location.rootPaths.map(_.toString).sorted.mkString(";"))
            case _ => None
          }
        case _ => None
      }
      if (paths.forall(_.isDefined)) Some(paths.map(_.get)) else None
    }
  }

  private def loopFeeds(edges: DataFrame, srcCol: String, dstCol: String,
                        assumeDistinct: Boolean): Feeds = {
    val spark = edges.sparkSession
    val paths = leafPaths(edges)
    if (paths.isEmpty) {
      // per-call path (pre-r12 behavior) for plans whose canonical
      // string is not a sound memo key — see the gate note above
      val e0 = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      val e1 = (if (assumeDistinct) e0 else e0.distinct()).pin()
      val nodes = e1.select(col("_src").as("node"))
        .union(e1.select(col("_dst").as("node"))).distinct()
        .pin()
      return new Feeds(e1, e1.join(
        e1.groupBy(col("_src")).agg(count(lit(1)).as("_d")), Seq("_src"))
        .pin(), nodes)
    }
    val key = edges.queryExecution.analyzed.canonicalized.toString +
      paths.get.mkString("|") + s" $srcCol $dstCol $assumeDistinct"
    val dir = feedsMemo.getOrElseCompute(key) {
      val out = java.nio.file.Files
        .createTempDirectory("graft_gfeeds_").toString
      sys.addShutdownHook(graft.sources.AtomicCache
        .deleteRec(java.nio.file.Paths.get(out)))
      val e0 = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      val e1 = if (assumeDistinct) e0 else e0.distinct()
      e1.write.mode("overwrite").parquet(s"$out/e")
      val eR = spark.read.parquet(s"$out/e")
      val deg = eR.groupBy(col("_src")).agg(count(lit(1)).as("_d"))
      // flows carries each edge's out-degree, so a loop's only joins
      // are flows⨝ranks (contribution) and spine⨝inMass (update)
      eR.join(deg, Seq("_src"))
        .write.mode("overwrite").parquet(s"$out/flows")
      eR.select(col("_src").as("node"))
        .union(eR.select(col("_dst").as("node")))
        .distinct().write.mode("overwrite").parquet(s"$out/nodes")
      out
    }
    new Feeds(spark.read.parquet(s"$dir/e"),
      spark.read.parquet(s"$dir/flows"),
      spark.read.parquet(s"$dir/nodes"))
  }

  /** `iters` rounds of damped PageRank over directed `edges`.
    * Duplicate edges count once (the edge set is deduplicated here
    * unless the caller vouches with `assumeDistinct` — multiplicity-
    * weighted ranking is a different operator).
    *
    * Iterated-lineage hygiene (the clusterReps lesson, re-measured
    * here as a 14 s q153 at sf0.1): the naive update references
    * `ranks` twice (out-mass + the left join's spine), so a lazily-
    * composed loop doubles the logical plan every round — 2^iters
    * copies of the caller's edge derivation by the end. Restructured
    * so each round references `ranks` exactly ONCE: the spine is a
    * STATIC `(node, base)` table and contributions flow through a
    * pre-joined `(src, dst, out_degree)` table, both materialized up
    * front. Lineage then grows linearly, the whole loop executes
    * lazily as ONE job (exchanges amortize, no per-round barrier),
    * and only deep runs (> 8 rounds) insert a mid-loop pin,
    * releasing the superseded one. Measured at sf0.1 (1.2 M edges,
    * 3 rounds): 14.1 s → ~4 s.
    *
    * @return (node, score) for every node appearing as a src or dst,
    *         unordered — compose with orderBy/limit for a top-k board
    *         (TakeOrderedAndProject keeps that bounded). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, scale: Long = 1000000000000L,
               dampingPct: Int = 85,
               assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters must be in [1, 20] (each is a full edge shuffle), got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(scale >= 1L && scale <= 1000000000000000L,
      s"scale must be in [1, 1e15] (keeps d*mass int64-safe), got $scale")
    dampedLoop(edges, srcCol, dstCol, iters, dampingPct, assumeDistinct)(
      uniformBase(scale))
  }

  /** The uniform teleport table: `scale div n` on every node. */
  private def uniformBase(scale: Long)(nodes: DataFrame,
                                       nn: DataFrame): DataFrame =
    nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr(s"${scale}L div _n").as("_base"))

  /** PERSONALIZED PageRank: identical damped loop, but the teleport
    * mass lands only on `seeds` (`scale div nSeeds` each; every other
    * node's base is 0) — "centrality as seen from this user segment /
    * crawl frontier", the recommendation and focused-crawl variant.
    * Seeds not present in the graph are ignored (they have no edges
    * to carry mass anyway); seed ids are deduplicated. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 3,
                           scale: Long = 1000000000000L,
                           dampingPct: Int = 85,
                           assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters must be in [1, 20] (each is a full edge shuffle), got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(scale >= 1L && scale <= 1000000000000000L,
      s"scale must be in [1, 1e15] (keeps d*mass int64-safe), got $scale")
    val sd = seeds.select(col(seedCol).as("node")).distinct()
    dampedLoop(edges, srcCol, dstCol, iters, dampingPct, assumeDistinct) {
      (nodes, _) =>
        // count only seeds that exist in the graph, so the per-seed
        // share matches what actually lands
        val inGraph = nodes.join(sd, Seq("node"), "left_semi")
        val ns = inGraph.agg(count(lit(1)).as("_ns"))
        nodes
          .join(inGraph.select(col("node"), lit(1).as("_is_seed")),
            Seq("node"), "left")
          .crossJoin(broadcast(ns))
          .select(col("node"),
            when(col("_is_seed").isNotNull, expr(s"${scale}L div _ns"))
              .otherwise(lit(0L)).as("_base"))
    }
  }

  /** Triangle census over an undirected graph — the clustering /
    * community-density primitive (a co-purchase or co-citation
    * neighborhood with many triangles is a tight cluster; triangle
    * counts also drive clustering coefficients and spam detection).
    * Pure relational algebra: edges are canonicalized to `a < b`
    * (either input orientation accepted, duplicates collapse,
    * self-loops dropped), wedges `e(a,b)⨝e(b,c)` close against
    * `e(a,c)` — each triangle emerges exactly once in `a < b < c`
    * order — and the per-node census explodes the three corners into
    * one map-side-combined count.
    *
    * Scale shape: the wedge join's cardinality is Σ_b deg(b)² — the
    * caller bounds it by thresholding edges first (q169 floors the
    * co-purchase weight), and a celebrity node's wedge fan-out is an
    * AQE-splittable JOIN key, never a window.
    *
    * @return (node, n_triangles) for nodes in ≥ 1 triangle. */
  def triangleCensus(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame =
    triangleCensusCanon(canonEdges(edges, aCol, bCol))

  /** Canonical undirected edge set: `a < b`, orientation/duplicate
    * tolerant, self-loops dropped — the normalization both census
    * operators share. */
  private def canonEdges(edges: DataFrame, aCol: String,
                         bCol: String): DataFrame =
    edges
      .select(least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"))
      .filter(col("_a") =!= col("_b"))
      .distinct()

  private def triangleCensusCanon(canon: DataFrame): DataFrame = {
    val tri = canon.as("x")
      .join(canon.as("y"), col("x._b") === col("y._a"))
      .join(canon.as("z"),
        col("z._a") === col("x._a") && col("z._b") === col("y._b"))
      .select(col("x._a").as("_n1"), col("x._b").as("_n2"),
        col("y._b").as("_n3"))
    tri
      .select(explode(array(col("_n1"), col("_n2"), col("_n3")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node — how close each node's
    * neighborhood is to a clique: `2·T(v)·10⁶ div (deg·(deg−1))` ppm
    * (integer div — engine-exact; 1 000 000 = every neighbor pair
    * closed). Nodes of degree < 2 score 0 (no pair to close); nodes
    * in no triangle still appear (the degree census is the spine).
    * int64-exact while `2·T(v)·10⁶` fits — to ~3·10⁶ degree on a
    * clique-dense node; beyond that, stage the division like the PMI
    * convention.
    *
    * Scale shape: the degree census explodes endpoints into ONE
    * map-side-combined count; triangles via [[triangleCensus]] (the
    * wedge argument there); one left join on the node id.
    *
    * @return (node, degree, n_triangles, cc_ppm). */
  def clusteringCoefficients(edges: DataFrame, aCol: String,
                             bCol: String): DataFrame = {
    val canon = canonEdges(edges, aCol, bCol)
    val deg = canon
      .select(explode(array(col("_a"), col("_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(triangleCensusCanon(canon), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .select(col("node"), col("degree"), col("n_triangles"),
        when(col("degree") < 2L, lit(0L))
          .otherwise(expr(
            "(n_triangles * 2000000L) div (degree * (degree - 1L))"))
          .as("cc_ppm"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the OTHER link
    * centrality: PageRank scores "where a random surfer lands"; HITS
    * separates DIRECTORY pages (hubs — point at good content) from
    * CONTENT pages (authorities — pointed at by good hubs), the
    * asymmetry a crawl scheduler exploits (fetch authorities for the
    * corpus, fetch hubs for DISCOVERY — a high-hub page refills the
    * frontier). Same iterated-relational discipline as [[pageRank]]:
    * each half-step is one join from the opposite score to the edge
    * table plus a map-side-combined sum — no graph runtime.
    *
    * Integer determinism: scores start at `scale` per node and each
    * half-step sum-normalizes back to ≈`scale` total via the integer
    * quotient `raw div greatest(tot div scale, 1)` — one global
    * scalar per half-step (HITS requires normalization; the L2 norm
    * of the textbook is replaced by the sum norm, which steers the
    * same power iteration and stays in int64: raw ≤ n·scale, so
    * `scale ≤ 1e9` keeps every sum exact for n ≤ 9.2e9 nodes).
    * Truncation loses mass deterministically, as in [[pageRank]].
    *
    * @return (node, hub_score, auth_score) for every node appearing
    *         as src or dst; nodes with no in-edges carry auth 0,
    *         no out-edges hub 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, scale: Long = 1000000000L,
           assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters must be in [1, 20] (each is two edge shuffles), got $iters")
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1, 1e9] (keeps n·scale sums int64-safe), got $scale")
    // e and the node spine from the per-JVM feed materialization
    // (see [[feedsMemo]]) — parquet-backed instead of per-call pins
    val feeds = loopFeeds(edges, srcCol, dstCol, assumeDistinct)
    val (e, nodes) = (feeds.e, feeds.nodes)
    // the scores compose lazily over their raw pins, and the returned
    // pair reads the last two; an older raw has fed its successor's pin
    var raws = Vector.empty[DataFrame]
    def step(from: DataFrame, fromCol: String, keyCol: String): DataFrame = {
      val (raw, score) = halfStep(e, nodes, scale, from, fromCol, keyCol)
      raws :+= raw
      if (raws.size > 2) { Seam.release(raws.head); raws = raws.tail }
      score
    }
    var hub = nodes.select(col("node"), lit(scale).as("_s"))
    var auth = nodes.select(col("node"), lit(scale).as("_s"))
    for (_ <- 1 to iters) {
      auth = step(hub, "_src", "_dst")
      hub = step(auth, "_dst", "_src")
    }
    hub.select(col("node"), col("_s").as("hub_score"))
      .join(auth.select(col("node"), col("_s").as("auth_score")),
        Seq("node"))
  }

  /** One HITS half-step: the `from` score summed along `e` onto
    * `keyCol`, pinned, then sum-normalized over the node spine.
    * @return (the raw pin, the normalized score that reads it). */
  private def halfStep(e: DataFrame, nodes: DataFrame, scale: Long,
                       from: DataFrame, fromCol: String,
                       keyCol: String): (DataFrame, DataFrame) = {
    // raw is consumed TWICE (global total + per-node values); the
    // eager pin keeps lineage linear across rounds — without it each
    // half-step doubles the logical plan (the clusterReps lesson).
    // raw is node-sized, so the materialization is cheap.
    val raw = e.join(from, e(fromCol) === from("node"))
      .groupBy(col(keyCol)).agg(sum(col("_s")).as("_r"))
      .pin()
    val tot = raw.agg(greatest(sum(col("_r")), lit(1L)).as("_t"))
    (raw, nodes
      .join(raw, nodes("node") === raw(keyCol), "left")
      .crossJoin(broadcast(tot))
      .select(col("node"),
        expr(s"coalesce(_r, 0L) div greatest(_t div ${scale}L, 1L)")
          .as("_s")))
  }

  /** Multi-hop redirect resolution (VERDICT r11 Missing #3): real
    * crawls follow 301→301→200 chains to a canonical endpoint, and a
    * frontier keyed on the FIRST redirect target re-fetches every
    * intermediate hop as if it were content. Each redirect source
    * resolves to the end of its chain with a HOP CAP and loop
    * detection — the bounded-iteration discipline of [[pageRank]]
    * (each round is one equi-join referencing the chain table once;
    * the plan grows linearly in `hopCap`, a small constant, so no
    * checkpoints are needed).
    *
    * Contract: one target per source (duplicate rows collapse to the
    * lexicographic min — deterministic under retries); a chain longer
    * than `hopCap` — which includes every cycle — stops at the cap
    * with `loop_flag = true` (the standard crawler trap policy:
    * treat it as a trap, do not fetch). `n_hops` counts edges
    * actually followed.
    *
    * @return (start_url, final_url, n_hops, loop_flag) — one row per
    *         redirect SOURCE (intermediate hops are sources too). */
  def resolveRedirects(redirects: DataFrame, srcCol: String,
                       dstCol: String, hopCap: Int = 5): DataFrame = {
    require(hopCap >= 1 && hopCap <= 16,
      s"hopCap must be in [1, 16] (each hop is one join), got $hopCap")
    val e = redirects
      .select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .groupBy(col("_s")).agg(min(col("_d")).as("_d"))
    var chains = e.select(col("_s").as("start_url"), col("_d").as("cur"),
      lit(1L).as("n_hops"))
    for (_ <- 2 to hopCap) {
      val step = e.select(col("_s").as("_js"), col("_d").as("_jd"))
      chains = chains.join(step, chains("cur") === step("_js"), "left")
        .select(col("start_url"),
          coalesce(col("_jd"), col("cur")).as("cur"),
          (col("n_hops") +
            when(col("_jd").isNotNull, 1L).otherwise(0L)).as("n_hops"))
    }
    val more = e.select(col("_s").as("_ms"), lit(true).as("_more"))
    chains.join(more, chains("cur") === more("_ms"), "left")
      .select(col("start_url"), col("cur").as("final_url"),
        col("n_hops"), coalesce(col("_more"), lit(false)).as("loop_flag"))
  }

  /** One damped round: contributions through the pre-joined flows,
    * the teleport spine on the left — shared by the fixed-iteration
    * loop and the convergence-stopped variant so the two can never
    * drift arithmetically. */
  private def dampedUpdate(flows: DataFrame, nodesBase: DataFrame,
                           dampingPct: Int)(ranks: DataFrame): DataFrame = {
    val inMass = flows
      .join(ranks, flows("_src") === ranks("node"))
      .select(col("_dst"), expr("score div _d").as("_c"))
      .groupBy(col("_dst")).agg(sum(col("_c")).as("_m"))
    nodesBase
      .join(inMass, nodesBase("node") === inMass("_dst"), "left")
      .select(col("node"),
        (expr(s"((100L - ${dampingPct}L) * _base) div 100L") +
          expr(s"(${dampingPct}L * coalesce(_m, 0L)) div 100L"))
          .as("score"))
  }

  /** The shared damped-update loop (see [[pageRank]]'s scaladoc for
    * the lineage-hygiene design): `mkBase` builds the static
    * `(node, _base)` teleport table from the node set and its count. */
  private def dampedLoop(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, dampingPct: Int,
                         assumeDistinct: Boolean)(
      mkBase: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // flows and the node spine come from the per-JVM feed
    // materialization (see [[feedsMemo]]) — parquet-backed, so every
    // round's plan bottoms out in a scan and lineage stays linear
    // without per-call pins of the edge set
    val feeds = loopFeeds(edges, srcCol, dstCol, assumeDistinct)
    val (flows, nodes) = (feeds.flows, feeds.nodes)
    val nn = nodes.agg(count(lit(1)).as("_n"))
    // nodesBase differs per variant (uniform vs seeded teleport), so
    // it stays a per-call pin — node-sized, cheap
    val nodesBase = mkBase(nodes, nn).pin()
    var ranks = nodesBase.select(col("node"), col("_base").as("score"))
    var cut = ranks // the last mid-loop pin; the unpinned start frees nothing
    for (i <- 1 to iters) {
      ranks = dampedUpdate(flows, nodesBase, dampingPct)(ranks)
      if (i % 8 == 0 && i < iters) {
        ranks = ranks.pinReplacing(cut)
        cut = ranks
      }
    }
    ranks
  }

  /** CONVERGENCE-STOPPED PageRank (VERDICT r11 stretch): the damped
    * loop with a residual early exit — stop after the round where
    * `max |Δscore| <= epsilon` instead of paying a fixed deep
    * iteration count. The truncating integer update usually damps to
    * an EXACT fixpoint (once a round changes nothing, no later round
    * can — so `epsilon = 0` terminates and the early-stopped result
    * equals any deeper fixed run; GraphSpec pins this at damping 50,
    * fixpoint in 20 rounds), but quantization CAN limit-cycle on some
    * shapes (measured: integer HITS on a skewed bipartite graph
    * orbits with |Δ| ≈ 0.4·scale forever) — `maxIters` is the
    * backstop, and the invariant that always holds is
    * stopped-at-r ≡ fixed-r (identical arithmetic, shared
    * [[dampedUpdate]]).
    *
    * The price of the check is one materialization + one node-sized
    * scalar aggregate PER ROUND (the fixed loop executes lazily as
    * one job) — convergence checking only pays off on runs deep
    * enough that the skipped rounds beat the per-round barrier; for
    * a known-shallow schedule keep [[pageRank]]. Each round's ranks
    * are pinned eagerly (node-sized) and the superseded round is
    * released.
    *
    * @return (scores, rounds actually executed). */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        maxIters: Int = 20, epsilon: Long = 0L,
                        scale: Long = 1000000000000L,
                        dampingPct: Int = 85,
                        assumeDistinct: Boolean = false)
      : (DataFrame, Int) = {
    require(maxIters >= 1 && maxIters <= 50,
      s"maxIters must be in [1, 50], got $maxIters")
    require(epsilon >= 0L, s"epsilon must be >= 0, got $epsilon")
    require(scale >= 1L && scale <= 1000000000000000L,
      s"scale must be in [1, 1e15] (keeps d*mass int64-safe), got $scale")
    val feeds = loopFeeds(edges, srcCol, dstCol, assumeDistinct)
    val (flows, nodes) = (feeds.flows, feeds.nodes)
    val nodesBase =
      uniformBase(scale)(nodes, nodes.agg(count(lit(1)).as("_n"))).pin()
    var ranks = nodesBase.select(col("node"), col("_base").as("score"))
      .pin()
    var rounds = 0
    var done = false
    while (!done && rounds < maxIters) {
      val next = dampedUpdate(flows, nodesBase, dampingPct)(ranks).pin()
      rounds += 1
      if (maxDelta(next, ranks, "score") <= epsilon) done = true
      Seam.release(ranks)
      ranks = next
    }
    (ranks, rounds)
  }

  /** The residual of a convergence-stopped loop: max |Δ`scoreCol`|
    * between two rounds — a node-sized equi-join, one scalar back to
    * the driver (bounded by construction — one row). */
  private def maxDelta(next: DataFrame, prev: DataFrame,
                       scoreCol: String): Long =
    next.join(prev.select(col("node"), col(scoreCol).as("_old")), Seq("node"))
      .agg(coalesce(max(abs(col(scoreCol) - col("_old"))), lit(0L)).as("_d"))
      .head().getLong(0)

  /** CONVERGENCE-STOPPED HITS: [[hits]] with the same residual exit as
    * [[pageRankConverged]] — stop after the round where both score
    * families' max |Δ| <= epsilon, same per-round materialization
    * price. Termination caveat (measured, see [[pageRankConverged]]):
    * the integer sum-normalization quantizes the global divisor, and
    * skewed shapes can limit-cycle instead of reaching Δ = 0 — use a
    * nonzero epsilon (or trust `maxIters`) on unknown graphs;
    * stopped-at-r ≡ fixed-r holds regardless.
    *
    * @return (scores, rounds actually executed). */
  def hitsConverged(edges: DataFrame, srcCol: String, dstCol: String,
                    maxIters: Int = 20, epsilon: Long = 0L,
                    scale: Long = 1000000000L,
                    assumeDistinct: Boolean = false): (DataFrame, Int) = {
    require(maxIters >= 1 && maxIters <= 50,
      s"maxIters must be in [1, 50], got $maxIters")
    require(epsilon >= 0L, s"epsilon must be >= 0, got $epsilon")
    require(scale >= 1L && scale <= 1000000000L,
      s"scale must be in [1, 1e9] (keeps n*scale sums int64-safe), got $scale")
    val feeds = loopFeeds(edges, srcCol, dstCol, assumeDistinct)
    val (e, nodes) = (feeds.e, feeds.nodes)
    // each round's scores are pinned, so their raw pins are free as
    // soon as they land, and a superseded round once the residual has
    // read it
    def pinnedStep(from: DataFrame, fromCol: String,
                   keyCol: String): DataFrame = {
      val (raw, score) = halfStep(e, nodes, scale, from, fromCol, keyCol)
      score.pinReplacing(raw)
    }
    var hub = nodes.select(col("node"), lit(scale).as("_s")).pin()
    var auth = nodes.select(col("node"), lit(scale).as("_s")).pin()
    var rounds = 0
    var done = false
    while (!done && rounds < maxIters) {
      val auth2 = pinnedStep(hub, "_src", "_dst")
      val hub2 = pinnedStep(auth2, "_dst", "_src")
      rounds += 1
      if (math.max(maxDelta(auth2, auth, "_s"),
          maxDelta(hub2, hub, "_s")) <= epsilon) done = true
      Seam.release(hub)
      Seam.release(auth)
      hub = hub2
      auth = auth2
    }
    (hub.select(col("node"), col("_s").as("hub_score"))
      .join(auth.select(col("node"), col("_s").as("auth_score")),
        Seq("node")), rounds)
  }
}
