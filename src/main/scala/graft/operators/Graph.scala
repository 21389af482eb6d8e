package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relational edge tables — the
  * library algorithms of the reference's graph API (flink-gelly:
  * `TriangleEnumerator.java`, `LabelPropagation.java`; the iteration
  * engines behind them are covered by [[Iterations]]). Here a graph is
  * just a DataFrame of undirected canonical edges `(a, b)` with
  * `a < b`, so every algorithm is joins + aggregations Catalyst can
  * plan — no vertex-centric runtime required.
  */
object Graph {

  /** Undirected co-occurrence edges from entity×block membership — the
    * classic "users who acted in the same context" graph constructor,
    * with the two levers that keep it bounded at 100 TB:
    *
    *  - `blockCap` drops blocks with more than `cap` members BEFORE
    *    pair generation (a hot block is non-discriminative anyway and
    *    its pair count is quadratic — the same df-cap discipline as
    *    [[Dedup.jaccardPairs]]' inverted index), so the pair join is
    *    an equi-join on the block key with ≤ cap² output per block,
    *    never a cartesian;
    *  - `minSupport` keeps only pairs co-occurring in ≥ that many
    *    blocks, turning incidental co-presence into an edge signal.
    *
    * Input: one row per (block..., id) membership (deduplicated
    * internally). Output: canonical edges (a, b), a < b.
    */
  def coOccurrenceEdges(members: DataFrame, blockCols: Seq[String], idCol: String,
      blockCap: Int, minSupport: Int): DataFrame = {
    val bc = blockCols.map(col)
    // the membership table is read by its own cap aggregate and the
    // capped table by BOTH sides of the pair join — stage each once, or
    // every graph query pays four source evaluations per constructor
    val m = Funnel.stageLazy(members.select(bc :+ col(idCol).as("id"): _*).distinct())
    val kept = Funnel.stageLazy(m.join(
      m.groupBy(bc: _*).agg(count(lit(1)).as("n")).filter(col("n") <= blockCap)
        .drop("n"),
      blockCols))
    kept.select(bc :+ col("id").as("a"): _*)
      .join(kept.select(bc :+ col("id").as("b"): _*), blockCols)
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
      .select(col("a"), col("b"))
  }

  /** Per-node triangle count + local clustering coefficient via the
    * degree-ordered (compact-forward) algorithm (ref: flink-gelly
    * `TriangleEnumerator.java:66` — the same edge-orientation-by-degree
    * idea; Suri & Vassilvitskii 2011): orient every edge from its
    * lower (degree, id) endpoint to the higher, build wedges by
    * joining oriented edges on their source, close each wedge with one
    * semi-probe of the oriented edge set. Orientation bounds wedge
    * fan-out by O(E^1.5) overall instead of Σ deg² — the "curse of the
    * last reducer" fix that makes triangle counting survive skewed
    * degree distributions at scale. Each triangle is produced exactly
    * once (its vertices appear in (deg, id) order).
    *
    * Output: (node, degree, tri_cnt, coeff) with coeff =
    * 2·tri/(deg·(deg−1)) rounded to 6, 0.0 below degree 2.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // one materialization of the (possibly expensive) edge constructor:
    // both the degree aggregate and the orientation join read it
    val e = Funnel.stageLazy(edges.select(col("a"), col("b")))
    val deg = Funnel.stageLazy(e
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg")))
    val dj = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val oriented = Funnel.stageLazy(dj.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd")))
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw")), "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("n1"), col("v").as("n2"), col("w").as("n3"))
    val perNode = tris
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("node"), col("deg").cast("long").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("long").as("tri_cnt"))
      .withColumn("coeff", when(col("degree") < 2, lit(0.0))
        .otherwise(round((col("tri_cnt") * 2).cast("double")
          / (col("degree") * (col("degree") - 1)).cast("double"), 6)))
  }

  /** Connected components over an undirected edge table (ref:
    * flink-gelly `ConnectedComponents.java:48` — the library algorithm
    * its iterate-delta engine exists for; [[Iterations.deltaIterate]]
    * covers the engine itself). Delegates to
    * [[Components.minLabelStar]] — alternating large-star/small-star
    * contraction, O(log n) rounds on any graph shape including the
    * long-path chains where plain neighborhood-min contraction
    * degenerates to Θ(diameter) rounds. Output: (node, component) with
    * component = the minimum node id in the component.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 40): DataFrame =
    Components.minLabelStar(
      edges.select(col("a").as("da"), col("b").as("db")),
      nodes, maxIter)
      .select(col("id").as("node"), col("lbl").as("component"))

  /** k-core of an undirected edge table by synchronous peeling
    * (Seidman 1983 coreness; the distributed form is the obvious
    * parallel peel: drop every node whose degree is below k, restrict
    * the edge set to surviving endpoints, repeat). Runs at most
    * `rounds` peels with an early exit on fixpoint — the edge COUNT is
    * the fixpoint signature, since an unchanged count means no node
    * was dropped, the degree multiset is unchanged, and the next peel
    * is identical. Peeling is monotone (rounds past the fixpoint are
    * no-ops), so the early-exited result is IDENTICAL to running all
    * `rounds` unconditionally — which is exactly what the unrolled SQL
    * oracle replays, making the equality contract unconditional rather
    * than convergence-dependent. Per round: one node-keyed degree
    * aggregate + two left-semi joins against the ≤|V|-row alive set;
    * the surviving edge frame stages each round so driver-side lineage
    * stays linear and the per-round shuffle is edge-keyed, never
    * quadratic. Returns the surviving canonical edges (a, b).
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = Funnel.stageLazy(edges.select(col("a"), col("b")))
    var last = -1L
    var cnt = e.count()
    var r = 0
    while (r < rounds && cnt != last) {
      last = cnt
      val alive = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("v"))
      e = Funnel.stageLazy(e
        .join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      cnt = e.count()
      r += 1
    }
    e
  }

  /** Synchronous label propagation (ref: flink-gelly
    * `LabelPropagation.java:47` — "takes the most frequent label among
    * neighbors", scatter-gather): labels init to the node id; each
    * round every node adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label (the deterministic
    * tie-break the reference's min-comparison update also yields).
    * Each round is one neighbor join + one (node, label) count + one
    * `max_by` argmax over `struct(cnt, -label)` — all map-side-partial
    * aggregations on node-keyed exchanges; per-round results stage so
    * the loop's lineage stays linear ([[Iterations]] discipline).
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val nbrs = Funnel.stageLazy(edges.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    var labels = nbrs.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = Funnel.stageLazy(nbrs
        .join(labels.select(col("node").as("v"), col("label")), "v")
        .groupBy("u", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("u").agg(expr("max_by(label, struct(cnt, -label))").as("label"))
        .select(col("u").as("node"), col("label")))
    }
    labels
  }

  /** Fixed-round Bellman–Ford single-source shortest paths (ref:
    * flink-gelly `SingleSourceShortestPaths.java` — the Gelly
    * quickstart's scatter-gather iteration: scatter `dist + w` along
    * edges, gather `min`). `edges` carries (a, b, w) undirected;
    * `source` is a ONE-ROW (node, d=0) frame (a broadcastable
    * aggregate, never a collected scalar). Each of the `rounds`
    * synchronous relaxations is one node-keyed join + one min
    * aggregate, staged so the loop's lineage stays linear. Fixed
    * rounds rather than convergence detection, so an oracle can unroll
    * the identical recurrence; nodes not reached within `rounds` hops
    * are absent (their distance is the recurrence's, not ∞-filled).
    */
  def sssp(edges: DataFrame, source: DataFrame, rounds: Int): DataFrame = {
    val und = Funnel.stageLazy(edges.select(explode(array(
        struct(col("a").as("u"), col("b").as("v"), col("w")),
        struct(col("b").as("u"), col("a").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w")))
    // DELTA relaxation (r14 opt): only nodes whose distance IMPROVED
    // last round can improve a neighbor this round (an unchanged u
    // already offered dist(u)+w in the round it last changed), so each
    // round expands edges from the changed set instead of re-joining
    // the whole distance table against the adjacency. The computed
    // dist_k(v) = min over ≤k-edge paths is IDENTICAL to the dense
    // recurrence the oracle unrolls — standard Bellman–Ford delta
    // equivalence by induction on rounds.
    var dist = source.select(col("node"), col("d"))
    var changed = dist
    for (_ <- 1 to rounds) {
      val relax = changed.select(col("node").as("u"), col("d"))
        .join(und, "u")
        .groupBy(col("v").as("node")).agg(min(col("d") + col("w")).as("nd"))
      // one staged frame serves both the new distance table and the
      // changed set (a full-scan projection + a filter of the same join)
      val both = Funnel.stageLazy(dist.join(relax, Seq("node"), "full"))
      dist = both.select(col("node"),
        when(col("d").isNotNull && (col("nd").isNull || col("d") <= col("nd")),
          col("d")).otherwise(col("nd")).as("d"))
      changed = both
        .filter(col("d").isNull || (col("nd").isNotNull && col("nd") < col("d")))
        .select(col("node"), col("nd").as("d"))
    }
    dist
  }

  /** Multi-source BFS: per-(seed, node) hop distance after `rounds`
    * synchronous relaxations (the k-source device behind the
    * Eppstein–Wang style centrality approximations — one frame carries
    * ALL seeds, so k sources cost one loop, not k). State is
    * (seed, node) pairs reached so far — bounded by k·|V|; each round
    * is one node-keyed exchange.
    */
  def msBfs(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val und = Funnel.stageLazy(edges.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    // FRONTIER form (r14 opt): the min-plus union-and-reaggregate shape
    // re-walked every reached node's edges every round — Θ(rounds · k·|E|)
    // join rows once the graph saturates (these co-occurrence graphs
    // reach almost everything within 2-3 hops). Synchronous BFS reaches
    // each (seed, node) at exactly its hop distance, so expanding ONLY
    // the newly-reached frontier and dropping already-visited candidates
    // yields the identical (seed, node, d) table while each edge is
    // walked once per seed TOTAL. A candidate neighbors a level-(k−1)
    // node, so its level is ≥ k−2: the anti-join only needs the last
    // TWO levels, keeping the exclusion side bounded instead of the
    // whole accumulated visited set.
    var levels = List(Funnel.stageLazy(
      seeds.select(col("seed"), col("seed").as("node"), lit(0L).as("d"))))
    for (k <- 1 to rounds) {
      val seen = levels.take(2).map(_.select(col("seed"), col("node")))
        .reduce(_ unionByName _)
      val frontier = Funnel.stageLazy(levels.head
        .select(col("seed"), col("node").as("u"))
        .join(und, "u")
        .select(col("seed"), col("v").as("node"))
        .distinct()
        .join(seen, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(k.toLong).as("d")))
      levels ::= frontier
    }
    levels.reduce(_ unionByName _)
  }

  /** Center→neighbor adjacency, both directions, from canonical
    * undirected edges — the shared input of the neighbor-similarity
    * measures below.
    */
  /** Personalized PageRank (the random-walk-with-restart relevance
    * score of Page et al. 1999 §6 / Jeh & Widom 2003's personalization
    * view) over the undirected edge set, restarting at `seeds`: the
    * "related entities" primitive behind people-you-may-know and
    * seed-expansion labeling. d = 0.85, `rounds` power iterations.
    *
    * The ENTIRE mass walk is 64-bit integer arithmetic: ranks live in
    * 1e-9 units (Σ ≈ 1e9), each edge carries floor(r9 / deg), the damp
    * step is (s9·85) div 100, and the restart adds 15e7 div |S| on
    * seeds — no cross-row float sum exists anywhere, so the oracle
    * replays the walk exactly at ANY graph size (the betweenness
    * quantized-recurrence discipline; floor leaks ≤1 unit per edge per
    * round, irrelevant to a relevance ORDERING). The state is SPARSE —
    * only nodes with nonzero rank materialize, so early rounds touch
    * only the seeds' neighborhoods (the production PPR locality story);
    * each round is one join + one dst-keyed integer aggregation.
    *
    * Output: (node, r9, rank) for r9 > 0 — exact integer units plus
    * the rounded double readout.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val dir = Funnel.stageLazy(edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct())
    val degd = Funnel.stageLazy(
      dir.join(dir.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
    val sd = Funnel.stageLazy(seeds.select(col("node"), lit(1L).as("sflag")))
    val ns = sd.agg(count(lit(1)).as("ns"))
    val init = sd.crossJoin(broadcast(ns))
      .select(col("node"), expr("1000000000L DIV ns").as("r9"))
    val result = Iterations.loop(init, maxIter = rounds, checkpointEvery = 1) { p =>
      val inbound = p.join(degd, p("node") === degd("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r9 DIV deg")).as("m9"))
      inbound.join(sd, Seq("node"), "full")
        .crossJoin(broadcast(ns))
        .select(col("node"),
          (expr("(coalesce(m9, 0L) * 85) DIV 100")
            + when(col("sflag").isNotNull, expr("150000000L DIV ns"))
              .otherwise(0L)).as("r9"))
        .filter(col("r9") > 0)
    }
    result.select(col("node"), col("r9"),
      round(col("r9") / lit(1e9), 6).as("rank"))
  }

  private def neighbors(edges: DataFrame): DataFrame =
    Funnel.stageLazy(edges.select(explode(array(
        struct(col("a").as("c"), col("b").as("n")),
        struct(col("b").as("c"), col("a").as("n")))).as("e"))
      .select(col("e.c").as("c"), col("e.n").as("n")))

  /** Sampled Brandes betweenness centrality (Brandes 2001 accumulation,
    * Brandes–Pich 2007 pivot sampling), TRUNCATED at `rounds` hops (the
    * same horizon argument as the harmonic k-source BFS: exact all-pairs
    * Brandes is O(V·E) and does not survive 100×; a fixed pivot set and
    * radius do). Two level-synchronous passes, all DataFrame joins:
    *
    *  1. a FUSED frontier BFS (r14 opt) carrying hop distance and
    *     shortest-path count together: level k's frame holds the nodes
    *     first reached at hop k with σ(seed, v) = Σ over predecessors
    *     at level k−1, DECIMAL(38,0) (path counts explode
    *     combinatorially long before they overflow 38 digits);
    *  2. dependency accumulation descending by level with the
    *     QUANTIZED recurrence D(v) = Σ_w floor(σ_v·(10⁶ + D_w) / σ_w)
    *     over shortest-path-DAG successors w. Flooring each summand to
    *     integer micro-units keeps every cross-row sum an integer sum
    *     (a raw double δ accumulation would be addend-order-sensitive
    *     across engines), at the cost of ≤1 micro-unit per edge —
    *     quantization the oracle replays EXACTLY.
    *
    * Emitted bc = Σ_seeds D(seed, v) for v ≠ seed, in micro-units and
    * as a double. Level-`rounds` frontier nodes have D = 0 (the
    * truncation boundary).
    */
  def betweennessSampled(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val d38 = "decimal(38,0)"
    val und = Funnel.stageLazy(edges.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    // FUSED distance + sigma BFS (r14 opt): the old shape ran msBfs
    // (re-aggregating the whole accumulated dist table each round) and
    // then a second per-level loop that re-joined each level's sigma
    // frame against the dist table. One frontier loop computes BOTH:
    // level k's nodes are exactly the round-k candidates not seen at
    // levels k−1 / k−2 (a neighbor of a level-(k−1) node has level
    // ≥ k−2, so the anti-join's exclusion side is two bounded frames,
    // not the accumulated set), and each one's sigma is the sum of its
    // level-(k−1) predecessors' sigmas — the identical per-level σ
    // recurrence, in half the exchanges and with each edge expanded
    // once per seed total instead of once per round.
    val sigs = scala.collection.mutable.ArrayBuffer(
      Funnel.stageLazy(seeds.select(col("seed"), col("seed").as("node"),
        lit(1L).cast(d38).as("sig"))))
    for (k <- 1 to rounds) {
      val seen = (if (k >= 2) Seq(sigs(k - 1), sigs(k - 2)) else Seq(sigs(k - 1)))
        .map(_.select(col("seed"), col("node"))).reduce(_ unionByName _)
      sigs += Funnel.stageLazy(sigs(k - 1)
        .select(col("seed"), col("node").as("u"), col("sig"))
        .join(und, "u")
        .select(col("seed"), col("v").as("node"), col("sig"))
        .groupBy("seed", "node").agg(sum("sig").cast(d38).as("sig"))
        .join(seen, Seq("seed", "node"), "left_anti"))
    }
    // dependency, descending levels; level `rounds` is the truncation
    // boundary. Each level's frame carries ITS OWN sigma alongside dw
    // (r14 opt): the old shape re-joined sigs(k+1) against dep every
    // level just to zip (sigw, dw) over the same key set — both frames
    // were exactly level k+1 — which was one redundant exchange per
    // level. Identical arithmetic, one fewer join each round.
    var dep = sigs(rounds).select(col("seed"), col("node"),
      col("sig").as("sigw"), lit(0L).as("dw"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (k <- (rounds - 1) to 0 by -1) {
      val succ = dep.select(col("seed"), col("node").as("w"), col("sigw"), col("dw"))
      val contrib = sigs(k)
        .select(col("seed"), col("node"), col("sig").as("sigv"))
        .join(und.select(col("u").as("node"), col("v").as("w")), "node")
        .join(succ, Seq("seed", "w"))
        .groupBy("seed", "node")
        .agg(sum(expr(
          "(CAST(sigv AS DECIMAL(38,0)) * CAST(1000000 + dw AS DECIMAL(38,0))) div CAST(sigw AS DECIMAL(38,0))"))
          .as("s"))
      val dK = Funnel.stageLazy(sigs(k).select(col("seed"), col("node"), col("sig"))
        .join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sig").as("sigw"),
          coalesce(col("s"), lit(0L)).cast("long").as("dw")))
      acc += dK.select(col("seed"), col("node"), col("dw"))
      dep = dK
    }
    acc.reduce(_ unionByName _)
      .filter(col("node") =!= col("seed"))
      .groupBy("node")
      .agg(sum("dw").cast("long").as("bc1e6"))
      .select(col("node"), col("bc1e6"),
        (col("bc1e6").cast("double") / 1e6).as("bc"))
      .orderBy("node")
  }

  /** Fixed-round HITS (hubs & authorities) over DIRECTED edges
    * `(src, dst)` — ref: flink-gelly `HITS.java:90` (the link-analysis
    * library algorithm, authorities-then-hubs per superstep). Scores are
    * kept as UNNORMALIZED integer path counts (init 1;
    * auth_k(v) = Σ_{u→v} hub_{k−1}(u); hub_k(u) = Σ_{u→v} auth_k(v)):
    * per-round normalization only rescales each vector by a scalar, so
    * dividing ONCE at the end by the column sum yields the identical
    * normalized scores while every intermediate stays integer-exact —
    * the same DuckDB-replays-bit-for-bit discipline as the sketch layer.
    * Each round is two node-keyed exchanges; state is node-linear.
    * Counts grow like (2|E|)^rounds, so the few fixed rounds an oracle
    * unrolls stay far inside BIGINT.
    *
    * Output: (node, hub_c, auth_c, hub_n, auth_n) — raw counts plus
    * sum-normalized doubles rounded to 6 (exact integer inputs make the
    * division deterministic across engines).
    */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    val e = Funnel.stageLazy(edges.select(col("src"), col("dst")).distinct())
    val nodes = Funnel.stageLazy(
      e.select(explode(array(col("src"), col("dst"))).as("node")).distinct())
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth = nodes.select(col("node"), lit(1L).as("auth"))
    for (_ <- 1 to rounds) {
      auth = Funnel.stageLazy(nodes
        .join(e.join(hub.select(col("node").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("node")).agg(sum("hub").as("x")), Seq("node"), "left")
        .select(col("node"), coalesce(col("x"), lit(0L)).as("auth")))
      hub = Funnel.stageLazy(nodes
        .join(e.join(auth.select(col("node").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("node")).agg(sum("auth").as("x")), Seq("node"), "left")
        .select(col("node"), coalesce(col("x"), lit(0L)).as("hub")))
    }
    val scores = hub.join(auth, "node")
    val totals = scores.agg(sum("hub").as("th"), sum("auth").as("ta"))
    scores.crossJoin(broadcast(totals))
      .select(col("node"),
        col("hub").cast("long").as("hub_c"), col("auth").cast("long").as("auth_c"),
        round(col("hub") / col("th"), 6).as("hub_n"),
        round(col("auth") / col("ta"), 6).as("auth_n"))
  }

  /** Jaccard index over all vertex pairs sharing ≥1 neighbor — ref:
    * flink-gelly `JaccardIndex.java:77` (the similarity library
    * algorithm: "generate pairs grouped by the source vertex"). Wedges
    * are enumerated per CENTER vertex (one equi-join of the adjacency
    * on the center key), Σ_v C(deg_v, 2) pairs — which is the exact
    * measure's OUTPUT lower bound (every wedge contributes to exactly
    * one pair's intersection count), so nothing can be shaved without
    * approximating; hot centers are bounded upstream by the graph
    * constructor's block cap, the same lever the reference's
    * GroupSpec-splitting addresses. Intersection and union are exact
    * integers; the final division of exact inputs is deterministic
    * across engines.
    *
    * Output: (u, w, cn, uni, jaccard) with u < w canonical.
    */
  def jaccardIndex(edges: DataFrame): DataFrame = {
    val nbrs = neighbors(edges)
    val deg = Funnel.stageLazy(nbrs.groupBy(col("c").as("v")).agg(count(lit(1)).as("deg")))
    val inter = nbrs.select(col("c"), col("n").as("u"))
      .join(nbrs.select(col("c"), col("n").as("w")), "c")
      .filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
    inter
      .join(deg.select(col("v").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("v").as("w"), col("deg").as("dw")), "w")
      .select(col("u"), col("w"), col("cn").cast("long").as("cn"),
        (col("du") + col("dw") - col("cn")).cast("long").as("uni"),
        round(col("cn") / (col("du") + col("dw") - col("cn")), 6).as("jaccard"))
  }

  /** Adamic–Adar similarity — ref: flink-gelly `AdamicAdar.java:80`
    * ("sum of 1/log(degree) over shared neighbors"). Same center-keyed
    * wedge enumeration as [[jaccardIndex]]; each center's weight
    * 1/ln(deg) is quantized to an INTEGER at 1e9 scale before the
    * per-pair sum, so the aggregate is exact on both engines (a raw
    * double sum's order-dependence would make the 6-dp rounding a
    * coin-flip at quantization boundaries — the integer-portable
    * discipline the sketch layer established). Output: (u, w, cn,
    * aa_e9) with aa_e9 = Σ round(1e9 / ln(deg_center)) over common
    * neighbors; divide by 1e9 for the paper's score.
    */
  def adamicAdar(edges: DataFrame): DataFrame = {
    val nbrs = neighbors(edges)
    val wt = Funnel.stageLazy(nbrs.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("c"),
        round(lit(1e9) / log(col("deg"))).cast("long").as("wt")))
    nbrs.select(col("c"), col("n").as("u"))
      .join(nbrs.select(col("c"), col("n").as("w")), "c")
      .filter(col("u") < col("w"))
      .join(wt, "c")
      .groupBy("u", "w")
      .agg(count(lit(1)).cast("long").as("cn"), sum("wt").cast("long").as("aa_e9"))
  }

  /** Vertex metrics summary — ref: flink-gelly `VertexMetrics.java:46`
    * (vertex count, edge count, average degree, triplet count, maximum
    * degree as one analytic result). Everything reduces off one staged
    * degree table: two map-side-combined aggregates crossed as one-row
    * broadcasts — no row-level output, so scale cost is the degree
    * aggregation alone. Triplets = Σ C(deg, 2) (the wedge count the
    * similarity measures above enumerate).
    */
  def vertexMetrics(edges: DataFrame): DataFrame = {
    // everything reduces from the degree table alone (Σdeg = 2·|E| on
    // an undirected graph), so the edge constructor evaluates ONCE
    val deg = Funnel.stageLazy(neighbors(edges)
      .groupBy(col("c").as("v")).agg(count(lit(1)).as("deg")))
    deg.agg(count(lit(1)).cast("long").as("vertices"),
        coalesce((sum("deg") / 2).cast("long"), lit(0L)).as("edges"),
        coalesce(max("deg"), lit(0L)).cast("long").as("max_degree"),
        coalesce(sum(col("deg") * (col("deg") - 1)), lit(0L)).as("p2x2"))
      .select(col("vertices"), col("edges"),
        when(col("vertices") === 0, lit(0.0))
          .otherwise(round(col("edges") * 2.0 / col("vertices"), 6)).as("avg_degree"),
        col("max_degree"), (col("p2x2") / 2).cast("long").as("triplets"))
  }

  /** Structural graph summarization — ref: flink-gelly
    * `Summarization.java:70` ("vertices with the same value are
    * grouped into one summary vertex; edges between groups collapse
    * with a count"). `values` assigns each node a group; the summary
    * is one row per unordered group pair carrying the collapsed edge
    * count and both groups' member counts. Two node-keyed joins + two
    * aggregations — the whole graph reduces to |groups|² rows at most,
    * which is the point of the operator at scale (the summary is what
    * you ship to the analyst; the billion-edge graph stays put).
    *
    * Output: (ga, gb, n_edges, na_members, nb_members), ga ≤ gb.
    */
  def summarize(edges: DataFrame, values: DataFrame): DataFrame = {
    // the value assignment is referenced three times (member counts +
    // both endpoint joins) — materialize it once
    val v = Funnel.stageLazy(values.select(col("node"), col("grp")))
    val members = Funnel.stageLazy(v.groupBy(col("grp"))
      .agg(count(lit(1)).as("members")))
    edges
      .join(v.select(col("node").as("a"), col("grp").as("va")), "a")
      .join(v.select(col("node").as("b"), col("grp").as("vb")), "b")
      .select(least(col("va"), col("vb")).as("ga"),
        greatest(col("va"), col("vb")).as("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).cast("long").as("n_edges"))
      .join(members.select(col("grp").as("ga"), col("members").as("na_members")), "ga")
      .join(members.select(col("grp").as("gb"), col("members").as("nb_members")), "gb")
      .select(col("ga"), col("gb"), col("n_edges"),
        col("na_members").cast("long").as("na_members"),
        col("nb_members").cast("long").as("nb_members"))
  }

  /** Undirected triadic census — ref: flink-gelly (undirected)
    * `TriadicCensus.java:54`, which derives the four triad-type counts
    * from exactly these closed-form identities over vertex count, edge
    * count, triplet count, and triangle count rather than enumerating
    * O(n³) triples:
    *
    *   t3 = triangles,   t2 = triplets − 3·t3,
    *   t1 = e·(n−2) − 2·triplets + 3·t3,   t0 = C(n,3) − t1 − t2 − t3.
    *
    * Triangles come from the degree-ordered [[triangleStats]]
    * enumeration; everything else is the one-row metrics aggregate —
    * the whole census costs one triangle count at scale.
    */
  def triadicCensus(edges: DataFrame): DataFrame = {
    // everything derives from ONE triangleStats pass: its per-node rows
    // already carry (degree, tri_cnt), so n = count, e = Σdeg/2,
    // triplets = Σ C(deg, 2), t3 = Σtri/3 — a second vertexMetrics
    // pass would re-evaluate the whole edge-constructor lineage (the
    // double-reference class the scan-count locks exist for)
    triangleStats(edges)
      .agg(count(lit(1)).as("vertices"),
        coalesce((sum("degree") / 2).cast("long"), lit(0L)).as("edges"),
        coalesce((sum(col("degree") * (col("degree") - 1)) / 2).cast("long"), lit(0L))
          .as("triplets"),
        coalesce((sum("tri_cnt") / 3).cast("long"), lit(0L)).as("t3"))
      .select(col("t3"),
        (col("triplets") - col("t3") * 3).cast("long").as("t2"),
        (col("edges") * (col("vertices") - 2) - col("triplets") * 2 + col("t3") * 3)
          .cast("long").as("t1"),
        col("vertices"), col("edges"), col("triplets"))
      .select(col("vertices"), col("edges"), col("triplets"),
        ((col("vertices") * (col("vertices") - 1) * (col("vertices") - 2)) / 6
          - col("t1") - col("t2") - col("t3")).cast("long").as("t0"),
        col("t1"), col("t2"), col("t3"))
  }
}
