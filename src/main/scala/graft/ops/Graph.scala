package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.CheckpointStrategy
import graft.core.Numeric.idiv
import graft.core.{Tables => T}

/** GRAPH OPERATORS — the 18 declared `graph_*` keys, each with its
  * DataFrame function and its DuckDB oracle text, over four graphs:
  *  - parts that share an order ([[basketEdges]]): `degree_dist`,
  *    `kcore`, `assortativity`, `modularity`, `label_prop`, the three
  *    `louvain` keys, `jaccard`, `bfs`, `closeness` and `betweenness`;
  *  - customers → suppliers of their orders: `hits`;
  *  - users active in the same (event type, hour) bucket: `triangles`
  *    and `reciprocity`;
  *  - consecutive event types ([[transitions]]): `pagerank`, and `scc`
  *    and `wcc` over its dominance digraph ([[reachClosure]]).
  *
  * Every iterative key runs a declared number of rounds, and its oracle
  * unrolls the same rounds. Counts are integer-exact, and each float is
  * one engine-invariant IEEE expression at the end, so the DuckDB oracle
  * matches bit for bit.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------- shared primitives

  /** The co-purchase graph: parts that share an order, over the orders
    * with `l_orderkey % slice = 0` (1-in-3 for `degree_dist`, `kcore`,
    * `jaccard`, `bfs` and `betweenness`, which so profile one graph;
    * 1-in-5 for the others). Undirected, it is one `(pa, pb)` row
    * per edge with `pa < pb`. Directed, it is both arcs `(src, dst)` with
    * `src ≠ dst`, not yet deduplicated: the caller places the dedup.
    *
    * One `collect_set(l_partkey)` per order plus a map-side ordered-pair
    * explode builds it. That replaced distinct → self-join on the order
    * key → distinct (r14, `plans/r14/graph_*`): the same edge set with
    * two exchanges instead of three and no join. Baskets are bounded
    * (≤ 7 lineitems per order), so the explode emits at most 49 pairs
    * per order. Two callers keep a measured placement:
    *  - `graph_betweenness` repartitions the arcs on `src` before the
    *    dedup. That partitioning satisfies the dedup's `(src, dst)`
    *    clustering, and the hashed checkpoint's own repartition is then
    *    elided: 3 exchanges → 2, 1.20 → 0.97 s warm;
    *  - `graph_bfs` keeps the edges lazy. Its three superstep references
    *    are identical subtrees, so ReuseExchange builds them once inside
    *    the one job; edge barriers measured worse.
    *
    * Four keys build other graphs on purpose. `graph_closeness` keeps the
    * self-join build: this build plus an edge barrier measured worse
    * there (5.8–6.1 s against 2.23 s), because ReuseExchange already
    * shares its lazy fold's three edge derivations. `graph_hits` is the
    * orders × lineitem bipartite graph; `graph_triangles` and
    * `graph_reciprocity` are event-bucket graphs. */
  private[graft] def basketEdges(s: SparkSession, d: String, slice: Int,
      directed: Boolean = false): DataFrame = {
    val (a, b) = if (directed) ("src", "dst") else ("pa", "pb")
    val pairs = T.lineitem(s, d).filter(col("l_orderkey") % slice === 0)
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as(a), col("ps"))
      .select(col(a), explode(col("ps")).as(b))
    if (directed) pairs.filter(col(a) =!= col(b))
    else pairs.filter(col(a) < col(b)).dropDuplicates(a, b)
  }

  /** Undirected degree `(p, name)` of every node of a `(pa, pb)` edge
    * list. */
  private def degrees(edges: DataFrame, name: String = "deg"): DataFrame =
    edges.select(col("pa").as("p")).unionAll(edges.select(col("pb").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as(name))

  /** Transitive closure of a `(src, dst)` reach relation by POINTER
    * DOUBLING: each round unions in the relation joined with itself on
    * the midpoint, so `rounds` rounds cover every path of length up to
    * 2^rounds. One barrier per round keeps the plan linear in rounds:
    * each round reads its input three times, and the lazy composition
    * re-derived `r0` about 18× in `graph_scc` (279 Exchanges,
    * `plans/r14/graph_scc_before.txt`).
    *
    * The declared round count is part of a key's contract (the oracle
    * unrolls the same rounds), so the result must already be closed: one
    * more doubling is checked on the driver, and if it would add a pair
    * the query fails naming the round count instead of returning
    * truncated components. That check collects the reach set, so use
    * this only for model-sized relations such as the event-type grid. */
  private[graft] def reachClosure(r0: DataFrame, rounds: Int): DataFrame = {
    val cp = CheckpointStrategy.Local
    val reach = (1 to rounds).foldLeft(r0) { (r, _) =>
      cp.materialize(r.unionByName(
        r.as("p").join(r.as("q"), col("p.dst") === col("q.src"))
          .select(col("p.src").as("src"), col("q.dst").as("dst"))).distinct())
    }
    val pairs = reach.select(col("src"), col("dst")).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val out = pairs.groupBy(_._1)
    val added = for ((a, b) <- pairs; (_, c) <- out.getOrElse(b, Set.empty)
      if !pairs((a, c))) yield (a, c)
    if (added.nonEmpty)
      throw new IllegalStateException(
        s"reachClosure: $rounds doubling rounds leave ${added.size} " +
          s"reachable pairs out (e.g. ${added.head}); the closure needs " +
          "more rounds")
    reach
  }

  /** The (degree, id) total order of the wedge enumerations
    * ([[graphTriangles]], [[graphJaccard]]), kept as two flat long
    * columns: the wedge condition is evaluated ~|wedge-candidates| times
    * inside the broadcast probe loop, and flat long compares stay in
    * codegen with no per-pair struct allocation. */
  private def ltKey(da: Column, ua: Column, db: Column, ub: Column): Column =
    da < db || (da === db && ua < ub)

  /** Exact integer accumulator for scores and moments that outgrow int64. */
  private def dec38(c: Column): Column = c.cast("decimal(38,0)")

  /** Each user's consecutive events in an `events` frame: `from` holds
    * the previous event's type (`lag` over the user's `(ts, event_id)`
    * order); a user's first event has none and is dropped. */
  private[ops] def transitionSteps(events: DataFrame,
      from: String = "prev"): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events.withColumn(from, lag(col("event_type"), 1).over(w))
      .filter(col(from).isNotNull)
  }

  /** The event-type transition counts of an `events` frame: one
    * `(from, to, n)` row per ordered pair of consecutive event types. */
  private[ops] def transitions(events: DataFrame, from: String = "prev",
      to: String = "event_type", n: String = "n"): DataFrame =
    transitionSteps(events, from)
      .groupBy(col(from), col("event_type").as(to))
      .agg(count(lit(1)).as(n))

  /** DEGREE DISTRIBUTION of the co-purchase graph — the first thing a
    * graph pipeline reports (and the input to every skew decision the
    * iterative ops make: a heavy-tailed histogram is what mandates
    * `graph_triangles`' degree orientation). Buckets are power-of-two
    * CASE bands — an explicit ladder, NOT floor(log2(deg)) computed in
    * floating point, where `ln(8)/ln(2) = 2.999…` floors to the wrong
    * bucket and libm rounding may differ between engines. Output is the
    * bounded histogram; the only data-sized shuffles are the edge build
    * and one degree aggregate. */
  val graphDegreeDist: Q = (s, d) => {
    val deg = degrees(basketEdges(s, d, 3))
    val bucket = when(col("deg") === 1, 1L).when(col("deg") <= 3, 2L)
      .when(col("deg") <= 7, 4L).when(col("deg") <= 15, 8L)
      .when(col("deg") <= 31, 16L).when(col("deg") <= 63, 32L)
      .otherwise(64L)
    deg.select(bucket.as("bucket_lo"), col("deg"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("bucket_lo"))
  }

  /** K-CORE peel (k = 32, exactly TWO declared rounds) — the density
    * filter that isolates the graph's stable community backbone (nodes
    * that keep ≥ k neighbors even after their weak neighbors vanish).
    * Each round drops sub-k nodes, restricts edges to survivors (two
    * broadcast-able semi-joins), and recomputes degrees. The full k-core
    * iterates to fixpoint — an open loop like
    * [[graft.api.TextDedup.connectedComponents]]'s — but the DECLARED
    * key pins two unrolled rounds so the oracle is closed-form SQL; the
    * round count is part of the query contract, exactly like
    * `graph_pagerank`'s fixed iteration count. The edge list is the
    * multiply-consumed value (degrees ×2, restrictions ×2), so it is the
    * one [[CheckpointStrategy]] barrier; per-round cost is two
    * aggregates + two semi-joins — linear in edges, and the edge set
    * only shrinks. */
  def graphKcore(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
      val k = 32
      val e0 = cp.materialize(basketEdges(s, d, 3))
      val keep0 = degrees(e0).filter(col("deg") >= k).select(col("p"))
      val e1 = cp.materialize(e0
        .join(keep0.select(col("p").as("pa")), Seq("pa"), "left_semi")
        .join(keep0.select(col("p").as("pb")), Seq("pb"), "left_semi"))
      degrees(e1).filter(col("deg") >= k)
        .select(col("p").as("node"), col("deg"))
        .orderBy(col("node"))
    }

  /** DEGREE ASSORTATIVITY of the basket co-purchase graph — do
    * well-connected parts co-purchase with other hubs (r > 0, social
    * shape) or with leaves (r < 0, hub-and-spoke)? The number that says
    * whether `join_skew_salted`-style hot-key handling will hit one
    * mega-hub or a clique of them. Pearson correlation of endpoint
    * degrees over both orientations of every undirected edge: all five
    * moments (2m, Σd, Σd², Σd·d') are integer-exact (degree products in
    * DECIMAL(38,0), the `embed_drift` rule); by symmetry the x and y
    * margins coincide, so r = (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²) with ONE
    * fixed double division at the end.
    *
    * 100 TB shape: the bounded-basket edge build runs once and
    * MATERIALIZES them (the `graph_jaccard` lesson — three consumers:
    * degrees, the symmetric orientation union, the node count); degrees
    * join back by node key (node-sized shuffle); the moment fold is one
    * map-side-partial aggregate to a single row. */
  def graphAssortativity(
      cp: CheckpointStrategy = CheckpointStrategy.Local): Q = (s, d) => {
    val edges = cp.materialize(basketEdges(s, d, 5))
    val deg = degrees(edges, "dg")
    val sym = edges.select(col("pa").as("x"), col("pb").as("y"))
      .unionAll(edges.select(col("pb").as("x"), col("pa").as("y")))
    val ed = sym
      .join(deg.select(col("p").as("x"), col("dg").as("dx")), "x")
      .join(deg.select(col("p").as("y"), col("dg").as("dy")), "y")
    val mo = ed.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"),
      sum(col("dx").cast("decimal(38,0)") * col("dx")).as("sxx"),
      sum(col("dx").cast("decimal(38,0)") * col("dy")).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    mo.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), (col("n") / 2).cast("long").as("n_edges"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean_endpoint_deg"),
        round((col("n").cast("decimal(38,0)") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
          / (col("n").cast("decimal(38,0)") * col("sxx")
            - col("sx").cast("decimal(38,0)") * col("sx")).cast("double"), 6)
          .as("assortativity"))
  }

  /** GRAPH MODULARITY of a given partition — the quality score community
    * pipelines quote for their clustering (`graph_label_prop` finds
    * communities; modularity says whether they beat chance): on the
    * basket co-purchase graph, with communities given by the part's
    * BRAND (a dimension attribute — the "does purchasing cluster along
    * brand lines?" question), Q = Σ_c [e_c/m − (d_c/2m)²]. Everything
    * up to the two divisions is integer-exact (edge counts, degree
    * sums); each community's contribution rounds to 8 and sums as exact
    * decimals, so Q is engine-invariant.
    *
    * 100 TB shape: the basket edge build is the only corpus-scale stage
    * (same bounded-basket discipline as `graph_jaccard`); brand lookup
    * BROADCASTS the part dimension, and every aggregate after the edge
    * list is community-grid-sized. Scoring a different partition
    * (label_prop output, a model's cluster ids) swaps one broadcast. */
  def graphModularity(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    val edges = basketEdges(s, d, 5)
    val brand = T.part(s, d).select(col("p_partkey"), col("p_brand"))
    // ONE materialization of the brand-annotated edge list — four
    // consumers (m, degree sum, in-community count, node roster) read
    // it; without the barrier each would re-run the basket edge build
    // (the graph_jaccard lesson: ReuseExchange does NOT
    // collapse the subtree across separate actions/joins)
    val eb = cp.materialize(edges
      .join(broadcast(brand.select(col("p_partkey").as("pa"),
        col("p_brand").as("ca"))), "pa")
      .join(broadcast(brand.select(col("p_partkey").as("pb"),
        col("p_brand").as("cb"))), "pb"))
    val m = eb.agg(count(lit(1)).as("m"))
    val dTot = eb.select(col("ca").as("c"))
      .unionAll(eb.select(col("cb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("d_tot"))
    val eIn = eb.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_in"))
    val nNodes = eb.select(col("pa").as("p"), col("ca").as("c"))
      .unionAll(eb.select(col("pb").as("p"), col("cb").as("c"))).distinct()
      .groupBy(col("c")).agg(count(lit(1)).as("n_nodes"))
    val per = dTot
      .join(eIn, Seq("c"), "left")
      .join(nNodes, "c")
      .crossJoin(broadcast(m))
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .withColumn("contrib",
        round(col("e_in").cast("double") / col("m").cast("double")
          - (col("d_tot").cast("double")
              / (lit(2.0) * col("m").cast("double")))
            * (col("d_tot").cast("double")
              / (lit(2.0) * col("m").cast("double"))), 8))
    val q = per.agg(
      sum(col("contrib").cast("decimal(20,8)")).cast("double").as("q"))
    per.crossJoin(broadcast(q))
      .select(col("c").as("community"), col("n_nodes"), col("e_in"),
        col("d_tot"), round(col("contrib"), 6).as("contrib"),
        round(col("q"), 6).as("modularity"))
      .orderBy(col("community"))
  }

  /** BOUNDED LABEL PROPAGATION — community seeding on the basket
    * co-occurrence graph in a FIXED number of supersteps (3 rounds of
    * synchronous min-label: each node takes the minimum of its own and
    * its neighbors' labels). The bounded-depth sibling of
    * `dedup_cluster`'s loop-to-fixpoint connected components: when the
    * interesting structure has small diameter (near-dup clusters,
    * co-purchase pockets), a fixed superstep budget makes the op fully
    * DECLARATIVE — the oracle unrolls the same 3 joins — and the cost
    * exactly 3 node-keyed shuffles. Declared result: per surviving label,
    * member count + node range (singleton communities dropped).
    *
    * 100 TB shape: each round is one (edges ⋈ labels) hash join + a
    * node-keyed min — the Pregel superstep reduced to relational form;
    * rounds materialize via localCheckpoint so round k+1 reads a O(V)
    * table, not a doubling lineage (the `dedup_cluster` barrier rule). */
  def graphLabelProp(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    val edges = cp.materialize(basketEdges(s, d, 5))
    val msgs = edges.select(col("pa").as("node"), col("pb").as("nbr"))
      .unionAll(edges.select(col("pb").as("node"), col("pa").as("nbr")))
    var lab = T.lineitem(s, d).filter(col("l_orderkey") % 5 === 0)
      .select(col("l_partkey").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (_ <- 1 to 3) {
      val incoming = msgs
        .join(lab.select(col("node").as("nbr"), col("lab")), "nbr")
        .select(col("node"), col("lab"))
      lab = cp.materialize(lab.select(col("node"), col("lab"))
        .unionAll(incoming)
        .groupBy(col("node")).agg(min(col("lab")).as("lab")))
    }
    lab.groupBy(col("lab"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .filter(col("n_members") >= 2)
      .orderBy(col("lab"))
  }

  // --------------------------------------------------- graph_louvain_pass

  /** ONE LOUVAIN MODULARITY PASS over the co-purchase graph —
    * `graph_modularity` scores a GIVEN partition; this key runs the move
    * step that PROPOSES one: from singleton communities, every node
    * simultaneously evaluates joining each neighbor's community and
    * takes the best positive-modularity-gain move (the synchronous
    * first-superstep of every distributed Louvain/Leiden
    * implementation; full Louvain iterates passes + graph coarsening —
    * one pass is the bounded, oracle-checkable unit).
    *
    * From singletons the gain of i joining {j} collapses to
    * `ΔQ = 1/m − k_i·k_j/(2m²) = (2m − k_i·k_j) / (2m²)` — argmax over
    * neighbors is simply the MINIMUM-DEGREE neighbor (ties → smallest
    * id), and the move happens iff the integer numerator `2m − k_i·k_j`
    * is positive. Everything is integer-exact except the one reported
    * IEEE division (num/2m², engine-invariant, deliberately UNROUNDED —
    * with m arbitrary, 2m² can be a 2^a5^b decimal-terminating
    * denominator, exactly the r10 half-rounding trap).
    *
    * 100 TB shape: the basket edge build is the only corpus-scale stage
    * (the shared graph cost class), materialized ONCE — four consumers
    * (both directions of `dir`, the degree aggregate, the edge count)
    * would otherwise each re-run it (the graph_jaccard lesson:
    * ReuseExchange does not collapse logical subtrees); degrees are one
    * aggregate; the argmin rides a window partitioned by node over the
    * edge list — model-sized, no iteration. */
  /** Shared louvain-move machinery: the materialized edge list and the
    * per-node move decision (node, deg, best_nbr, moved, community,
    * delta_q) — consumed by [[graphLouvainPass]] (the declared per-node
    * view) and [[graphLouvainCoarsen]] (the level-2 graph built on the
    * resulting partition). */
  private[ops] def louvainCore(cp: CheckpointStrategy)(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val edges = cp.materialize(basketEdges(s, d, 5))
    val dir = edges.select(col("pa").as("i"), col("pb").as("j"))
      .unionAll(edges.select(col("pb").as("i"), col("pa").as("j")))
    val deg = dir.groupBy(col("i").as("p")).agg(count(lit(1)).as("deg"))
    val m = edges.agg(count(lit(1)).as("m"))
    // r14 A/B, SETTLED ON THE WINDOW: the argmin was rewritten as a
    // min(struct(kj, j)) aggregate (map-side partials, no sort) and
    // measured interleaved 3× vs this form — pass/coarsen parity, multi
    // ~0.4 s WORSE (quiet round: 5.0-5.2 s agg vs 4.6-4.9 s window).
    // Spark 4's WindowGroupLimit already bounds the top-1-per-key sort,
    // so the aggregate only re-keys the ki join. Window kept.
    val w = Window.partitionBy(col("i")).orderBy(col("kj").asc, col("j").asc)
    val moves = dir
      .join(deg.select(col("p").as("i"), col("deg").as("ki")), "i")
      .join(deg.select(col("p").as("j"), col("deg").as("kj")), "j")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .crossJoin(broadcast(m))
      .withColumn("gain_num", lit(2L) * col("m") - col("ki") * col("kj"))
      .select(col("i").as("node"), col("ki").as("deg"),
        col("j").as("best_nbr"),
        (col("gain_num") > 0L).as("moved"),
        when(col("gain_num") > 0L, col("j")).otherwise(col("i"))
          .as("community"),
        (col("gain_num").cast("double")
          / (lit(2L) * col("m") * col("m")).cast("double")).as("delta_q"))
    (edges, moves)
  }

  def graphLouvainPass(
      cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => louvainCore(cp)(s, d)._2.orderBy(col("node"))

  /** LOUVAIN COARSENING — the second half of a Louvain LEVEL (the move
    * step [[graphLouvainPass]] proposes the partition; this builds the
    * SUPER-GRAPH the next level runs on): every original edge maps its
    * endpoints through the community assignment and the coarse edge
    * (ca ≤ cb) carries the count of original edges it absorbs — the
    * self-pair (ca = cb) rows are the intra-community edge mass that
    * becomes the next level's self-loops. Together the two keys are one
    * full Louvain level expressed as bounded relational units: full
    * Louvain is a driver-side composition (level k+1 = the same pair on
    * a strictly smaller graph).
    *
    * 100 TB shape: one node-keyed equi-join per endpoint (the community
    * map is node-count-sized — at cluster scale a shuffle-hash join on
    * the node key, never a product) and ONE (ca, cb) aggregate whose
    * output is the coarse graph — strictly smaller than the input by
    * the move step's merges. All counts integer-exact. */
  def graphLouvainCoarsen(
      cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    val (edges, moves) = louvainCore(cp)(s, d)
    val comm = moves.select(col("node"), col("community"))
    edges
      .join(comm.select(col("node").as("pa"), col("community").as("x")), "pa")
      .join(comm.select(col("node").as("pb"), col("community").as("y")), "pb")
      .groupBy(least(col("x"), col("y")).as("ca"),
        greatest(col("x"), col("y")).as("cb"))
      .agg(count(lit(1)).as("n_edges"))
      .select(col("ca"), col("cb"), col("n_edges"),
        (col("ca") === col("cb")).as("is_self"))
      .orderBy(col("ca"), col("cb"))
  }

  // ------------------------------------------------------- graph_louvain_multi

  /** TWO-LEVEL LOUVAIN (Blondel et al. 2008 — the full pass→coarsen→pass
    * composition; `graph_louvain_pass` and `graph_louvain_coarsen` each
    * declare ONE half of one level): level 1 is the singleton move pass
    * on the co-purchase graph, coarsening builds the weighted
    * super-graph (absorbed-edge weights, intra mass as self-loops), and
    * level 2 runs the WEIGHTED move pass on it — each super-node takes
    * the neighbor community maximizing the integer gain numerator
    * `2m·w_ij − k_i·k_j` (the general weighted form whose w_ij = 1
    * special case is the min-degree shortcut of the singleton pass).
    * The declared result is the real community-detection deliverable:
    * per level (0 = singletons, 1, 2), community count, intra-community
    * edge count and the modularity of that partition ON THE ORIGINAL
    * graph — Q = (4m·intra − Σ_c D_c²) / 4m², an INTEGER numerator over
    * an integer denominator, so the only float is one engine-invariant
    * IEEE division (the `graph_louvain_pass` delta_q discipline, and
    * deliberately UNROUNDED for the same decimal-terminating-denominator
    * reason). Level-over-level modularity increase is the property test.
    *
    * 100 TB shape: the basket edge list materializes ONCE (localCheckpoint
    * at harness scale, reliable checkpoint on a cluster) and every
    * consumer — moves, coarse graph, three per-level intra/degree
    * aggregates — reads the materialized edge list; the coarse graph and
    * everything after it is community-count-sized (strictly shrinking by
    * construction); the per-level modularity is two aggregates each. No
    * convergence loop: two levels are the declared bound, the open
    * iteration is the same driver-side composition on shrinking graphs. */
  val graphLouvainMulti: Q = (s, d) => {
    val cp = CheckpointStrategy.Local
    val (edges, moves) = louvainCore(cp)(s, d)
    // every model-sized stage materializes before fan-out: comm1 feeds
    // coarse (×2) and the final map, coarse feeds wdeg/dir2 (×4), and the
    // level table replays 3× into the modularity aggregates — without the
    // barriers the composed logical plan re-derives each subtree per
    // consumer (the graph_jaccard lesson: ReuseExchange never collapses
    // logical subtrees; the un-materialized form planned 499 joins)
    val comm1 = cp.materialize(
      moves.select(col("node"), col("deg"), col("community").as("c1")))
    val m = edges.agg(count(lit(1)).as("m"))
    val coarse = cp.materialize(edges
      .join(comm1.select(col("node").as("pa"), col("c1").as("x")), "pa")
      .join(comm1.select(col("node").as("pb"), col("c1").as("y")), "pb")
      .groupBy(least(col("x"), col("y")).as("ca"),
        greatest(col("x"), col("y")).as("cb"))
      .agg(count(lit(1)).as("w")))
    // weighted degree on the super-graph: self-loops count twice
    val wdeg = coarse.select(col("ca").as("c"),
        when(col("ca") === col("cb"), lit(2L) * col("w"))
          .otherwise(col("w")).as("k"))
      .unionAll(coarse.filter(col("ca") =!= col("cb"))
        .select(col("cb").as("c"), col("w").as("k")))
      .groupBy(col("c")).agg(sum(col("k")).as("kc"))
    val dir2 = coarse.filter(col("ca") =!= col("cb"))
      .select(col("ca").as("i"), col("cb").as("j"), col("w"))
      .unionAll(coarse.filter(col("ca") =!= col("cb"))
        .select(col("cb").as("i"), col("ca").as("j"), col("w")))
    val w2 = Window.partitionBy(col("i"))
      .orderBy(col("gain").desc, col("j").asc)
    val moves2 = dir2
      .join(wdeg.select(col("c").as("i"), col("kc").as("ki")), "i")
      .join(wdeg.select(col("c").as("j"), col("kc").as("kj")), "j")
      .crossJoin(broadcast(m))
      .withColumn("gain",
        dec38(lit(2L) * col("m")) * col("w") - dec38(col("ki")) * col("kj"))
      .withColumn("rnk", row_number().over(w2)).filter(col("rnk") === 1)
      .select(col("i").as("c1"),
        when(col("gain") > 0, col("j")).otherwise(col("i")).as("c2"))
    // node -> c1 -> c2; a community with no inter-community edge keeps itself
    val full = cp.materialize(comm1.join(moves2, Seq("c1"), "left")
      .select(col("node"), col("deg"), col("c1"),
        coalesce(col("c2"), col("c1")).as("c2")))
    val lv = full.select(lit(0L).as("level"), col("node"), col("deg"),
        col("node").as("comm"))
      .unionAll(full.select(lit(1L).as("level"), col("node"), col("deg"),
        col("c1").as("comm")))
      .unionAll(full.select(lit(2L).as("level"), col("node"), col("deg"),
        col("c2").as("comm")))
    val intra = edges
      .join(lv.select(col("node").as("pa"), col("level"), col("comm").as("x")),
        Seq("pa"))
      .join(lv.select(col("node").as("pb"), col("level"), col("comm").as("y")),
        Seq("pb", "level"))
      .groupBy(col("level"))
      .agg(sum(when(col("x") === col("y"), 1L).otherwise(0L)).as("n_intra"))
    val dsq = lv.groupBy(col("level"), col("comm"))
      .agg(sum(col("deg")).as("dc"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_comms"),
        sum(dec38(col("dc")) * col("dc")).as("sumsq"))
    dsq.join(intra, Seq("level")).crossJoin(broadcast(m))
      .select(col("level"), col("n_comms"), col("n_intra"),
        ((dec38(lit(4L) * col("m")) * col("n_intra") - col("sumsq"))
          .cast("double")
          / dec38(lit(4L) * col("m") * col("m")).cast("double")).as("q"))
      .orderBy(col("level"))
  }

  /** LINK-PREDICTION Jaccard over the co-purchase graph — the
    * "customers who bought X also bought Y" affinity score: parts are
    * nodes, co-occurrence in an order is an edge, and each existing edge
    * (a,b) scores J = |N(a)∩N(b)| / |N(a)∪N(b)\{a,b}|. The common-
    * neighbor count |N(a)∩N(b)| is exactly the per-EDGE triangle count,
    * so the heavy stage reuses [[graphTriangles]]'s degree-oriented
    * wedge enumeration (orient each edge low-degree→high-degree, expand
    * wedges from the low side only — the O(m^1.5) bound) with the same
    * packed-long closing-edge probe; each found triangle then credits
    * its three canonical edges. Pair generation is bounded by
    * lines-per-order (≤7), and the declared query samples 1/3 of orders
    * — the periodic-refresh discipline a production affinity job uses.
    * Denominator (d_a−1)+(d_b−1)−t ≥ t ≥ 1, so no zero division. */
  def graphJaccard(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    // ONE materialization barrier for the whole prologue: the degree-
    // annotated edge list is the value every later stage (orientation,
    // closing-edge probe, final score join) reads, so that is the single
    // reuse point. The basket edge build appears three times in withDeg's
    // own plan (edges + the two degree scans), but those are IDENTICAL
    // subtrees sharing one Exchange — ReuseExchange collapses them within
    // the single materializing job. Empirically settled by the r8
    // isolation audit: this shape runs 2.9 s (median-of-5, fresh JVM,
    // sf0.1) vs 7.7 s for the round-6 double-barrier (edges AND withDeg
    // both checkpointed). The 19-20 s readings in BENCH_r07/r08 were NOT
    // this query's plan: a round-9 repro at the bench's exact config
    // (cpus=32, full 296-key suite, 8g heap) measured 3.88 s median on
    // identical code — the inflation only appears when the machine is
    // otherwise loaded, because this is the checkpoint-heaviest key and
    // async block release raced the next sample for storage memory.
    // Bench.scala now unpersists SYNCHRONOUSLY (+ GC) between samples;
    // SCALING.md's round-9 section carries the full variance analysis.
    val edges = basketEdges(s, d, 3)
    val deg = degrees(edges)
    val withDeg = cp.materialize(edges
      .join(deg.select(col("p").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("p").as("pb"), col("deg").as("db")), "pb"))
    val isFwd = ltKey(col("da"), col("pa"), col("db"), col("pb"))
    val dir = withDeg.select(
      when(isFwd, col("pa")).otherwise(col("pb")).as("src"),
      when(isFwd, col("pb")).otherwise(col("pa")).as("dst"),
      greatest(col("da"), col("db")).as("dd"))
    val np = s.sessionState.conf.numShufflePartitions
    val dirP = dir.repartition(np, col("src"))
    val w1 = dirP.select(col("src"), col("dst").as("u_b"), col("dd").as("d_b"))
    val w2 = dirP.select(col("src"), col("dst").as("u_c"), col("dd").as("d_c"))
    val tri = w1.join(w2, Seq("src"))
      .filter(ltKey(col("d_b"), col("u_b"), col("d_c"), col("u_c")))
      .join(dirP.select((shiftleft(col("src"), 32) + col("dst")).as("bc")),
        shiftleft(col("u_b"), 32) + col("u_c") === col("bc"))
    val triEdges = tri.select(explode(array(
        struct(least(col("src"), col("u_b")).as("pa"),
          greatest(col("src"), col("u_b")).as("pb")),
        struct(least(col("src"), col("u_c")).as("pa"),
          greatest(col("src"), col("u_c")).as("pb")),
        struct(least(col("u_b"), col("u_c")).as("pa"),
          greatest(col("u_b"), col("u_c")).as("pb")))).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("t"))
    withDeg.join(triEdges, Seq("pa", "pb"))
      .select(col("pa"), col("pb"), col("t"),
        round(col("t").cast("double")
          / (col("da") + col("db") - lit(2) - col("t")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("pa"), col("pb"))
      .limit(20)
  }

  /** Triangle counting on the user co-occurrence graph — the third graph
    * primitive next to `graph_pagerank` and the connected components in
    * `dedup_cluster`. Nodes: a deterministic 1-in-2 user slice; edges:
    * users co-active in the same (event_type, hour) bucket, where the
    * bucket holds ≤ 100 distinct users (the co-occurrence df cap — the
    * same declared-semantics rule as `match_fuzzy`'s rare-gram filter:
    * pathologically popular buckets carry no signal and their |bucket|²
    * pair expansion is the one quadratic term in the query, so the cap
    * is part of the query definition and mirrored in the oracle).
    *
    * Enumeration is DEGREE-ORIENTED wedge counting (the O(m^1.5) bound):
    * each undirected edge is directed from its (degree, id)-smaller
    * endpoint to its larger one, wedges pair the out-neighbors of each
    * source (so per-vertex wedge fan-out is out-degree², and orienting
    * toward higher degree caps out-degree at O(√m)), and a wedge
    * (s → b, s → c) with b ≺ c closes iff the directed edge b → c
    * exists — an equi-join on the two endpoint ids. Each triangle
    * a ≺ b ≺ c is found exactly once, at its smallest corner, so the
    * per-node credit (one ×3 corner explode, then count) is identical to
    * unoriented enumeration — orientation is result-invariant. At bench
    * scale the dir list is a few MB, AQE broadcasts it, and the wedge
    * stream never shuffles; at 100 TB the orientation is what keeps the
    * wedge join sub-quadratic under degree skew. */
  val graphTriangles: Q = (s, d) => {
    val bucketCap = 100
    // r14 bucket edge build: was distinct (exchange) → bucket-size
    // window (exchange) → SMJ self-join on (event_type, hr) (exchange) →
    // distinct (exchange). ONE collect_set aggregate per bucket dedups
    // users (≡ the old distinct), size(us) ≡ the old window bucket count,
    // and the ordered-pair explode is map-side — identical edge set, two
    // exchanges, no join. The cap bounds the per-bucket array (≤100), so
    // the explode fan-out is ≤ C(100,2) per bucket.
    val buckets = T.events(s, d)
      .filter(col("user_id") % 2 === 0)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(collect_set(col("user_id")).as("us"))
      .filter(size(col("us")) <= bucketCap)
    val edges = buckets
      .select(explode(col("us")).as("u1"), col("us"))
      .select(col("u1"), explode(col("us")).as("u2"))
      .filter(col("u1") < col("u2"))
      .dropDuplicates("u1", "u2")
    val deg = edges.select(col("u1").as("u"))
      .unionAll(edges.select(col("u2").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("u").as("u1"), col("deg").as("d1")), "u1")
      .join(deg.select(col("u").as("u2"), col("deg").as("d2")), "u2")
    val isFwd = ltKey(col("d1"), col("u1"), col("d2"), col("u2"))
    val dir = withDeg.select(
      when(isFwd, col("u1")).otherwise(col("u2")).as("src"),
      when(isFwd, col("u2")).otherwise(col("u1")).as("du"),
      greatest(col("d1"), col("d2")).as("dd"))
    // The wedge expansion is the heavy stage: each dir row fans out to
    // out-degree(src) wedges, so the STREAM side must keep full task
    // parallelism. AQE sees only the pre-expansion size (a few MB) and
    // would coalesce the stream to ~1 partition, serializing the fan-out
    // — an explicit partition count on the probe side blocks that while
    // the small build sides still broadcast.
    val np = s.sessionState.conf.numShufflePartitions
    // r14 (guide §5): dirP is read by THREE consumers (both wedge sides +
    // the closing-edge probe) and nothing upstream was materialized, so
    // the whole edge-build subtree replicated ~15× in the plan
    // (plans/r14/graph_triangles_before.txt, ~109 Exchanges). One barrier
    // on the oriented edge list keeps the plan linear; the stored
    // src-partitioning survives the checkpoint, so the wedge join reads
    // it exchange-free.
    val dirP = CheckpointStrategy.Local.materializeHashed(
      dir, np, Seq("src"))
    val w1 = dirP.select(col("src"), col("du").as("u_b"), col("dd").as("d_b"))
    val w2 = dirP.select(col("src"), col("du").as("u_c"), col("dd").as("d_c"))
    // closing-edge membership probes once per wedge — the hot loop. A
    // single-long key (src<<32 | dst; non-negative ids < 2^31, true of
    // the user-id domain — the standard 64-bit packed-edge encoding)
    // lets the broadcast build a dense LongHashedRelation instead of a
    // compound-key UnsafeHashedRelation: ~5× cheaper per probe at 33M
    // probes. The general (unbounded-id) form would keep the two-column
    // key and pay the compound probe.
    val tri = w1.join(w2, Seq("src"))
      .filter(ltKey(col("d_b"), col("u_b"), col("d_c"), col("u_c")))
      .join(dirP.select((shiftleft(col("src"), 32) + col("du")).as("bc")),
        shiftleft(col("u_b"), 32) + col("u_c") === col("bc"))
    tri.select(explode(array(col("src"), col("u_b"), col("u_c")))
        .as("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------- graph_reciprocity

  /** DIRECTED-GRAPH RECIPROCITY — what fraction of directed edges have a
    * reverse edge (the classic directed-network statistic: near 1 for
    * mutual-follow social graphs, near 0 for citation DAGs). The directed
    * edge set is the temporal HANDOFF graph over the co-occurrence
    * buckets the undirected graph keys share (`graph_triangles`'
    * (event_type, hour) buckets): within each bucket, users ordered by
    * first-event time (ties → user_id) and each user points at the NEXT —
    * who picked up the activity after me. Per event type: |E|, the number
    * of reciprocated edges, and their ratio.
    *
    * 100 TB shape: one (type, hour, user) fold (map-side), one
    * bucket-partitioned LEAD window on that grid, one distinct, and the
    * reciprocity probe is a self equi-join on the flipped key — every
    * stage keyed, nothing |V|². */
  val graphReciprocity: Q = (s, d) => {
    val firsts = T.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        col("user_id"))
      .agg(min(col("ts")).as("fts"))
    val wB = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(col("fts"), col("user_id"))
    val edges = firsts
      .withColumn("dst", lead(col("user_id"), 1).over(wB))
      .filter(col("dst").isNotNull)
      .select(col("event_type"), col("user_id").as("src"), col("dst"))
      .distinct()
    val rev = edges.select(col("event_type"), col("src").as("dst"),
      col("dst").as("src"))
    val recip = edges.join(rev, Seq("event_type", "src", "dst"), "left_semi")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_recip"))
    edges.groupBy(col("event_type")).agg(count(lit(1)).as("n_edges"))
      .join(recip, Seq("event_type"), "left")
      .select(col("event_type"), col("n_edges"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        round(coalesce(col("n_recip"), lit(0L)).cast("double")
          / col("n_edges"), 6).as("reciprocity"))
      .orderBy(col("event_type"))
  }

  /** MULTI-SOURCE BFS over the co-purchase graph — k-hop reachability
    * from a seed set (the "expand a trusted-domain neighborhood" /
    * blast-radius primitive; [[graphJaccard]] scores edges, this walks
    * them): seeds = every 500th part, three unrolled frontier
    * expansions with a min-hop aggregate barrier between rounds
    * (pregel's superstep as join + agg), report = node count per
    * minimum hop distance, unreached parts at hop −1.
    *
    * 100 TB shape: each superstep is ONE join of the reached set
    * against the edge list on the source key (both sides hash-partition
    * on node id, so supersteps reuse the partitioning) + one min-agg;
    * the reached set is bounded by the k-hop neighborhood, never the
    * full graph. Fixed depth ⇒ fixed plan — no driver-side iteration
    * state beyond the 3-round unroll. */
  val graphBfs: Q = (s, d) => {
    // Fully LAZY like the r13 shape (A/B'd, the graph_closeness lesson):
    // all three superstep references to `edges` are textually identical
    // subtrees, so ReuseExchange computes the edge build ONCE within the
    // single job; materialization barriers (plain or hash-partitioned)
    // only added jobs and measured worse under interleaved controls.
    val edges = basketEdges(s, d, 3, directed = true)
      .dropDuplicates("src", "dst")
    val seeds = T.part(s, d).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("node"), lit(0L).as("hop"))
    // expand only the FRONTIER (nodes first reached last round): a node at
    // distance h is a neighbor of some distance-(h−1) node, so re-walking
    // the whole reached set each superstep buys nothing and triples the
    // join input on dense neighborhoods
    val reached = (1 to 3).foldLeft(seeds) { (cur, h) =>
      cur.unionAll(
        cur.filter(col("hop") === (h - 1).toLong)
          .join(edges, col("node") === edges("src"))
          .select(col("dst").as("node"), lit(h.toLong).as("hop")))
        .groupBy(col("node")).agg(min(col("hop")).as("hop"))
    }
    T.part(s, d).select(col("p_partkey").as("node"))
      .join(reached, Seq("node"), "left")
      .select(coalesce(col("hop"), lit(-1L)).as("hop"))
      .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hop"))
  }

  /** CLOSENESS CENTRALITY (3-hop ball) — how central each probe node sits
    * in the co-purchase graph ([[graphBfs]] maps reachability of ONE seed
    * set; this scores EACH seed separately: closeness = (reached−1)/Σhops,
    * the local variant production graph systems compute within a bounded
    * radius because exact all-pairs closeness is O(n·m)): seeds = every
    * 500th part, per-seed labeled BFS — the same three unrolled
    * frontier-only supersteps keyed by (seed, node) — then one per-seed
    * fold of reach count and hop sum. All integer until the one reported
    * division.
    *
    * 100 TB shape: state is seeds × their 3-hop neighborhoods (bounded by
    * the probe budget, not the graph); each superstep joins the frontier
    * to the edge list on the node key. */
  val graphCloseness: Q = (s, d) => {
    // r14: examined and LEFT at the r13 shape. Both the collect_set edge
    // build + edge barrier and the per-level frontier barriers (the
    // graph_bfs/graph_betweenness devices) were applied and MEASURED
    // WORSE here (5.8-6.1 s vs a 1.2× environment control over the 2.23 s
    // committed median): this key's lazy fold broadcast-joins the tiny
    // labeled frontier against the shared edge subtree, and ReuseExchange
    // already collapses the three identical superstep edge derivations
    // within the ONE job — splitting them into materialization jobs only
    // added fixed costs. Reverted; the (seed, node) frontier variants of
    // this shape that DO win carry barriers where consumers multiply
    // (graph_betweenness) or plans double per level (graph_bfs).
    val li = T.lineitem(s, d).filter(col("l_orderkey") % 3 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("dst")),
        Seq("l_orderkey"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val seeds = T.part(s, d).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("seed"), col("p_partkey").as("node"),
        lit(0L).as("hop"))
    val reached = (1 to 3).foldLeft(seeds) { (cur, h) =>
      cur.unionAll(
        cur.filter(col("hop") === (h - 1).toLong)
          .join(edges, col("node") === edges("src"))
          .select(col("seed"), col("dst").as("node"), lit(h.toLong).as("hop")))
        .groupBy(col("seed"), col("node")).agg(min(col("hop")).as("hop"))
    }
    reached.groupBy(col("seed"))
      .agg((count(lit(1)) - 1L).as("n_reach"), sum(col("hop")).as("sum_d"))
      .select(col("seed"), col("n_reach"), col("sum_d"),
        when(col("sum_d") > 0L,
          round(col("n_reach").cast("double") / col("sum_d").cast("double"),
            6)).otherwise(lit(0.0)).as("closeness"))
      .orderBy(col("seed"))
  }

  // --------------------------------------------------- graph_betweenness

  /** BOUNDED BETWEENNESS CENTRALITY — which products BROKER the
    * co-purchase graph ([[graphCloseness]] scores how NEAR a
    * probe sits; betweenness scores how often a node lies ON shortest
    * paths — the classic cut-point/bridge signal): Brandes' algorithm,
    * probe-budgeted and radius-bounded exactly like graph_closeness —
    * seeds are every 500th part (the closeness budget; a half-budget
    * A/B read 6.6 vs 7.0 s, i.e. the cost lives in the shared edge-list
    * build, not the seed count — Brandes-Pich source sampling remains
    * the declared dial), forward BFS 3 unrolled supersteps
    * accumulating shortest-path counts σ (integer sums over predecessor
    * frontiers, min-hop enforced by level anti-joins), then the backward
    * dependency pass δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) unrolled hop 3 → 1.
    * Each δ term is one IEEE division (+1 multiply) rounded to 8
    * decimals; sums run as exact DECIMAL, so seed order and partition
    * order cannot move the result. Exact all-pairs betweenness is
    * O(n·m) and correctly NOT attempted — the probe budget is the
    * declared sampling knob (Brandes-Pich source sampling).
    *
    * 100 TB shape: state is seeds × their 3-hop balls (bounded by the
    * probe budget); every superstep and both backward passes are
    * node-keyed equi-joins against the edge list; the final fold is one
    * node-keyed aggregate + top-20. */
  def graphBetweenness(
      cp: CheckpointStrategy = CheckpointStrategy.Local): Q = (s, d) => {
    val np = s.sessionState.conf.numShufflePartitions
    // materializeHashed stores the edge list hash-partitioned on src and
    // DECLARES that layout through the checkpoint (a plain
    // localCheckpoint under AQE reports UnknownPartitioning — see
    // Bridge.checkpointHashPartitioned), so downstream node-keyed joins
    // never re-shuffle the edge side; only the much smaller frontier
    // side moves. The arcs repartition on src before the dedup
    // (basketEdges says why).
    val edges = cp.materializeHashed(
      basketEdges(s, d, 3, directed = true)
        .repartition(np, col("src"))
        .dropDuplicates("src", "dst"),
      np, Seq("src"))
    val l0 = T.part(s, d).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey").as("seed"), col("p_partkey").as("node"),
        lit(1L).as("sig"))
    // one superstep: σ of the next level = sum of predecessor σ over
    // edges; `prev` (all shallower levels) anti-joins away every node
    // already reached, which is exactly the min-hop rule
    def expand(cur: DataFrame, prev: DataFrame): DataFrame =
      cur.select(col("seed"), col("node").as("u"), col("sig"))
        .join(edges, col("u") === col("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum(col("sig")).as("sig"))
        .withColumnRenamed("dst", "node")
        .join(prev.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
    val l1 = cp.materialize(expand(l0, l0))
    val l2 = cp.materialize(expand(l1, l0.unionByName(l1)))
    // r14: the level-3 superstep and δ₂'s numerator both consume the SAME
    // l2 ⋈ edges fan-out (the largest join in the query: |l2| × out-degree
    // rows) — r13 executed it twice, once inside expand(l2, ·) and once
    // inside dep(l2, l3). j3 materializes that fan-out ONCE, pre-
    // partitioned on (seed, dst), so σ₃'s aggregate, the min-hop
    // anti-join AND δ₂'s (seed, dst) equi-join all run exchange-free on
    // it (§2.4: operations keyed the same way share one exchange).
    val j3 = cp.materializeHashed(
      l2.select(col("seed"), col("node").as("u"), col("sig"))
        .join(edges, col("u") === col("src"))
        .select(col("seed"), col("u"), col("sig"), col("dst")),
      np, Seq("seed", "dst"))
    // σ₃ with the min-hop rule; consumed once (by δ₂), so no barrier
    val l3 = j3.groupBy(col("seed"), col("dst"))
      .agg(sum(col("sig")).as("sig"))
      .withColumnRenamed("dst", "node")
      .join(l0.unionByName(l1).unionByName(l2)
          .select(col("seed"), col("node")),
        Seq("seed", "node"), "left_anti")
    // backward pass, hop 3 → 2: δ₃ ≡ 0, so each (v∈l2, w∈l3) edge
    // contributes σ(v)/σ(w). ONLY the integer ratio σv/σw takes an IEEE
    // division (rounded to 8); the ·(1+δw) multiply and the final
    // 8-decimal term rounding run in EXACT DECIMAL — δw has 8 decimals,
    // so (1+δw)·(a dyadic ratio like 1/2) routinely lands on a decimal
    // 9th-digit HALF, and a double-space round there resolves
    // differently per engine (a realized 1-ulp oracle mismatch, not a
    // theoretical one). Sums stay exact DECIMAL (order-free).
    def dep(vs: DataFrame, ws: DataFrame): DataFrame =
      vs.select(col("seed"), col("node").as("v"), col("sig").as("sv"))
        .join(edges, col("v") === col("src"))
        .join(ws.select(col("seed").as("wseed"), col("node").as("wn"),
          col("sig").as("sw"), col("dw")),
          col("dst") === col("wn") && col("seed") === col("wseed"))
        .select(col("seed"), col("v").as("node"),
          round(round(col("sv").cast("double") / col("sw").cast("double"), 8)
              .cast("decimal(12,8)")
            * (lit(1).cast("decimal(21,8)") + col("dw")), 8)
            .cast("decimal(20,8)").as("term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("term")).as("dd"))
    val zeroD = lit(0).cast("decimal(21,8)")
    // r14: materialize δ₂ — it feeds BOTH d1's (1+δw) join and the final
    // union, and without a barrier the whole dep(l2, l3) subtree (the
    // largest join in the query: |l2|×out-degree against the 3-hop ball)
    // was planned and EXECUTED twice (plans/r14/graph_betweenness_before
    // .txt operators 15-34 vs 43-62 — identical duplicated subtrees).
    // δ₂ itself is frontier-sized (≤|l2| rows), so the barrier is cheap.
    // δ₂ reads the materialized j3 fan-out directly (same term arithmetic
    // as dep(), dw ≡ 0): the (seed, dst) join keys match j3's stored
    // partitioning, so neither join side exchanges.
    val d2 = cp.materialize(
      j3.select(col("seed"), col("u").as("v"), col("sig").as("sv"),
          col("dst"))
        .join(l3.withColumn("dw", zeroD)
            .select(col("seed"), col("node").as("dst"), col("sig").as("sw"),
              col("dw")),
          Seq("seed", "dst"))
        .select(col("seed"), col("v").as("node"),
          round(round(col("sv").cast("double") / col("sw").cast("double"), 8)
              .cast("decimal(12,8)")
            * (lit(1).cast("decimal(21,8)") + col("dw")), 8)
            .cast("decimal(20,8)").as("term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("term")).as("dd")))
    val d1 = dep(l1, l2.join(d2, Seq("seed", "node"), "left")
      .withColumn("dw", coalesce(col("dd").cast("decimal(21,8)"), zeroD))
      .select(col("seed"), col("node"), col("sig"), col("dw")))
    // round 8-decimal dyadic terms in DECIMAL space BEFORE the double
    // cast: σ ratios are dyadic rationals, so the exact sum routinely
    // ends in ...50 — a half-way case at 6 decimals that a
    // round-the-binary-double would resolve differently per engine
    d1.unionByName(d2)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_contrib"),
        round(sum(col("dd")), 6).cast("double").as("bc"))
      .orderBy(col("bc").desc, col("node"))
      .limit(20)
  }

  // ------------------------------------------------------------ graph_hits

  /** HITS (Kleinberg 1999) on the customer→supplier purchase graph — the
    * second classic link-analysis score next to `graph_pagerank`, and the
    * one built for BIPARTITE endorsement structure: customers are hubs
    * (they point), suppliers are authorities (they are pointed at), and
    * two mutual-reinforcement iterations from h₀ = 1 score both sides:
    * a₁ = indegree, h₁ = Σ_neighbors a₁, a₂ = Σ_neighbors h₁,
    * h₂ = Σ_neighbors a₂. The declared result is the top-10 per role at
    * iteration depth 2 with the UNNORMALIZED integer score — HITS'
    * eigenvector direction is determined by the un-normalized iterate
    * (normalization only rescales), so staying in integer space makes the
    * ranking EXACT and engine-invariant where the textbook L2-normalized
    * float iteration is neither. Scores ACCUMULATE in DECIMAL(38,0): the
    * iterate grows like (edge degree)² per level, so int64 is the wrong
    * accumulator at cluster scale — the same overflow guard as the
    * checksum keys. The DECLARED output casts the score to BIGINT at the
    * very end (r12, VERDICT r11 #2): the r11 driver gate recorded one
    * hash_match=false on this key that never reproduced locally
    * (rows+schema matched; value-exact PASS on re-run) — the one
    * engine-variant surface left was the decimal RENDERING of the wide
    * type in the harness's hasher, so the declared column is now the
    * trivially-canonical int64. Safe at harness scale: the top score at
    * sf0.1 is ~1e12 (PropertySpec pins 1024x headroom below Long.Max at
    * two SFs); at cluster scale the internal accumulator still never
    * overflows and only this final cast would widen.
    *
    * 100 TB shape: the edge list is one orders⋈lineitem equi-join +
    * distinct (shuffled on the order key, then the pair grain); each HITS
    * level is ONE node-keyed equi-join of the edge list against the
    * previous level's node-score table (node-count-sized — broadcast at
    * harness scale, shuffle-hash on the node key at cluster scale) + one
    * map-side-combined aggregate. Exactly 2 levels per side — bounded, no
    * convergence loop. The top-10 is TakeOrderedAndProject (never a global
    * sort), and the rank window runs on the 10 surviving rows.
    *
    * Edge-list reuse is deliberately left to ReuseExchange, NOT a
    * checkpoint: unlike the louvain/jaccard cases (where a union of both
    * edge directions makes each consumer's subtree textually different),
    * every HITS consumer references the IDENTICAL distinct-pair subtree,
    * so the physical exchange reuses across all five consumers. Measured
    * at sf0.1/32 threads: 2.95 s as-is vs 5.37 s with an eager
    * localCheckpoint — the checkpoint write costs more than it saves. */
  val graphHits: Q = (s, d) => {
    val edges = T.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(T.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        "o_orderkey")
      .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
      .distinct()
    val a1 = edges.groupBy(col("p"))
      .agg(dec38(count(lit(1))).as("a1"))
    val h1 = edges.join(a1, "p").groupBy(col("c"))
      .agg(sum(col("a1")).as("h1"))
    val a2 = edges.join(h1, "c").groupBy(col("p"))
      .agg(sum(col("h1")).as("a2"))
    val h2 = edges.join(a2, "p").groupBy(col("c"))
      .agg(sum(col("a2")).as("h2"))
    def top10(df: DataFrame, node: String, score: String, role: String) =
      df.orderBy(col(score).desc, col(node).asc).limit(10)
        .select(lit(role).as("role"), col(node).as("node"),
          // in-path overflow assertion (ADVICE r12): the DECIMAL(38,0)
          // score narrows to BIGINT for the declared schema; with ANSI
          // off an overflowing cast silently NULLs (mis-sorting the rank
          // window) while the oracle's CAST AS BIGINT hard-errors —
          // raise_error here makes BOTH engines fail loudly at the same
          // boundary instead of diverging past the headroom sweeps
          when(col(score) > lit(Long.MaxValue).cast("decimal(38,0)"),
            raise_error(lit(s"graph_hits: $score overflows BIGINT")))
            .otherwise(col(score).cast("long")).as("score"))
    // one role-partitioned rank window over the 20 surviving rows — never
    // a partition-less Window (the all-query sweep pin)
    val w = Window.partitionBy(col("role"))
      .orderBy(col("score").desc, col("node").asc)
    top10(a2, "p", "a2", "authority")
      .unionByName(top10(h2, "c", "h2", "hub"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("role"), col("rnk"), col("node"), col("score"))
      .orderBy(col("role"), col("rnk"))
  }

  /** PAGERANK over the event-type transition graph — iterative GRAPH
    * analytics beyond connected components (`dedup_cluster`): edges are
    * the lag-window transition counts (`events_path`'s matrix), and two
    * damped power-iteration rounds run in EXACT fixed-point micro-units
    * (ranks ×1e6, contributions via [[graft.core.Numeric.idiv]] — the
    * same integer discipline as `cluster_kmeans`, so a DuckDB oracle with
    * unrolled-CTE iterations matches bit-for-bit; float PageRank would
    * drift by summation order). Scale shape: raw events reduce to the
    * edge list ONCE (one user-key shuffle, aggregated on the bounded
    * |types|² grid, lineage truncated); each iteration is one
    * rank-to-edge equi-join + one aggregate on the destination key — the
    * standard distributed PageRank round, O(|E|) per iteration, never
    * touching raw event volume again. Dangling mass is dropped (no
    * outgoing edges → contribution lost), documented and mirrored by the
    * oracle. */
  def graphPagerank(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    val edges = cp.materialize(
      transitions(T.events(s, d), "from_type", "to_type", "w"))
    val nodes = cp.materialize(edges.select(col("from_type").as("t"))
      .union(edges.select(col("to_type"))).distinct())
    val outw = edges.groupBy(col("from_type")).agg(sum(col("w")).as("ow"))
    val e = edges.join(outw, Seq("from_type"))
    val nn = nodes.count() // scalar driver agg, like dedup_cluster's check
    var ranks = nodes.select(col("t"), idiv(lit(1000000L), lit(nn)).as("r"))
    for (_ <- 1 to 2) {
      val contrib = e.join(ranks.withColumnRenamed("t", "from_type"), Seq("from_type"))
        .groupBy(col("to_type"))
        .agg(sum(idiv(col("r") * col("w"), col("ow"))).as("c"))
      ranks = nodes.join(contrib, nodes("t") === contrib("to_type"), "left")
        .select(col("t"),
          (idiv(lit(150000L), lit(nn)) +
            idiv(lit(85L) * coalesce(col("c"), lit(0L)), lit(100L))).as("r"))
    }
    ranks.select(col("t").as("event_type"), col("r").as("rank_micro"))
      .orderBy(desc("rank_micro"), col("event_type"))
  }

  // -------------------------------------------------------------- graph_scc

  /** STRONGLY CONNECTED COMPONENTS of the event-type DOMINANCE digraph —
    * the directed closure the graph family lacked (`dedup_cluster` is
    * undirected CC; `graph_bfs` is single-source): the transition counts
    * of `events_transition` reduce to a tournament (edge a→b iff
    * strictly more a→b transitions than b→a; ties drop), and its SCCs
    * are the behavioral TIERS — event types that dominate each other
    * cyclically collapse into one component, and the condensation is a
    * total order (a tournament's condensation always is). Reachability
    * closes by POINTER DOUBLING: reach₀ = edges ∪ identity, two doubling
    * rounds cover paths of length 4 ≥ the harness type-graph's diameter
    * (bounded-depth is what makes the key oracle-checkable — full SCC on
    * an unbounded graph is the dedup_cluster driver-loop composition,
    * log-diameter rounds of this exact unit). scc_id(v) = min{u :
    * v→*u ∧ u→*v} — pure integer/string min, engine-exact.
    *
    * 100 TB shape: the transition aggregate is one (prev, type) hash agg
    * over the corpus (map-side combined); everything downstream lives on
    * the TYPE grid (|V|² at worst) — the doubling joins are model-sized.
    * On a node-scale graph each doubling is an equi-join shuffled on the
    * midpoint key, |reach| ≤ |V|·|V| — the declared CC cost class. */
  /** The event-type DOMINANCE digraph shared by `graph_scc` (directed
    * closure) and `graph_wcc` (undirected closure): edge a→b iff
    * strictly more a→b transitions than b→a (ties drop). */
  private def dominanceEdges(s: SparkSession, d: String): DataFrame = {
    val cnt = transitionSteps(T.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      .groupBy(col("prev").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("n"))
    cnt.as("x")
      .join(cnt.as("y"), col("x.a") === col("y.b") && col("x.b") === col("y.a"),
        "left")
      .filter(col("x.a") =!= col("x.b") &&
        col("x.n") > coalesce(col("y.n"), lit(0L)))
      .select(col("x.a").as("src"), col("x.b").as("dst"))
  }

  val graphScc: Q = (s, d) => {
    // the reach sets are TYPE-GRID sized (≤|V|²), so reachClosure's
    // barrier per round and its fixpoint check are microscopic
    val cp = CheckpointStrategy.Local
    val edges = dominanceEdges(s, d)
    val nodes = T.events(s, d).select(col("event_type").as("v")).distinct()
    val r0 = cp.materialize(edges.unionByName(
      nodes.select(col("v").as("src"), col("v").as("dst"))).distinct())
    val reach = reachClosure(r0, 2)
    val scc = reach.as("f")
      .join(reach.as("b"),
        col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
      .groupBy(col("f.src").as("node"))
      .agg(min(col("f.dst")).as("scc_id"))
    val sizes = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id")
      .select(col("node"), col("scc_id"), col("scc_size"))
      .orderBy(col("node"))
  }

  // ---------------------------------------------------------------- graph_wcc

  /** WEAKLY CONNECTED COMPONENTS of the event-type dominance digraph —
    * the undirected closure next to `graph_scc`'s directed one (WCC asks
    * "which types interact AT ALL", SCC asks "which dominate each other
    * cyclically"; every SCC is contained in one WCC, the containment the
    * spec pins). Same bounded-depth reachability declaration as
    * `graph_scc`: symmetrize the dominance edges, close by POINTER
    * DOUBLING — THREE rounds here (paths ≤ 8 ≥ the type graph's
    * undirected diameter; undirected chains run longer than dominance
    * paths, hence one more round than scc's two) — then wcc_id(v) =
    * min{u : v ↔* u}, pure string MIN, engine-exact.
    *
    * 100 TB shape: the transition aggregate is one (prev, type) corpus
    * fold; the closure lives on the TYPE grid (≤ |V|² rows). On a
    * node-scale graph each doubling is an equi-join shuffled on the
    * midpoint key — the declared log-diameter CC cost class
    * (`dedup_cluster`'s driver-loop composition, one round per key). */
  val graphWcc: Q = (s, d) => {
    val cp = CheckpointStrategy.Local
    val e0 = dominanceEdges(s, d)
    val nodes = T.events(s, d).select(col("event_type").as("v")).distinct()
    val r0 = cp.materialize(e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(nodes.select(col("v").as("src"), col("v").as("dst")))
      .distinct())
    val reach = reachClosure(r0, 3)
    val wcc = reach.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("wcc_id"))
    val sizes = wcc.groupBy(col("wcc_id")).agg(count(lit(1)).as("wcc_size"))
    wcc.join(sizes, "wcc_id")
      .select(col("node"), col("wcc_id"), col("wcc_size"))
      .orderBy(col("node"))
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "graph_degree_dist" -> graphDegreeDist,
    "graph_kcore" -> graphKcore(),
    "graph_assortativity" -> graphAssortativity(),
    "graph_modularity" -> graphModularity(),
    "graph_label_prop" -> graphLabelProp(),
    "graph_louvain_pass" -> graphLouvainPass(),
    "graph_louvain_coarsen" -> graphLouvainCoarsen(),
    "graph_louvain_multi" -> graphLouvainMulti,
    "graph_jaccard" -> graphJaccard(),
    "graph_triangles" -> graphTriangles,
    "graph_reciprocity" -> graphReciprocity,
    "graph_bfs" -> graphBfs,
    "graph_closeness" -> graphCloseness,
    "graph_betweenness" -> graphBetweenness(),
    "graph_hits" -> graphHits,
    "graph_pagerank" -> graphPagerank(),
    "graph_scc" -> graphScc,
    "graph_wcc" -> graphWcc,
  )

  /** Shared ANSI CTE chain for the louvain keys: edge build, degrees,
    * edge count, best positive-gain move per node. */
  private[ops] val louvainCoreSql: String =
    """li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 5 = 0),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey),
      |dir AS (SELECT pa AS i, pb AS j FROM edges
      |        UNION ALL SELECT pb AS i, pa AS j FROM edges),
      |deg AS (SELECT i AS p, COUNT(*) AS deg FROM dir GROUP BY i),
      |m AS (SELECT COUNT(*) AS m FROM edges),
      |best AS (
      |  SELECT i, ki, j, kj FROM (
      |    SELECT dir.i, di.deg AS ki, dir.j, dj.deg AS kj,
      |      ROW_NUMBER() OVER (PARTITION BY dir.i
      |        ORDER BY dj.deg ASC, dir.j ASC) AS rnk
      |    FROM dir
      |    JOIN deg di ON di.p = dir.i
      |    JOIN deg dj ON dj.p = dir.j)
      |  WHERE rnk = 1)""".stripMargin

  /** Shared ANSI text for graph_betweenness — runs unchanged in DuckDB
    * (oracle) and Spark (statement front door). */
  private[graft] val betweennessSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 3 = 0),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |l0 AS (
      |  SELECT p_partkey AS seed, p_partkey AS node, CAST(1 AS BIGINT) AS sig
      |  FROM part WHERE p_partkey % 500 = 0),
      |e1 AS (
      |  SELECT l0.seed, e.dst AS node, CAST(SUM(l0.sig) AS BIGINT) AS sig
      |  FROM l0 JOIN edges e ON l0.node = e.src GROUP BY l0.seed, e.dst),
      |l1 AS (
      |  SELECT * FROM e1 WHERE NOT EXISTS (
      |    SELECT 1 FROM l0 WHERE l0.seed = e1.seed AND l0.node = e1.node)),
      |e2 AS (
      |  SELECT l1.seed, e.dst AS node, CAST(SUM(l1.sig) AS BIGINT) AS sig
      |  FROM l1 JOIN edges e ON l1.node = e.src GROUP BY l1.seed, e.dst),
      |l2 AS (
      |  SELECT * FROM e2 WHERE NOT EXISTS (
      |      SELECT 1 FROM l0 WHERE l0.seed = e2.seed AND l0.node = e2.node)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM l1 WHERE l1.seed = e2.seed AND l1.node = e2.node)),
      |e3 AS (
      |  SELECT l2.seed, e.dst AS node, CAST(SUM(l2.sig) AS BIGINT) AS sig
      |  FROM l2 JOIN edges e ON l2.node = e.src GROUP BY l2.seed, e.dst),
      |l3 AS (
      |  SELECT * FROM e3 WHERE NOT EXISTS (
      |      SELECT 1 FROM l0 WHERE l0.seed = e3.seed AND l0.node = e3.node)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM l1 WHERE l1.seed = e3.seed AND l1.node = e3.node)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM l2 WHERE l2.seed = e3.seed AND l2.node = e3.node)),
      |d2 AS (
      |  SELECT v.seed, v.node,
      |    SUM(CAST(round(
      |      CAST(round(CAST(v.sig AS DOUBLE) / CAST(w.sig AS DOUBLE), 8)
      |        AS DECIMAL(12,8))
      |      * (CAST(1 AS DECIMAL(21,8)) + CAST(0 AS DECIMAL(21,8))), 8)
      |      AS DECIMAL(20,8))) AS dd
      |  FROM l2 v JOIN edges e ON v.node = e.src
      |  JOIN l3 w ON w.seed = v.seed AND w.node = e.dst
      |  GROUP BY v.seed, v.node),
      |d1 AS (
      |  SELECT v.seed, v.node,
      |    SUM(CAST(round(
      |      CAST(round(CAST(v.sig AS DOUBLE) / CAST(w.sig AS DOUBLE), 8)
      |        AS DECIMAL(12,8))
      |      * (CAST(1 AS DECIMAL(21,8))
      |         + COALESCE(CAST(d2.dd AS DECIMAL(21,8)),
      |             CAST(0 AS DECIMAL(21,8)))), 8)
      |      AS DECIMAL(20,8))) AS dd
      |  FROM l1 v JOIN edges e ON v.node = e.src
      |  JOIN l2 w ON w.seed = v.seed AND w.node = e.dst
      |  LEFT JOIN d2 ON d2.seed = w.seed AND d2.node = w.node
      |  GROUP BY v.seed, v.node),
      |un AS (
      |  SELECT seed, node, dd FROM d1
      |  UNION ALL
      |  SELECT seed, node, dd FROM d2)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_contrib,
      |  CAST(round(SUM(dd), 6) AS DOUBLE) AS bc
      |FROM un GROUP BY node
      |ORDER BY bc DESC, node LIMIT 20""".stripMargin

  /** DuckDB oracle texts. */
  val oracles: Map[String, String] = Map(
    // explicit power-of-two CASE ladder (no float log2)
    "graph_degree_dist" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 3 = 0),
        |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT p, COUNT(*) AS deg FROM (
        |    SELECT pa AS p FROM e UNION ALL SELECT pb FROM e) u GROUP BY p)
        |SELECT CAST(CASE WHEN deg = 1 THEN 1 WHEN deg <= 3 THEN 2
        |    WHEN deg <= 7 THEN 4 WHEN deg <= 15 THEN 8 WHEN deg <= 31 THEN 16
        |    WHEN deg <= 63 THEN 32 ELSE 64 END AS BIGINT) AS bucket_lo,
        |  COUNT(*) AS n_nodes, CAST(MIN(deg) AS BIGINT) AS min_deg,
        |  CAST(MAX(deg) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bucket_lo""".stripMargin,

    // two unrolled peel rounds, k = 32 — the declared contract
    "graph_kcore" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 3 = 0),
        |e0 AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |d0 AS (SELECT p, COUNT(*) AS deg FROM (
        |    SELECT pa AS p FROM e0 UNION ALL SELECT pb FROM e0) u GROUP BY p),
        |k0 AS (SELECT p FROM d0 WHERE deg >= 32),
        |e1 AS (SELECT pa, pb FROM e0
        |  WHERE pa IN (SELECT p FROM k0) AND pb IN (SELECT p FROM k0)),
        |d1 AS (SELECT p, COUNT(*) AS deg FROM (
        |    SELECT pa AS p FROM e1 UNION ALL SELECT pb FROM e1) u GROUP BY p)
        |SELECT CAST(p AS BIGINT) AS node, CAST(deg AS BIGINT) AS deg
        |FROM d1 WHERE deg >= 32 ORDER BY node""".stripMargin,

    "graph_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT p, COUNT(*) AS dg FROM (
        |    SELECT pa AS p FROM edges UNION ALL SELECT pb AS p FROM edges)
        |  GROUP BY p),
        |sym AS (
        |  SELECT pa AS x, pb AS y FROM edges
        |  UNION ALL SELECT pb AS x, pa AS y FROM edges),
        |ed AS (
        |  SELECT dx.dg AS dx, dy.dg AS dy
        |  FROM sym JOIN deg dx ON sym.x = dx.p JOIN deg dy ON sym.y = dy.p),
        |mo AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(dx) AS sx,
        |    SUM(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
        |    SUM(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy
        |  FROM ed),
        |nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, CAST(n / 2 AS BIGINT) AS n_edges,
        |  CAST(round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)
        |    AS mean_endpoint_deg,
        |  CAST(round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 6) AS DOUBLE)
        |    AS assortativity
        |FROM mo CROSS JOIN nodes""".stripMargin,

    "graph_modularity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |eb AS (
        |  SELECT pa, pb, ba.p_brand AS ca, bb.p_brand AS cb
        |  FROM edges
        |  JOIN part ba ON edges.pa = ba.p_partkey
        |  JOIN part bb ON edges.pb = bb.p_partkey),
        |m AS (SELECT COUNT(*) AS m FROM eb),
        |dt AS (
        |  SELECT c, COUNT(*) AS d_tot FROM (
        |    SELECT ca AS c FROM eb UNION ALL SELECT cb AS c FROM eb)
        |  GROUP BY c),
        |ei AS (
        |  SELECT ca AS c, COUNT(*) AS e_in FROM eb WHERE ca = cb
        |  GROUP BY ca),
        |nn AS (
        |  SELECT p_brand AS c, COUNT(*) AS n_nodes FROM (
        |    SELECT DISTINCT p FROM (
        |      SELECT pa AS p FROM edges UNION ALL SELECT pb AS p FROM edges))
        |  JOIN part ON p = p_partkey GROUP BY p_brand),
        |per AS (
        |  SELECT dt.c, n_nodes, COALESCE(e_in, 0) AS e_in, d_tot,
        |    round(CAST(COALESCE(e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
        |      - (CAST(d_tot AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
        |        * (CAST(d_tot AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))), 8)
        |      AS contrib
        |  FROM dt LEFT JOIN ei ON dt.c = ei.c
        |  JOIN nn ON dt.c = nn.c CROSS JOIN m),
        |q AS (
        |  SELECT CAST(SUM(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE) AS q
        |  FROM per)
        |SELECT c AS community, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(e_in AS BIGINT) AS e_in, CAST(d_tot AS BIGINT) AS d_tot,
        |  CAST(round(contrib, 6) AS DOUBLE) AS contrib,
        |  CAST(round(q, 6) AS DOUBLE) AS modularity
        |FROM per CROSS JOIN q ORDER BY community""".stripMargin,

    // 3 unrolled min-label supersteps — integer-exact in any engine
    "graph_label_prop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 5 = 0),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |msgs AS (
        |  SELECT pa AS node, pb AS nbr FROM edges
        |  UNION ALL
        |  SELECT pb AS node, pa AS nbr FROM edges),
        |l0 AS (SELECT DISTINCT l_partkey AS node, l_partkey AS lab FROM li),
        |l1 AS (SELECT node, MIN(lab) AS lab FROM (
        |    SELECT node, lab FROM l0
        |    UNION ALL
        |    SELECT m.node, l.lab FROM msgs m JOIN l0 l ON m.nbr = l.node)
        |  GROUP BY node),
        |l2 AS (SELECT node, MIN(lab) AS lab FROM (
        |    SELECT node, lab FROM l1
        |    UNION ALL
        |    SELECT m.node, l.lab FROM msgs m JOIN l1 l ON m.nbr = l.node)
        |  GROUP BY node),
        |l3 AS (SELECT node, MIN(lab) AS lab FROM (
        |    SELECT node, lab FROM l2
        |    UNION ALL
        |    SELECT m.node, l.lab FROM msgs m JOIN l2 l ON m.nbr = l.node)
        |  GROUP BY node)
        |SELECT lab, COUNT(*) AS n_members, MIN(node) AS min_node,
        |  MAX(node) AS max_node
        |FROM l3 GROUP BY lab HAVING COUNT(*) >= 2 ORDER BY lab""".stripMargin,

    "graph_louvain_pass" ->
      s"""WITH $louvainCoreSql
         |SELECT i AS node, ki AS deg, j AS best_nbr,
         |  (2 * m.m - ki * kj > 0) AS moved,
         |  CASE WHEN 2 * m.m - ki * kj > 0 THEN j ELSE i END AS community,
         |  CAST(2 * m.m - ki * kj AS DOUBLE) / CAST(2 * m.m * m.m AS DOUBLE)
         |    AS delta_q
         |FROM best CROSS JOIN m
         |ORDER BY node""".stripMargin,

    "graph_louvain_coarsen" ->
      s"""WITH $louvainCoreSql,
         |comm AS (
         |  SELECT i AS node,
         |    CASE WHEN 2 * m.m - ki * kj > 0 THEN j ELSE i END AS c
         |  FROM best CROSS JOIN m)
         |SELECT LEAST(x.c, y.c) AS ca, GREATEST(x.c, y.c) AS cb,
         |  COUNT(*) AS n_edges,
         |  (LEAST(x.c, y.c) = GREATEST(x.c, y.c)) AS is_self
         |FROM edges e
         |JOIN comm x ON e.pa = x.node
         |JOIN comm y ON e.pb = y.node
         |GROUP BY LEAST(x.c, y.c), GREATEST(x.c, y.c)
         |ORDER BY ca, cb""".stripMargin,

    "graph_louvain_multi" ->
      s"""WITH $louvainCoreSql,
         |comm AS (
         |  SELECT i AS node, ki AS deg,
         |    CASE WHEN 2 * m.m - ki * kj > 0 THEN j ELSE i END AS c1
         |  FROM best CROSS JOIN m),
         |coarse AS (
         |  SELECT LEAST(x.c1, y.c1) AS ca, GREATEST(x.c1, y.c1) AS cb,
         |    COUNT(*) AS w
         |  FROM edges e
         |  JOIN comm x ON e.pa = x.node
         |  JOIN comm y ON e.pb = y.node
         |  GROUP BY LEAST(x.c1, y.c1), GREATEST(x.c1, y.c1)),
         |wdeg AS (
         |  SELECT c, SUM(k) AS kc FROM (
         |    SELECT ca AS c, CASE WHEN ca = cb THEN 2 * w ELSE w END AS k
         |    FROM coarse
         |    UNION ALL
         |    SELECT cb AS c, w AS k FROM coarse WHERE ca <> cb) u
         |  GROUP BY c),
         |dir2 AS (
         |  SELECT ca AS i, cb AS j, w FROM coarse WHERE ca <> cb
         |  UNION ALL
         |  SELECT cb AS i, ca AS j, w FROM coarse WHERE ca <> cb),
         |best2 AS (
         |  SELECT i, j, gain FROM (
         |    SELECT d.i, d.j,
         |      CAST(2 * m.m AS DECIMAL(38,0)) * d.w
         |        - CAST(ki.kc AS DECIMAL(38,0)) * kj.kc AS gain,
         |      ROW_NUMBER() OVER (PARTITION BY d.i ORDER BY
         |        CAST(2 * m.m AS DECIMAL(38,0)) * d.w
         |          - CAST(ki.kc AS DECIMAL(38,0)) * kj.kc DESC,
         |        d.j ASC) AS rnk
         |    FROM dir2 d
         |    JOIN wdeg ki ON ki.c = d.i
         |    JOIN wdeg kj ON kj.c = d.j
         |    CROSS JOIN m) t
         |  WHERE rnk = 1),
         |fin AS (
         |  SELECT comm.node, comm.deg, comm.c1,
         |    COALESCE(CASE WHEN b.gain > 0 THEN b.j ELSE b.i END, comm.c1)
         |      AS c2
         |  FROM comm LEFT JOIN best2 b ON b.i = comm.c1),
         |lv AS (
         |  SELECT 0 AS level, node, deg, node AS comm FROM fin
         |  UNION ALL SELECT 1 AS level, node, deg, c1 AS comm FROM fin
         |  UNION ALL SELECT 2 AS level, node, deg, c2 AS comm FROM fin),
         |intra AS (
         |  SELECT x.level,
         |    SUM(CASE WHEN x.comm = y.comm THEN 1 ELSE 0 END) AS n_intra
         |  FROM edges e
         |  JOIN lv x ON e.pa = x.node
         |  JOIN lv y ON e.pb = y.node AND y.level = x.level
         |  GROUP BY x.level),
         |dsq AS (
         |  SELECT level, COUNT(*) AS n_comms,
         |    SUM(CAST(dc AS DECIMAL(38,0)) * dc) AS sumsq
         |  FROM (SELECT level, comm, SUM(deg) AS dc FROM lv
         |        GROUP BY level, comm) g
         |  GROUP BY level)
         |SELECT CAST(d.level AS BIGINT) AS level,
         |  CAST(d.n_comms AS BIGINT) AS n_comms,
         |  CAST(i.n_intra AS BIGINT) AS n_intra,
         |  CAST(CAST(4 * m.m AS DECIMAL(38,0)) * i.n_intra - d.sumsq
         |      AS DOUBLE)
         |    / CAST(CAST(4 * m.m * m.m AS DECIMAL(38,0)) AS DOUBLE) AS q
         |FROM dsq d
         |JOIN intra i ON i.level = d.level
         |CROSS JOIN m
         |ORDER BY level""".stripMargin,

    // edge Jaccard: the oracle enumerates triangles naively in canonical
    // a<b<c id order (orientation is result-invariant); all counts exact,
    // one double division, round 6, ties break on the pair itself
    "graph_jaccard" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_orderkey % 3 = 0),
        |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT pa AS p FROM e UNION ALL SELECT pb FROM e) GROUP BY p),
        |tri AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1 JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
        |  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |te AS (SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS t FROM (
        |    SELECT a AS pa, b AS pb FROM tri
        |    UNION ALL SELECT a, c FROM tri
        |    UNION ALL SELECT b, c FROM tri) GROUP BY pa, pb)
        |SELECT e.pa, e.pb, te.t,
        |  CAST(round(CAST(te.t AS DOUBLE)
        |    / CAST(da.deg + db.deg - 2 - te.t AS DOUBLE), 6) AS DOUBLE)
        |    AS jaccard
        |FROM e JOIN te ON e.pa = te.pa AND e.pb = te.pb
        |JOIN deg da ON e.pa = da.p JOIN deg db ON e.pb = db.p
        |ORDER BY jaccard DESC, e.pa, e.pb LIMIT 20""".stripMargin,

    // canonical two-hop triangle enumeration with a < b < c — each
    // triangle materializes exactly once; per-node counts via the
    // three-corner union
    "graph_triangles" ->
      """WITH nodes AS (
        |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hr, user_id
        |  FROM events WHERE user_id % 2 = 0
        |), capped AS (
        |  SELECT event_type, hr, user_id FROM (
        |    SELECT event_type, hr, user_id,
        |           COUNT(*) OVER (PARTITION BY event_type, hr) AS bsz
        |    FROM nodes)
        |  WHERE bsz <= 100
        |), edges AS (
        |  SELECT DISTINCT a.user_id AS u1, b.user_id AS u2
        |  FROM capped a JOIN capped b
        |    ON a.event_type = b.event_type AND a.hr = b.hr
        |   AND a.user_id < b.user_id
        |), tri AS (
        |  SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.u1 = e1.u2
        |  JOIN edges e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
        |), corners AS (
        |  SELECT a AS user_id FROM tri
        |  UNION ALL SELECT b AS user_id FROM tri
        |  UNION ALL SELECT c AS user_id FROM tri)
        |SELECT user_id, COUNT(*) AS n_triangles
        |FROM corners GROUP BY user_id ORDER BY user_id""".stripMargin,

    // dual-dialect ANSI
    "graph_reciprocity" ->
      """WITH firsts AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |    MIN(ts) AS fts
        |  FROM events GROUP BY event_type, date_trunc('hour', ts), user_id),
        |hand AS (
        |  SELECT event_type, user_id AS src,
        |    LEAD(user_id) OVER (PARTITION BY event_type, hr
        |      ORDER BY fts, user_id) AS dst
        |  FROM firsts),
        |edges AS (
        |  SELECT DISTINCT event_type, src, dst FROM hand
        |  WHERE dst IS NOT NULL),
        |recip AS (
        |  SELECT e.event_type, COUNT(*) AS n_recip
        |  FROM edges e JOIN edges r
        |    ON e.event_type = r.event_type AND e.src = r.dst
        |      AND e.dst = r.src
        |  GROUP BY e.event_type),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n_edges FROM edges
        |  GROUP BY event_type)
        |SELECT t.event_type, t.n_edges,
        |  CAST(COALESCE(r.n_recip, 0) AS BIGINT) AS n_recip,
        |  CAST(ROUND(CAST(COALESCE(r.n_recip, 0) AS DOUBLE)
        |    / CAST(t.n_edges AS DOUBLE), 6) AS DOUBLE) AS reciprocity
        |FROM tot t LEFT JOIN recip r ON t.event_type = r.event_type
        |ORDER BY t.event_type""".stripMargin,

    // unrolled 3-superstep BFS: UNION ALL + MIN(hop) per round is the
    // declarative spelling of the frontier expansion (ANSI, dual-dialect)
    "graph_bfs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 3 = 0),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey <> b.l_partkey),
        |d0 AS (
        |  SELECT p_partkey AS node, CAST(0 AS BIGINT) AS hop
        |  FROM part WHERE p_partkey % 500 = 0),
        |d1 AS (SELECT node, MIN(hop) AS hop FROM (
        |    SELECT node, hop FROM d0
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(1 AS BIGINT) AS hop
        |    FROM d0 JOIN edges e ON d0.node = e.src
        |    WHERE d0.hop = 0) x1 GROUP BY node),
        |d2 AS (SELECT node, MIN(hop) AS hop FROM (
        |    SELECT node, hop FROM d1
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(2 AS BIGINT) AS hop
        |    FROM d1 JOIN edges e ON d1.node = e.src
        |    WHERE d1.hop = 1) x2 GROUP BY node),
        |d3 AS (SELECT node, MIN(hop) AS hop FROM (
        |    SELECT node, hop FROM d2
        |    UNION ALL
        |    SELECT e.dst AS node, CAST(3 AS BIGINT) AS hop
        |    FROM d2 JOIN edges e ON d2.node = e.src
        |    WHERE d2.hop = 2) x3 GROUP BY node)
        |SELECT COALESCE(d3.hop, CAST(-1 AS BIGINT)) AS hop,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM part LEFT JOIN d3 ON part.p_partkey = d3.node
        |GROUP BY COALESCE(d3.hop, CAST(-1 AS BIGINT))
        |ORDER BY hop""".stripMargin,

    // per-seed labeled BFS, same unrolled-CTE spelling as graph_bfs with
    // a seed key carried through every round (ANSI, dual-dialect)
    "graph_closeness" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 3 = 0),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey <> b.l_partkey),
        |d0 AS (
        |  SELECT p_partkey AS seed, p_partkey AS node, CAST(0 AS BIGINT) AS hop
        |  FROM part WHERE p_partkey % 500 = 0),
        |d1 AS (SELECT seed, node, MIN(hop) AS hop FROM (
        |    SELECT seed, node, hop FROM d0
        |    UNION ALL
        |    SELECT d0.seed, e.dst AS node, CAST(1 AS BIGINT) AS hop
        |    FROM d0 JOIN edges e ON d0.node = e.src
        |    WHERE d0.hop = 0) x1 GROUP BY seed, node),
        |d2 AS (SELECT seed, node, MIN(hop) AS hop FROM (
        |    SELECT seed, node, hop FROM d1
        |    UNION ALL
        |    SELECT d1.seed, e.dst AS node, CAST(2 AS BIGINT) AS hop
        |    FROM d1 JOIN edges e ON d1.node = e.src
        |    WHERE d1.hop = 1) x2 GROUP BY seed, node),
        |d3 AS (SELECT seed, node, MIN(hop) AS hop FROM (
        |    SELECT seed, node, hop FROM d2
        |    UNION ALL
        |    SELECT d2.seed, e.dst AS node, CAST(3 AS BIGINT) AS hop
        |    FROM d2 JOIN edges e ON d2.node = e.src
        |    WHERE d2.hop = 2) x3 GROUP BY seed, node)
        |SELECT seed, CAST(COUNT(*) - 1 AS BIGINT) AS n_reach,
        |  CAST(SUM(hop) AS BIGINT) AS sum_d,
        |  CAST(CASE WHEN SUM(hop) > 0
        |    THEN round(CAST(COUNT(*) - 1 AS DOUBLE)
        |      / CAST(SUM(hop) AS DOUBLE), 6)
        |    ELSE 0.0 END AS DOUBLE) AS closeness
        |FROM d3 GROUP BY seed ORDER BY seed""".stripMargin,

    "graph_betweenness" -> betweennessSql,

    "graph_hits" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a1 AS (SELECT p, CAST(COUNT(*) AS DECIMAL(38,0)) AS a1
        |       FROM edges GROUP BY p),
        |h1 AS (SELECT c, SUM(a1) AS h1
        |       FROM edges JOIN a1 USING (p) GROUP BY c),
        |a2 AS (SELECT p, SUM(h1) AS a2
        |       FROM edges JOIN h1 USING (c) GROUP BY p),
        |h2 AS (SELECT c, SUM(a2) AS h2
        |       FROM edges JOIN a2 USING (p) GROUP BY c),
        |u AS (
        |  SELECT 'authority' AS role, p AS node,
        |    CAST(a2 AS BIGINT) AS score FROM a2
        |  UNION ALL
        |  SELECT 'hub' AS role, c AS node,
        |    CAST(h2 AS BIGINT) AS score FROM h2),
        |r AS (SELECT role, node, score,
        |    ROW_NUMBER() OVER (PARTITION BY role
        |      ORDER BY score DESC, node ASC) AS rnk
        |  FROM u)
        |SELECT role, CAST(rnk AS BIGINT) AS rnk, node, score
        |FROM r WHERE rnk <= 10
        |ORDER BY role, rnk""".stripMargin,

    // DuckDB dialect (// integer division); two unrolled power iterations
    // in exact micro-units — bit-identical to the DataFrame loop
    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT user_id, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
        |  FROM events),
        |edges AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS w
        |  FROM e0 WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |nodes AS (
        |  SELECT from_type AS t FROM edges UNION SELECT to_type FROM edges),
        |outw AS (SELECT from_type, SUM(w) AS ow FROM edges GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM nodes),
        |r0 AS (SELECT t, 1000000 // (SELECT nn FROM n) AS r FROM nodes),
        |c1 AS (SELECT e.to_type AS t, SUM((r0.r * e.w) // o.ow) AS c
        |       FROM edges e JOIN r0 ON e.from_type = r0.t
        |       JOIN outw o ON e.from_type = o.from_type GROUP BY 1),
        |r1 AS (SELECT nodes.t,
        |         150000 // (SELECT nn FROM n)
        |           + (85 * COALESCE(c1.c, 0)) // 100 AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.t = c1.t),
        |c2 AS (SELECT e.to_type AS t, SUM((r1.r * e.w) // o.ow) AS c
        |       FROM edges e JOIN r1 ON e.from_type = r1.t
        |       JOIN outw o ON e.from_type = o.from_type GROUP BY 1),
        |r2 AS (SELECT nodes.t,
        |         150000 // (SELECT nn FROM n)
        |           + (85 * COALESCE(c2.c, 0)) // 100 AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.t = c2.t)
        |SELECT t AS event_type, CAST(r AS BIGINT) AS rank_micro
        |FROM r2 ORDER BY rank_micro DESC, event_type""".stripMargin,

    "graph_scc" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cnt AS (SELECT prev AS a, event_type AS b, COUNT(*) AS n
        |        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |edges AS (
        |  SELECT x.a AS src, x.b AS dst FROM cnt x
        |  LEFT JOIN cnt y ON x.a = y.b AND x.b = y.a
        |  WHERE x.a <> x.b AND x.n > COALESCE(y.n, 0)),
        |nodes AS (SELECT DISTINCT event_type AS v FROM events),
        |r0 AS (SELECT src, dst FROM edges UNION SELECT v, v FROM nodes),
        |r1 AS (SELECT src, dst FROM r0
        |       UNION
        |       SELECT p.src, q.dst FROM r0 p JOIN r0 q ON p.dst = q.src),
        |r2 AS (SELECT src, dst FROM r1
        |       UNION
        |       SELECT p.src, q.dst FROM r1 p JOIN r1 q ON p.dst = q.src),
        |scc AS (SELECT f.src AS node, MIN(f.dst) AS scc_id
        |        FROM r2 f JOIN r2 b ON f.src = b.dst AND f.dst = b.src
        |        GROUP BY f.src),
        |sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY scc_id)
        |SELECT node, scc_id, scc_size FROM scc JOIN sizes USING (scc_id)
        |ORDER BY node""".stripMargin,

    // dual-dialect ANSI
    "graph_wcc" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |cnt AS (SELECT prev AS a, event_type AS b, COUNT(*) AS n
        |        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |edges AS (
        |  SELECT x.a AS src, x.b AS dst FROM cnt x
        |  LEFT JOIN cnt y ON x.a = y.b AND x.b = y.a
        |  WHERE x.a <> x.b AND x.n > COALESCE(y.n, 0)),
        |nodes AS (SELECT DISTINCT event_type AS v FROM events),
        |r0 AS (SELECT src, dst FROM edges
        |       UNION SELECT dst, src FROM edges
        |       UNION SELECT v, v FROM nodes),
        |r1 AS (SELECT src, dst FROM r0
        |       UNION
        |       SELECT p.src, q.dst FROM r0 p JOIN r0 q ON p.dst = q.src),
        |r2 AS (SELECT src, dst FROM r1
        |       UNION
        |       SELECT p.src, q.dst FROM r1 p JOIN r1 q ON p.dst = q.src),
        |r3 AS (SELECT src, dst FROM r2
        |       UNION
        |       SELECT p.src, q.dst FROM r2 p JOIN r2 q ON p.dst = q.src),
        |wcc AS (SELECT src AS node, MIN(dst) AS wcc_id
        |        FROM r3 GROUP BY src),
        |sizes AS (SELECT wcc_id AS wid, COUNT(*) AS wcc_size
        |          FROM wcc GROUP BY wcc_id)
        |SELECT node, wcc_id, CAST(wcc_size AS BIGINT) AS wcc_size
        |FROM wcc JOIN sizes ON wcc.wcc_id = sizes.wid
        |ORDER BY node""".stripMargin,
  )
}
