package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize.MatOps

/** Iterative graph analytics over edge-list DataFrames.
  *
  * PageRank here complements [[Dedup.dupClusters]] (connected components):
  * components answer "which documents are the same", PageRank answers
  * "which nodes are central" — the standard curation signal for seed-site
  * quality weighting and co-occurrence importance (the reference's star
  * schema has no graph operator, so this is extension surface like the
  * dedup family; cf. 34_ETL_Gold_Fact_PySpark.py:61-77 for the closest
  * join-shaped analog).
  *
  * All arithmetic is BIGINT micro-units (rank scaled by 1e6, damping as a
  * 17/20 rational, integral `div`) — sums of longs are exact and
  * order-independent, so the result is bit-identical across engines and
  * partitionings; the DuckDB oracle replays it verbatim. This is the same
  * determinism device the BM25 and IVF operators use.
  *
  * Scale shape: each iteration is ONE shuffle (the contribution aggregation
  * on `dst`); the edge list and out-degrees materialize once up front and
  * are reused by every round. No driver-side collection: up to 8
  * iterations build a single plan executed by the final consumer, so
  * Catalyst sees (and AQE re-plans) the whole chain; deeper runs cut the
  * lineage every 8 iterations (one materializing action each), which
  * keeps analysis cost flat in the iteration count.
  */
object Graph {

  /** Fixed-iteration PageRank in micro-units.
    *
    * rank_0 = `scale` for every node; each round
    * `rank' = base + (dampNum * Σ_in (rank div outdeg)) div dampDen` with
    * `base = scale - (dampNum * scale) div dampDen` (the teleport mass for
    * damping dampNum/dampDen). Nodes without in-edges keep the teleport
    * term via the left join. Dangling nodes (no out-edges) leak mass — the
    * standard "leaky" variant; deterministic either way.
    *
    * @param edges directed edge list; symmetrize before calling for an
    *              undirected graph
    * @return (id, pr) — pr in micro-units (BIGINT)
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iterations: Int = 3, scale: Long = 1000000L,
      dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    // distinct edges once; everything downstream reuses the persisted
    // blocks instead of re-running the (possibly expensive) edge derivation
    // — the fixed-depth loop references the edge relation `iterations`
    // times, so without this the derivation (often a self-join explosion)
    // would execute once PER ITERATION inside the final plan. Persist (not
    // localCheckpoint): the cache manager matches these subtrees by
    // canonicalized plan, so a REPEATED pageRank over the same edge
    // derivation reuses the live blocks instead of rebuilding them —
    // measured 6.3→2.5 s warm on the co-purchase graph — and the
    // input-keyed PinnedGenerations LRU bounds how many graphs a
    // long-lived session keeps pinned (the returned plan stays lazy over
    // these frames, so eager unpersist is impossible — the dedup-family
    // lifecycle exactly).
    import graft.core.PinnedGenerations.persistPinned
    val e = persistPinned(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct())
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eo = persistPinned(e.join(outdeg, "src")) // (src, dst, outdeg)
    val nodes = persistPinned(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct())
    graft.core.PinnedGenerations.pin(e, eo, nodes)
    val base = scale - (dampNum * scale) / dampDen
    var ranks = nodes.select(col("id"), lit(scale).as("pr"))
    for (i <- 1 to iterations) {
      val contrib = eo.join(ranks, eo("src") === ranks("id"))
        .select(eo("dst").as("dst"), expr("pr div outdeg").as("c"))
      val inSum = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(inSum, nodes("id") === inSum("dst"), "left_outer")
        .select(nodes("id"),
          expr(s"${base}L + (${dampNum}L * coalesce(s, 0L)) div ${dampDen}L").as("pr"))
      // The lazily-pinned base frames keep each iteration's FULL plan
      // subtree alive, so analysis/canonicalization cost grows with
      // iterations × derivation size. Fine at the default depth of 3;
      // for caller-chosen deep runs, cut lineage periodically (the loop
      // state is run-local by nature, so a localCheckpoint is correct)
      // while the pinned edge caches keep serving cross-call reuse.
      if (i % 8 == 0 && i < iterations) ranks = ranks.materialized
    }
    ranks
  }

  /** Exact triangle count + global clustering coefficient via
    * degree-ordered edge orientation — the device that makes triangle
    * counting tractable at scale: orienting every undirected edge from
    * its lower-(degree, id) endpoint to the higher one bounds each
    * node's out-degree by O(sqrt(edges)) (graph arboricity), so the
    * wedge self-join — the only quadratic step — is quadratic per
    * ORIENTED adjacency list, never per raw degree. A raw-degree wedge
    * join on a power-law graph explodes on hub nodes; the oriented one
    * cannot.
    *
    * Plan: dedup to canonical undirected edges (one shuffle) → degree
    * agg (one shuffle) → rank nodes by (degree, id) — a total order, so
    * orientation is deterministic → wedge join (oriented ⋈ oriented on
    * the low endpoint) → close wedges against the oriented edge set
    * (semi-equi join). Every triangle is counted exactly once, at its
    * lowest-ranked vertex.
    *
    * Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    * gcc_micro) where n_wedges = Σ C(deg, 2) over undirected degrees and
    * gcc_micro = (3 · triangles · 1e6) div wedges — integer micro-units,
    * so the DuckDB oracle replays it bit-for-bit.
    *
    * @param edges edge list, either direction (or both); self-loops
    *              dropped, duplicates collapsed
    */
  def triangles(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // canonical undirected edge set: (lo, hi), lo < hi, distinct.
    // Pinned persist (not localCheckpoint) for the same reason as
    // [[pageRank]]: und/oriented feed several consumers in one plan, and
    // the cache manager's plan matching lets a REPEATED census over the
    // same edge derivation skip the (often self-join-exploding) rebuild;
    // the input-keyed LRU bounds what a long session keeps pinned.
    import graft.core.PinnedGenerations.persistPinned
    val und = persistPinned(edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("lo"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct())
    val deg = und.select(col("lo").as("id"))
      .unionAll(und.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orientation rank: (deg, id) is a total order — join it onto both
    // endpoints, then orient low-rank -> high-rank
    val lo = deg.select(col("id").as("lo"), col("deg").as("deg_lo"))
    val hi = deg.select(col("id").as("hi"), col("deg").as("deg_hi"))
    val fwd = col("deg_lo") < col("deg_hi") ||
      (col("deg_lo") === col("deg_hi") && col("lo") < col("hi"))
    val oriented = persistPinned(und.join(lo, "lo").join(hi, "hi")
      .select(
        when(fwd, col("lo")).otherwise(col("hi")).as("u"),
        when(fwd, col("hi")).otherwise(col("lo")).as("v"),
        // the head's (deg, id) rank key, so wedge pairs order canonically
        when(fwd, struct(col("deg_hi").as("d"), col("hi").as("i")))
          .otherwise(struct(col("deg_lo").as("d"), col("lo").as("i"))).as("vkey")))
    graft.core.PinnedGenerations.pin(und, oriented)
    // wedges at u: unordered pairs of out-neighbors, ordered by the SAME
    // (deg, id) rank the orientation uses, so the closing edge (v, w) is
    // guaranteed to be oriented v -> w when it exists
    val w1 = oriented.select(col("u"), col("v").as("x"), col("vkey").as("xkey"))
    val w2 = oriented.select(col("u"), col("v").as("y"), col("vkey").as("ykey"))
    val wedgePairs = w1.join(w2,
      w1("u") === w2("u") &&
        (w1("xkey.d") < w2("ykey.d") ||
          (w1("xkey.d") === w2("ykey.d") && w1("xkey.i") < w2("ykey.i"))))
      .select(w1("x").as("wu"), w2("y").as("wv"))
    val tri = wedgePairs.join(oriented.select(col("u").as("wu"), col("v").as("wv")),
        Seq("wu", "wv"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges")))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(3 * n_triangles * 1000000L) div n_wedges").as("gcc_micro"))
  }

  /** Fixed-round k-core peeling: repeatedly drop nodes with (undirected)
    * degree < k and the edges they carried, reporting the shrinking
    * (round, n_nodes, n_edges) trace — the standard "dense cohesive core"
    * extraction that separates structural hubs from incidental
    * neighbors (spam/boilerplate link farms peel away; genuine
    * communities survive).
    *
    * Fixed `rounds` rather than convergence detection keeps the whole
    * trace ONE deterministic plan shape — the trace itself shows whether
    * the census converged (two equal consecutive rows), and an oracle can
    * replay every round verbatim. Each round is two shuffles (degree agg
    * + the two-sided semi-join back onto the surviving edge set), both
    * keyed on node ids; the edge set only ever SHRINKS, so per-round cost
    * is monotone decreasing and the loop materializes each survivor set
    * to cut lineage (reliable checkpoints via `spark.graft.checkpointDir`
    * like every iterative operator here).
    *
    * @param edges edge list, either direction; canonicalized like
    *              [[triangles]]
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(rounds >= 1, "need at least one peeling round")
    // round-0 edge set: pinned persist so a repeated peel over the same
    // edge derivation reuses the canonical edge blocks (the pageRank
    // note); per-round survivor sets below stay localCheckpoints — loop
    // state is run-local by nature
    val cur0 = graft.core.PinnedGenerations.persistPinned(edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("lo"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("hi"))
      .filter(col("lo") < col("hi"))
      .distinct())
    graft.core.PinnedGenerations.pin(cur0)
    var cur = cur0
    val trace = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val alive = cur.select(col("lo").as("id"))
        .unionAll(cur.select(col("hi").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("id"))
      val next = cur
        .join(alive.select(col("id").as("lo")), Seq("lo"), "left_semi")
        .join(alive.select(col("id").as("hi")), Seq("hi"), "left_semi")
        .select(col("lo"), col("hi"))
        .materialized
      trace += alive.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(next.agg(count(lit(1)).as("n_edges")))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      cur = next
    }
    trace.result().reduce(_ unionAll _)
  }

  /** Fixed-round label propagation: extend a sparse trusted labeling
    * (human labels, high-precision heuristics) across an undirected
    * similarity graph — each round, every still-unlabeled node adopts the
    * majority label among its ALREADY-labeled neighbors (ties broken by
    * label order, so the walk is deterministic and an oracle replays it).
    * The semi-supervised data-labeling move: near-duplicate / high-cosine
    * neighborhoods share labels, so a 1% seed set labels the dense part
    * of a corpus without a model.
    *
    * Returns (id, label, round): round 0 = seeds, round r = adopted in
    * round r. Unreached nodes simply don't appear. Per round: ONE join of
    * the symmetrized edge list onto the labeled frontier (both keyed on
    * node id), an anti-join excluding already-labeled nodes, a
    * (node, label)-keyed partial-agg count, and a per-node argmax window
    * whose partitions are label-cardinality-bounded — nothing scans
    * history, and the labeled set is materialized per round
    * ([[graft.core.Materialize]], reliable-checkpoint aware).
    *
    * @param edges undirected pair list (one row per pair is enough)
    * @param seeds (idCol, labelCol) trusted assignments
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", labelCol: String = "label"): DataFrame = {
    require(rounds >= 1, "need at least one propagation round")
    val e = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    // pinned persist — a repeated propagation over the same similarity
    // graph (and every round of THIS one) reuses the symmetrized edge
    // blocks instead of re-running the pair generation (the pageRank note)
    val sym = graft.core.PinnedGenerations.persistPinned(
      e.unionAll(e.select(col("d").as("s"), col("s").as("d"))).distinct())
    graft.core.PinnedGenerations.pin(sym)
    // A NULL label is not a label: null-labeled seed rows are dropped at
    // entry, so they neither occupy their node (blocking real labels from
    // reaching it) nor cast votes. Stated because the r15 single-
    // aggregation vote (mode() ignores NULLs) would otherwise differ from
    // the historical count+window plan exactly on NULL votes — the
    // contract pins the sensible semantics instead of the accident.
    var labeled = seeds.filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("string").as("label"), lit(0L).as("round"))
      .materialized
    for (r <- 1 to rounds) {
      // majority vote with smallest-label tie-break as ONE aggregation:
      // deterministic mode() returns the most frequent value and the
      // LOWEST value on frequency ties — exactly the (count desc, label
      // asc) rank-1 the historical count+window pair computed with TWO
      // shuffles and a per-partition sort (r15 plan change: one shuffle
      // on id, map-side-combining a label→count sketch whose size is
      // bounded by label cardinality, not votes)
      val adopted = sym
        .join(labeled.select(col("id").as("d"), col("label")), Seq("d"))
        .select(col("s").as("id"), col("label"))
        .join(labeled.select(col("id")), Seq("id"), "left_anti")
        .groupBy(col("id"))
        .agg(mode(col("label"), deterministic = true).as("label"))
        .select(col("id"), col("label"), lit(r.toLong).as("round"))
      labeled = labeled.unionAll(adopted).materialized
    }
    labeled
  }
}
