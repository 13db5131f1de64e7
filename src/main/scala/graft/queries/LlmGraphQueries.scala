package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{EvalOps, EventOps, FeatureOps, Multimodal, TextOps, VectorOps}

/** Graph slice of [[LlmSurface]] — graph algorithms over the co-order / co-occurrence projections.
  *
  * r14 mechanical split, ZERO behavior change: query lambdas and their
  * DuckDB oracle SQL only. Every shared helper, constant, and CTE
  * generator stays in [[LlmSurface]] (reached via the wildcard import
  * below, which inner-scope-shadows functions._ exactly like the
  * original enclosing-object scope did).
  */
private[queries] object LlmGraphQueries {

  import LlmSurface._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- PageRank by power iteration (join-per-round graph rank) ---------
    // Integer nano-unit damped rank over a deterministic hub-and-spoke
    // link table derived from doc ids (the hashModelWeights argument:
    // swap the edge table — web hosts, citation graph, dup clusters —
    // keep the plan). Each round = one edge⋈rank equi-join + one
    // partial-combine sum on dst; rank table checkpointed per round.
    // Oracle replays the SAME 3 iterations as generated CTEs.
    "llm_graph_rank" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val members = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val hubs = nodes.filter(col("id") % 10 === 0 && col("id") =!= 0)
      val edges = members
        .union(hubs.select(col("id").as("src"), lit(0L).as("dst")))
        .union(hubs.select(col("id").as("src"), (col("id") + 1).as("dst")))
      graft.operators.PageRank.run(edges, nodes, iters = 3)
        .select(col("id").as("doc_id"), col("rank").as("rank_nano"),
          TextOps.round6(col("rank") / 1000000000.0).as("rank"))
        .orderBy("doc_id")
    }),

    // ---- HITS hubs & authorities (Kleinberg 1999) ------------------------
    // The two-role companion to llm_graph_rank over the SAME synthetic
    // hub-and-spoke link table: members (pointing at hubs) come out as
    // hubs, hub docs (pointed at by many members) as authorities — the
    // split one PageRank number conflates. Integer micro-units with
    // divide-by-max normalization (L2 needs an IEEE sqrt per round,
    // not bit-stable cross-engine); each round is two edge⋈score
    // equi-joins + combine sums + a 1-row max broadcast. Oracle
    // replays all 4 rounds unrolled.
    "llm_graph_hits" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val members = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val hubs = nodes.filter(col("id") % 10 === 0 && col("id") =!= 0)
      val edges = members
        .union(hubs.select(col("id").as("src"), lit(0L).as("dst")))
        .union(hubs.select(col("id").as("src"), (col("id") + 1).as("dst")))
      graft.operators.Hits.run(edges, nodes, iters = 4)
        .select(col("id").as("doc_id"), col("auth_micro"), col("hub_micro"))
        .orderBy("doc_id")
    }),

    // ---- strongly connected components (FB coloring) ---------------------
    // The directed closure CC can't give: mutual-reachability
    // components over the link table plus planted ring edges
    // (id→id+3 for id%10 ∈ {1,4} closes a 4-cycle h→h+1→h+4→h+7→h
    // in every decade). Forward-min fixpoint → per-color backward
    // flag → peel; oracle recomputes from the recursive-CTE closure.
    "llm_graph_scc" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val members = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val hubs = nodes.filter(col("id") % 10 === 0 && col("id") =!= 0)
      val rings = nodes.filter(col("id") % 10 === 1 || col("id") % 10 === 4)
        .select(col("id").as("src"), (col("id") + 3).as("dst"))
      val edges = members
        .union(hubs.select(col("id").as("src"), lit(0L).as("dst")))
        .union(hubs.select(col("id").as("src"), (col("id") + 1).as("dst")))
        .union(rings)
        .join(nodes.withColumnRenamed("id", "dst"), "dst") // existing dsts
        .select("src", "dst")
      graft.operators.Scc.components(edges, nodes)
        .select(col("id").as("doc_id"), col("scc"))
        .orderBy("doc_id")
    }),

    // ---- condensation DAG levels (dependency depth) ----------------------
    // Collapse the SCCs and read each component's longest-path level
    // — defined only once cycles are gone. Same edge synthesis as
    // llm_graph_scc; levels by iterative max propagation (rounds =
    // DAG depth).
    "llm_graph_condensation" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val members = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val hubs = nodes.filter(col("id") % 10 === 0 && col("id") =!= 0)
      val rings = nodes.filter(col("id") % 10 === 1 || col("id") % 10 === 4)
        .select(col("id").as("src"), (col("id") + 3).as("dst"))
      val edges = members
        .union(hubs.select(col("id").as("src"), lit(0L).as("dst")))
        .union(hubs.select(col("id").as("src"), (col("id") + 1).as("dst")))
        .union(rings)
        .join(nodes.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst")
        .localCheckpoint(eager = true)
      val scc = graft.operators.Scc.components(edges, nodes)
      graft.operators.Scc.condensationLevels(edges, scc)
    }),

    // ---- partitioned graph ANN: Vamana/HNSW-family shard index (X286) ----
    // The deployed graph-serving shape next to IVF-PQ: per-shard
    // degree-bounded proximity graph (LSH-bucketed candidate equi-join)
    // + md5-ring long-range links (deterministic Vamana random-init;
    // the ring is a Hamiltonian cycle, so reachability is guaranteed),
    // searched by 4 hops of expand-score-prune beam search from each
    // shard's entry. Graded on the SAME md5 panel and exact ground
    // truth as llm_ann_recall, so the two index families' recalls are
    // directly comparable (graph scores exact full-precision integer
    // distances — no PQ compression loss at the shortlist stage).
    "llm_ann_graph" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
        .localCheckpoint(true) // feeds edges, entries, scoring, truth
      val dot = VectorOps.dotFn(s)
      val panel = annPanel(emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000))
      val edges = VectorOps.graphAnnEdges(emb, "vec_id", "qv",
        shards = 4, bits = 4, degree = 6, ringLinks = 2, dot = dot)
        .localCheckpoint(true) // re-joined once per hop
      val g = VectorOps.graphAnnSearch(edges, emb, panel, "vec_id", "qv",
        k = 5, beam = 8, hops = 4, shards = 4, dot = dot)
      val top5 = g.filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id"), lit(true).as("_g5"))
      val beamAll = g
        .select(col("query_id"), col("vec_id"), lit(true).as("_gb"))
      val allPairs = panel.select(col("vec_id").as("query_id"))
        .crossJoin(emb.select(col("vec_id")))
        .filter(col("query_id") =!= col("vec_id"))
      VectorOps.refineTopK(allPairs, emb, panel, "vec_id", "qv", k = 5,
          dot = dot)
        .join(top5, Seq("query_id", "vec_id"), "left")
        .join(beamAll, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("rank"), col("vec_id"), col("dist_q"),
          coalesce(col("_g5"), lit(false)).as("in_graph_top5"),
          coalesce(col("_gb"), lit(false)).as("in_beam"))
        .orderBy("query_id", "rank")
    }),

    // ---- graph-ANN insertion: DiskANN-style index maintenance (X301) -----
    // The graph index's probe-vs-index lifecycle step next to the IVF
    // and suffix-array incremental forms: each NEW vector (the held-out
    // tenth) beam-searches the BASE graph and its top-6 beam results
    // become its out-edges — per-insert cost is the beam search, which
    // `ScaleBench graph_ann_scale` measured flat in corpus size (the DiskANN
    // insert argument; the back-edge RobustPrune pass is the documented
    // omission — degree bounds are re-established by periodic rebuild,
    // this emits the forward adjacency a real insert writes first).
    "llm_ann_graph_insert" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
        .localCheckpoint(true)
      val dot = VectorOps.dotFn(s)
      val base = emb.filter(col("vec_id") % 10 =!= 7)
      val batch = emb.filter(col("vec_id") % 10 === 7)
      val edges = VectorOps.graphAnnEdges(base, "vec_id", "qv",
        shards = 4, bits = 4, degree = 6, ringLinks = 2, dot = dot)
        .localCheckpoint(true)
      VectorOps.graphAnnSearch(edges, base, batch, "vec_id", "qv",
          k = 6, beam = 8, hops = 4, shards = 4, dot = dot)
        .filter(col("rank") <= 6)
        .select(col("query_id").as("vec_id"), col("rank"),
          col("vec_id").as("neighbor"), col("dist_q"))
        .orderBy("vec_id", "rank")
    }),

    // ---- TextRank keywords: PageRank over word co-occurrence (X262) ------
    // The graph-based companion to RAKE's degree heuristic: window-2
    // co-occurrence edges (original-sequence lead windows; repeated
    // pairs = integer weights under one-row-one-vote), 3 nano-unit
    // PageRank rounds, top-25 total-ordered. Oracle replays the same
    // rounds through the shared pageRankCtes generator.
    "llm_textrank" -> ((s, dir) => {
      TextOps.textrankKeywords(Tables(s, dir, "documents"), "doc_id",
        "text", stopwords, iters = 3, topK = 25)
    }),

    // ---- personalized PageRank (seed-teleport relevance) -----------------
    // Teleport mass returns to the seed docs (id % 50 == 0) on the same
    // hub-and-spoke link table as llm_graph_rank: rank = damped
    // proximity to the flagged set (how much seed influence reaches
    // each node), the weighted complement of llm_blast_radius' hop
    // closure. Unreachable nodes hold rank 0 exactly.
    "llm_graph_ppr" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val members = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val hubs = nodes.filter(col("id") % 10 === 0 && col("id") =!= 0)
      val edges = members
        .union(hubs.select(col("id").as("src"), lit(0L).as("dst")))
        .union(hubs.select(col("id").as("src"), (col("id") + 1).as("dst")))
      val seeds = nodes.filter(col("id") % 50 === 0)
      graft.operators.PageRank.personalized(edges, nodes, seeds, iters = 3)
        .select(col("id").as("doc_id"), col("rank").as("rank_nano"),
          TextOps.round6(col("rank") / 1000000000.0).as("rank"))
        .orderBy("doc_id")
    }),

    // ---- weighted SSSP over the co-order graph (X270) --------------------
    // Min-plus Bellman-Ford from the flagged parts (partkey % 100 ==
    // 0): edge cost = 10^6 div co-order weight, so one strong tie
    // beats several weak hops — the effective-proximity readout
    // llm_blast_radius' hop count can't give. 6 monotone rounds,
    // surplus rounds provably no-ops; exact integer distances.
    "llm_graph_sssp" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
          rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .withColumn("cost", expr("1000000L DIV weight"))
      val seeds = Tables(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("n"))
      graft.operators.Sssp.distances(edges, "item_a", "item_b", "cost",
          seeds, rounds = 6)
        .orderBy("n")
    }),

    // ---- sampled-source betweenness centrality (X294) --------------------
    // The broker/gateway readout the graph family lacked (PageRank
    // ranks endorsement, k-core density; betweenness ranks FLOW):
    // exact Brandes forward-σ/backward-δ per md5-sampled source on
    // the capped co-purchase projection, hop horizon 4 (the bounded-
    // diameter estimator — both truncations are the standard scale
    // knobs; full Brandes is O(nm) and never acceptable at scale).
    "llm_graph_betweenness" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      val sym = edges.select(col("item_a").as("a"), col("item_b").as("b"))
        .unionByName(
          edges.select(col("item_b").as("a"), col("item_a").as("b")))
      val seeds = Tables(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("n"))
      graft.operators.Betweenness.approx(sym, "a", "b", seeds,
        levels = 4, topK = 20)
    }),

    // ---- sampled neighborhood function / effective diameter (X307) -------
    // The ANF profile of the co-order graph from the same md5-free
    // deterministic seed panel as X294: per hop, Σ|N(src, r)| over the
    // sampled sources, the hop's fresh pairs, and the ≥90% flag whose
    // first true row is the sampled effective diameter. Exact BFS sets
    // (frontier equi-join + visited anti-join per hop); HyperANF's
    // unioned HLL registers are the documented 100 TB swap-in.
    "llm_graph_anf" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      val sym = edges.select(col("item_a").as("a"), col("item_b").as("b"))
        .unionByName(
          edges.select(col("item_b").as("a"), col("item_a").as("b")))
      val seeds = Tables(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("n"))
      graft.operators.NeighborhoodFunction.sample(sym, "a", "b",
        seeds, "n", maxHops = 5)
    }),

    // ---- per-node local clustering coefficient (X308) ---------------------
    // Watts–Strogatz lcc over the co-order graph: the node-level
    // hub-vs-clique audit the triangle LIST doesn't give. Triangle
    // counts ride the degree-ordered O(m^1.5) enumeration; lcc is one
    // exact-integer division through round6, deg < 2 ⇒ 0.
    "llm_graph_clustering" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      graft.operators.ClusteringCoefficient
        .perNode(edges, "item_a", "item_b")
        .orderBy("node")
    }),

    // ---- Jones-Plassmann conflict-free coloring (X309) --------------------
    // Independent-set scheduling for the co-order graph: color classes
    // can be mutated in parallel with zero coordination (cluster-merge
    // / in-place-update scheduling). Every current local maximum of
    // the keyed-md5 priority colors itself per round with the mex of
    // its colored neighbors — mex computed relationally ({0} ∪ {c+1}
    // anti-join used, combine min), no generate-series fan-out.
    "llm_graph_coloring" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      // rounds are Θ(clique number): the sf0.001 projection holds a
      // ~24-clique (any independent-set-per-round scheme needs one
      // round per clique member), so 28 covers all SFs with headroom
      graft.operators.GraphColoring
        .jonesPlassmann(edges, "item_a", "item_b", maxRounds = 28)
        .orderBy("node")
    }),

    // ---- blast radius: bounded-hop BFS from flagged nodes ----------------
    // "Recalled" parts (partkey % 97 == 0 among graph nodes) spreading
    // through the capped co-order graph (X148, weight >= 2): min-hop
    // exposure within 3 hops. The oracle unrolls 3 frontier rounds —
    // monotone closure, surplus rounds are no-ops (the X147 argument).
    "llm_blast_radius" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      val nodes = edges.select(col("item_a").as("n"))
        .unionAll(edges.select(col("item_b").as("n"))).distinct()
      val seeds = nodes.filter(col("n") % 97 === 0)
      graft.operators.Bfs.minHops(edges, "item_a", "item_b", seeds,
        maxHops = 3)
        .orderBy("n")
    }),

    // ---- top user journeys (most common session paths) -------------------
    // 30-minute-gap sessions rendered as ">"-joined type sequences,
    // top 25 by support. The struct-sorted path build makes the string
    // identical under any partitioning; the oracle spells the same
    // path via string_agg(ORDER BY).
    "llm_user_journeys" -> ((s, dir) => {
      EventOps.userJourneys(events(s, dir), "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30, topN = 25)
    }),

    // ---- capped bipartite projection (co-order item graph) ---------------
    // Parts co-ordered in the same order, per-order cap 5 (smallest
    // partkeys, deterministic), weight >= 2 — the graph-construction
    // step whose whale-basket blowup the cap bounds at C(cap,2)
    // regardless of skew.
    "llm_coorder_graph" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .orderBy("item_a", "item_b")
    }),

    // ---- link prediction over the co-order graph (X258) ------------------
    // Common-neighbors / Jaccard / Adamic-Adar for NON-adjacent part
    // pairs — "which co-order edge appears next". Wedge candidates
    // come from cap-12 neighbor lists (weight DESC, id ASC —
    // deterministic), so fan-out is bounded C(12,2) per center at any
    // hub skew; all three scores are defined self-consistently on the
    // capped structure, AA in exact integer micro (10^12 div
    // micro-floored ln deg).
    "llm_link_predict" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      graft.operators.LinkPrediction.scores(edges, "item_a", "item_b",
        cap = 12, topK = 50)
    }),

    // ---- k-core decomposition (iterative graph peeling) ------------------
    // 2-core of the sparse order-part bipartite graph (l_quantity < 8
    // keeps it sparse enough that peeling cascades ~14 rounds deep at
    // sf0.01 — pendant chains strip one layer per round before the
    // cyclic core stabilizes). The oracle unrolls 30 peel rounds: the
    // fixpoint is monotone, so extra rounds are no-ops and too few
    // would fail the hash gate loudly.
    "llm_graph_kcore" -> ((s, dir) => {
      val edges = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull
          && col("l_quantity") < 8)
        .select((col("l_orderkey") * 2).as("a"),
          (col("l_partkey") * 2 + 1).as("b"))
        .distinct()
      graft.operators.KCore.kCore(edges, "a", "b", k = 2)
        .orderBy("n")
    }),

    // ---- incremental connected components (contract-and-solve) -----------
    // Nightly dup-group maintenance: fold the batch's edges (any pair
    // touching a %4==0 doc) into the base labels WITHOUT re-running CC
    // on the full graph — the contracted loop is bounded by the batch's
    // touch set. The oracle computes the FULL-graph fixpoint, so the
    // hash match proves incremental ≡ full recompute.
    "llm_incremental_cc" -> ((s, dir) => {
      // The pair table feeds THREE independent job chains (base CC loop,
      // contracted delta loop, new-node anti-join), each materializing
      // through its own localCheckpoint rounds — without pinning it,
      // every chain re-runs the full SimHash detection (measured ~9.5 s
      // vs ~4 s at sf0.1). The pair table is tiny (dup pairs only), so
      // this is the persisted-edge-table shape a production run uses.
      val pairs = TextOps.simHashNearDup(Tables(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 4)
        .select("doc_a", "doc_b")
        .localCheckpoint(true)
      val isNew = (c: Column) => c % 4 === 0
      val baseEdges = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val newEdges = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val oldLabels = graft.operators.ConnectedComponents
        .labelPropagation(baseEdges, "doc_a", "doc_b")
      graft.operators.ConnectedComponents
        .incrementalLabels(oldLabels, newEdges, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("label").as("group_id"))
        .orderBy("doc_id")
    }),

    // ---- triangle enumeration (degree-ordered, Suri-Vassilvitskii) -------
    // Graph = the PageRank hub topology plus intra-group member rings,
    // so triangles exist by construction (hub, k, k+1): 8 per full
    // group, 400 at sf0.01. The operator's wedge fan-out is bounded by
    // out-degree ≤ O(√m) regardless of hub degree — the celebrity-node
    // case the naive middle-vertex join dies on.
    "llm_graph_triangles" -> ((s, dir) => {
      val nodes = Tables(s, dir, "documents").select(col("doc_id").as("id"))
      val hubEdges = nodes.filter(col("id") % 10 =!= 0)
        .select(col("id").as("src"), (col("id") - (col("id") % 10)).as("dst"))
      val ringEdges = nodes.filter(col("id") % 10 >= 1 && col("id") % 10 <= 8)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .join(nodes.select(col("id").as("dst")), "dst") // real nodes only
        .select("src", "dst")
      graft.operators.Triangles
        .triangleList(hubEdges.unionByName(ringEdges), "src", "dst")
        .orderBy("a", "b", "c")
    }),

    // ---- label propagation communities (X208) ----------------------------
    // Weighted synchronous LPA over the co-order graph (X148's edges):
    // the density-aware refinement CC can't give — CC merges everything
    // reachable, LPA splits a component along weighted structure. Five
    // synchronous rounds, votes argmax'd by max(struct(w, -lbl)) — a
    // combine agg, not a window — so each round is exactly two
    // exchanges. Oracle replays every round unrolled (MATERIALIZED).
    "llm_label_prop" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      graft.operators.LabelPropagation.communities(
        edges, "item_a", "item_b", "weight", rounds = 5)
        .orderBy("n")
    }),

    // ---- degree assortativity of the co-order graph (Newman 2002) --------
    // Do high-degree items co-occur with high-degree items? Pearson r
    // over (deg_src, deg_dst) with both orientations of every edge;
    // exact decimal moments, doubles only in the final r. Negative r
    // (hub-and-spoke disassortativity) vs positive (core-periphery)
    // is a one-number structure readout next to modularity.
    "llm_assortativity" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .localCheckpoint(eager = true)
      graft.operators.GraphMetrics.degreeAssortativity(
        edges, "item_a", "item_b")
    }),

    // ---- modularity of the LPA communities (Newman 2004, weighted) -------
    // The quality score for X208's partition: Q_c = 2·in_c/m₂ −
    // (tot_c/m₂)² per community plus the lbl = −1 corpus total (summed
    // over ALL communities, singletons included, before its single
    // rounding). Numerators are exact decimal integers; everything is
    // equi-joins + combine aggs over the edge list — the in-community
    // weight is the edge table joined to labels twice, never a
    // node-pair enumeration.
    // ---- rich-club coefficient curve on the co-order graph (X355) ---------
    // "Do the hub parts co-occur with each other" traced across every
    // degree threshold at once (operators/RichClub.scala): both the
    // node and edge survival curves come from cumulative windows over
    // the DEGREE-VALUE spine — no per-threshold subgraph ever
    // materializes.
    "llm_rich_club" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      graft.operators.RichClub.curve(edges, "item_a", "item_b")
    }),

    // ---- one synchronous Louvain local-move round (X352) ------------------
    // The modularity-SEEKING move next to llm_modularity's scoring of
    // an LPA partition (operators/Louvain.scala): from singletons,
    // every node adopts its best-gain neighbor community when the
    // exact cross-multiplied gain m2·w − k_i·k_j is positive. Reports
    // how much modularity one sweep buys. NOTE: synchronous adoption
    // gives no monotonicity guarantee — Q can stay flat (two-node
    // mutual swap: each adopts the other, partition relabels only) or
    // even DROP (star graph: all leaves pile onto the hub while the
    // hub moves away); both counterexamples are pinned in LouvainSpec.
    // The per-NODE gains are individually positive, but simultaneous
    // moves interact; only sequential Louvain is monotone.
    "llm_louvain_move" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
      graft.operators.Louvain.moveRound(edges, "item_a", "item_b", "weight")
    }),

    "llm_modularity" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      // edges feed the LPA loop AND three downstream consumers — the
      // containment-join lesson: materialize once
      val edges = graft.operators.BipartiteProjection.project(
        rel, "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .localCheckpoint(eager = true)
      val labels = graft.operators.LabelPropagation.communities(
        edges, "item_a", "item_b", "weight", rounds = 5)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val deg = edges.select(col("item_a").as("n"), col("weight").as("w"))
        .unionAll(edges.select(col("item_b").as("n"), col("weight").as("w")))
        .groupBy("n").agg(sum("w").as("k"))
      val m2t = deg.agg(sum(dec(col("k"))).as("m2"))
      val tot = deg.join(labels, "n").groupBy("lbl")
        .agg(sum(dec(col("k"))).as("tot_k"), count(lit(1)).as("n_nodes"))
      val inw = edges
        .join(labels.select(col("n").as("item_a"), col("lbl").as("la")),
          "item_a")
        .join(labels.select(col("n").as("item_b"), col("lbl").as("lb")),
          "item_b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl"))
        .agg(sum(dec(col("weight"))).as("in_w"))
      val perc = tot.join(inw, Seq("lbl"), "left")
        .select(col("lbl"), col("n_nodes"), col("tot_k"),
          coalesce(col("in_w"), lit(0).cast("decimal(38,0)")).as("in_w"))
        .crossJoin(broadcast(m2t))
      val num = (lit(2) * col("in_w") * col("m2")) -
        (col("tot_k") * col("tot_k"))
      def qOf(n: Column, m2sq: Column): Column =
        floor(n.cast("double") / m2sq.cast("double") * 1000000.0 + 0.5)
          .cast("long")
      val rows = perc.filter(col("n_nodes") >= 2)
        .select(col("lbl").cast("long").as("lbl"), col("n_nodes"),
          col("tot_k").cast("long").as("tot_k"),
          col("in_w").cast("long").as("in_w"),
          qOf(num, col("m2") * col("m2")).as("q_ppm"))
      val total = perc
        .agg(sum("n_nodes").as("n_nodes"), sum("tot_k").as("tot_k"),
          sum("in_w").as("in_w"), sum(num).as("_num"),
          first("m2").as("m2"))
        .select(lit(-1L).as("lbl"), col("n_nodes").cast("long").as("n_nodes"),
          col("tot_k").cast("long").as("tot_k"),
          col("in_w").cast("long").as("in_w"),
          qOf(col("_num"), col("m2") * col("m2")).as("q_ppm"))
      total.unionByName(rows).orderBy("lbl")
    }),

    // ---- Borůvka minimum spanning forest (X304) --------------------------
    // The single-linkage clustering backbone over the X173 proximity
    // graph: cut the forest's heaviest edges and the single-linkage
    // dendrogram falls out at any threshold — the controllable-merge
    // upgrade to the fixed-threshold CC dedup groups. Borůvka because
    // it is THE parallel MST: every component picks its min incident
    // edge simultaneously (one combine agg), components at least halve
    // per round, ⌈log₂V⌉ rounds total; contraction runs on the merge
    // graph only (one edge per live component — exponentially small).
    // Ties broken by the (w, lo, hi) total order = perturbed-distinct
    // weights, so the forest is unique and the unrolled DuckDB replay
    // lands on the identical edge set.
    "llm_graph_mst" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
      val prox = graft.operators.GridJoin.proximityJoin(pts, "vec_id",
        "x", "y", maxDist = 40L)
      graft.operators.Mst.boruvka(prox, "id_a", "id_b", "dist2")
        .select(col("lo").as("id_a"), col("hi").as("id_b"),
          col("w").as("dist2"))
        .orderBy("dist2", "id_a", "id_b")
    }),

    // ---- spectral bipartition of the proximity graph (X323) --------------
    // The global cut the local clusterers can't see (operators/
    // SpectralCut.scala): deflated lazy-walk power iteration lands on
    // the sign pattern of the walk matrix's second eigenvector — the
    // sparsest-cut side assignment (Cheeger) a shard planner wants,
    // where single linkage merges through any bridge and DBSCAN needs
    // a density scale. Same proximity graph as the MST family; 8
    // exact-integer rounds, every one an edge⋈vector equi-join plus
    // two 1-row scalar broadcasts; oracle unrolls all rounds as
    // MATERIALIZED CTEs over the brute-force edge relation.
    "llm_spectral_cut" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
      val prox = graft.operators.GridJoin.proximityJoin(pts, "vec_id",
        "x", "y", maxDist = 40L)
      graft.operators.SpectralCut.bipartition(prox, "id_a", "id_b",
          rounds = 8)
        .select(col("id").as("vec_id"), col("score_q"), col("pos_side"))
        .orderBy("vec_id")
    }),

    // ---- locally-dominant buddy matching of near-dup pairs (X316) ---------
    // 1:1 pairwise arbitration of the proximity graph (diff the two,
    // keep one, route to a single reviewer): every round matches every
    // edge that is BOTH endpoints' (w, lo, hi)-minimum simultaneously
    // — vertex-disjoint by construction, equal to sequential greedy
    // matching exactly. 7 rounds measured at sf0.1; oracle unrolls 12.
    "llm_dedup_matching" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
      graft.operators.Matching.greedy(
        graft.operators.GridJoin.proximityJoin(pts, "vec_id", "x", "y",
          maxDist = 40L), "id_a", "id_b", "dist2")
        .select(col("lo").as("id_a"), col("hi").as("id_b"),
          col("w").as("dist2"))
        .orderBy("id_a")
    }),

    // ---- single-linkage clusters at a threshold, off the forest (X315) ----
    // The deliverable X304 promised: cluster assignments at ANY merge
    // threshold from the V−1 forest edges alone — CC runs on ≤ |V|−1
    // rows instead of the full pair set, and single-linkage theory
    // says CC(forest ≤ T) = CC(all proximity edges ≤ T) exactly (the
    // forest preserves connectivity at every threshold). The ORACLE
    // computes the right-hand side — the recursive closure over the
    // FULL thresholded pair set — so the hash match is the theorem,
    // not a replay. Every point appears; untouched points are their
    // own singleton cluster.
    "llm_single_linkage" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
        .localCheckpoint(true) // proximity build + singleton union
      val forest = graft.operators.Mst.boruvka(
        graft.operators.GridJoin.proximityJoin(pts, "vec_id", "x", "y",
          maxDist = 40L), "id_a", "id_b", "dist2")
      val lab = graft.operators.ConnectedComponents
        .alternatingStars(forest.filter(col("w") <= 900), "lo", "hi")
      pts.select(col("vec_id"))
        .join(lab.withColumnRenamed("node", "vec_id"),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
        .orderBy("vec_id")
    }),

    // ---- incremental MST maintenance (X313) -------------------------------
    // The index-maintenance discipline (X191/X300) applied to X304:
    // fold a batch of new points into an existing forest WITHOUT
    // re-reading the base pair set. Correctness is the cycle property:
    // every base edge the old forest dropped was the maximum of a
    // cycle that still exists unchanged, so MST(forest(base) ∪
    // batch-incident) = MST(full) exactly — and the ORACLE is the
    // full-graph replay, shared by reference. Per-batch cost:
    // |batch|·9 grid cells probed (GridJoin.proximityProbe) +
    // Borůvka over |V|-bounded forest edges + batch incidences.
    "llm_mst_incremental" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
        .localCheckpoint(true) // base build, probe, and probe target
      val base = pts.filter(col("vec_id") % 4 =!= 0)
      val batch = pts.filter(col("vec_id") % 4 === 0)
      val forest = graft.operators.Mst.boruvka(
        graft.operators.GridJoin.proximityJoin(base, "vec_id", "x", "y",
          maxDist = 40L), "id_a", "id_b", "dist2")
        .select(col("lo").as("id_a"), col("hi").as("id_b"),
          col("w").as("dist2"))
      val incident = graft.operators.GridJoin.proximityProbe(
        batch, pts, "vec_id", "x", "y", maxDist = 40L)
      graft.operators.Mst.boruvka(forest.unionByName(incident),
        "id_a", "id_b", "dist2")
        .select(col("lo").as("id_a"), col("hi").as("id_b"),
          col("w").as("dist2"))
        .orderBy("dist2", "id_a", "id_b")
    }),

    // ---- densest subgraph by BKV peeling (X375) --------------------------
    // Bahmani-Kumar-Vattani 3-approximation over the embeddings
    // proximity graph: the peel finds the planted dense cluster core
    // (at sf0.01 it lifts density 6.64 -> 9.48 by shrinking 490
    // vertices to the 113-vertex core). Edges come from the grid-cell
    // equi-join (never n^2); each peel round is one degree combine agg
    // plus two semi-joins, and the 2/3-shrink bound makes the round
    // count deterministic log_1.5|V|. The oracle replays every round
    // from the brute-force pair relation with the identical
    // cross-multiplied integer threshold.
    "llm_densest_subgraph" -> ((s, dir) => {
      val pts = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          floor(element_at(col("embedding"), 1).cast("double") * 1000.0)
            .cast("long").as("x"),
          floor(element_at(col("embedding"), 2).cast("double") * 1000.0)
            .cast("long").as("y"))
      val edges = graft.operators.GridJoin.proximityJoin(pts, "vec_id",
        "x", "y", maxDist = 40L).select(col("id_a"), col("id_b"))
      graft.operators.DensestSubgraph.peel(s, edges, "id_a", "id_b")
        .orderBy("round")
    }),

    // ---- greedy maximal matching / 2-approx vertex cover (X376) ----------
    // Locally-minimal edge selection (Israeli-Itai) on the sparse
    // order-part graph: a deterministic maximal matching in O(log E)
    // rounds (3 at sf0.01), the conflict-free pair-arbitration
    // primitive (1:1 linkage resolution, dedup tie-breaking). Keys are
    // md5-led but UNIQUE (pair suffix), so both engines pick identical
    // minima; the matched edge set doubles as the classical
    // 2-approximate vertex cover.
    "llm_graph_matching" -> ((s, dir) => {
      val edges = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull
          && col("l_quantity") < 8)
        .select((col("l_orderkey") * 2).as("a"),
          (col("l_partkey") * 2 + 1).as("b"))
        .distinct()
      graft.operators.MaximalMatching.matching(edges, "a", "b")
        .orderBy("a", "b")
    }),

    // ---- k-truss cohesive community cut (X381) ---------------------------
    // The triangle-grade filter one rung above llm_graph_kcore: the
    // 6-truss of the capped co-order projection (every surviving edge
    // closes >= 4 triangles among survivors) peels 82k edges down to
    // the one tight 60-edge community at sf0.01 over 17 monotone
    // rounds. Support per round is one wedge equi-join closed by a
    // semi probe — never n²; fan-out bounded by the projection cap.
    "llm_graph_ktruss" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = graft.operators.BipartiteProjection.project(rel,
        "l_orderkey", "l_partkey", cap = 5, minWeight = 1)
        .select(col("item_a").as("a"), col("item_b").as("b"))
      graft.operators.KTruss.truss(edges, "a", "b", k = 6)
        .orderBy("a", "b")
    }),

    // ---- deterministic node2vec-style walk corpus (X387) -------------------
    // The graph-embedding input stage: fixed-length walks from a
    // bounded seed panel over the md5-capped co-order adjacency.
    // Randomness is md5-keyed (the ann_graph ring precedent): next
    // hop = argmin md5(seed, step, cur, nbr) over the 6-neighbor
    // adjacency - exactly replayable in both engines, no RNG. The
    // sym graph has no dead ends (every edge is bidirectional), so
    // every walk reaches the full 4 steps.
    "llm_graph_walks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = graft.operators.BipartiteProjection.project(rel,
        "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .localCheckpoint(true) // unionAll's two branches would re-project
      val und = e.select(col("item_a").as("u"), col("item_b").as("v"))
        .unionAll(e.select(col("item_b").as("u"), col("item_a").as("v")))
        .localCheckpoint(true) // 4 ball expansions + the ball window
      val seeds = und.select("u").filter(col("u") <= 48).distinct()
      // BALL RESTRICTION (r15): the walk can only ever query the
      // adjacency at nodes within 4 hops of the <=48-seed panel, so
      // the md5 sort-key + per-u window — the full-graph 2|E| term
      // that owned the r14 sf1 step (3.46 -> 7.53 s at 10x data) —
      // runs over ball-incident edges only. The ball expands by 4
      // broadcast semi probes of the checkpointed und (frontier is
      // panel-sized: no shuffle, no sort, no md5 over the full graph).
      // Ranks are UNCHANGED: the filter keeps every edge of a ball
      // vertex u (v unrestricted), so u's window still sees its
      // complete neighbor list.
      var ball = seeds
      for (_ <- 1 to 4)
        ball = ball.unionAll(
          und.join(broadcast(ball), Seq("u"), "left_semi")
            .select(col("v").as("u"))).distinct()
      val wnd = Window.partitionBy("u").orderBy(md5(concat(lit("walk|"),
        col("u").cast("string"), lit("|"), col("v").cast("string"))))
      val adj = und.join(broadcast(ball), Seq("u"), "left_semi")
        .withColumn("rk", row_number().over(wnd))
        .filter(col("rk") <= 6).select("u", "v")
        .localCheckpoint(true) // probed once per unrolled step
      var walk = seeds.select(col("u").as("seed"), lit(0).as("step"),
        col("u").as("node"))
      var out = walk
      for (t <- 1 to 4) {
        walk = walk
          .join(adj, col("node") === col("u"))
          .select(col("seed"), col("v"), md5(concat(lit("step|"),
            col("seed").cast("string"), lit(s"|$t|"),
            col("node").cast("string"), lit("|"),
            col("v").cast("string"))).as("hk"))
          .groupBy("seed").agg(min_by(col("v"), col("hk")).as("node"))
          .select(col("seed"), lit(t).as("step"), col("node"))
        out = out.unionAll(walk)
      }
      out.orderBy("seed", "step")
    }),


    // ---- Katz centrality, 4 attenuated walk rounds (X397) ------------------
    // Katz 1953 with a DYADIC attenuation alpha = 1/8, truncated at
    // walk length 4, so the score is EXACT in integers scaled by 8^4:
    // katz_q8(v) = sum_k walks_k(v) * 8^(4-k), where walks_k(v) counts
    // length-k walks ending at v (c_k = A c_{k-1}, c_0 = 1). The
    // walk-count view separates "how reachable" (many short walks into
    // dense cores) from PageRank's normalized flow; each round is ONE
    // adjacency equi-join + combine sum, 4 rounds statically unrolled
    // in the oracle. Attenuation strictly below 1/max-degree keeps the
    // truncation honest on the capped projection (deg <= ~cap fan-in).
    "llm_graph_katz" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = graft.operators.BipartiteProjection.project(rel,
        "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .localCheckpoint(true) // unionAll's two branches would re-project
      val und = e.select(col("item_a").as("v"), col("item_b").as("u"))
        .unionAll(e.select(col("item_b").as("v"), col("item_a").as("u")))
        .localCheckpoint(true) // probed once per walk round
      graft.operators.KatzWalks.walkCounts(und, rounds = 4)
        .groupBy(col("n").as("item"))
        .agg(
          sum(when(col("k") === 1, col("c")).otherwise(0L)).as("w1"),
          sum(when(col("k") === 2, col("c")).otherwise(0L)).as("w2"),
          sum(when(col("k") === 3, col("c")).otherwise(0L)).as("w3"),
          sum(when(col("k") === 4, col("c")).otherwise(0L)).as("w4"))
        .withColumn("katz_q8",
          col("w1") * 512L + col("w2") * 64L + col("w3") * 8L + col("w4"))
        .orderBy("item")
    }),

    // ---- 4-bounded harmonic centrality from the seed panel (X395) ----------
    // Harmonic centrality (Boldi–Vigna, Internet Math 2014) truncated
    // at radius 4 — the "how reachable is everything from here"
    // readout next to llm_graph_anf's sketched neighborhoods, EXACT on
    // the bounded ball: for each seed in the <=48-node panel,
    // H_4(s) = Σ_{0<d(s,u)<=4} 1/d(s,u), with 1/d as the toward-zero
    // micro division 1000000 div d (exact, engine-identical). BFS is
    // 4 level-synchronous expansions of the (seed, node) frontier over
    // the checkpointed co-order adjacency with a per-seed anti-join
    // against the visited set — frontier size is panel x ball, never
    // corpus-shaped; ring sizes ship next to the score so the
    // truncation radius is auditable.
    "llm_graph_harmonic" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = graft.operators.BipartiteProjection.project(rel,
        "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .localCheckpoint(true) // unionAll's two branches would re-project
      val und = e.select(col("item_a").as("u"), col("item_b").as("v"))
        .unionAll(e.select(col("item_b").as("u"), col("item_a").as("v")))
        .localCheckpoint(true) // probed once per BFS level
      val seeds = und.select("u").filter(col("u") <= 48).distinct()
      graft.operators.BoundedBfs.balls(und, seeds, maxDepth = 4)
        .filter(col("d") > 0)
        .groupBy("seed")
        .agg(
          sum(when(col("d") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("d") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("d") === 3, 1L).otherwise(0L)).as("n3"),
          sum(when(col("d") === 4, 1L).otherwise(0L)).as("n4"),
          sum(expr("1000000 div d")).as("harmonic_micro"))
        .orderBy("seed")
    }),

    // ---- full coreness decomposition (X389) --------------------------------
    // Upgrades llm_graph_kcore (one fixed k) to the whole k-core
    // DECOMPOSITION in one loop: the h-index fixpoint (Lu et al.,
    // PNAS 2016) - c_v starts at degree and iterates to
    // H(neighbor values), level-synchronous (one equi-join + one
    // adjacency window per round) where the textbook peel is
    // inherently sequential. Monotone convergence licenses the
    // unrolled oracle.
    "llm_graph_coreness" -> ((s, dir) => {
      val rel = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = graft.operators.BipartiteProjection.project(rel,
        "l_orderkey", "l_partkey", cap = 5, minWeight = 2)
        .select(col("item_a").as("a"), col("item_b").as("b"))
      graft.operators.Coreness.decompose(e, "a", "b")
        .orderBy("node")
    }),

  )

  val oracleSql: Map[String, String] = Map(

    "llm_graph_rank" -> s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      n AS (SELECT count(*) AS nn FROM nodes),
      e AS (
        SELECT id AS src, id - (id % 10) AS dst FROM nodes WHERE id % 10 <> 0
        UNION ALL
        SELECT id AS src, 0 AS dst FROM nodes WHERE id % 10 = 0 AND id <> 0
        UNION ALL
        SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 = 0 AND id <> 0),
      outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
      r0 AS (
        SELECT id, CAST(1000000000 AS BIGINT) // (SELECT nn FROM n) AS rank
        FROM nodes),
      ${pageRankCtes(3)}
      SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_nano,
             ${round6sql("rank / 1000000000.0")} AS rank
      FROM r3 ORDER BY doc_id
    """,

    // Unrolled HITS replay over the SAME synthetic link table: 4 rounds
    // of a ← Σ in-hub ×10⁶ // max, then h ← Σ out-authority likewise.
    "llm_graph_hits" -> s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      e AS MATERIALIZED (
        SELECT id AS src, id - (id % 10) AS dst FROM nodes WHERE id % 10 <> 0
        UNION ALL
        SELECT id AS src, 0 AS dst FROM nodes WHERE id % 10 = 0 AND id <> 0
        UNION ALL
        SELECT id AS src, id + 1 AS dst FROM nodes
        WHERE id % 10 = 0 AND id <> 0),
      h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM nodes),
      ${hitsCtes(4)}
      SELECT a4.id AS doc_id, a4.s AS auth_micro, h4.s AS hub_micro
      FROM a4 JOIN h4 ON a4.id = h4.id
      ORDER BY doc_id
    """,

    // SCC from first principles: recursive-CTE reachability closure,
    // mutual pairs, component id = min mutual partner (incl. self).
    "llm_graph_scc" -> s"""
      WITH RECURSIVE $sccClosureCtes
      SELECT id AS doc_id, CAST(scc AS BIGINT) AS scc
      FROM sccs ORDER BY doc_id
    """,

    // Condensation replay: condensed edges over the closure-derived
    // SCCs, longest-path levels by a recursive (component, depth)
    // enumeration — max depth per component IS the level.
    "llm_graph_condensation" -> s"""
      WITH RECURSIVE $sccClosureCtes,
      ce AS MATERIALIZED (
        SELECT DISTINCT sa.scc AS s, sb.scc AS t
        FROM e JOIN sccs sa ON sa.id = e.src
        JOIN sccs sb ON sb.id = e.dst
        WHERE sa.scc <> sb.scc),
      lvl(n, d) AS (
        SELECT DISTINCT scc, 0 FROM sccs
        UNION
        SELECT ce.t, l.d + 1 FROM lvl l JOIN ce ON ce.s = l.n)
      SELECT c.scc, c.n_nodes, CAST(max(l.d) AS BIGINT) AS level
      FROM (SELECT scc, CAST(count(*) AS BIGINT) AS n_nodes
            FROM sccs GROUP BY 1) c
      JOIN lvl l ON l.n = c.scc
      GROUP BY c.scc, c.n_nodes
      ORDER BY c.scc
    """,

    // Replays the shard graph (LSH-bucketed top-6 proximity edges +
    // 2-successor md5 ring), the per-shard entries, and all 4 beam
    // hops as unrolled MATERIALIZED CTEs; qd doubles as the exact
    // ground-truth distance table (self-excluded, so each hop's join
    // onto qd applies the same self-match filter as the Spark side).
    "llm_ann_graph" -> s"""
      WITH ${graphAnnOracleCtes("1 = 1",
        """SELECT query_id, qv FROM (
          SELECT query_id, qv,
                 row_number() OVER (ORDER BY
                   CAST('0x' || substr(md5('panel|' || CAST(query_id AS VARCHAR)), 1, 15) AS BIGINT),
                   query_id) AS prn
          FROM (SELECT vec_id AS query_id, qv FROM e WHERE vec_id % 100 = 0))
        WHERE prn <= 64""")},
      gr AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist_q, vec_id) AS grank
        FROM b4),
      er AS (
        SELECT query_id, vec_id, dist_q,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist_q, vec_id) AS "rank"
        FROM qd)
      SELECT er.query_id, er."rank", er.vec_id, er.dist_q,
             (gr.grank IS NOT NULL AND gr.grank <= 5) AS in_graph_top5,
             (gr.grank IS NOT NULL) AS in_beam
      FROM er LEFT JOIN gr
        ON er.query_id = gr.query_id AND er.vec_id = gr.vec_id
      WHERE er."rank" <= 5
      ORDER BY er.query_id, er."rank"
    """,

    // Replays the base-only graph build and the batch vectors' beam
    // searches (same generator as llm_ann_graph), then the top-6
    // beam results as each inserted vector's new out-edges.
    "llm_ann_graph_insert" -> s"""
      WITH ${graphAnnOracleCtes("vec_id % 10 <> 7",
        "SELECT vec_id AS query_id, qv FROM e WHERE vec_id % 10 = 7")}
      SELECT qid AS vec_id, CAST(rn AS INTEGER) AS "rank",
             nb AS neighbor, dist_q
      FROM (
        SELECT query_id AS qid, vec_id AS nb, dist_q,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist_q, vec_id) AS rn
        FROM b4)
      WHERE rn <= 6
      ORDER BY vec_id, "rank"
    """,

    // Replays the window-2 co-occurrence graph and the SAME 3
    // nano-unit rounds through the shared pageRankCtes block (the
    // llm_graph_rank oracle's CTE contract: nodes/n/e/outd/r0).
    "llm_textrank" -> {
      val stopSql = stopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH tok AS (
        SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      prs AS (
        SELECT doc, w,
               lead(w, 1) OVER (PARTITION BY doc ORDER BY pos) AS n1,
               lead(w, 2) OVER (PARTITION BY doc ORDER BY pos) AS n2
        FROM tok),
      half AS (
        SELECT src, dst FROM (
          SELECT w AS src, n1 AS dst FROM prs
          UNION ALL
          SELECT w AS src, n2 AS dst FROM prs)
        WHERE dst IS NOT NULL AND src <> dst
          AND src NOT IN ($stopSql) AND src <> ''
          AND dst NOT IN ($stopSql) AND dst <> ''),
      e AS MATERIALIZED (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half),
      nodes AS (
        SELECT DISTINCT w AS id FROM tok
        WHERE w NOT IN ($stopSql) AND w <> ''),
      n AS (SELECT count(*) AS nn FROM nodes),
      outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
      r0 AS (
        SELECT id, CAST(1000000000 AS BIGINT) // (SELECT nn FROM n) AS rank
        FROM nodes),
      ${pageRankCtes(3)}
      SELECT id AS word, CAST(rank AS BIGINT) AS rank_nano,
             ${round6sql("rank / 1000000000.0")} AS rank
      FROM r3 ORDER BY rank_nano DESC, word LIMIT 25
    """
    },

    "llm_graph_ppr" -> s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      st AS (
        SELECT id, CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END AS is_seed
        FROM nodes),
      ns AS (SELECT CAST(count(*) AS BIGINT) AS n_seeds
             FROM st WHERE is_seed = 1),
      e AS (
        SELECT id AS src, id - (id % 10) AS dst FROM nodes WHERE id % 10 <> 0
        UNION ALL
        SELECT id AS src, 0 AS dst FROM nodes WHERE id % 10 = 0 AND id <> 0
        UNION ALL
        SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 = 0 AND id <> 0),
      outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
      r0 AS (
        SELECT id, CASE WHEN is_seed = 1
                        THEN CAST(1000000000 AS BIGINT)
                             // (SELECT n_seeds FROM ns)
                        ELSE 0 END AS rank
        FROM st),
      ${pprCtes(3)}
      SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_nano,
             ${round6sql("rank / 1000000000.0")} AS rank
      FROM r3 ORDER BY doc_id
    """,

    // Unrolls 6 MATERIALIZED min-plus rounds over the same projected
    // edge list; monotonicity makes surplus rounds no-ops (too few
    // would fail the hash loudly).
    "llm_graph_sssp" -> {
      val rounds = (1 to 6).map { r =>
        val prev = s"d${r - 1}"
        s"""      d$r AS MATERIALIZED (
        SELECT n, min(dist) AS dist FROM (
          SELECT n, dist FROM $prev
          UNION ALL
          SELECT e.b AS n, $prev.dist + e.w AS dist
          FROM sym e JOIN $prev ON e.a = $prev.n)
        GROUP BY n)"""
      }.mkString(",\n")
      s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      edges AS (
        SELECT x.i AS ia, y.i AS ib,
               1000000 // CAST(count(*) AS BIGINT) AS w
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      sym AS (
        SELECT ia AS a, ib AS b, w FROM edges
        UNION ALL
        SELECT ib AS a, ia AS b, w FROM edges),
      d0 AS (
        SELECT DISTINCT p_partkey AS n, CAST(0 AS BIGINT) AS dist
        FROM part WHERE p_partkey % 100 = 0),
$rounds
      SELECT n, CAST(dist AS BIGINT) AS dist FROM d6 ORDER BY n
    """
    },

    // Replays the capped projection, the md5 seed set, 4 forward BFS
    // levels with exact σ path counts, and the backward dependency
    // accumulation with per-edge micro quantization — every level a
    // MATERIALIZED CTE (each feeds the next level AND the vis union).
    "llm_graph_betweenness" -> {
      val lmax = 4
      val fwd = (1 to lmax).map { l =>
        s"""f$l AS MATERIALIZED (
        SELECT src, n, $l AS d, CAST(sum(sigma) AS BIGINT) AS sigma FROM (
          SELECT f.src, e.b AS n, f.sigma
          FROM f${l - 1} f JOIN sym e ON e.a = f.n) t
        WHERE NOT EXISTS (SELECT 1 FROM v${l - 1} v
                          WHERE v.src = t.src AND v.n = t.n)
        GROUP BY src, n),
      v$l AS MATERIALIZED (
        SELECT * FROM v${l - 1} UNION ALL SELECT * FROM f$l)"""
      }.mkString(",\n      ")
      val bwd = ((lmax - 1) to 0 by -1).map { l =>
        s"""b$l AS MATERIALIZED (
        SELECT a.src, a.v AS n,
               CAST(sum((CAST(a.sv AS HUGEINT)
                 * (1000000 + coalesce(d2.delta, 0))) // a.sw)
                 AS BIGINT) AS delta
        FROM adj a LEFT JOIN dall${l + 1} d2
          ON d2.src = a.src AND d2.n = a.w
        WHERE a.dv = $l
        GROUP BY 1, 2),
      dall$l AS MATERIALIZED (
        SELECT * FROM dall${l + 1} UNION ALL SELECT * FROM b$l)"""
      }.mkString(",\n      ")
      s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      pedges AS (
        SELECT x.i AS ia, y.i AS ib
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      sym AS (
        SELECT ia AS a, ib AS b FROM pedges
        UNION ALL
        SELECT ib AS a, ia AS b FROM pedges),
      f0 AS (
        SELECT DISTINCT p_partkey AS src, p_partkey AS n, 0 AS d,
               CAST(1 AS BIGINT) AS sigma
        FROM part WHERE p_partkey % 100 = 0),
      v0 AS (SELECT * FROM f0),
      $fwd,
      adj AS MATERIALIZED (
        SELECT a.src, a.n AS v, a.d AS dv, a.sigma AS sv,
               w.n AS w, w.sigma AS sw
        FROM v$lmax a
        JOIN sym e ON e.a = a.n
        JOIN v$lmax w ON w.src = a.src AND w.n = e.b AND w.d = a.d + 1),
      dall$lmax AS (
        SELECT src, n, CAST(0 AS BIGINT) AS delta FROM v$lmax WHERE 1 = 0),
      $bwd
      SELECT node, bc_micro FROM (
        SELECT n AS node, CAST(sum(delta) AS BIGINT) AS bc_micro
        FROM dall0 WHERE n <> src GROUP BY 1)
      ORDER BY bc_micro DESC, node
      LIMIT 20
    """
    },

    // 5 unrolled BFS hops over the X294 co-order graph; cumulative
    // visited-set CTEs MATERIALIZED (each feeds the next hop AND its
    // count row).
    "llm_graph_anf" -> {
      val hops = (1 to 5).map { r =>
        s"""v$r AS MATERIALIZED (
        SELECT DISTINCT src, node FROM (
          SELECT src, node FROM v${r - 1}
          UNION ALL
          SELECT v.src, e.b AS node
          FROM v${r - 1} v JOIN sym e ON e.a = v.node))"""
      }.mkString(",\n      ")
      val rows = (0 to 5).map { r =>
        val newly =
          if (r == 0) s"(SELECT count(*) FROM v0)"
          else s"(SELECT count(*) FROM v$r) - (SELECT count(*) FROM v${r - 1})"
        s"SELECT $r AS hop, (SELECT count(*) FROM v$r) AS reached, $newly AS newly"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      pedges AS (
        SELECT x.i AS ia, y.i AS ib
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      sym AS MATERIALIZED (
        SELECT ia AS a, ib AS b FROM pedges
        UNION ALL
        SELECT ib AS a, ia AS b FROM pedges),
      v0 AS MATERIALIZED (
        SELECT DISTINCT p_partkey AS src, p_partkey AS node
        FROM part WHERE p_partkey % 100 = 0),
      $hops,
      tot AS (SELECT count(*) AS fin FROM v5),
      rows AS ($rows)
      SELECT hop, CAST(reached AS BIGINT) AS reached,
             CAST(newly AS BIGINT) AS newly,
             (reached * 10 >= 9 * tot.fin) AS reaches90
      FROM rows, tot
      ORDER BY hop
    """
    },

    // quadratic three-join triangle closure (oracle form; the Spark
    // side runs the degree-ordered orientation) over the shared
    // co-order projection.
    "llm_graph_clustering" -> """
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      pedges AS MATERIALIZED (
        SELECT x.i AS ia, y.i AS ib
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      deg AS (
        SELECT n, count(*) AS d FROM (
          SELECT ia AS n FROM pedges
          UNION ALL SELECT ib FROM pedges)
        GROUP BY n),
      tri AS (
        SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
        FROM pedges e1
        JOIN pedges e2 ON e2.ia = e1.ib
        JOIN pedges e3 ON e3.ia = e1.ia AND e3.ib = e2.ib),
      tn AS (
        SELECT n, count(*) AS tri_n FROM (
          SELECT a AS n FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY n)
      SELECT d.n AS node, CAST(d.d AS BIGINT) AS degree,
             CAST(coalesce(t.tri_n, 0) AS BIGINT) AS n_triangles,
             CASE WHEN d.d >= 2
                  THEN floor(CAST(2 * coalesce(t.tri_n, 0) AS DOUBLE)
                         / CAST(d.d * (d.d - 1) AS DOUBLE)
                         * 1000000.0 + 0.5) / 1000000.0
                  ELSE 0.0 END AS lcc
      FROM deg d LEFT JOIN tn t ON t.n = d.n
      ORDER BY node
    """,

    // 28 unrolled Jones-Plassmann rounds (generator above) over the
    // co-order graph — rounds track the clique number (24 measured at
    // sf0.001); convergence rounds are identity.
    "llm_graph_coloring" -> s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      pedges AS (
        SELECT x.i AS ia, y.i AS ib
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      sym AS MATERIALIZED (
        SELECT ia AS node, ib AS nbr FROM pedges
        UNION ALL
        SELECT ib AS node, ia AS nbr FROM pedges),
      pr AS MATERIALIZED (
        SELECT node,
               CAST('0x' || substr(md5('jp|' || CAST(node AS VARCHAR)),
                 1, 15) AS BIGINT) AS h
        FROM (SELECT DISTINCT node FROM sym)),
      e0 AS (SELECT node, nbr FROM sym),
      u0 AS (SELECT DISTINCT node FROM sym),
      col0 AS (SELECT node, 0 AS color FROM u0 WHERE 1 = 0),
      ${jpRoundCtes(28)}
      SELECT node, color FROM col28
      ORDER BY node
    """,

    "llm_blast_radius" -> {
      val rounds = (1 to 3).map { i =>
        val prevReached = (0 until i).map(j => s"SELECT n FROM r$j")
          .mkString(" UNION ")
        s"""f$i AS MATERIALIZED (
             SELECT DISTINCT n FROM (
               SELECT e.item_b AS n FROM e JOIN r${i - 1} p ON e.item_a = p.n
               UNION ALL
               SELECT e.item_a FROM e JOIN r${i - 1} p ON e.item_b = p.n)
             WHERE n NOT IN ($prevReached)),
           r$i AS MATERIALIZED (SELECT n FROM f$i)"""
      }.mkString(",\n      ")
      s"""
      WITH rel AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      capped AS MATERIALIZED (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      e AS MATERIALIZED (
        SELECT x.i AS item_a, y.i AS item_b
        FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      nodes AS MATERIALIZED (
        SELECT DISTINCT n FROM (
          SELECT item_a AS n FROM e UNION ALL SELECT item_b FROM e)),
      r0 AS MATERIALIZED (SELECT n FROM nodes WHERE n % 97 = 0),
      $rounds
      SELECT n, hop FROM (
        SELECT n, 0 AS hop FROM r0
        UNION ALL SELECT n, 1 FROM f1
        UNION ALL SELECT n, 2 FROM f2
        UNION ALL SELECT n, 3 FROM f3)
      ORDER BY n
    """
    },

    "llm_user_journeys" -> """
      WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked),
      paths AS (
        SELECT user_id, sess_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY user_id, sess_id)
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM paths
      GROUP BY path
      ORDER BY n_sessions DESC, path
      LIMIT 25
    """,

    "llm_coorder_graph" -> """
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      capped AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5)
      SELECT x.i AS item_a, y.i AS item_b,
             CAST(count(*) AS BIGINT) AS weight
      FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2
      HAVING count(*) >= 2
      ORDER BY item_a, item_b
    """,

    // Replays the X148 projection, the cap-12 neighbor ranking, the
    // wedge join, the anti-join against existing edges, and the
    // integer-micro AA weights.
    "llm_link_predict" -> s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      bcap AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      edges AS (
        SELECT x.i AS item_a, y.i AS item_b,
               CAST(count(*) AS BIGINT) AS weight
        FROM bcap x JOIN bcap y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      adj AS (
        SELECT item_a AS ctr, item_b AS nbr, weight FROM edges
        UNION ALL
        SELECT item_b AS ctr, item_a AS nbr, weight FROM edges),
      capped AS (
        SELECT ctr, nbr FROM (
          SELECT ctr, nbr, row_number() OVER (PARTITION BY ctr
                   ORDER BY weight DESC, nbr) AS r
          FROM adj)
        WHERE r <= 12),
      deg_aa AS (
        SELECT ctr, 1000000000000 //
                 CAST(floor(ln(count(*)) * 1000000) AS BIGINT) AS aa_c
        FROM capped GROUP BY ctr
        HAVING count(*) >= 2),
      rdeg AS (
        SELECT nbr AS node, CAST(count(*) AS BIGINT) AS rd
        FROM capped GROUP BY 1),
      cand AS (
        SELECT x.nbr AS a, y.nbr AS b,
               CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(d.aa_c) AS BIGINT) AS aa_micro
        FROM capped x
        JOIN capped y ON x.ctr = y.ctr AND x.nbr < y.nbr
        JOIN deg_aa d ON d.ctr = x.ctr
        GROUP BY 1, 2),
      nonadj AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.item_a = c.a AND e.item_b = c.b))
      SELECT n.a AS item_a, n.b AS item_b, n.cn, n.aa_micro,
             ra.rd AS rdeg_a, rb.rd AS rdeg_b,
             ${round6sql(
               "CAST(n.cn AS DOUBLE) / (ra.rd + rb.rd - n.cn)")} AS jaccard
      FROM nonadj n
      JOIN rdeg ra ON ra.node = n.a
      JOIN rdeg rb ON rb.node = n.b
      ORDER BY n.cn DESC, n.aa_micro DESC, item_a, item_b
      LIMIT 50
    """,

    "llm_graph_kcore" -> {
      // AS MATERIALIZED is load-bearing: each round references the
      // previous one three times, so default CTE inlining would expand
      // the chain exponentially (observed as fd exhaustion on the base
      // parquet scan).
      val rounds = (1 to 30).map { i =>
        s"""k$i AS MATERIALIZED (
             SELECT n FROM (SELECT a AS n FROM e${i - 1}
                            UNION ALL SELECT b FROM e${i - 1})
             GROUP BY n HAVING count(*) >= 2),
           e$i AS MATERIALIZED (
             SELECT a, b FROM e${i - 1}
             WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))"""
      }.mkString(",\n      ")
      s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
          AND l_quantity < 8),
      $rounds
      SELECT n, CAST(count(*) AS BIGINT) AS core_deg
      FROM (SELECT a AS n FROM e30 UNION ALL SELECT b FROM e30)
      GROUP BY n
      ORDER BY n
    """
    },

    // Full-graph fixpoint — the incremental contract-and-solve path must
    // reproduce it exactly.
    "llm_incremental_cc" -> s"""
      WITH RECURSIVE $simhashPairsCte,
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      sym AS (
        SELECT doc_a AS node, doc_b AS nbr FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node)
      SELECT node AS doc_id, min(label) AS group_id
      FROM reach GROUP BY node ORDER BY doc_id
    """,

    // Orientation details cannot leak into the result (the triangle set
    // is orientation-invariant), so the oracle replays the same
    // degree-ordered plan for cost symmetry, not correctness coupling.
    "llm_graph_triangles" -> s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      raw AS (
        SELECT id AS src, id - (id % 10) AS dst FROM nodes WHERE id % 10 <> 0
        UNION ALL
        SELECT n.id AS src, n.id + 1 AS dst
        FROM nodes n JOIN nodes m ON m.id = n.id + 1
        WHERE n.id % 10 BETWEEN 1 AND 8),
      canon AS (
        SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        FROM raw WHERE src <> dst),
      deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT lo AS v FROM canon UNION ALL SELECT hi AS v FROM canon)
        GROUP BY v),
      dird AS (
        SELECT CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi)
                    THEN lo ELSE hi END AS u,
               CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND lo < hi)
                    THEN hi ELSE lo END AS w
        FROM canon JOIN deg dl ON dl.v = lo JOIN deg dh ON dh.v = hi),
      wedge AS (
        SELECT x.u AS apex, x.w AS v1, y.w AS v2
        FROM dird x JOIN dird y ON x.u = y.u AND x.w < y.w)
      SELECT t[1] AS a, t[2] AS b, t[3] AS c FROM (
        SELECT list_sort([apex, v1, v2]) AS t
        FROM wedge JOIN canon ON v1 = lo AND v2 = hi)
      ORDER BY a, b, c
    """,

    // Unrolled synchronous LPA replay: same co-order edges (X148 SQL),
    // same (vote DESC, label ASC) adoption rule per round.
    "llm_label_prop" -> s"""
      WITH $coorderLpaCtes
      SELECT n, CAST(lbl AS BIGINT) AS lbl FROM l5 ORDER BY n
    """,

    "llm_assortativity" -> s"""
      WITH rel AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      capped AS (
        SELECT b, i FROM (
          SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i) AS r
          FROM rel)
        WHERE r <= 5),
      e AS MATERIALIZED (
        SELECT x.i AS a, y.i AS bb
        FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2
        HAVING count(*) >= 2),
      sym AS MATERIALIZED (
        SELECT a AS n, bb AS m FROM e
        UNION ALL SELECT bb AS n, a AS m FROM e),
      deg AS MATERIALIZED (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
      mom AS (
        SELECT CAST(count(*) AS HUGEINT) AS me,
               sum(CAST(x.d AS HUGEINT)) AS sa,
               sum(CAST(y.d AS HUGEINT)) AS sb,
               sum(CAST(x.d AS HUGEINT) * x.d) AS saa,
               sum(CAST(y.d AS HUGEINT) * y.d) AS sbb,
               sum(CAST(x.d AS HUGEINT) * y.d) AS sab
        FROM sym JOIN deg x ON sym.n = x.n JOIN deg y ON sym.m = y.n)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             CAST(me AS BIGINT) // 2 AS n_edges,
             ${round6sql(
               "CAST(me * sab - sa * sb AS DOUBLE)" +
               " / (sqrt(CAST(me * saa - sa * sa AS DOUBLE))" +
               " * sqrt(CAST(me * sbb - sb * sb AS DOUBLE)))")} AS r_assort
      FROM mom
    """,

    // Modularity over the SAME LPA communities (Newman 2004, weighted):
    // Q_c = 2·in_c/m₂ − (tot_c/m₂)², m₂ = Σ degrees. Numerators are
    // exact HUGEINT, one double division per row, rounded half-up to
    // ppm. The lbl = −1 summary row sums the UNROUNDED terms over ALL
    // communities (singletons included) before its single rounding.
    "llm_rich_club" -> s"""
      WITH $coorderBaseCtes,
      deg AS MATERIALIZED (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
      dhist AS (SELECT d, CAST(count(*) AS BIGINT) AS nc
                FROM deg GROUP BY 1),
      emin AS (
        SELECT least(da.d, db.d) AS d, CAST(count(*) AS BIGINT) AS ec
        FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.bb
        GROUP BY 1),
      spine AS (
        SELECT dhist.d, dhist.nc, coalesce(emin.ec, 0) AS ec
        FROM dhist LEFT JOIN emin ON emin.d = dhist.d),
      tot AS (SELECT sum(nc) AS tn, sum(ec) AS te FROM spine),
      cum AS (
        SELECT d, sum(nc) OVER (ORDER BY d) AS cn,
               sum(ec) OVER (ORDER BY d) AS ce
        FROM spine)
      SELECT d AS k, CAST(tn - cn AS BIGINT) AS n_rich,
             CAST(te - ce AS BIGINT) AS e_rich,
             CAST((2 * (te - ce) * 1000000)
               // ((tn - cn) * (tn - cn - 1)) AS BIGINT) AS phi_micro
      FROM cum, tot
      WHERE tn - cn >= 2
      ORDER BY k
    """,

    "llm_louvain_move" -> s"""
      WITH $coorderBaseCtes,
      deg AS MATERIALIZED (
        SELECT n, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY 1),
      m2t AS (SELECT CAST(sum(k) AS HUGEINT) AS m2 FROM deg),
      g AS (
        SELECT s.n, s.m,
               m2t.m2 * s.w - CAST(dn.k AS HUGEINT) * dm.k AS g2
        FROM sym s JOIN deg dn ON dn.n = s.n
        JOIN deg dm ON dm.n = s.m, m2t),
      pick AS (
        SELECT n, m AS adopt FROM (
          SELECT n, m, row_number() OVER (PARTITION BY n
            ORDER BY g2 DESC, m) AS rk
          FROM g WHERE g2 > 0)
        WHERE rk = 1),
      lbl AS MATERIALIZED (
        SELECT deg.n, coalesce(pick.adopt, deg.n) AS lbl
        FROM deg LEFT JOIN pick ON pick.n = deg.n),
      tot AS (
        SELECT lbl, CAST(sum(k) AS HUGEINT) AS tot_k
        FROM deg JOIN lbl USING (n) GROUP BY 1),
      inw AS (
        SELECT la.lbl, CAST(sum(e.w) AS HUGEINT) AS in_w
        FROM e JOIN lbl la ON la.n = e.a JOIN lbl lb ON lb.n = e.bb
        WHERE la.lbl = lb.lbl GROUP BY 1),
      qa AS (
        SELECT sum(2 * coalesce(inw.in_w, 0) * m2t.m2
                   - tot.tot_k * tot.tot_k) AS q_after_num
        FROM tot LEFT JOIN inw USING (lbl), m2t),
      sk2 AS (SELECT sum(CAST(k AS HUGEINT) * k) AS sk2 FROM deg),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(count(DISTINCT lbl) AS BIGINT) AS n_communities,
               CAST(sum(CASE WHEN n <> lbl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved
        FROM lbl)
      SELECT st.n_nodes, st.n_communities, st.n_moved,
             CAST((-sk2.sk2 * 1000000) // (m2t.m2 * m2t.m2) AS BIGINT)
               AS q_before_micro,
             CAST((qa.q_after_num * 1000000) // (m2t.m2 * m2t.m2)
               AS BIGINT) AS q_after_micro
      FROM st, sk2, qa, m2t
    """,

    "llm_modularity" -> s"""
      WITH $coorderLpaCtes,
      deg AS (SELECT n, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY 1),
      m2t AS (SELECT CAST(sum(k) AS HUGEINT) AS m2 FROM deg),
      tot AS (
        SELECT lbl, CAST(sum(k) AS HUGEINT) AS tot_k,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg JOIN l5 USING (n) GROUP BY 1),
      inw AS (
        SELECT la.lbl AS lbl, CAST(sum(e.w) AS HUGEINT) AS in_w
        FROM e JOIN l5 la ON e.a = la.n JOIN l5 lb ON e.bb = lb.n
        WHERE la.lbl = lb.lbl GROUP BY 1),
      perc AS (
        SELECT t.lbl, t.n_nodes, t.tot_k, coalesce(i.in_w, 0) AS in_w
        FROM tot t LEFT JOIN inw i USING (lbl)),
      rows_ AS (
        SELECT CAST(lbl AS BIGINT) AS lbl, n_nodes,
               CAST(tot_k AS BIGINT) AS tot_k, CAST(in_w AS BIGINT) AS in_w,
               CAST(floor(CAST(2 * in_w * m2 - tot_k * tot_k AS DOUBLE)
                 / CAST(m2 * m2 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                 AS q_ppm
        FROM perc, m2t WHERE n_nodes >= 2),
      total AS (
        SELECT CAST(-1 AS BIGINT) AS lbl,
               CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
               CAST(sum(tot_k) AS BIGINT) AS tot_k,
               CAST(sum(in_w) AS BIGINT) AS in_w,
               CAST(floor(CAST(sum(2 * in_w * m2 - tot_k * tot_k) AS DOUBLE)
                 / CAST(any_value(m2) * any_value(m2) AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT) AS q_ppm
        FROM perc, m2t)
      SELECT * FROM total
      UNION ALL
      SELECT * FROM rows_
      ORDER BY lbl
    """,

    // Replays the proximity graph (the llm_grid_join CTE verbatim) and
    // 16 unrolled Borůvka rounds — enough for 2^16 vertices, rounds
    // after convergence are identity. The forest is the UNION of each
    // round's selected minimum edges; uniqueness comes from the
    // (w, lo, hi) lexicographic tie-break both engines share.
    "llm_graph_mst" -> mstFullOracleSql,
    "llm_spectral_cut" -> spectralCutOracleSql,

    // 12 unrolled locally-dominant matching rounds over the
    // brute-force proximity pairs; dominant CTEs MATERIALIZED
    // (feed the matched-node retirement AND the final union).
    "llm_dedup_matching" -> {
      val rounds = (1 to 12).map { k =>
        val p = k - 1
        s"""dm$k AS MATERIALIZED (
        SELECT lo, hi, w FROM (
          SELECT lo, hi, w, count(*) AS c FROM (
            SELECT lo, hi, w FROM (
              SELECT n, lo, hi, w, row_number() OVER (
                PARTITION BY n ORDER BY w, lo, hi) AS rn
              FROM (SELECT lo AS n, lo, hi, w FROM me$p
                    UNION ALL
                    SELECT hi AS n, lo, hi, w FROM me$p))
            WHERE rn = 1)
          GROUP BY 1, 2, 3)
        WHERE c = 2),
      me$k AS MATERIALIZED (
        SELECT e.lo, e.hi, e.w FROM me$p e
        WHERE NOT EXISTS (SELECT 1 FROM dm$k d
                          WHERE d.lo = e.lo OR d.hi = e.lo
                             OR d.lo = e.hi OR d.hi = e.hi))"""
      }.mkString(",\n      ")
      s"""
      WITH p AS (
        SELECT vec_id AS id,
               CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
                 AS x,
               CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000.0) AS BIGINT)
                 AS y
        FROM embeddings),
      me0 AS MATERIALIZED (
        SELECT a.id AS lo, b.id AS hi,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS w
        FROM p a JOIN p b ON a.id < b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= 1600),
      $rounds
      SELECT lo AS id_a, hi AS id_b, w AS dist2
      FROM (${(1 to 12).map(k => s"SELECT * FROM dm$k")
        .mkString("\n            UNION ALL ")})
      ORDER BY id_a
    """
    },

    // NOT a forest replay: the closure runs over the FULL thresholded
    // proximity pair set, so the hash match against the Spark side's
    // forest-based CC is the single-linkage connectivity theorem.
    "llm_single_linkage" -> """
      WITH RECURSIVE p AS (
        SELECT vec_id AS id,
               CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
                 AS x,
               CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000.0) AS BIGINT)
                 AS y
        FROM embeddings),
      ecut AS MATERIALIZED (
        SELECT a.id AS lo, b.id AS hi
        FROM p a JOIN p b ON a.id < b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= 900),
      sym2 AS (
        SELECT lo AS a, hi AS b FROM ecut
        UNION
        SELECT hi, lo FROM ecut),
      reach(a, b) AS (
        SELECT a, b FROM sym2
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym2 s ON s.a = r.b
        WHERE s.b <> r.a),
      lab AS (
        SELECT a AS id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
      assigned AS (
        SELECT p.id AS vec_id, coalesce(l.cluster, p.id) AS cluster
        FROM p LEFT JOIN lab l ON l.id = p.id)
      SELECT vec_id, cluster,
             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
               AS cluster_size
      FROM assigned
      ORDER BY vec_id
    """,

    // SHARED BY REFERENCE with llm_graph_mst: the incremental query's
    // contract IS equality with the full-graph rebuild (forest(base) ∪
    // batch-incident edges has the same unique MST — every dropped
    // base edge was a cycle maximum and stays one).
    "llm_mst_incremental" -> mstFullOracleSql,

    "llm_densest_subgraph" -> densestOracleSql,

    "llm_graph_matching" -> matchingOracleSql,

    "llm_graph_ktruss" -> ktrussOracleSql,

    // walk replay over the shared co-order CTEs: md5-capped adjacency,
    // per-step argmin by the same md5 key, 4 MATERIALIZED hops.
    "llm_graph_walks" -> s"""
      WITH $coorderBaseCtes,
      adj AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT n AS u, m AS v,
                 row_number() OVER (PARTITION BY n
                   ORDER BY md5('walk|' || CAST(n AS VARCHAR) || '|'
                     || CAST(m AS VARCHAR))) AS rk
          FROM sym)
        WHERE rk <= 6),
      w0 AS (SELECT DISTINCT u AS seed, 0 AS step, u AS node
             FROM adj WHERE u <= 48),
      w1 AS MATERIALIZED (
        SELECT seed, 1 AS step, node FROM (
          SELECT w.seed, a.v AS node,
                 row_number() OVER (PARTITION BY w.seed
                   ORDER BY md5('step|' || CAST(w.seed AS VARCHAR)
                     || '|1|' || CAST(w.node AS VARCHAR) || '|'
                     || CAST(a.v AS VARCHAR))) AS rk
          FROM w0 w JOIN adj a ON a.u = w.node)
        WHERE rk = 1),\n      w2 AS MATERIALIZED (
        SELECT seed, 2 AS step, node FROM (
          SELECT w.seed, a.v AS node,
                 row_number() OVER (PARTITION BY w.seed
                   ORDER BY md5('step|' || CAST(w.seed AS VARCHAR)
                     || '|2|' || CAST(w.node AS VARCHAR) || '|'
                     || CAST(a.v AS VARCHAR))) AS rk
          FROM w1 w JOIN adj a ON a.u = w.node)
        WHERE rk = 1),\n      w3 AS MATERIALIZED (
        SELECT seed, 3 AS step, node FROM (
          SELECT w.seed, a.v AS node,
                 row_number() OVER (PARTITION BY w.seed
                   ORDER BY md5('step|' || CAST(w.seed AS VARCHAR)
                     || '|3|' || CAST(w.node AS VARCHAR) || '|'
                     || CAST(a.v AS VARCHAR))) AS rk
          FROM w2 w JOIN adj a ON a.u = w.node)
        WHERE rk = 1),\n      w4 AS MATERIALIZED (
        SELECT seed, 4 AS step, node FROM (
          SELECT w.seed, a.v AS node,
                 row_number() OVER (PARTITION BY w.seed
                   ORDER BY md5('step|' || CAST(w.seed AS VARCHAR)
                     || '|4|' || CAST(w.node AS VARCHAR) || '|'
                     || CAST(a.v AS VARCHAR))) AS rk
          FROM w3 w JOIN adj a ON a.u = w.node)
        WHERE rk = 1)
      SELECT seed, step, node FROM (
        SELECT * FROM w0 UNION ALL SELECT * FROM w1
        UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
        UNION ALL SELECT * FROM w4)
      ORDER BY seed, step
    """,


    // Katz replay: 4 unrolled walk-count rounds over the shared
    // co-order CTEs; every node has degree >= 1 so the final inner
    // joins are total.
    "llm_graph_katz" -> s"""
      WITH $coorderBaseCtes,
      k0 AS MATERIALIZED (
        SELECT DISTINCT n, CAST(1 AS BIGINT) AS c FROM sym),
      k1 AS MATERIALIZED (
        SELECT s.n AS n, CAST(sum(p.c) AS BIGINT) AS c
        FROM sym s JOIN k0 p ON p.n = s.m GROUP BY s.n),
      k2 AS MATERIALIZED (
        SELECT s.n AS n, CAST(sum(p.c) AS BIGINT) AS c
        FROM sym s JOIN k1 p ON p.n = s.m GROUP BY s.n),
      k3 AS MATERIALIZED (
        SELECT s.n AS n, CAST(sum(p.c) AS BIGINT) AS c
        FROM sym s JOIN k2 p ON p.n = s.m GROUP BY s.n),
      k4 AS MATERIALIZED (
        SELECT s.n AS n, CAST(sum(p.c) AS BIGINT) AS c
        FROM sym s JOIN k3 p ON p.n = s.m GROUP BY s.n)
      SELECT k1.n AS item, k1.c AS w1, k2.c AS w2, k3.c AS w3, k4.c AS w4,
             CAST(k1.c * 512 + k2.c * 64 + k3.c * 8 + k4.c AS BIGINT)
               AS katz_q8
      FROM k1 JOIN k2 USING (n) JOIN k3 USING (n) JOIN k4 USING (n)
      ORDER BY item
    """,

    // harmonic replay: 4 unrolled BFS levels over the shared co-order
    // CTEs, each a frontier join + NOT EXISTS against the cumulative
    // visited set; 1/d as the exact toward-zero micro division.
    "llm_graph_harmonic" -> s"""
      WITH $coorderBaseCtes,
      s0 AS MATERIALIZED (
        SELECT DISTINCT n AS seed, n AS node FROM sym WHERE n <= 48),
      f1 AS MATERIALIZED (
        SELECT DISTINCT s.seed, y.m AS node
        FROM s0 s JOIN sym y ON y.n = s.node
        WHERE NOT EXISTS (SELECT 1 FROM s0 v
                          WHERE v.seed = s.seed AND v.node = y.m)),
      v1 AS MATERIALIZED (
        SELECT * FROM s0 UNION ALL SELECT * FROM f1),
      f2 AS MATERIALIZED (
        SELECT DISTINCT s.seed, y.m AS node
        FROM f1 s JOIN sym y ON y.n = s.node
        WHERE NOT EXISTS (SELECT 1 FROM v1 v
                          WHERE v.seed = s.seed AND v.node = y.m)),
      v2 AS MATERIALIZED (
        SELECT * FROM v1 UNION ALL SELECT * FROM f2),
      f3 AS MATERIALIZED (
        SELECT DISTINCT s.seed, y.m AS node
        FROM f2 s JOIN sym y ON y.n = s.node
        WHERE NOT EXISTS (SELECT 1 FROM v2 v
                          WHERE v.seed = s.seed AND v.node = y.m)),
      v3 AS MATERIALIZED (
        SELECT * FROM v2 UNION ALL SELECT * FROM f3),
      f4 AS MATERIALIZED (
        SELECT DISTINCT s.seed, y.m AS node
        FROM f3 s JOIN sym y ON y.n = s.node
        WHERE NOT EXISTS (SELECT 1 FROM v3 v
                          WHERE v.seed = s.seed AND v.node = y.m)),
      rings AS (
        SELECT seed, node, 1 AS d FROM f1
        UNION ALL SELECT seed, node, 2 AS d FROM f2
        UNION ALL SELECT seed, node, 3 AS d FROM f3
        UNION ALL SELECT seed, node, 4 AS d FROM f4)
      SELECT seed,
             CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN d = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(sum(1000000 // d) AS BIGINT) AS harmonic_micro
      FROM rings GROUP BY seed ORDER BY seed
    """,

    // coreness replay: degree init + 16 MATERIALIZED h-index rounds
    // over the shared co-order CTEs (monotone: surplus rounds no-op;
    // too few fails the hash gate loudly).
    "llm_graph_coreness" -> s"""
      WITH $coorderBaseCtes,
      c0 AS (SELECT n, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY n),
      c1 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c0 p ON p.n = s.m)
        GROUP BY v),
      c2 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c1 p ON p.n = s.m)
        GROUP BY v),
      c3 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c2 p ON p.n = s.m)
        GROUP BY v),
      c4 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c3 p ON p.n = s.m)
        GROUP BY v),
      c5 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c4 p ON p.n = s.m)
        GROUP BY v),
      c6 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c5 p ON p.n = s.m)
        GROUP BY v),
      c7 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c6 p ON p.n = s.m)
        GROUP BY v),
      c8 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c7 p ON p.n = s.m)
        GROUP BY v),
      c9 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c8 p ON p.n = s.m)
        GROUP BY v),
      c10 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c9 p ON p.n = s.m)
        GROUP BY v),
      c11 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c10 p ON p.n = s.m)
        GROUP BY v),
      c12 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c11 p ON p.n = s.m)
        GROUP BY v),
      c13 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c12 p ON p.n = s.m)
        GROUP BY v),
      c14 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c13 p ON p.n = s.m)
        GROUP BY v),
      c15 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c14 p ON p.n = s.m)
        GROUP BY v),
      c16 AS MATERIALIZED (
        SELECT v AS n, CAST(max(least(r, cu)) AS BIGINT) AS c FROM (
          SELECT s.n AS v, p.c AS cu,
                 row_number() OVER (PARTITION BY s.n
                   ORDER BY p.c DESC) AS r
          FROM sym s JOIN c15 p ON p.n = s.m)
        GROUP BY v)
      SELECT n AS node, c AS coreness FROM c16
      ORDER BY node
    """,

  )
}
