"""Iterative graph operators: connected components for dedup
clustering.

The missing last stage of a production dedup pipeline: candidate
*pairs* (MinHash/SimHash/Jaccard — operators/dedup.py) must become
duplicate *clusters* with one canonical survivor each. Pairs form an
undirected graph; a cluster is a connected component; the canonical
doc is the component's minimum id.

The reference repo has no graph ops (its only set op is the
completeness check, ``/root/reference`` ``src/hls_stac_parquet/
write.py:172-202``); this enters via the north-star LLM-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.tuning import materialize

#: canonical edges up to which :func:`core_numbers` peels on the driver
CORE_NUMBERS_DRIVER_MAX = 200_000
#: pairs up to which :func:`connected_components_auto` runs union-find
#: on the driver
CC_DRIVER_MAX = 1_000_000
#: large-star/small-star rounds before :func:`connected_components_star`
#: gives up (~log²|V| suffice)
CC_STAR_MAX_ITER = 50
#: PageRank damping factor
PAGERANK_DAMPING = 0.85


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public algorithm): ``(node, component)`` with ``component`` =
    the smallest reachable node id, deterministic and independent of
    partitioning. Nodes are the distinct endpoints of ``edges``.

    Components can be LONG CHAINS rather than small cliques (e.g.
    transitive near-dup chains A~B~C~... from embedding similarity):
    min-label propagation needs O(diameter) rounds, large-star/
    small-star contracts the graph toward a star forest in O(log² n)
    rounds regardless of diameter — a 10^6-long chain converges in
    ~20 rounds, not 10^6.

    Per round: two (groupBy-min + join) shuffles, each keyed on node
    id and carrying only (node, node) long pairs; the edge set can
    only shrink or re-point (never densify beyond the original size
    in undirected form), so round cost is bounded by the input edge
    count. Every round materializes the edge frame: each round
    reads its predecessor twice, so without lineage truncation the
    logical plan doubles per round and the driver dies planning it.

    large-star(u): every neighbor v > u re-points to m = min(N(u)∪{u})
    small-star(u): every neighbor v ≤ u re-points to m (plus u itself)
    Fixpoint = a star forest whose centers are component minima.

    Raises ``RuntimeError`` if ``CC_STAR_MAX_ITER`` rounds pass without a
    fixpoint (cannot happen below ~log²|V| rounds of headroom).
    """
    # node universe from the RAW edge list (a self-loop-only node is
    # still a node); then the canonical undirected set, self-loops
    # dropped
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    e = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    converged = False
    prev_count = e.count()
    for _ in range(CC_STAR_MAX_ITER):
        # -- large-star: sym view, each strictly-larger neighbor joins
        #    the neighborhood minimum (which includes u itself)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star on the large-star output: neighbors ≤ u (in the
        #    canonical (u,v) v>u orientation, that's each v's smaller
        #    neighbors {u}) plus v itself re-point to the minimum
        msmall = large.groupBy(F.col("v").alias("c")).agg(
            F.min("u").alias("m")
        )
        new_e = materialize(
            large.join(msmall, large.v == msmall.c)
            .select(
                F.least("u", "m").alias("nu"), F.greatest("u", "m").alias("nv")
            )
            .union(
                msmall.select(
                    F.col("m").alias("nu"), F.col("c").alias("nv")
                )
            )
            .filter(F.col("nu") != F.col("nv"))
            .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            .distinct()
        )
        # convergence probe, cheap-first: both relations are DISTINCT
        # sets, so |new| == |old| together with new\old = ∅ implies
        # equality — and while the contraction is still making
        # progress the edge count usually shrinks, so most rounds pay
        # only a count() over the fresh checkpoint and skip the
        # anti-join entirely
        new_count = new_e.count()
        stable = (
            new_count == prev_count
            and new_e.exceptAll(e).limit(1).count() == 0
        )
        e = new_e
        prev_count = new_count
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not reach a fixpoint within "
            f"{CC_STAR_MAX_ITER} rounds"
        )
    # fixpoint e is a star forest (center=u=min, leaf=v); centers label
    # themselves, isolated-after-contraction nodes are their own min
    leaf_labels = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    return all_nodes.join(leaf_labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list (pass both
    directions for an undirected graph).

    Each round is the canonical two-step: join ranks onto edges
    (contribution = rank/out-degree), then aggregate contributions per
    destination — one keyed shuffle per step, never materializing
    paths. Ranks are normalized so Σrank = |nodes| (the classic
    1-based formulation: rank = (1-d) + d·Σ contrib). Dangling nodes
    (out-degree 0) keep their (1-d) floor and leak mass, matching the
    simple textbook variant; pass symmetric edges to avoid dangling
    entirely.

    The fixed iteration count bounds the job graph. Every round's
    ranks are materialized (``tuning.materialize``), NOT persisted: that
    computes them once AND truncates lineage, so round k's plan never
    replays rounds 1..k-1 and the task binaries stay constant-size —
    the same persist-was-bimodal lesson as triangle_count (measured
    here: 8 rounds on a tiny word graph went ~93 s with persist-only
    lineage to ~2 s with per-round checkpoints). The edge relation
    and degree dim are materialized too — they are joined EVERY
    round, and callers often derive them from corpus-sized scans.
    Convergence at d=0.85 is ~|Δ| < 1e-3 after 8-10 rounds on most
    graphs — tests/test_graph.py pins exact agreement with a numpy
    power iteration on the same edges.
    """
    e = materialize(edges.select("src", "dst"))
    out_deg = materialize(e.groupBy("src").agg(F.count("*").alias("_deg")))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))

    for _ in range(iterations):
        contribs = (
            e.join(out_deg, "src")
            .join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("_deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = materialize(
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - PAGERANK_DAMPING)
                    + F.lit(PAGERANK_DAMPING) * F.coalesce("_sum", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 8,
) -> DataFrame:
    """HITS (hubs & authorities) over a DIRECTED edge list — the
    mutual-reinforcement centrality pair: auth(v) = Σ hub(u) over
    in-edges, hub(u) = Σ auth(v) over out-edges, L1-normalized each
    half-step (any positive scaling converges to the same fixpoint;
    L1 keeps the arithmetic a float sum + one division — no sqrt, so
    the oracle replays it exactly).

    Returns (node, auth, hub) for every node, 0.0 where a node has no
    in-edges (auth) or out-edges (hub). Same scale discipline as
    :func:`pagerank`: each half-step is ONE keyed shuffle (edge join +
    destination aggregate) plus a 1-row sum broadcast for the
    normalization; per-round materialization truncates lineage so
    round k never replays rounds 1..k-1.
    """
    if iterations < 1:
        raise ValueError(f"hits() needs iterations >= 1, got {iterations}")
    e = materialize(edges.select("src", "dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = e.select(F.col("src").alias("node")).distinct().withColumn(
        "hub", F.lit(1.0)
    )
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("_v"))
        )
        a_sum = a_raw.agg(F.sum("_v").alias("_s"))
        auth = materialize(
            a_raw.join(F.broadcast(a_sum))
            .select(
                F.col("dst").alias("node"),
                (F.col("_v") / F.col("_s")).alias("auth"),
            )
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("_v"))
        )
        h_sum = h_raw.agg(F.sum("_v").alias("_s"))
        hub = materialize(
            h_raw.join(F.broadcast(h_sum))
            .select(
                F.col("src").alias("node"),
                (F.col("_v") / F.col("_s")).alias("hub"),
            )
        )
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count via the edge-iterator / adjacency-
    intersection algorithm (one row: n_edges, n_triangles).

    Input may be directed/duplicated; edges are canonicalized to
    low-key → high-key and deduplicated, so each undirected edge and
    each triangle counts once. Edges are then DEGREE-ORIENTED: each
    undirected edge points at its higher-degree endpoint (ties broken
    by node id), which bounds every adjacency list at O(√|E|) — a
    power-law hub's neighborhood is split across its low-degree
    neighbors instead of collecting into one collect_set array, so no
    single task owns a hub at 100 TB scale. Each oriented edge (u,v)
    then joins the out-adjacency lists N⁺(u), N⁺(v) and contributes
    |N⁺(u) ∩ N⁺(v)| closing vertices; every triangle {x,y,z} with
    rank(x)<rank(y)<rank(z) is counted exactly once, at its (x,y)
    edge. Equi-joins on node ids only; no materialized wedge relation
    (the Σ_v in(v)·out(v) blow-up of the naive two-join plan).
    """
    # materialized, not persisted: e is read by 2 downstream subtrees,
    # and an eager checkpoint also truncates lineage, so no consumer
    # ever recomputes the basket self-join (measured: persist here was
    # bimodal, 9-88 s at sf0.1; checkpoint holds ~4 s steady)
    e = materialize(
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("_a"),
            F.greatest(F.col("src"), F.col("dst")).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    # one aggregate over both endpoints → undirected degree per node.
    # NOT checkpointed (r8): da/db are byte-identical aggregation
    # subtrees over the materialized e, so ReusedExchange collapses
    # them inside the adj build — one barrier fewer than a checkpoint.
    deg = (
        e.select(F.explode(F.array("_a", "_b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("_a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("_b"), F.col("deg").alias("_db"))
    # rank(u) < rank(v) iff deg(u) < deg(v), ties by id; _a < _b always,
    # so _a is the lower-ranked endpoint iff _da <= _db. oriented is
    # consumed exactly once (the adj build), so it is NOT checkpointed
    # (r8 — the former barrier bought no reuse).
    oriented = (
        e.join(da, "_a")
        .join(db, "_b")
        .select(
            F.when(F.col("_da") <= F.col("_db"), F.col("_a"))
            .otherwise(F.col("_b"))
            .alias("_u"),
            F.when(F.col("_da") <= F.col("_db"), F.col("_b"))
            .otherwise(F.col("_a"))
            .alias("_v"),
        )
    )
    # pinned partition counts (r9, guide §2.5): these exchanges carry
    # few BYTES (≤12 MB) but heavy per-row COMPUTE (collect_set build;
    # array_intersect per edge downstream), so AQE's byte-based
    # coalescing funneled them onto 1 and 8 tasks respectively while
    # 32 cores idled. An explicit repartition by the join/group key is
    # the same exchange the operator needs (no extra shuffle) with a
    # REPARTITION_BY_NUM pin AQE won't coalesce.
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    adj = materialize(
        oriented.repartition(n_part, "_u")
        .groupBy("_u")
        .agg(F.collect_set("_v").alias("ns"))
    )
    # oriented is REGENERATED from the checkpointed adjacency by a
    # local explode (r8, guide §2.4): (u, explode(ns)) is exactly the
    # oriented edge list, so the former third checkpoint barrier for
    # oriented-the-relation disappears and no consumer recomputes the
    # orientation joins. The N⁺ lookups stay two narrow equi-joins —
    # a variant that carried na through the explode itself (arrays
    # duplicated per edge, hash-scattered by _v) was A/B-tested and
    # REJECTED: the exchange wrote 156 MB vs 8.5 MB for this shape
    # (sorted-by-_u rows repeat the same array, so it compresses).
    exploded = adj.select(F.col("_u"), F.explode("ns").alias("_v")).repartition(
        n_part, "_u"
    )
    na = adj.select(F.col("_u").alias("_ju"), F.col("ns").alias("na"))
    nb = adj.select(F.col("_u").alias("_jv"), F.col("ns").alias("nb"))
    per_edge = (
        exploded.join(na, F.col("_u") == F.col("_ju"))
        .repartition(n_part, "_v")
        .join(nb, F.col("_v") == F.col("_jv"))
        .select(F.size(F.array_intersect("na", "nb")).alias("n_closing"))
    )
    # |E| = Σ|N⁺(u)| off the checkpointed adjacency — no extra pass
    # over the edges and no degree-dim materialization
    n_edges = adj.agg(
        F.coalesce(F.sum(F.size("ns")), F.lit(0)).cast("bigint").alias("n_edges")
    )
    return (
        per_edge.agg(
            F.coalesce(F.sum("n_closing"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            )
        )
        .join(F.broadcast(n_edges))
        .select("n_edges", "n_triangles")
    )


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 5,
) -> DataFrame:
    """Semi-supervised label propagation: spread seed labels over an
    undirected graph by synchronous majority vote.

    Each round, every node adopts the most common label among its
    labeled neighbors (ties → smaller count? no: count DESC then
    label ASC — fully deterministic); seed nodes never change. After
    ``max_iter`` rounds, returns (node, label, is_seed) for every
    node that acquired a label. The synchronous schedule + total
    tie order make the result a pure function of the input — the
    property tests replay it in plain Python and demand equality.

    Scale shape: one labels⋈edges shuffle join + one (node, label)
    aggregate + one argmax reduction per round — label propagation's
    canonical Pregel form. The labels frame stays |V|-sized; raw
    edges are never materialized per-round beyond the join. Rounds
    are driver-sequenced (iterative algorithms are control-plane
    loops over data-plane shuffles, like pagerank above).
    """
    # materialized: every round joins against the SAME symmetrized
    # edge set — checkpointing materializes it once AND truncates
    # lineage, so no round re-runs the union+distinct over raw edges
    # and round-k task binaries don't carry the full history (the
    # persist-was-bimodal lesson from triangle_count/pagerank).
    sym = materialize(
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .union(edges.select(F.col("dst").alias("_s"), F.col("src").alias("_d")))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )

    seed_labels = materialize(
        seeds.select(
            F.col("node").alias("_n"), F.col("label").alias("_lbl")
        ).withColumn("_seed", F.lit(True))
    )

    # Lineage is cut every 4th round instead of every round (r8): each
    # round references the previous labels 3× (vote join, seed
    # carryover, left-anti), so the lazy plan grows ~3^k between cuts —
    # fine for 4 rounds (≲100 extra nodes, and identical exchanges are
    # deduped by ReuseExchange at runtime), runaway for unbounded k.
    # Per-round eager checkpoints were measured as pure barrier cost at
    # the query's max_iter=3 (every round = 1-2 driver-sequenced jobs
    # of ~100 ms scheduling around ms-scale work).
    labels = seed_labels
    for i in range(max_iter):
        # contributions: each labeled node votes its label onto its
        # neighbors (one join keyed on the label side's node)
        votes = (
            sym.join(labels.withColumnRenamed("_n", "_s"), "_s")
            .groupBy(F.col("_d").alias("_n"), "_lbl")
            .agg(F.count("*").alias("_votes"))
        )
        # deterministic argmax: max (votes, -label) struct per node
        winner = votes.groupBy("_n").agg(
            F.max(F.struct(F.col("_votes"), (-F.col("_lbl")).alias("_neg"))).alias("_w")
        ).select("_n", (-F.col("_w._neg")).alias("_lbl"))
        # seeds keep their label; everyone else takes this round's vote
        labels = (
            winner.join(seed_labels.select("_n", F.col("_lbl").alias("_sl")), "_n", "left")
            .select(
                "_n",
                F.coalesce("_sl", "_lbl").alias("_lbl"),
                F.col("_sl").isNotNull().alias("_seed"),
            )
            .unionByName(
                # labeled nodes with no labeled neighbor this round
                # (e.g. isolated seeds) must not lose their label
                labels.join(winner.select("_n"), "_n", "left_anti")
            )
        )
        if (i + 1) % 4 == 0 and (i + 1) < max_iter:
            labels = materialize(labels)
    return labels.select(
        F.col("_n").alias("node"),
        F.col("_lbl").alias("label"),
        F.col("_seed").alias("is_seed"),
    )


def core_numbers(edges: DataFrame) -> DataFrame:
    """Coreness (k-core number) of every node via the h-index
    iteration (Lü et al., "The H-index of a network node and its
    relation to degree and coreness", Nat. Commun. 2016): initialize
    c(v) = deg(v), then repeatedly set c(v) to the H-index of its
    neighbors' current values; the fixpoint IS the core number. The
    classic sequential peeling algorithm is inherently serial (remove
    the global min-degree node, repeat); the h-index form is a
    synchronous per-node update — exactly a Pregel round — which is
    what makes k-core computable as shuffles.

    Returns ``(node, core)`` for every edge endpoint. Deterministic
    and partition-independent (pure function of the graph). Raises
    ``RuntimeError`` if 100 rounds don't reach the fixpoint
    (convergence takes at most O(max coreness) rounds in practice;
    pathological chains converge in O(diameter)).

    Scale shape, per round: ONE edges⋈values join (neighbor values),
    one (node, value) COUNT aggregate — map-side partial — and one
    per-node fold over the (value, count) histogram. The per-node
    histogram is bounded at O(√|E|) entries in EVERY round without
    any clipping: h-values are bounded by degrees, so Σ over distinct
    values ≤ Σ h ≤ 2|E|, and k distinct values require a sum ≥
    k(k+1)/2 ⇒ k ≤ 2√|E| — the same hub bound as the degree-oriented
    triangle count; no task ever materializes a hub's raw
    neighborhood. (An earlier draft also clipped neighbor values at
    the node's own estimate — correct but a second join per round
    buying nothing the distinct-value bound doesn't already give.)
    Values are materialized each round (each round reads the
    previous values twice; without truncation the plan doubles per
    round and the driver dies optimizing it long before data size
    matters).

    Tiering (same counted-guard pattern as
    :func:`connected_components_auto`): edge sets ≤
    :data:`CORE_NUMBERS_DRIVER_MAX` canonical edges run the O(E+V)
    bucket-queue peeling on the driver — the h-index loop's per-round
    fixed cost (~1 s × O(rounds) in local mode) dwarfs a ≤200k-row
    collect. The property tests set the cap to 0 to force the
    distributed path and pin both tiers to textbook peeling.
    """
    e = materialize(
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("_u"),
            F.greatest(F.col("src"), F.col("dst")).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    if e.count() <= CORE_NUMBERS_DRIVER_MAX:
        adj: dict = {}
        for r in e.collect():
            adj.setdefault(r._u, set()).add(r._v)
            adj.setdefault(r._v, set()).add(r._u)
        # bucket-queue peeling (Batagelj–Zaveršnik, O(E+V))
        deg = {v: len(ns) for v, ns in adj.items()}
        buckets: dict = {}
        for v, d in deg.items():
            buckets.setdefault(d, set()).add(v)
        core: dict = {}
        k = 0
        remaining = len(deg)
        while remaining:
            while not buckets.get(k):
                k += 1
            v = buckets[k].pop()
            core[v] = k
            remaining -= 1
            for u in adj[v]:
                if u in core:
                    continue
                d = deg[u]
                if d > k:
                    buckets[d].discard(u)
                    deg[u] = d - 1
                    buckets.setdefault(d - 1, set()).add(u)
        spark = edges.sparkSession
        from pyspark.sql.types import LongType, StructField, StructType

        from hls_stac_parquet_spark.tuning import driver_rows_to_df

        schema = StructType(
            [StructField("node", LongType()), StructField("core", LongType())]
        )
        return driver_rows_to_df(spark, core.items(), schema)

    sym = materialize(
        e.select(F.col("_u").alias("_n"), F.col("_v").alias("_nb")).union(
            e.select(F.col("_v").alias("_n"), F.col("_u").alias("_nb"))
        )
    )
    cur = materialize(
        sym.groupBy("_n")
        .agg(F.count("*").cast("long").alias("_c"))
    )

    # h-index of a (value, count) histogram sorted by value DESC:
    # running cum = #values ≥ v; the answer is max over entries of
    # min(v, cum). Pure fold — no second pass, no UDF.
    def _hindex(hist_col):
        return F.aggregate(
            F.sort_array(hist_col, asc=False),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(0).cast("long").alias("best"),
            ),
            lambda acc, x: F.struct(
                (acc.cum + x.cnt).alias("cum"),
                F.greatest(
                    acc.best, F.least(x.v, acc.cum + x.cnt)
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )

    converged = False
    for _ in range(100):
        nbvals = sym.join(
            cur.select(F.col("_n").alias("_nb"), F.col("_c").alias("_nbc")),
            "_nb",
        ).select("_n", F.col("_nbc").alias("_v"))
        hist = nbvals.groupBy("_n", "_v").agg(
            F.count("*").cast("long").alias("_cnt")
        )
        # the changed flag rides the SAME materialization job as the
        # checkpoint (old value joined in before truncation), so the
        # convergence probe is a filter over checkpointed rows, not a
        # second join job per round
        new_cur = materialize(
            hist.groupBy("_n")
            .agg(
                F.collect_list(
                    F.struct(F.col("_v").alias("v"), F.col("_cnt").alias("cnt"))
                ).alias("_h")
            )
            .select("_n", _hindex(F.col("_h")).alias("_c"))
            .join(cur.select("_n", F.col("_c").alias("_old")), "_n")
            .select("_n", "_c", (F.col("_c") != F.col("_old")).alias("_chg"))
        )
        changed = new_cur.filter("_chg").limit(1).count()
        cur = new_cur.select("_n", "_c")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "core_numbers did not converge within 100 h-index rounds"
        )
    return cur.select(F.col("_n").alias("node"), F.col("_c").alias("core"))


def connected_components_auto(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Tiered connected components — same ``(node, component=min
    reachable id)`` contract as :func:`connected_components_star`,
    with the tier picked by a counted guard, mirroring the
    brute-vs-blocked tiering in operators/similarity.py:

    - pair sets ≤ :data:`CC_DRIVER_MAX` rows (the common case for dedup:
      candidate PAIRS are orders of magnitude smaller than the
      corpus) run a driver-side union-find — one collect of long
      pairs, O(E α(E)) in plain Python, zero iterative Spark rounds.
      At the default cap that collect is ≤ ~16 MB, a control-plane
      payload; the per-round fixed cost of the distributed algorithms
      (~1 s × O(log²) rounds in local mode) dwarfs it far beyond
      this size.
    - larger pair sets route to large-star/small-star unchanged.

    The pair set is checkpointed once on entry, so the tier-picking
    count(), the collect (small tier), or the star rounds (large
    tier) all reuse one materialization — callers can pass the raw
    candidate-generation pipeline without it running twice."""
    edges = materialize(edges.select(src, dst))
    n = edges.count()
    if n > CC_DRIVER_MAX:
        return connected_components_star(edges, src, dst)
    rows = edges.select(src, dst).collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = MIN member id (the star contract): path-halving
    # union by min root already keeps each root the component minimum
    out = [(node, find(node)) for node in parent]
    spark = edges.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    from hls_stac_parquet_spark.tuning import driver_rows_to_df

    schema = StructType(
        [StructField("node", LongType()), StructField("component", LongType())]
    )
    return driver_rows_to_df(spark, out, schema)


def sssp_bounded(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Bounded-hop weighted single-source shortest paths (Bellman-Ford
    relaxation): ``(node, dist)`` with dist = min total weight over
    paths of at most ``rounds`` edges from the source node.

    The source is the minimum ``src`` value in the edge list. Each round
    is ONE keyed shuffle: current distances join the edge list on the
    source endpoint, relaxed candidates union the standing distances,
    and a min-aggregate per node keeps the best — node-bounded state,
    never a path relation (the recursive-CTE oracle enumerates paths;
    this never does). Distances are materialized per round so
    round k's plan does not replay rounds 1..k-1.

    FP contract: Bellman-Ford's dist_k(v) = min(dist_{k-1}(v),
    min_u dist_{k-1}(u) + w(u,v)) evaluates exactly the left-to-right
    path sums a path-enumerating oracle computes, and min over the
    same double multiset is order-free — so the result hash-matches a
    WITH RECURSIVE oracle bit-for-bit (rounded only at presentation).

    Pass both edge directions for an undirected graph. At 100 TB the
    per-round shuffle is |dist| ⋈ |edges| on node keys — AQE handles
    hub skew; state never exceeds one row per reached node.
    """
    e = materialize(
        edges.select(
            F.col("src").alias("_a"), F.col("dst").alias("_b"),
            F.col("w").alias("_w"),
        )
    )
    # anchor: DISTINCT source row (0 rows when the edge list is empty,
    # matching the oracle's `WHERE a = (SELECT min(a) ...)` anchor)
    src_dim = e.agg(F.min("_a").alias("_s"))
    dist = materialize(
        e.select(F.col("_a").alias("node"))
        .distinct()
        .join(F.broadcast(src_dim), F.col("node") == F.col("_s"))
        .select("node", F.lit(0.0).alias("dist"))
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist.node == e._a)
            .select(F.col("_b").alias("node"), (F.col("dist") + F.col("_w")).alias("dist"))
        )
        dist = materialize(
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist
