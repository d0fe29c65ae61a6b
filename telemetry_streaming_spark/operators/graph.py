"""Iterative graph ranking: fixed-point integer PageRank.

Companion to :mod:`operators/components` (connected components for
dup-cluster analysis): components answers "which docs form one
near-dup cluster"; PageRank answers "which nodes matter" — the
standard centrality for link/co-occurrence graphs (seed-URL
prioritization, canonical-doc election inside a dup cluster, supplier
criticality).

The twist that makes an ITERATIVE float algorithm oracle-checkable:
ranks are kept in scaled fixed-point BIGINTs and every per-edge
contribution is an integer floor division

    contrib(u->v) = (rank_u * 17 * w_uv) div (20 * outw_u)

so each iteration is a deterministic function of exact integers —
bit-identical across engines, partitionings, and runs (float PageRank
sums in nondeterministic order and drifts in the last ulp; the floor
quantization loses a bounded trickle of mass instead, at most one
micro-unit per in-edge per iteration, identically everywhere).  The
damping factor is the rational 17/20 = 0.85; the per-node base term is
``scale * 3 div 20`` = 150000 micro-units.  Dangling mass (nodes with
no out-edges) is dropped, the common simplification — documented, and
irrelevant for symmetric co-occurrence graphs where in- and out-edges
coincide.

Plan shape per iteration: ranks ⋈ edges on ``src`` (edges carry their
precomputed ``outw``), partial-aggregated SUM on ``dst``, left join
back to the node set for the base term — two key shuffles per
iteration on the edge frame, which is the textbook distributed
PageRank schedule.  The edge frame is cached once (reused every
iteration) and RELEASED before returning: the final ranks are
materialized via ``localCheckpoint`` so the caches can be unpersisted
in a ``finally`` without invalidating the returned frame — a
long-lived session accumulates nothing across calls.  The same
checkpoint runs every ``checkpoint_every`` iterations to cut rank
lineage, which otherwise grows linearly and dominates planning time
past ~8 iterations.  At 100TB-scale graphs the same plan holds with the
edge frame bucketed by ``src`` so the per-iteration join is
shuffle-free on one side; power-law hubs skew the ``dst`` aggregate —
the standard salt/two-level-combine guard applies (Spark's partial
aggregation already absorbs most of it).

Overflow contract: ``rank * 17 * max_w`` must fit int64.  Total mass
is bounded by ``n_nodes * scale``, so with the default scale=1e6 the
product stays exact up to ~5e11/max_w nodes — assert upstream for
larger graphs or lower ``scale``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark import StorageLevel


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed frame's storage blocks eagerly.

    ``DataFrame.localCheckpoint`` persists the materialized RDD and
    exposes no public release handle; without this, every mid-loop
    lineage cut leaks node-set-sized blocks until the JVM GCs the RDD
    object and ContextCleaner notices.  Reaches through the LogicalRDD
    plan node (private API) — on any mismatch, falls back to that GC
    path, which is correct just slower to reclaim."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def pagerank_fixed_point(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    iterations: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Fixed-point integer PageRank over weighted directed ``edges``
    (columns ``src``, ``dst``, ``w``; one row per (src, dst)).

    Returns ``(node, rank_micros)`` after ``iterations`` synchronous
    updates from a uniform ``scale`` start.  ``nodes`` (single-column
    ``node``) widens the vertex set beyond edge endpoints — isolated
    vertices hold the base term; default is the endpoints.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = nodes.select(F.col("node").cast("long").alias("node"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    e = (
        edges.join(outw, on="src")
        .select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.col("w").cast("long").alias("w"),
            F.col("outw").cast("long").alias("outw"),
        )
        # r11 (guide §2.4): co-partition + pre-sort the cached edge
        # frame on the per-iteration join key.  The outw attach is a
        # broadcast join, so without this the cache materializes with
        # the Union's unknown partitioning and EVERY iteration
        # re-exchanges (and re-sorts) the full edge frame on src —
        # the captured r10 chain showed one O(m) Exchange per
        # iteration on the cached side.  One build-time exchange
        # removes all of them: the iteration join then reads the
        # cache co-partitioned with the rank frame (whose hash(node)
        # partitioning aliases through to src), which is also the
        # standard 100TB posture (edges bucketed/partitioned by src).
        .repartition("src")
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    base = (scale * (damping_den - damping_num)) // damping_den
    try:
        ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
        last_ckpt: DataFrame | None = None
        for i in range(iterations):
            contribs = (
                e.join(ranks.withColumnRenamed("node", "src"), on="src")
                .select(
                    "dst",
                    F.expr(
                        f"(r * {damping_num} * w) div ({damping_den} * outw)"
                    ).alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("in_mass"))
            )
            ranks = nodes.join(
                contribs, nodes["node"] == contribs["dst"], "left"
            ).select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            # cut lineage periodically: planning cost grows linearly
            # with unrolled iterations otherwise
            if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
                ranks = ranks.localCheckpoint(eager=True)
                if last_ckpt is not None:
                    _release_local_checkpoint(last_ckpt)
                last_ckpt = ranks
        # materialize the result so the persisted inputs can be
        # released without invalidating the returned frame; its blocks
        # are the ONLY storage the call leaves behind
        out = ranks.select(
            "node", F.col("r").alias("rank_micros")
        ).localCheckpoint(eager=True)
        if last_ckpt is not None:
            _release_local_checkpoint(last_ckpt)
        return out
    finally:
        e.unpersist()
        nodes.unpersist()


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    max_items_per_group: int | None = 64,
) -> DataFrame:
    """Symmetric co-occurrence edge list: ``(src, dst, w)`` where
    ``w`` counts the groups in which both items appear.

    Capped path (r10, guide §2.4): ONE group-key exchange (map-side
    partial ``collect_set``, dedup inside the aggregate) + in-row
    sorted-pair expansion + the final ``(src, dst)`` weight aggregate
    — the former distinct + count-filter join + group-key self-join
    chain cost two more exchanges and two joins for the same result.
    Each unordered pair is expanded once and mirrored before the
    count, so the O(k²)-per-group fan-out is identical, still bounded
    by C(cap, 2), and the per-group aggregation buffer is bounded by
    the group's distinct-item arity (<= the data's real arity; the
    cap filter runs on the collected set's size).

    Uncapped path (``max_items_per_group=None`` — only when group
    arity is bounded upstream): the original distinct + self-join
    shape, which never materializes a per-group set buffer.

    NULL items (r11, ADVICE note): ``collect_set`` drops NULLs, so on
    the capped path the arity cap counts NON-NULL distinct items; the
    uncapped path's ``distinct`` would count a (group, NULL) row.  A
    group at exactly cap+1 items including a NULL therefore flips
    from dropped to kept between the paths.  Output edges never
    contain NULL endpoints in either shape (a NULL never wins a
    ``<``-comparison into a pair), and this corpus has no NULL items;
    callers with NULL-bearing data who need the exact SQL
    COUNT(DISTINCT)-excluding-NULL cap semantics get them from the
    capped path."""
    if max_items_per_group is not None:
        sets = (
            df.groupBy(F.col(group_col).alias("g"))
            .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("__it"))
            .where(
                (F.size("__it") >= 2)
                & (F.size("__it") <= max_items_per_group)
            )
        )
        pairs = sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__it, (x, i) -> "
                    "transform(slice(__it, i + 2, size(__it) - i - 1), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst")
        # w is direction-independent (it counts groups containing both
        # endpoints), so aggregate the src < dst pair stream ONCE and
        # mirror AFTER the count (r10 session 2, guide §2.3): the
        # (src, dst) exchange carries half the rows it did when the
        # mirror ran before the aggregate, and the union over the
        # aggregated frame is exchange-free.
        half = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
        return half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    pairs = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    a = pairs.select("g", F.col("item").alias("src"))
    b = pairs.select("g", F.col("item").alias("dst"))
    return (
        a.join(b, on="g")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Self-loop-free DISTINCT ``u < v`` canonical form of an edge list."""
    u, v = F.col(src), F.col(dst)
    return (
        edges.where(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    canon: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the classic
    motif statistic behind clustering coefficients, community-density
    screens, and co-purchase "tightness" audits.

    Input: an edge list in any orientation, possibly with duplicates
    and self-loops (both removed here: edges canonicalize to
    ``u < v`` DISTINCT pairs).  Output: ``(node, n_triangles)`` — one
    row per node that closes at least one triangle; every triangle
    contributes exactly 1 to each of its three corners.  All-integer,
    orientation-independent — hash-exact against a naive SQL triple
    join.

    Plan (the node-iterator++ schedule, Schank & Wagner 2005): orient
    every canonical edge from its lower-(degree, id) endpoint to the
    higher one, enumerate wedges as ordered pairs of out-neighbors of
    a common apex (one self-join on the apex), then close each wedge
    with a semi-join against the canonical edge set.  Degree
    orientation is the scale guard: out-degree is bounded by O(√m) on
    any graph, so wedge volume is Σ C(d_out, 2) ≤ O(m^1.5) — the
    apex-side hub that would make a naive adjacency self-join
    quadratic instead fans its edges out to HIGHER-rank endpoints and
    keeps a small out-list.  Three key shuffles total (degree agg,
    apex self-join, closing join); the closing join carries wedge
    rows, never node² pairs.  At 100 TB the same plan holds with the
    oriented frame bucketed by apex.

    ``canon`` lets a caller that already holds the lineage-cut
    canonical ``(u, v)`` frame (``clustering_coefficients``, which also
    needs it for its degree aggregate) pass it in instead of having the
    whole edge derivation recomputed per consumer (r7 verdict item 5).
    The frame must be the output of :func:`_canonical_edges` (columns
    ``u < v``, distinct, self-loop-free), already lineage-cut.
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    if canon is None:
        # canon fans out to THREE consumers (degree agg, orientation
        # join, closing join) — without a lineage cut each recomputes
        # the whole upstream edge derivation (measured 9.3s -> 5.7s at
        # sf0.1 on the co-purchase graph).  localCheckpoint blocks
        # self-clean once the returned frame is unreferenced
        # (checkpointing.py contract).
        canon = cut_lineage(_canonical_edges(edges, src, dst))
    return _corner_counts(_closed_triangles(canon))


def _corner_counts(closed: DataFrame) -> DataFrame:
    """(node, n_triangles) from closed triangles — each triangle
    credits its three corners once."""
    corners = closed.select(F.explode(F.array("a", "b", "b2")).alias("node"))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def _degrees(canon: DataFrame) -> DataFrame:
    """Per-node degree ``(n, d)`` of a canonical edge frame."""
    return (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def _ranked_edges(canon: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Lineage-cut ``(u, v, du, dv)``: every canonical edge with both
    endpoint degrees attached.  Materialized ONCE because the wedge
    self-join reads the orientation through BOTH branches and
    :func:`edge_link_scores` needs the degrees again in its per-edge
    output — without the cut each of those references re-runs the two
    degree joins over the canon RDD (no subplan CSE; the same
    recompute-per-consumer trap as canon/deg, one tier up — measured
    in SCALE.md, r8)."""
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    if deg is None:
        deg = _degrees(canon)
    return cut_lineage(
        canon.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )


def _closed_triangles(
    canon: DataFrame | None = None,
    deg: DataFrame | None = None,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Every triangle of a lineage-cut canonical edge frame, once, as
    ``(a, b, b2)`` — ``a`` the lowest-(degree, id)-rank corner, ``b <
    b2`` by id.  The degree-oriented wedge schedule shared by
    :func:`triangle_counts`, :func:`clustering_coefficients` and
    :func:`edge_link_scores` (see triangle_counts' docstring for the
    scale argument).  A caller that already holds the lineage-cut
    :func:`_ranked_edges` frame (link scores — it needs the degrees in
    its output) passes ``ranked``; otherwise it is built (and cut)
    here from ``canon`` (+ optional pre-aggregated ``deg``)."""
    if ranked is None:
        ranked = _ranked_edges(canon, deg)
    # rank = (degree, id): a total order, so orientation is acyclic
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # wedges: ordered out-neighbor pairs of a shared apex (b1 < b2
    # counts each unordered pair once)
    o2 = oriented.select(F.col("a"), F.col("b").alias("b2"))
    wedges = oriented.join(o2, "a").where(F.col("b") < F.col("b2"))
    # b < b2 by id, so the closing edge's canonical (u < v) form is
    # exactly (b, b2) — a plain two-key equi-join against the (already
    # materialized) edge set
    return wedges.join(
        ranked.select("u", "v"),
        (F.col("b") == F.col("u")) & (F.col("b2") == F.col("v")),
        "inner",
    ).select("a", "b", "b2")


def edge_link_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-EDGE common-neighbor count and Jaccard link score — the
    standard structural link-prediction / edge-strength features
    (Liben-Nowell & Kleinberg 2003): an edge whose endpoints share many
    neighbors is intra-community ("strong"); one sharing none is a
    bridge.  For training-data curation this ranks co-purchase /
    co-occurrence edges by redundancy before sampling.

    For each canonical edge (u < v): ``cn`` = |N(u) ∩ N(v)| = the
    number of triangles THROUGH the edge, and the neighborhood Jaccard
    ``jaccard_e6 = floor(scale · cn / (deg(u) + deg(v) − 2 − cn))``
    (the denominator is |N(u) ∪ N(v)| with u, v themselves excluded;
    0 when both endpoints have no other neighbors) — emitted as an
    INTEGER so the score itself hash-matches any engine.

    Plan: the SAME degree-oriented wedge schedule as triangle counting,
    fed by ONE lineage-cut ``(u, v, du, dv)`` frame (the edge list with
    both endpoint degrees attached) that serves the orientation, the
    closing join AND the per-edge output: each closed triangle explodes
    to its 3 edges (canonicalized with least/greatest — the apex is
    rank-lowest, not id-lowest), one count aggregate on the edge key,
    one left join of the counts back onto the ranked frame.  The
    degrees ride along from the start, so no per-edge degree join ever
    re-shuffles the O(m) frame.  Wedge volume is the O(m^1.5)
    Schank-Wagner bound; nothing ever materializes per-pair beyond it.
    Output is exactly one row per canonical edge.
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    canon = cut_lineage(_canonical_edges(edges, src, dst))
    # ONE materialized (u, v, du, dv) frame feeds the orientation
    # (both self-join branches), the closing join, AND the per-edge
    # output — r8: this replaced a cut deg frame plus TWO extra
    # shuffle joins of the O(m) edge frame back onto the degrees
    # (the output already knows du/dv; measured in SCALE.md)
    ranked = _ranked_edges(canon)
    closed = _closed_triangles(ranked=ranked)
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
                ),
                F.struct(
                    F.least("a", "b2").alias("u"), F.greatest("a", "b2").alias("v")
                ),
                F.struct(F.col("b").alias("u"), F.col("b2").alias("v")),
            )
        ).alias("e")
    ).select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    cn = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn")
    )
    out = ranked.join(cn, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce(F.col("cn"), F.lit(0)).cast("long").alias("cn"),
        F.col("du").alias("deg_u"),
        F.col("dv").alias("deg_v"),
    )
    union_sz = F.col("deg_u") + F.col("deg_v") - F.lit(2) - F.col("cn")
    return out.select(
        "u",
        "v",
        "cn",
        "deg_u",
        "deg_v",
        F.when(union_sz > 0, F.expr(f"{scale} * cn div (deg_u + deg_v - 2 - cn)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("jaccard_e6"),
    )


def edge_ra_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Per-edge resource-allocation link score (Zhou, Lü & Zhang
    2009) — ``ra_e9 = Σ_{w ∈ N(u) ∩ N(v)} floor(scale / deg(w))``:
    common neighbors weighted INVERSELY by their degree, so a shared
    hub (every product bought with everything) contributes almost
    nothing while a shared niche neighbor is strong evidence.  The
    usual companion to the raw common-neighbor count / Jaccard of
    :func:`edge_link_scores`; Adamic-Adar's ``1/log deg`` variant is
    deliberately NOT offered — ``log`` is not guaranteed correctly
    rounded across engines, while ``scale div deg`` is integer-exact
    in all of them (the registry's engine-portability contract).

    Plan: the same degree-oriented wedge schedule — each closed
    triangle (a, b, b2) contributes its THIRD corner as the common
    neighbor of each of its three edges, one equi-join of the
    contribution stream against the lineage-cut degree frame, one
    aggregate on the edge key, one left join back onto the edge list.
    Wedge volume stays the O(m^1.5) Schank-Wagner bound; the degree
    join is node-keyed (never per-pair).  Output: one row per
    canonical edge — ``(u, v, cn, ra_e9)``, all BIGINT.
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    canon = cut_lineage(_canonical_edges(edges, src, dst))
    # deg feeds the ranked-edge build AND the apex weight join
    deg = cut_lineage(_degrees(canon))
    ranked = _ranked_edges(canon, deg)
    closed = _closed_triangles(ranked=ranked)
    # (edge u < v, common neighbor w): the triangle corner not on the edge
    contrib = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                    F.col("b2").alias("w"),
                ),
                F.struct(
                    F.least("a", "b2").alias("u"),
                    F.greatest("a", "b2").alias("v"),
                    F.col("b").alias("w"),
                ),
                F.struct(
                    F.col("b").alias("u"),
                    F.col("b2").alias("v"),
                    F.col("a").alias("w"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v", "e.w")
    weighted = contrib.join(
        deg.withColumnRenamed("n", "w").withColumnRenamed("d", "dw"), "w"
    )
    agg = weighted.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(F.expr(f"{scale} div dw")).cast("long").alias("ra_e9"),
    )
    return ranked.select("u", "v").join(agg, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce(F.col("cn"), F.lit(0)).cast("long").alias("cn"),
        F.coalesce(F.col("ra_e9"), F.lit(0)).cast("long").alias("ra_e9"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree-assortativity sufficient statistics of an undirected
    graph (Newman 2002) — the Pearson correlation of endpoint degrees
    over all edge STUBS (each canonical edge contributes both
    orientations, so the statistic is symmetric by construction).
    Social graphs are assortative (hubs befriend hubs, r > 0);
    co-purchase / dependency graphs are typically disassortative
    (hubs connect leaves, r < 0) — the one-number screen for "does
    this graph have hub-and-spoke structure" before sampling.

    The four moments are exact BIGINTs: with ``N = 2m`` stubs,
    ``Sx = Σ(du+dv)``, ``Sxy = 2·Σ(du·dv)``, ``Sxx = Σ(du²+dv²)``
    (bounded by ``2·m·dmax²`` — inside int64 up to ~10^12 edges at
    hub degree ~10^3; the per-term products are degree-squared, never
    moment-squared).  The correlation ``r = (N·Sxy − Sx²) /
    (N·Sxx − Sx²)`` is computed in IEEE doubles with the SAME
    expression shape the oracle states — ``N·Sxy`` and ``Sx²`` exceed
    int64 on a 64x-replicated sf0.1 graph (caught by the replication
    smoke), and correctly-rounded double *, − and / are deterministic
    in any engine, so the value still hashes (a degree-regular graph
    has zero stub variance → NULL).  Plan: the canonical edge
    derivation, one degree aggregate, two degree joins, ONE global
    aggregate whose partials are 4 BIGINTs per partition — nothing
    edge-sized ever hits a single task."""
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    canon = cut_lineage(_canonical_edges(edges, src, dst))
    # cut deg too: it feeds TWO join branches, and Spark does not CSE
    # subplans, so an uncut degree aggregate re-runs once per branch
    # (same trap edge_ra_scores guards against; r8 ADVICE).
    deg = cut_lineage(_degrees(canon))
    ranked = (
        canon.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("sum_deg"),
        (F.lit(2) * F.sum(F.col("du") * F.col("dv"))).cast("long").alias("sum_prod2"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("long")
        .alias("sum_sq"),
    )
    # doubles from here down (see docstring): identical expression
    # shape to the oracle, so the IEEE result is engine-portable
    n = F.col("n_edges").cast("double")
    sx = F.col("sum_deg").cast("double")
    sxy = F.col("sum_prod2").cast("double")
    sxx = F.col("sum_sq").cast("double")
    num = F.lit(2.0) * n * sxy - sx * sx
    den = F.lit(2.0) * n * sxx - sx * sx
    return agg.select(
        "n_edges",
        "sum_deg",
        "sum_prod2",
        "sum_sq",
        F.when(den != 0.0, num / den).alias("assortativity"),
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop nodes of degree
    < ``k`` (and their edges) for exactly ``rounds`` iterations, then
    emit the survivors with their residual degree — the standard
    dense-subgraph screen (community cores, spam/bot rings,
    "only keep items with k mutually-supported neighbors" curation).

    FIXED iteration count, not run-to-convergence: like the engine's
    fixed-point PageRank (``pagerank``), a bounded unroll keeps the
    operator hash-exact against a plain unrolled-CTE SQL oracle while
    converging whenever the peel chain is shorter than ``rounds``
    (each round can only remove nodes, so once a round removes
    nothing the remaining rounds are no-ops — on shallow-peel graphs
    the result IS the true k-core).  Output: ``(node, core_degree)``
    for every node surviving all rounds.

    Plan per round: one degree aggregate + two semi-joins on the
    surviving edge list, lineage-cut per round (the shrinking-edge-set
    discipline of connected_components — ``rounds`` chained shuffles
    would otherwise replan the whole history every iteration).  Edge
    volume only shrinks, so cost is bounded by ``rounds ×`` the first
    degree aggregate; at 100 TB the same plan holds with the edge list
    bucketed on the node key.
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    cur = cut_lineage(_canonical_edges(edges, src, dst))
    for _ in range(rounds):
        deg = _degrees(cur)
        keep = deg.where(F.col("d") >= k).select("n")
        cur = cut_lineage(
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
        )
    return _degrees(cur).select(
        F.col("n").alias("node"), F.col("d").alias("core_degree")
    )


def kcore_unrolled_sql(
    edges_cte: str, k: int, rounds: int
) -> str:
    """The fixed-round peel unrolled as plain CTE stages — the oracle
    twin of :func:`kcore_peel`.  ``edges_cte`` must name a CTE already
    holding the DISTINCT canonical ``u < v`` edge list.  Every stage
    is ``AS MATERIALIZED``: each edge CTE is referenced by BOTH the
    next round's degree aggregate and its semi-join, and DuckDB's
    default inlining would re-derive it per reference — exponential
    re-evaluation across rounds (measured: 4 inlined rounds did not
    finish in 5 minutes at sf0.001; materialized they run in
    milliseconds).  The Spark side's per-round ``cut_lineage`` is the
    same decision in the engine's own terms."""
    parts = []
    prev = edges_cte
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
        SELECT node, COUNT(*) AS c
        FROM (SELECT u AS node FROM {prev}
              UNION ALL SELECT v FROM {prev}) t
        GROUP BY node
    ),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {k}),
    e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM {prev} e
        JOIN k{i} a ON a.node = e.u
        JOIN k{i} b ON b.node = e.v
    )"""
        )
        prev = f"e{i}"
    stages = ",\n    ".join(parts)
    return f"""{stages}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS node FROM {prev}
          UNION ALL SELECT v FROM {prev}) survivors
    GROUP BY node"""


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Local clustering coefficient per node — triangles through the
    node over its C(degree, 2) possible wedge closures, the standard
    'how clique-like is this neighborhood' metric (Watts-Strogatz).

    Emitted as an INTEGER ``coeff_e6 = floor(scale · 2·tri /
    (deg·(deg−1)))`` so the value — not just the inputs — is
    hash-exact across engines.  Nodes of degree 1 have no possible
    wedge and are emitted with ``coeff_e6 = 0`` (their ``n_triangles``
    is necessarily 0 too).  One extra degree aggregate + a left join
    on top of :func:`triangle_counts` — same scale posture.

    The canonical edge frame is built and lineage-cut ONCE and shared
    with :func:`triangle_counts` (its ``canon`` parameter): it now
    fans out to FOUR consumers, and without the shared cut the whole
    upstream edge derivation would execute twice — Spark has no
    subplan CSE (r7 verdict item 5; measured 2.29s -> 1.26s at sf0.1
    on the co-purchase graph, SCALE.md).
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    canon = cut_lineage(_canonical_edges(edges, src, dst))
    # r8: ONE materialized degree frame feeds the ranked-edge build
    # (inside _closed_triangles) and the coefficient join — without
    # its own lineage cut each reference would re-run the aggregate
    # over the canon RDD (no subplan CSE; same trap as the canon
    # itself, just one tier smaller)
    deg = cut_lineage(_degrees(canon))
    tri = _corner_counts(_closed_triangles(canon, deg))
    joined = deg.select(
        F.col("n").alias("node"), F.col("d").alias("degree")
    ).join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") > 1,
            F.expr(
                f"{2 * scale} * n_triangles div (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("coeff_e6"),
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    cut_every: int = 8,
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan, Albert &
    Kumara 2007) — the near-linear-time community detector: every node
    starts labeled with its own id, and each round adopts the MOST
    FREQUENT label among its neighbors (ties broken by the smallest
    label; a node keeps its label only through the tie rule, not by
    voting for itself).  Dense clusters converge onto one label within
    a couple of rounds while bridges stay contested — the standard
    screen for "which co-purchase / co-occurrence communities exist"
    before sampling, one level softer than connected components
    (which merge everything touching) and far cheaper than modularity
    optimization.

    FIXED synchronous rounds, not run-to-convergence, for the same
    reason as :func:`kcore_peel` and :func:`pagerank_fixed_point`: a
    bounded unroll with a deterministic tie rule is a pure integer
    function of the edge set — hash-exact against an unrolled-CTE SQL
    oracle — whereas asynchronous/converged LPA depends on visit
    order.  (Synchronous LPA can 2-cycle on bipartite structure; a
    fixed round count makes that a defined, reproducible output.)

    Plan per round (r10 optimization): neighbor stubs (both
    directions of the canonical edge frame) equi-join the current
    label frame on the neighbor id, then the per-(node, label) count
    + per-node argmax pair of aggregates collapses into ONE
    ``mode(lab, deterministic=true)`` aggregate (Spark 4: ties
    resolve to the LOWEST value — exactly the LPA tie rule), so each
    round pays three key shuffles (two join sides + the argmax
    ``groupBy(n)``) instead of the former four, and runs one
    aggregation pass instead of two.  (A pre-partitioned stub frame
    was tried and rejected: ``localCheckpoint`` under AQE re-scans as
    ``UnknownPartitioning``, so the join cannot reuse it.)

    Round 1 is algebraic (r11, guide §2.4 — remove shuffles
    outright): the initial label table is the IDENTITY map over the
    stub endpoints, so round 1's ``stubs ⋈ labels ON nbr = node``
    rewrites to ``stubs.select(n, nbr AS lab)`` — the initial
    ``distinct`` aggregate and the first round's join (the only
    consumer of that identity frame) never run at all.  Every node of
    the graph appears as ``n`` in the bidirectional stub frame, so
    the round-1 ``groupBy(n)`` output covers exactly the same node
    set the identity frame did; equivalence is pinned by test and was
    frame-checked at two scale factors (interleaved A/B at sf0.1:
    5.53 → 4.37 s median, new wins 5/7).

    The label frame is lineage-cut every ``cut_every`` rounds — NOT
    every round (r10 optimization session 2): unlike kcore, whose
    per-round keep-list fans out into two semi-joins (uncut recompute
    compounds 3^rounds), each LPA label frame is consumed by exactly
    ONE downstream join, so chaining rounds in a single plan has no
    recompute penalty at all — the per-round eager cut only paid
    ``rounds`` extra job floors + block materializations of the full
    label table.  Measured (paired interleaved A/B at sf0.1, 20k-node
    co-purchase graph, rounds=3): cut-every-round 4.27 s → uncut
    3.17 s median, uncut wins 9/9.  Deep unrolls still need periodic
    cuts (planning time grows with the chain — the
    ``pagerank_fixed_point.checkpoint_every`` discipline), so the
    default cuts every 8th round, which at the committed rounds=3 is
    one straight-line plan.  Hubs are absorbed by ``mode``'s partial
    aggregation: a node with a million neighbors still exchanges at
    most one (label -> count) map entry per mapper.  Output:
    ``(node, community)``.
    """
    from telemetry_streaming_spark.operators.checkpointing import cut_lineage

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if cut_every < 1:
        raise ValueError("cut_every must be >= 1")
    canon = cut_lineage(_canonical_edges(edges, src, dst))
    stubs = canon.select(
        F.col("u").alias("n"), F.col("v").alias("nbr")
    ).unionAll(canon.select(F.col("v").alias("n"), F.col("u").alias("nbr")))
    labels: DataFrame | None = None
    for i in range(rounds):
        if labels is None:
            # round 1: the identity initial labels fold into the stub
            # frame — no distinct aggregate, no join (docstring)
            msgs = stubs.select("n", F.col("nbr").cast("long").alias("lab"))
        else:
            msgs = stubs.join(
                labels.withColumnRenamed("node", "nbr"), "nbr"
            ).select("n", "lab")
        # most frequent neighbor label, ties to the smallest label
        labels = (
            msgs.groupBy("n")
            .agg(F.mode("lab", True).alias("lab"))
            .select(
                F.col("n").alias("node"), F.col("lab").cast("long").alias("lab")
            )
        )
        if (i + 1) % cut_every == 0 and (i + 1) < rounds:
            labels = cut_lineage(labels)
    return labels.select("node", F.col("lab").alias("community"))


def lpa_unrolled_sql(edges_cte: str, rounds: int) -> tuple[str, str]:
    """Fixed-round synchronous LPA unrolled as CTE stages — the oracle
    twin of :func:`label_propagation`.  ``edges_cte`` must name a CTE
    holding the DISTINCT canonical ``u < v`` edge list.  Stages are
    ``AS MATERIALIZED`` for the same reason as
    :func:`kcore_unrolled_sql` (each label CTE feeds the next round's
    join; default inlining re-derives exponentially)."""
    parts = [
        f"""stubs AS MATERIALIZED (
        SELECT u AS n, v AS nbr FROM {edges_cte}
        UNION ALL SELECT v, u FROM {edges_cte}
    ),
    l0 AS MATERIALIZED (
        SELECT DISTINCT n AS node, CAST(n AS BIGINT) AS lab FROM stubs
    )"""
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
        SELECT s.n, l.lab, COUNT(*) AS c
        FROM stubs s JOIN {prev} l ON l.node = s.nbr
        GROUP BY s.n, l.lab
    ),
    l{i} AS MATERIALIZED (
        SELECT n AS node, CAST(lab AS BIGINT) AS lab
        FROM (SELECT n, lab,
                     ROW_NUMBER() OVER (PARTITION BY n
                                        ORDER BY c DESC, lab ASC) AS rn
              FROM c{i})
        WHERE rn = 1
    )"""
        )
        prev = f"l{i}"
    stages = ",\n    ".join(parts)
    return stages, prev
