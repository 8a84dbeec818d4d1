"""Distributed connected components — the transitive-closure step a dedup
pipeline needs between "near-dup pairs" and "dedup groups": LSH/MinHash
emits pairwise edges, but removal decisions need whole clusters (A~B, B~C
means A,B,C are one group even though (A,C) never scored).

Min-label propagation over DataFrames: every vertex starts labelled with
itself; each round it takes the min of its own and its neighbours' labels.
Converges in O(cluster diameter) rounds — near-dup clusters are shallow
(dozens of docs, diameter <~ 5), so this beats the alternating
large-star/small-star scheme (O(log n) rounds but 2 shuffles/round) on the
workloads this engine targets; swap in large-star/small-star if components
with huge diameters ever appear.

Each round is one shuffle (edge-label join + groupBy min). Lineage is cut
every round by materialising labels to a parquet work dir — NOT
``persist()``/``localCheckpoint()``, which poison the local-mode session
(see session.py notes); at cluster scale this write is tiny (|V| rows of
two longs) next to the edge shuffle.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hmpps_digital_prison_reporting_glue_poc_spark.operators.materialize import (
    materialize,
    materialize_observed,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    work_dir: str | None = None,
) -> DataFrame:
    """Return (id, component) for every vertex appearing in ``edges``,
    where ``component`` is the minimum vertex id reachable from ``id``.
    Deterministic. Raises if not converged within ``max_iter`` rounds
    (each round extends reach by one hop, so max_iter bounds the cluster
    diameter the caller expects).

    The result frame is backed by parquet under ``work_dir`` (a fresh temp
    dir by default); intermediate rounds are pruned as the loop advances,
    and only the final round's labels remain on disk.
    """
    spark = edges.sparkSession
    workdir = work_dir or tempfile.mkdtemp(prefix="cc_labels_")
    if work_dir is None:
        # the returned frame lazily reads the final round's parquet, so
        # the dir must outlive this call; reap it at interpreter exit
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))

    sym_path = f"{workdir}/edges"
    sym.write.mode("overwrite").parquet(sym_path)
    sym = spark.read.parquet(sym_path)

    # Empty edge set -> empty vertex set: every round is an exact no-op
    # (nbr_min empty, every label already final), so skip the loop. The
    # vertex count RIDES the init write as an observed metric (r12 — it
    # was a separate footer-count job; r11 note still applies: the
    # bench's max_df=100 prune makes exactly this shape at sf0.1).
    obs0 = Observation()
    init_path = f"{workdir}/iter_0"
    (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(init_path)
    )
    labels = spark.read.parquet(init_path)
    if obs0.get["n"] == 0:
        shutil.rmtree(sym_path, ignore_errors=True)
        return labels
    # Convergence witness: the count of labels a round actually lowered —
    # one cheap scalar per materialized round, and TYPE-AGNOSTIC (labels
    # may be strings, e.g. entity names; the previous sum(comp) witness
    # only worked for numeric ids). Labels move monotonically down the
    # total order, so a zero-change round is the fixpoint.
    #
    # Each round is neighbor-min propagation PLUS one pointer-jump
    # (comp <- comp(comp)): the jump is sound because comp(id) is always
    # a vertex reachable from id with comp <= id (induction from
    # comp = id), so comp(comp(id)) is also reachable from id — and it
    # DOUBLES the propagation distance per round, turning the O(diameter)
    # round count of plain propagation into O(log diameter). A 10^4-hop
    # dup chain converges in ~15 rounds instead of blowing max_iter
    # (plain propagation needs one round PER HOP and failed a 30-node
    # chain at the default max_iter=25).
    for i in range(1, max_iter + 1):
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(
            nbr_min, labels.id == nbr_min.a, "left"
        ).select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                "__mid"
            ),
            F.col("comp").alias("__old"),
        )
        ptr = stepped.select(
            F.col("id").alias("__pid"), F.col("__mid").alias("__pcomp")
        )
        upd = (
            stepped.join(ptr, stepped.__mid == ptr.__pid, "left")
            .select(
                "id",
                F.coalesce("__pcomp", F.col("__mid")).alias("comp"),
                (
                    F.coalesce("__pcomp", F.col("__mid")) != F.col("__old")
                ).cast("int").alias("__chg"),
            )
        )
        # The convergence witness rides the round's ONE action as an
        # observed metric (r11): the previous shape re-read the
        # just-written labels parquet with a second agg-only job — a
        # full |V|-row scan per round at cluster scale purely to learn
        # the changed-count the write job had already streamed past.
        obs = Observation()
        path = f"{workdir}/iter_{i}"
        upd.observe(obs, F.sum("__chg").alias("chg")).write.mode(
            "overwrite"
        ).parquet(path)
        shutil.rmtree(f"{workdir}/iter_{i - 1}", ignore_errors=True)
        changed = obs.get["chg"]
        labels = spark.read.parquet(path).drop("__chg")
        if not changed:
            shutil.rmtree(sym_path, ignore_errors=True)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def neardup_groups(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Resolve near-dup pairs into groups: every doc mapped to the minimum
    doc id of its connected component (singletons map to themselves)."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    return (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp.id, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("component"),
        )
    )


def token_pagerank(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    damping: float = 0.85,
    n_iter: int = 3,
    top_k: int | None = 30,
):
    """PageRank over the token-adjacency graph (directed bigram edges,
    weight = corpus bigram count) — the TextRank-style keyword/centrality
    signal, and the repo's iterative-graph-algorithm shape beyond
    connected components.

    ``n_iter`` fixed synchronous iterations of
    ``r'(v) = (1-d)/V + d * sum_in r(u) * w(u,v)/out(u)`` with NO
    dangling-mass redistribution (leaked mass is the documented variant;
    both engines apply the identical formula). Each iteration is one
    edge-rank equi-join + one dst-keyed aggregation; the edge table is
    built once (one corpus shuffle) and the rank table is |V| rows, so at
    100 TB every round shuffles edges-joined-ranks only — the same plan
    GraphX/Pregel lowers to, with the vocabulary-sized rank frame the
    only state.

    Cross-engine determinism: per-edge contributions are rounded to 9
    decimals and summed as DECIMAL(38,9) (order-free), and each new rank
    is re-rounded to 9 decimals — float-sum ordering can never diverge
    the engines. ``top_k`` output is totally ordered by (rank desc,
    token asc).
    """
    from hmpps_digital_prison_reporting_glue_poc_spark.functions.text import tokens

    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array(
                F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<array<string>>"))
    edges = (
        toked.select(F.explode(grams).alias("__e"))
        .select(
            F.col("__e")[0].alias("src"), F.col("__e")[1].alias("dst")
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out_w = edges.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    edges = materialize(
        edges.join(out_w, "src"), prefix="pagerank_edges_"
    )
    nodes = (
        edges.select(F.col("src").alias("token"))
        .union(edges.select(F.col("dst").alias("token")))
        .distinct()
    )
    # vocabulary count rides the nodes write (r12: was a separate
    # footer-count job after the materialize)
    obs = Observation()
    nodes = materialize_observed(
        nodes, "pagerank_nodes_", obs, F.count(F.lit(1)).alias("n")
    )
    n_nodes = obs.get["n"]
    if n_nodes == 0:
        # empty graph: no ranks to compute, and 1/V would divide by zero
        # under ANSI (r9 fuzz sweep, "empty" seed) — empty typed result
        return nodes.select(
            "token", F.lit(None).cast("double").alias("rank")
        )
    # every float constant is built from the same IEEE double ops the
    # oracle writes out (1.0 - d, x / V, ROUND half-up) — never Python
    # round(), whose half-even tie rule differs from SQL ROUND.
    v = F.lit(float(n_nodes))
    base = (F.lit(1.0) - F.lit(damping)) / v
    ranks = nodes.select(
        "token", F.round(F.lit(1.0) / v, 9).alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("token").alias("src"), F.col("rank").alias("r_src")
                ),
                "src",
            )
            .select(
                F.col("dst").alias("token"),
                F.round(
                    F.col("r_src")
                    * F.col("w").cast("double")
                    / F.col("out_w").cast("double"),
                    9,
                )
                .cast("decimal(38,9)")
                .alias("c"),
            )
            .groupBy("token")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contrib, "token", "left")
            .select(
                "token",
                F.round(
                    base
                    + F.lit(damping)
                    * F.coalesce(
                        F.col("in_sum").cast("double"), F.lit(0.0)
                    ),
                    9,
                ).alias("rank"),
            )
        )
    if top_k is not None:
        ranks = ranks.orderBy(F.col("rank").desc(), F.col("token").asc()).limit(
            top_k
        )
    return ranks


def token_graph_triangles(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Triangle census of the undirected token co-occurrence graph
    (distinct bigram pairs): node/edge/wedge/triangle counts and the
    global transitivity 3T/W — the graph-health summary of a
    co-occurrence structure.

    Uses the classic degree-ordered orientation (Cohen 2009 MapReduce
    triangle counting): each undirected edge is oriented from its
    (degree, id)-smaller endpoint to the larger, so every node's
    out-degree is O(sqrt(|E|)) and the wedge self-join — the quadratic
    step — is bounded by that, never by a hub's full degree. Triangle =
    oriented wedge (u->v, u->w) closed by oriented edge (v->w). Wedge
    count W = sum over nodes of C(deg, 2) — exact integers throughout;
    the one float op is the final 3T/W division. Single-row output.
    """
    from hmpps_digital_prison_reporting_glue_poc_spark.functions.text import tokens

    toked = df.select(tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array(
                F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<array<string>>"))
    und = (
        toked.select(F.explode(grams).alias("__e"))
        .select(
            F.least(F.col("__e")[0], F.col("__e")[1]).alias("a"),
            F.greatest(F.col("__e")[0], F.col("__e")[1]).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))  # self-loops carry no triangles
        .distinct()
    )
    und = materialize(und, "tri_edges_")
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg = materialize(deg, "tri_deg_")
    # orient by (deg, id): from smaller to larger
    e = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
    )
    e = materialize(e, "tri_oriented_")
    # oriented wedges from a shared source, one per unordered {v, w}
    w1 = e.select(F.col("u"), F.col("v").alias("x"))
    w2 = e.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # a triangle closes the wedge with an oriented edge between x and y
    # (orientation of (x, y) is whichever (deg, id) order dictates)
    closed = wedges.join(
        e.select(
            F.col("u").alias("x"), F.col("v").alias("y"), F.lit(1).alias("__c1")
        ),
        ["x", "y"],
        "left",
    ).join(
        e.select(
            F.col("u").alias("y"), F.col("v").alias("x"), F.lit(1).alias("__c2")
        ),
        ["x", "y"],
        "left",
    )
    # sum over an EMPTY wedge frame is NULL, not 0 — coalesce, or a
    # triangle-free graph reports n_triangles NULL (hypothesis-caught)
    tri = closed.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__c1").isNotNull() | F.col("__c2").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_triangles")
    )
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    ).crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
    return (
        counts.crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("transitivity"),
        )
    )


def degree_assortativity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree assortativity of an undirected graph — the Pearson
    correlation of endpoint degrees over edges (Newman's r): positive
    means hubs link hubs (a social-network shape), negative means hubs
    link leaves (the hub-and-spoke shape that makes hot-key mitigation
    matter). The one-number topology summary next to ``token_pagerank``
    (centrality) and ``token_graph_triangles`` (clustering).

    Input edges are canonicalized to DISTINCT undirected pairs
    (least/greatest + self-loop drop), degrees come from one vertex
    rollup over both endpoints, and the correlation runs over BOTH
    orientations of each edge (the standard symmetric estimator —
    which also makes the x/y marginals identical, so only three moment
    sums are needed). All moments are exact integers (DECIMAL(38,0)
    products of int64 degrees); r = (M*Sxy − Sx^2) / (M*Sxx − Sx^2) is
    ONE float expression. Returns one row
    (n_vertices, n_edges, assortativity); NULL for a degree-regular
    graph (zero variance).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # edge/degree cuts: und feeds the vertex rollup AND both join sides,
    # deg feeds both endpoint lookups and the vertex count — un-cut, the
    # caller's edge-building lineage re-derived 13x (r10 plan audit)
    und = materialize(und, "assort_und_")
    verts = und.select(F.col("a").alias("v")).unionAll(
        und.select(F.col("b").alias("v"))
    )
    deg = materialize(
        verts.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d")),
        "assort_deg_",
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("__dx"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("__dy"))
    oriented = (
        und.join(da, "a").join(db, "b").select("__dx", "__dy")
    )
    # both orientations: (x,y) and (y,x) — symmetric marginals
    sym = oriented.unionAll(
        oriented.select(
            F.col("__dy").alias("__dx"), F.col("__dx").alias("__dy")
        )
    )
    mom = sym.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum("__dx").cast("decimal(38,0)").alias("__sx"),
        F.sum(F.col("__dx").cast("decimal(38,0)") * F.col("__dx")).alias(
            "__sxx"
        ),
        F.sum(F.col("__dx").cast("decimal(38,0)") * F.col("__dy")).alias(
            "__sxy"
        ),
    )
    n_v = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    n_e = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    joined = n_v.crossJoin(F.broadcast(n_e)).crossJoin(F.broadcast(mom))
    num = (
        F.col("__m").cast("decimal(38,0)") * F.col("__sxy")
        - F.col("__sx") * F.col("__sx")
    ).cast("double")
    den = (
        F.col("__m").cast("decimal(38,0)") * F.col("__sxx")
        - F.col("__sx") * F.col("__sx")
    ).cast("double")
    r = F.when(den > 0.0, num / den)
    return joined.select(
        "n_vertices", "n_edges", r.alias("assortativity")
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst", min_degree: int = 2
) -> DataFrame:
    """Per-vertex local clustering coefficient — "how much of each
    node's neighborhood is itself connected" (2*t_v / (d_v*(d_v−1))):
    the vertex-grain refinement of ``token_graph_triangles``' global
    census, and ``degree_assortativity``'s sibling (assortativity asks
    who links whom; clustering asks whether neighborhoods close).

    Same scale discipline as the census: degree-ordered orientation
    (Cohen's trick) bounds the wedge self-join by O(sqrt(|E|)) per
    node, never a hub's full degree; each closed triangle emits its 3
    corners, a vertex-keyed count rolls them up, and cc is ONE exact
    float division (t and d are exact integers). Vertices below
    ``min_degree`` are excluded (cc undefined below 2). Returns
    (vertex, degree, n_triangles, clustering_coeff).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = materialize(und, "lcc_edges_")
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    deg = materialize(deg, "lcc_deg_")
    oriented = (
        und.join(
            deg.select(F.col("v").alias("a"), F.col("deg").alias("__da")),
            "a",
        )
        .join(
            deg.select(F.col("v").alias("b"), F.col("deg").alias("__db")),
            "b",
        )
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | (
                    (F.col("__da") == F.col("__db"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("__e")
        )
        .select(F.col("__e.u").alias("u"), F.col("__e.w").alias("w"))
    )
    oriented = materialize(oriented, "lcc_oriented_")
    w1 = oriented.select(F.col("u"), F.col("w").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("w").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select(
        F.col("u").alias("__t1"), F.col("x").alias("__t2"),
        F.col("y").alias("__t3"),
    )
    corners = (
        tris.select(F.col("__t1").alias("v"))
        .unionAll(tris.select(F.col("__t2").alias("v")))
        .unionAll(tris.select(F.col("__t3").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = deg.filter(F.col("deg") >= min_degree).join(
        corners, "v", "left"
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    cc = (F.lit(2.0) * t.cast("double")) / (
        F.col("deg").cast("double") * (F.col("deg") - 1).cast("double")
    )
    return out.select(
        F.col("v").alias("vertex"),
        F.col("deg").alias("degree"),
        t.alias("n_triangles"),
        cc.alias("clustering_coeff"),
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Fixed-round k-core peel of an undirected simple graph — the
    degeneracy screen between raw co-occurrence edges and the dense
    center (stopword cliques, template hubs) that graph-based corpus
    diagnostics care about.

    Each round removes every vertex whose CURRENT degree is < k (and its
    incident edges); ``rounds`` rounds of simultaneous peeling are
    applied. The FIXED round count is the cross-engine determinism
    contract (the DuckDB twin unrolls the same rounds): when the peel
    converges earlier — on the bigram graphs this engine benchmarks it
    converges in 3-5 rounds for small k — the output IS the exact
    k-core; otherwise the residual `degree < k` rows make the
    non-convergence visible to the consumer instead of being silently
    absorbed. Returns (vertex, degree) of the round-``rounds`` subgraph.

    Scale shape per round: one two-orientation degree aggregation + two
    semi-joins on the vertex key — 3 vertex/edge-keyed shuffles, lineage
    cut by materializing the shrinking edge set (the connected-components
    discipline; never persist()/localCheckpoint in local mode). Edge set
    is monotonically shrinking, so later rounds cost less, not more.
    """
    a, b = F.col(a_col), F.col(b_col)
    live = edges.select(a.alias("a"), b.alias("b"))
    prev_edges = None
    for r in range(rounds):
        deg = (
            live.select(F.col("a").alias("v"))
            .unionAll(live.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        # Convergence early-exit (r11, guide §1.2): the edge set shrinks
        # monotonically, so an unchanged edge COUNT means no edge was
        # removed -> every remaining round is an exact no-op and the
        # round-`rounds` output is already in hand. The count now RIDES
        # the round's write as an observed metric (r12 — it was a
        # separate footer-count job per round; at cluster scale that is
        # a per-round listing+footer job bought for a number the write
        # already streamed past).
        obs = Observation()
        live = materialize_observed(
            live.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b"),
            f"kcore_r{r}_",
            obs,
            F.count(F.lit(1)).alias("n"),
        )
        n_edges = obs.get["n"]
        if n_edges == prev_edges or n_edges == 0:
            break
        prev_edges = n_edges
    final_deg = (
        live.select(F.col("a").alias("vertex"))
        .unionAll(live.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return final_deg


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Fixed-round synchronous label propagation over an undirected
    simple graph — the cheap community detector between connected
    components (too coarse: one label per component) and modularity
    methods (iterative, non-deterministic). Labels start as the vertex
    id; each round every vertex adopts the MOST FREQUENT label among
    its neighbors, ties broken by the lexicographically smallest label
    — fully deterministic, so the DuckDB twin can unroll the identical
    rounds. The FIXED round count is the cross-engine determinism
    contract (the kcore_peel discipline): synchronous LPA can
    oscillate on bipartite-ish structures, and a fixed horizon makes
    the round-``rounds`` state THE defined output instead of a
    convergence race. Returns one row per surviving label:
    (community, n_members).

    Scale shape per round: the two-orientation neighbor list joins the
    current label table on the vertex key, one (vertex, label) count
    rollup, one per-vertex argmax window — 3 keyed shuffles over
    edge-sized data, lineage cut by materializing the (vertex-sized)
    label table between rounds. Label tables never grow beyond the
    vertex set; the neighbor list is static and reused every round.

    Input edges are canonicalized here (least/greatest orientation,
    self-loops dropped, distinct) — the same discipline as
    ``jaccard_link_prediction`` — so duplicate or both-orientation
    input rows cannot double-count neighbor labels and silently shift
    the vote relative to the unrolled SQL twin (r9 ADVICE).
    """
    from pyspark.sql import Window

    und = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # materialized once: the static neighbor list is re-joined every
    # round, and without the cut the canonicalization distinct would be
    # recomputed per round through the lineage
    und = materialize(und, "lpa_edges_")
    nbrs = und.select(
        F.col("a").alias("v"), F.col("b").alias("u")
    ).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    labels = (
        nbrs.select("v").distinct().select("v", F.col("v").alias("lab"))
    )
    w = Window.partitionBy("v").orderBy(
        F.col("__c").desc(), F.col("lab").asc()
    )
    for r in range(rounds):
        # ONE exchange per round instead of two (r12, guide §2.4): the
        # explicit repartition on v satisfies BOTH downstream
        # distribution requirements — groupBy(v, lab) clusters on a
        # superset of the partitioning key, and the argmax window
        # partitions on v itself — so neither inserts its own Exchange.
        counted = (
            nbrs.join(
                labels.withColumnRenamed("v", "u"), "u"
            )
            .repartition("v")
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        stepped = (
            counted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("v", "lab")
        )
        # Convergence witness rides the round's ONE write action (r12,
        # the connected_components Observation pattern): labels are a
        # deterministic function of (static nbrs, previous labels), so a
        # zero-change round is a fixpoint and every remaining round is an
        # exact no-op — the round-`rounds` output is already in hand.
        # The bench bigram graph converges at round 3 of 4 (measured:
        # changed 31 / 1 / 0). Empty graphs yield a NULL sum and exit
        # after one empty round instead of running all `rounds`.
        upd = stepped.join(
            labels.select("v", F.col("lab").alias("__old")), "v"
        ).select(
            "v",
            "lab",
            (F.col("lab") != F.col("__old")).cast("int").alias("__chg"),
        )
        obs = Observation()
        labels = materialize_observed(
            upd, f"lpa_r{r}_", obs, F.sum("__chg").alias("chg")
        ).drop("__chg")
        if not obs.get["chg"]:
            break
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


def jaccard_link_prediction(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_neighbor_degree: int = 64,
    min_common: int = 2,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected simple graph:
    for every non-adjacent-or-adjacent vertex pair sharing >=
    ``min_common`` neighbors, the Jaccard coefficient
    common / (deg_a + deg_b - common) and the Adamic-Adar score
    sum(1/ln(deg_u)) over common neighbors u. Returns
    (vertex_a, vertex_b, common, deg_a, deg_b, jaccard, adamic_adar).

    Scale discipline: pair generation is the adjacency self-join keyed
    on the shared neighbor, which is quadratic in that neighbor's
    degree — so vertices with degree > ``max_neighbor_degree`` are
    EXCLUDED from the neighbor role (they remain as endpoints). This is
    the IDF argument made structural: a hub shared by everything
    contributes ~zero Jaccard/Adamic-Adar evidence (its 1/ln(deg) term
    is the smallest in the sum) but would dominate the join cost, the
    same reason BM25 discounts stopwords. The cap bounds the bucket
    join at O(D^2) rows per neighbor with D fixed, i.e. linear in |E|
    overall. Wedge orientation (the triangle-census trick) is NOT
    usable here: it counts each triangle once via its lowest-degree
    corner, but common-neighbor counts need every wedge.

    Exactness: common and degrees are exact integers; jaccard is one
    float divide; each Adamic-Adar term 1/ln(deg_u) is one fixed IEEE
    tree quantized to integer micros and summed in int64 (deg_u >= 2
    always holds for a shared neighbor, so ln > 0).
    """
    und = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = materialize(und, "ljp_edges_")
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    deg = materialize(deg, "ljp_deg_")
    adj = und.select(
        F.col("a").alias("u"), F.col("b").alias("x")
    ).unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("x")))
    # neighbor-role cap: only non-hub u generate candidate pairs; the
    # deg >= 2 floor is both semantic (a degree-1 vertex can never be a
    # SHARED neighbor) and load-bearing under ANSI mode (its Adamic-Adar
    # term would be 1e6/ln(1) — a projected divide-by-zero even though
    # the row could never join into a pair)
    small = deg.filter(
        (F.col("deg") >= 2)
        & (F.col("deg") <= F.lit(int(max_neighbor_degree)))
    )
    adj_capped = adj.join(
        small.select(F.col("v").alias("u"), F.col("deg").alias("__du")),
        "u",
    )
    aa_term = F.round(
        F.lit(1000000.0) / F.log(F.col("__du").cast("double")), 0
    ).cast("long")
    left = adj_capped.select("u", F.col("x").alias("va"), aa_term.alias("__aam"))
    right = adj_capped.select("u", F.col("x").alias("vb"))
    pairs = (
        left.join(right, "u")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("__aam").cast("long").alias("__aamu"),
        )
        .filter(F.col("common") >= F.lit(int(min_common)))
    )
    scored = (
        pairs.join(
            deg.select(F.col("v").alias("va"), F.col("deg").alias("deg_a")),
            "va",
        )
        .join(
            deg.select(F.col("v").alias("vb"), F.col("deg").alias("deg_b")),
            "vb",
        )
    )
    union = (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    ).cast("double")
    return scored.select(
        F.col("va").alias("vertex_a"),
        F.col("vb").alias("vertex_b"),
        "common",
        "deg_a",
        "deg_b",
        (F.col("common").cast("double") / union).alias("jaccard"),
        (F.col("__aamu").cast("double") / F.lit(1000000.0)).alias(
            "adamic_adar"
        ),
    )
