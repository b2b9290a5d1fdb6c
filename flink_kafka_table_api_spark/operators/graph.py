"""PageRank over an edge relation — the canonical iterative
message-passing computation (Page et al. 1999; the Pregel/GraphX
workload) the engine's other iterative operators (pointer-jumping
hierarchy, label-propagation connected components, k-means) don't
cover: per-round FAN-IN aggregation of neighbor state rather than
pointer rewriting or centroid assignment. Reference repo has no graph
surface (Kafka pipeline only); EXT scope.

Scale shape per iteration: ONE equi-join of the rank vector against the
edge list on src (both sides hash-partitioned on the join key; the edge
list is the big side and never changes, so a production run pre-
partitions and persists it once), then one groupBy(dst) aggregate.
State between rounds is the O(nodes) rank vector, localCheckpoint'ed to
truncate lineage (the connected_components/hierarchy_levels lesson:
a self-referential iterative plan doubles per round and the driver
chokes on the plan string long before data is a problem).

Cross-engine exactness (the oracle contract, proven recipe from
bigram_lm_score/time_decay): every per-node sum is a SRC-ORDERED left
fold over collect_list'ed contributions, so the float accumulation
order is pinned — Spark's F.aggregate and DuckDB's list_reduce over a
src-sorted list perform the identical IEEE add sequence, and each
contribution rank/outdeg is a single exactly-rounded division. The
operator requires the edge set to be SYMMETRIC (every edge present in
both directions, i.e. an undirected graph walked both ways) which
guarantees no dangling nodes — the dangling-mass correction term is a
GLOBAL float sum whose order cannot be pinned scalably, so excluding it
by construction is what keeps the operator oracle-exact. Directed
graphs with dangling nodes: pre-symmetrize, or accept engine-internal
results.

Skew note: a celebrity node's in-degree bounds its collect_list; at
extreme skew swap the ordered fold for decimal-accumulated F.sum
(order-free exact) at the cost of the cross-engine bit guarantee —
the top-k answer is unaffected either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Ranks after ``iterations`` synchronous PageRank rounds over a
    symmetric edge relation. Returns (node, rank) with rank rounded to
    9 decimals (the repo's cross-engine float-boundary recipe).

    rank_0 = 1/N; rank_{k+1}(v) = (1-d)/N + d * fold_{u->v}(rank_k(u)/outdeg(u))
    with the fold in ascending-u order (see module docstring).

    ``checkpoint_every`` trades lineage growth against materialization
    cost: each localCheckpoint eagerly materializes the O(nodes) rank
    vector (a full job), but between checkpoints the self-referential
    plan doubles per round. Every round (1) is safest for deep
    iteration counts; the default 2 halves the materialization jobs
    while the plan grows at most one un-truncated doubling — the right
    balance for the typical 5-20 round run. Results are bit-identical
    for any value (checkpointing never changes arithmetic; pinned in
    tests/test_graph.py)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    # symmetric edges => node set == src set; N is an exact integer
    n = outdeg.count()
    if n == 0:
        raise ValueError(
            "pagerank: empty edge relation (an upstream filter removed "
            "every edge?) — rank is undefined over zero nodes"
        )
    base = float(1.0 - damping) / n
    ranks = outdeg.select(
        F.col("src").alias("node"), (F.lit(1.0) / n).alias("rank")
    ).localCheckpoint()
    # the edge+degree side is iteration-invariant: persist it once, keyed
    # by src, so every round reuses the same co-partitioned build
    esd = e.join(outdeg, "src").persist()
    for i in range(iterations):
        contribs = (
            esd.join(ranks, esd["src"] == ranks["node"])
            .select(
                "dst",
                "src",
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
        )
        folded = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "__c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["__c"],
            ).alias("__s")
        )
        nxt = folded.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("__s")).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            nxt = nxt.localCheckpoint()
        ranks = nxt
        # NOTE: a localCheckpoint'ed DataFrame's blocks are NOT freed by
        # DataFrame.unpersist (no cacheManager entry) — they are released
        # when the JVM RDD is GC'd via the py4j finalizer after the
        # Python reference drops. Peak retained state is therefore
        # bounded by O(iterations * nodes) longs/doubles, tiny relative
        # to the edge list; the rebinding above is the whole cleanup.
    esd.unpersist()
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over a SYMMETRIC edge relation — the
    clustering/cohesion primitive (friend-of-friend closure, community
    cores, spam-graph anomaly detection) the engine's other graph ops
    (pagerank fan-in, hierarchy pointer-jumping, CC label propagation)
    don't cover. Returns (node, n_triangles) for every node in at least
    one triangle; integer-exact, so the DuckDB oracle matches
    bit-for-bit with no float recipe needed.

    Algorithm: degree-ordered edge orientation (Schank & Wagner 2005;
    the Suri-Vassilvitskii MapReduce formulation) — orient every
    undirected edge from its lower to its higher endpoint under the
    total order (degree, node), enumerate wedges (b, c) from each
    node's ORIENTED out-neighborhood, and close them with a semi-join
    against the oriented edge set. Each triangle is enumerated exactly
    once, at its lowest-ordered vertex.

    Why it scales: the naive wedge join fans out sum(deg^2) — a
    celebrity node with 10M neighbors contributes 10^14 wedges. After
    degree orientation every node's OUT-degree is O(sqrt(2m)) (a node
    keeps only edges toward higher-degree peers, and only sqrt(2m)
    nodes can have degree above sqrt(2m)), so the wedge fan-out is
    bounded by m^1.5 total and the hot key disappears — the same
    orientation trick production graph engines apply before triangle
    listing. Plan: two keyed aggregates (degree, counts), one
    self-join on the wedge apex, one semi-join; the oriented edge set
    is persisted once and feeds all three."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    # the edge relation feeds the degree aggregate AND both sides of the
    # orientation join — persist it, or every downstream branch replays
    # the caller's (possibly expensive) edge derivation
    e = tracked_persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    # symmetric relation => degree = out-edge count per node
    deg = e.groupBy("u").agg(F.count("*").alias("__d"))
    # (degree, node) packed into one long key; node ids must fit 32 bits
    key = (F.col("__d") * F.lit(1 << 32) + F.col("u")).alias("__k")
    ku = deg.select("u", key)
    kv = ku.select(F.col("u").alias("v"), F.col("__k").alias("__kv"))
    oriented = tracked_persist(
        e.join(ku, "u")
        .join(kv, "v")
        .filter(F.col("__k") < F.col("__kv"))
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.col("__kv").alias("__kb"),
        )
    )
    lo = oriented.select("a", "b", "__kb")
    hi = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("__kb").alias("__kc")
    )
    wedges = lo.join(hi, "a").filter(F.col("__kb") < F.col("__kc"))
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"], "left_semi").select("a", "b", "c")
    # one explode pass, NOT a 3-way union of projections — a union would
    # execute the wedge+closure joins three times (once per branch)
    members = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return members.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB replay of :func:`triangle_count` — same orientation, same
    wedge closure, pure integer arithmetic, bit-exact by construction.
    ``edges_sql`` must produce the same symmetric (src, dst) relation."""
    return f"""
    WITH e0 AS ({edges_sql}),
    dg AS (SELECT src AS u, COUNT(*) AS d FROM e0 GROUP BY src),
    kk AS (SELECT u, d * 4294967296 + u AS ku FROM dg),
    o AS (
      SELECT e0.src AS a, e0.dst AS b, kb.ku AS kb
      FROM e0
      JOIN kk ka ON e0.src = ka.u
      JOIN kk kb ON e0.dst = kb.u
      WHERE ka.ku < kb.ku
    ),
    w AS (
      SELECT o1.a, o1.b, o2.b AS c
      FROM o o1 JOIN o o2 ON o1.a = o2.a AND o1.kb < o2.kb
    ),
    t AS (
      SELECT w.a, w.b, w.c FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.b AND o.b = w.c)
    ),
    m AS (
      SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM m GROUP BY node
    """


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) over a SYMMETRIC edge relation: every node
    starts with its own id as label and each round adopts the most
    frequent label among its neighbors, ties broken by MINIMUM label —
    the deterministic variant (the classic algorithm breaks ties
    randomly; a seeded choice would not be replayable across engines,
    a min tie-break is). Returns (node, label) after ``iterations``
    rounds. Distinct from the connected-components min-label pass in
    operators/dedup.py: CC spreads the minimum over the whole component,
    LPA's frequency vote finds dense sub-communities WITHIN a component.

    Integer-exact end to end (labels are node ids, votes are counts),
    so the DuckDB oracle matches bit-for-bit with no float recipe.

    Scale shape per round: ONE equi-join of the O(nodes) label vector
    against the edge list on src (the edge side is iteration-invariant
    and persisted once, the pagerank recipe), then TWO partial-agg
    shuffles — count per (dst, label), then min(struct(-count, label))
    per dst. The argmax is a single-row aggregate, never a window sort
    over the vote table. Synchronous LPA can oscillate 2-cycles on
    bipartite structures; bounded ``iterations`` (the Pregel-style
    fixed-round contract every iterative operator here uses) makes the
    output well-defined regardless. localCheckpoint truncates the
    self-referential plan every ``checkpoint_every`` rounds."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ep = e.persist()
    labels = (
        ep.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for i in range(iterations):
        votes = (
            ep.join(labels, ep["src"] == labels["node"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("__c"))
        )
        nxt = (
            votes.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("__b")
            )
            .select(
                F.col("dst").alias("node"), F.col("__b.l").alias("label")
            )
        )
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            nxt = nxt.localCheckpoint()
        labels = nxt
    ep.unpersist()
    return labels


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 8,
) -> DataFrame:
    """Nodes of the k-core (Seidman 1983): the maximal subgraph where
    every node keeps degree >= k, found by iterative peeling — drop
    every node with degree < k, recompute degrees on the induced
    subgraph, repeat. The density/robustness primitive (spam-farm
    cores, community nuclei, graph-sampling retention) the other graph
    ops don't cover. Input must be SYMMETRIC; returns (node, degree)
    with each surviving node's degree INSIDE the core — integer-exact,
    so the DuckDB unrolled replay matches bit-for-bit.

    ``max_rounds`` is the bounded-iteration contract every iterative
    operator here uses (the Pregel-style fixed-round form the oracle
    can unroll); peeling converges when a round removes nothing, and
    rounds beyond convergence are no-ops, so any ``max_rounds`` at or
    above the convergence round gives the true k-core. Convergence
    within the bound is asserted by the gate data's tests; genuinely
    deeper peels (a long chain of barely-k nodes) need a larger bound.

    Scale shape per round: one keyed degree aggregate + two semi-joins
    restricting the edge list to surviving endpoints — all
    hash-partitioned on node ids, no windows, no driver state;
    localCheckpoint truncates the shrinking edge list's lineage."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    for _ in range(max_rounds):
        deg = e.groupBy("src").agg(F.count("*").alias("__d"))
        keep = deg.filter(F.col("__d") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint()
        )
    return (
        e.groupBy("src")
        .agg(F.count("*").cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
        .select(F.col("src").alias("node"), "degree")
    )


def kcore_sql(edges_sql: str, *, k: int = 3, max_rounds: int = 8) -> str:
    """DuckDB replay of :func:`kcore` — rounds unroll as a WITH chain of
    degree-filter/semi-join steps; pure integer arithmetic, bit-exact by
    construction. Every round reads the previous edge list three times
    (directly and through k{i} twice), and DuckDB 1.0 inlines a CTE at
    each reference, so each step is MATERIALIZED: inlined, the chain
    grows as 3^max_rounds."""
    parts = [f"e0 AS MATERIALIZED ({edges_sql})"]
    for i in range(max_rounds):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM e{i} GROUP BY src "
            f"HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i} e "
            f"WHERE e.src IN (SELECT src FROM k{i}) "
            f"AND e.dst IN (SELECT src FROM k{i}))"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        f"FROM e{max_rounds} GROUP BY src HAVING COUNT(*) >= {k}"
    )


def label_propagation_sql(edges_sql: str, *, iterations: int = 4) -> str:
    """DuckDB replay of :func:`label_propagation` — iterations unroll as
    a WITH chain, each round's argmax via row_number ordered by
    (count DESC, label ASC); pure integer arithmetic, bit-exact by
    construction. ``edges_sql`` must produce the same symmetric
    (src, dst) relation."""
    parts = [
        f"e AS ({edges_sql})",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)",
    ]
    for i in range(iterations):
        parts.append(
            f"c{i + 1} AS ("
            f"SELECT e.dst, l.label, COUNT(*) AS c "
            f"FROM e JOIN l{i} l ON e.src = l.node "
            f"GROUP BY e.dst, l.label)"
        )
        parts.append(
            f"l{i + 1} AS ("
            f"SELECT dst AS node, label FROM ("
            f"SELECT dst, label, row_number() OVER ("
            f"PARTITION BY dst ORDER BY c DESC, label ASC) AS rn "
            f"FROM c{i + 1}) WHERE rn = 1)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, label FROM l{iterations}"
    )


def pagerank_sql(
    edges_sql: str,
    *,
    damping: float = 0.85,
    iterations: int = 5,
) -> str:
    """DuckDB replay of :func:`pagerank` — the committed round-6 oracle.
    ``edges_sql`` is a query producing the symmetric (src, dst) relation.
    Iterations unroll as a WITH chain; each per-node sum is
    list_reduce over a src-ORDERED list of contributions (DuckDB's
    no-init fold seeds acc with the first element — identical to Spark's
    0.0-seeded F.aggregate fold since 0.0 + x == x), so the float
    accumulation sequence matches the operator's bit-for-bit. Validated
    against the operator by tests/test_graph.py."""
    # decimal-point literals are DECIMAL-typed in DuckDB, and decimal
    # arithmetic does NOT reproduce IEEE double ops — cast every float
    # constant to DOUBLE explicitly (1.0 - 0.85 as decimals is exactly
    # 0.15; as doubles it is 0.15000000000000002, which is what Spark
    # computes)
    d = f"CAST({damping!r} AS DOUBLE)"
    parts = [
        f"e AS ({edges_sql})",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS c FROM deg)",
        "r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / c AS rank "
        "FROM deg, nn)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS ("
            f"SELECT e.dst AS node, "
            f"((CAST(1.0 AS DOUBLE) - {d}) / nn.c) + {d} * "
            f"list_reduce(list(r.rank / deg.d ORDER BY e.src), "
            f"(a, b) -> a + b) AS rank "
            f"FROM e JOIN deg ON e.src = deg.src "
            f"JOIN r{i} r ON e.src = r.node, nn "
            f"GROUP BY e.dst, nn.c)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, round(rank, 9) AS rank FROM r{iterations}"
    )


def common_neighbor_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
    max_apex_degree: int | None = None,
) -> DataFrame:
    """Link prediction by common-neighbor counting over a SYMMETRIC edge
    relation (Liben-Nowell & Kleinberg, CIKM 2003: common neighbors and
    Jaccard are the classic local predictors): for every NON-edge pair
    (u, v) with at least one shared neighbor, count the shared
    neighbors and score jaccard = cn / (deg_u + deg_v - cn); return the
    ``top_k`` candidate links. The missing-edge primitive the other
    graph ops don't cover: pagerank ranks nodes, triangle_count closes
    existing wedges, LPA/k-core partition — this PREDICTS edges.

    Returns (node_u, node_v, common_neighbors, deg_u, deg_v, jaccard)
    with node_u < node_v, ordered (jaccard DESC, common_neighbors DESC,
    node_u, node_v) — deterministic total order, integer-exact except
    the one round(x, 6) division of exact integers (the standing
    portable-float recipe).

    Scale shape: wedge enumeration from each node's adjacency list —
    one self-join of the adjacency on the apex node, one keyed count on
    the (u, v) pair, two degree joins (AQE-sized: the degree table is
    O(nodes), broadcast only when it fits), one anti-join against
    the existing edge set, and a TakeOrdered top-k (never a global
    sort). The wedge fan-out is sum(deg^2) over apex nodes — the skew
    bomb every production link predictor defuses by dropping celebrity
    apexes, whose wedges are the least informative (a hub shared by
    everyone predicts nothing): pass ``max_apex_degree`` to cap it, and
    the fan-out bound becomes m * max_apex_degree. The gate query runs
    on the bounded-degree customer-key graph (the pagerank/hierarchy
    precedent), so the cap stays None there and the oracle sees the
    full wedge set."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    e = tracked_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    deg = tracked_persist(e.groupBy("a").agg(F.count("*").alias("d")))
    adj = e  # symmetric: (a, b) rows double as apex->neighbor lists
    if max_apex_degree is not None:
        # semi-join, not broadcast: the under-cap degree set is O(nodes)
        # in the common case (most nodes are NOT celebrities), so it
        # must be allowed to shuffle; AQE broadcasts it when it fits
        adj = adj.join(
            deg.where(F.col("d") <= max_apex_degree).select("a"),
            "a",
            "left_semi",
        )
    lo = adj.select("a", F.col("b").alias("u"))
    hi = adj.select("a", F.col("b").alias("v"))
    pairs = (
        lo.join(hi, "a")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    candidates = pairs.join(
        e.where(F.col("a") < F.col("b")).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("a").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("a").alias("v"), F.col("d").alias("deg_v"))
    # degree joins: NOT force-broadcast — the degree table is O(nodes),
    # which a billion-node graph cannot ship to every executor; AQE
    # broadcasts it when it actually fits and shuffles otherwise
    scored = (
        candidates.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("node_u"),
            F.col("v").alias("node_v"),
            F.col("cn").alias("common_neighbors"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"),
        F.desc("common_neighbors"),
        "node_u",
        "node_v",
    ).limit(top_k)


def common_neighbor_scores_sql(edges_sql: str, *, top_k: int = 100) -> str:
    """DuckDB replay of :func:`common_neighbor_scores` (no apex cap —
    the full wedge set). ``edges_sql`` must produce the same symmetric
    (src, dst) relation the Spark query derives."""
    return f"""
    WITH e AS ({edges_sql}),
    dg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY src),
    w AS (
      SELECT a1.dst AS u, a2.dst AS v, COUNT(*) AS cn
      FROM e a1 JOIN e a2 ON a1.src = a2.src AND a1.dst < a2.dst
      GROUP BY a1.dst, a2.dst
    ),
    cand AS (
      SELECT w.u, w.v, w.cn FROM w
      WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.v
      )
    )
    SELECT c.u AS node_u, c.v AS node_v,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           CAST(du.d AS BIGINT) AS deg_u,
           CAST(dv.d AS BIGINT) AS deg_v,
           round(CAST(c.cn AS DOUBLE) / (du.d + dv.d - c.cn), 6)
             AS jaccard
    FROM cand c
    JOIN dg du ON c.u = du.n
    JOIN dg dv ON c.v = dv.n
    ORDER BY jaccard DESC, common_neighbors DESC, node_u, node_v
    LIMIT {top_k}
    """


def adamic_adar_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
    max_apex_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over a SYMMETRIC edge relation
    (Adamic & Adar 2003, the degree-weighted refinement of
    :func:`common_neighbor_scores`): score every non-edge pair by
    sum over common neighbors z of 1/ln(deg(z)) — a shared RARE
    neighbor is strong evidence, a shared hub is weak evidence, which
    plain common-neighbor counting cannot distinguish.

    Returns (node_u, node_v, common_neighbors, aa_score) for the top_k
    candidates ordered (aa_score DESC, common_neighbors DESC, node_u,
    node_v). Cross-engine exactness: each 1/ln(d) term is computed from
    an exact integer degree, and the per-pair sum is an APEX-ORDERED
    left fold over the collect_list'ed terms (the pagerank recipe:
    Spark F.aggregate and DuckDB list_reduce over the same ascending
    apex list perform the identical IEEE add sequence), rounded once at
    the end. A degree-1 apex cannot close a wedge, so ln(d) >= ln(2)
    and the division is always defined.

    Scale shape: identical to common_neighbor_scores — apex wedge
    self-join with the apex's degree riding along, per-pair
    ObjectHashAggregate (collect_list bounded by the pair's common-
    neighbor count), TakeOrdered top-k. Same celebrity-apex defusal
    (``max_apex_degree`` semi-join cap); same AQE-sized joins."""
    from flink_kafka_table_api_spark.caching import tracked_persist

    e = tracked_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    deg = tracked_persist(e.groupBy("a").agg(F.count("*").alias("d")))
    adj = e.join(deg, "a")  # apex degree rides the adjacency row
    if max_apex_degree is not None:
        adj = adj.where(F.col("d") <= max_apex_degree)
    lo = adj.select(
        F.col("a").alias("z"), F.col("b").alias("u"), "d"
    )
    hi = adj.select(F.col("a").alias("z"), F.col("b").alias("v"))
    pairs = (
        lo.join(hi, "z")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("z", "d"))),
                F.lit(0.0),
                lambda acc, x: acc
                + F.lit(1.0) / F.log(x["d"].cast("double")),
            ).alias("__aa"),
        )
    )
    candidates = pairs.join(
        e.where(F.col("a") < F.col("b")).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    return (
        candidates.select(
            F.col("u").alias("node_u"),
            F.col("v").alias("node_v"),
            F.col("cn").alias("common_neighbors"),
            F.round(F.col("__aa"), 6).alias("aa_score"),
        )
        .orderBy(
            F.desc("aa_score"),
            F.desc("common_neighbors"),
            "node_u",
            "node_v",
        )
        .limit(top_k)
    )


def adamic_adar_scores_sql(edges_sql: str, *, top_k: int = 100) -> str:
    """DuckDB replay of :func:`adamic_adar_scores` (no apex cap): same
    wedge enumeration, apex-ascending list_reduce fold for the IEEE-
    identical 1/ln(d) sum."""
    return f"""
    WITH e AS ({edges_sql}),
    dg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY src),
    w AS (
      SELECT a1.src AS z, dg.d, a1.dst AS u, a2.dst AS v
      FROM e a1
      JOIN e a2 ON a1.src = a2.src AND a1.dst < a2.dst
      JOIN dg ON dg.n = a1.src
    ),
    p AS (
      SELECT u, v, COUNT(*) AS cn,
             list_reduce(
               list_prepend(
                 0.0,
                 list_transform(
                   list(d ORDER BY z),
                   dd -> 1.0 / ln(CAST(dd AS DOUBLE))
                 )
               ),
               (acc, x) -> acc + x
             ) AS aa
      FROM w GROUP BY u, v
    ),
    cand AS (
      SELECT p.* FROM p
      WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.src = p.u AND e.dst = p.v
      )
    )
    SELECT u AS node_u, v AS node_v,
           CAST(cn AS BIGINT) AS common_neighbors,
           round(aa, 6) AS aa_score
    FROM cand
    ORDER BY aa_score DESC, common_neighbors DESC, node_u, node_v
    LIMIT {top_k}
    """


def hits_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Kleinberg HITS (J.ACM '99) hub/authority scores over a DIRECTED
    edge relation, in the exact-integer path-count form: with h_0 = 1
    everywhere, each round applies the unnormalized I/O operations

        a_k(v) = sum over u->v of h_{k-1}(u)
        h_k(u) = sum over u->v of a_k(v)

    so after k rounds a_k(v) counts the alternating out/in paths of
    length 2k-1 ending at v and h_k(u) those of length 2k starting at
    u — Kleinberg's power iteration on E^T E without the norm step.
    Dropping the normalization keeps every score an exact BIGINT
    (integer sums are order-free and engine-exact; the RANKING is
    identical to normalized HITS because the norm is a positive
    per-round scalar), which is what makes the operator bit-exact
    cross-engine with no ordered-fold machinery. Callers needing unit
    norms divide by the round's sum afterwards.

    Bounded growth contract: scores grow like (max_indeg *
    max_outdeg)^k, so the caller must keep iterations small on
    high-degree graphs (on a degree<=2 generator graph, 4 rounds stay
    under 2^8). This is deliberate: at 100 TB the alternative —
    float normalization each round — costs a full extra agg + broadcast
    per round and reintroduces cross-engine float drift.

    Scale shape: the edge relation is persisted TWICE, pre-partitioned
    by each join side (src for the hub->auth push, dst for the pull
    back), so per round only the node-sized score vector shuffles —
    the edges never re-exchange. Inside the loop, nodes whose score is
    0 are simply ABSENT from the vector (a 0 contributes nothing to an
    integer sum, so dropping them is semantics-preserving and skips
    the per-round spine join entirely); the full node spine is joined
    back exactly once at the end with COALESCE(. , 0).
    ``checkpoint_every`` bounds lineage exactly as pagerank does.
    Returns (node, hub_score, auth_score) for every node in src union
    dst."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ep_src = e.repartition("src").persist()
    ep_dst = e.repartition("dst").persist()
    hubs = ep_src.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1).cast("long").alias("h")
    )
    auths = None
    for i in range(iterations):
        auths = (
            ep_src.join(hubs, ep_src["src"] == hubs["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        hubs = (
            ep_dst.join(auths, ep_dst["dst"] == auths["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            hubs = hubs.localCheckpoint()
            auths = auths.localCheckpoint()
    out = (
        nodes.join(hubs, "node", "left")
        .join(auths.withColumnRenamed("a", "__a"), "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub_score"),
            F.coalesce("__a", F.lit(0)).cast("long").alias("auth_score"),
        )
    )
    ep_src.unpersist()
    ep_dst.unpersist()
    return out


def hits_scores_sql(edges_sql: str, *, iterations: int = 4) -> str:
    """DuckDB replay of :func:`hits_scores`: the same unrolled integer
    I/O rounds as left-join + COALESCE(SUM, 0) CTE pairs — pure integer
    algebra, so parity is exact with no float recipe at all."""
    rounds = []
    prev_h = "h0"
    for k in range(1, iterations + 1):
        rounds.append(f"""
    a{k} AS (
      SELECT n.node, COALESCE(SUM(hp.h), 0) AS a
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN {prev_h} hp ON hp.node = e.src
      GROUP BY n.node
    ),
    h{k} AS (
      SELECT n.node, COALESCE(SUM(ap.a), 0) AS h
      FROM nodes n
      LEFT JOIN e ON e.src = n.node
      LEFT JOIN a{k} ap ON ap.node = e.dst
      GROUP BY n.node
    )""")
        prev_h = f"h{k}"
    k = iterations
    return f"""
    WITH e AS ({edges_sql}),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ),
    h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),{",".join(rounds)}
    SELECT h{k}.node, CAST(h{k}.h AS BIGINT) AS hub_score,
           CAST(a{k}.a AS BIGINT) AS auth_score
    FROM h{k} JOIN a{k} ON a{k}.node = h{k}.node
    """


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distances: the minimum number of edges from
    ANY seed node to every reachable node, following edge direction
    (pre-symmetrize for undirected distance — the family contract).
    The reachability primitive the family's other operators don't
    cover: crawl-frontier distance, influence radius, contamination
    blast-radius ("everything within k hops of these flagged docs" over
    a near-dup graph). ``seeds`` is a DataFrame with a ``node`` column.

    Classic Pregel-style frontier expansion (Malewicz et al. SIGMOD'10):
    per round one equi-join of the CURRENT frontier against the edge
    list + one anti-join against the settled set, so each round's
    shuffle carries the frontier, not the graph. All-integer (node ids
    and hop counts) — the DuckDB unrolled replay is bit-exact. Nodes
    beyond ``max_hops`` (the bounded-round contract every iterative
    operator here uses) are absent; unreachable nodes are absent by
    definition.

    Returns (node, hop) with hop 0 for the seeds themselves.

    Scale shape per round: frontier-edge equi-join hash-partitioned on
    the node id (the edge list is the invariant big side — persist and
    pre-partition it once in production), one distinct on the new
    frontier, one anti-join against the settled label table;
    localCheckpoint truncates the growing label table's lineage.

    NULL edge endpoints are dropped up front: a NULL dst would be kept
    by Spark's left_anti settle but silently swallowed by the oracle's
    NOT IN (NULL three-valued logic), so both engines agree only on
    NULL-free edge lists — enforce that here rather than diverge."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # settled set = union of per-round frontier frames, each checkpointed
    # exactly ONCE when its round produced it. The earlier shape also
    # re-checkpointed the accumulated union every round — an extra job
    # per round that re-materialized every settled label k times over a
    # k-round run (O(k^2) rows written to block storage for an O(k)
    # result). A union of checkpoint leaves is a flat plan, so the
    # anti-join side needs no further truncation.
    frames = [
        seeds.select(
            F.col("node").cast("long").alias("node"),
            F.lit(0).cast("long").alias("hop"),
        ).distinct().localCheckpoint()
    ]
    frontier = frames[0].select("node")
    for h in range(1, max_hops + 1):
        settled = frames[0].select("node")
        for f in frames[1:]:
            settled = settled.unionByName(f.select("node"))
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hop"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        frames.append(nxt)
        frontier = nxt.select("node")
    dist = frames[0]
    for f in frames[1:]:
        dist = dist.unionByName(f)
    return dist


def bfs_hops_sql(
    edges_sql: str, seeds_sql: str, *, max_hops: int = 8
) -> str:
    """DuckDB replay of :func:`bfs_hops` as a RECURSIVE CTE over
    (node, hop) pairs: UNION (set) recursion explores every node/hop
    combination reachable within `max_hops` — bounded by
    nodes x (max_hops+1) rows — and MIN(hop) per node is exactly the
    operator's first-reached round; pure integer arithmetic, bit-exact.

    History (round 8): the original replay unrolled the rounds as a
    WITH chain where each d{h} referenced d{h-1} TWICE (the frontier
    join and the NOT-IN settle). DuckDB 1.0 INLINES multiply-referenced
    CTEs, so the unrolled plan re-evaluated the whole prefix per
    reference — exponential in max_hops (measured at sf0.001: hops=6
    6.9 s, hops=7 99.6 s, hops=8 did not return) — which would have
    stalled the driver's sf0.01 gate the first time bfs_hops rotated
    in. The recursive form evaluates each frontier once."""
    return f"""
    WITH RECURSIVE e AS ({edges_sql}),
    walk(node, hop) AS (
      SELECT DISTINCT CAST(node AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS hop
      FROM ({seeds_sql})
      UNION
      SELECT e.dst AS node, walk.hop + 1 AS hop
      FROM walk JOIN e ON e.src = walk.node
      WHERE walk.hop < {max_hops}
    )
    SELECT node, MIN(hop) AS hop FROM walk GROUP BY node
    """
