"""Connected components over a pair/edge table — the clustering step
that turns near-duplicate PAIRS (dedup.py:jaccard_pairs, simhash,
MinHash-LSH) into duplicate GROUPS, so a pipeline can keep one
representative per group.  The reference stops at pairwise similarity
(its cache/top-k scans, /root/reference/app/main.py:78-87); grouping is
the north-star extension a training-data dedup pipeline actually needs.

Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014).  Each round
rewires edges toward the minimum id in every neighborhood:

- large-star(u): m = min(N(u) + {u}); replace each edge (u, v) with
  v > u by (v, m).
- small-star(u): orient every edge toward its larger endpoint, then
  with m = min(N(u)) emit (v, m) for every smaller neighbor v plus
  (u, m).

The edge set converges to a forest of stars — every node linked
directly to its component's minimum id — in O(log n) rounds even on
adversarial diameters (a path graph collapses geometrically), unlike
plain min-label propagation whose round count is the graph DIAMETER.

Scale notes (100 TB):
- Each half-round is ONE hash-partition shuffle: the neighborhood min
  is a window aggregate over partitionBy(u) — no join in the loop.
  Edges are two longs; document bodies never enter the loop.
- `localCheckpoint` per round truncates lineage — without it the plan
  doubles per iteration and Catalyst analysis time blows up long
  before data size matters.  On a cluster, prefer reliable
  `checkpoint()` to survive executor loss across a long loop.
- Convergence is detected with a one-row action (edge count + xxhash64
  content sum, both order-insensitive) — no driver-side collect of the
  edge table.
- Known skew: a giant star (one node adjacent to most of the graph)
  lands its whole neighborhood in one window partition.  That is the
  terminal SHAPE of the algorithm (stars), reached in the last rounds;
  the paper's alternation keeps intermediate neighborhoods balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..functions.plan import truncate_plan

MAX_ITER = 50  # large+small star round pairs; see connected_components


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: (u,v) edges -> (v, min(N(u)+{u})) for v>u.

    The output is not deduplicated: duplicate edges cannot change a
    window `min`, and the following small-star round ends in its own
    `.distinct()`, so a distinct here would only add one full-edge-volume
    shuffle per round."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over larger-endpoint-oriented edges."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    om = o.withColumn("m", F.min("v").over(w))
    nbrs = om.select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfe = om.select("u", F.col("m").alias("v"))
    return nbrs.union(selfe).filter(F.col("u") != F.col("v")).distinct()


def _union_find_labels(pairs) -> dict:
    """Exact union-find with min-id roots (driver-side small-graph path).
    `pairs` is any iterable of (u, v) pairs of mutually ordered ids.
    Every endpoint is registered, so a self-loop's node is its own
    root; a None endpoint is registered as its own root and unions
    with nothing (a null id matches no other id, as in SQL)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv and u is not None and v is not None:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    driver_cc_threshold: int = 250_000,
) -> DataFrame:
    """(node, component) for every node, component = min node id in its
    connected component.  `edges` is undirected (id_a, id_b) pairs;
    `nodes` optionally supplies isolated vertices (single-row column of
    ids) so they appear in the output as their own singleton
    components.  Ids may be of any
    ordered type (bigint, string): both paths only compare them, and
    the output keeps the input ids' type.  A self-loop's node and the
    endpoints of an edge with a null id are singletons of their own; a
    null id appears once, as (null, null).

    Size-adaptive: when the distinct (u, v) pairs of `edges`, self-loops
    included, number at most `driver_cc_threshold`, they are pulled to
    the driver via Arrow (two id columns — 4 MB of bigint ids at the
    250k default) and solved with exact union-find; singletons then
    come only from `nodes`.  A near-dup graph that small does not
    justify paying several distributed stages PER ROUND (measured
    ~5s/round of pure stage overhead on a 200-edge fixture graph).
    The union-find dict itself is Python objects — roughly 100-200
    bytes per distinct node — so the REAL driver cost at the default
    is tens of MB plus sub-second single-threaded time, not just the
    raw Arrow bytes; that is why the default is 250k and not higher.
    Larger graphs run the alternating star rounds — the 100 TB path.
    Both produce the identical (node, min-id) labeling
    (tests/test_dedup.py::
    test_connected_components_paths_agree_at_threshold_boundary pins
    them equal across the boundary).

    MAX_ITER bounds large+small round PAIRS; convergence needs
    O(log n) of them, so 50 covers any graph that fits in storage —
    the loud failure below guards algorithm bugs, not graph shape.
    """
    ep = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    # One probe job decides the path AND delivers the edges: pull at
    # most threshold+1 distinct pairs (limit stops early on big
    # graphs).  Arrow, not pandas: a bigint column holding a null
    # would come back as float64.
    head = ep.distinct().limit(driver_cc_threshold + 1).toArrow()
    if head.num_rows <= driver_cc_threshold:
        labels = _union_find_labels(
            zip(head.column("u").to_pylist(), head.column("v").to_pylist())
        )
        import pandas as pd  # Arrow-path createDataFrame, no Row objects

        id_type = ep.schema["u"].dataType.simpleString()
        member = edges.sparkSession.createDataFrame(
            pd.DataFrame(
                {
                    "node": pd.Series(list(labels.keys()), dtype=object),
                    "component": pd.Series(list(labels.values()), dtype=object),
                }
            ),
            f"node {id_type}, component {id_type}",
        )
        if nodes is None:
            return member
        extra = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        # null-safe: a null node already labeled by an edge is not re-added
        selfmap = extra.alias("n").join(
            member.alias("m"), F.expr("n.node <=> m.node"), "left_anti"
        ).select("node", F.col("node").alias("component"))
        return member.union(selfmap)

    # The star rounds re-read `edges` per consumer: truncate the caller's
    # pair pipeline (typically an expensive near-dup join) once, and the
    # deduplicated loop input once more.  Edges are 2 ids a row.  With
    # the probe above, this path derives `edges` twice in all; the
    # driver path, which every fixture-scale graph takes, derives it
    # once and pays for no checkpoint.
    ep = ep.transform(truncate_plan)
    e = (
        ep.filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(truncate_plan)
    )
    all_nodes = ep.select(F.col("u").alias("node")).union(
        ep.select(F.col("v").alias("node"))
    )
    if nodes is not None:
        first = nodes.columns[0]
        all_nodes = all_nodes.union(nodes.select(F.col(first).alias("node")))
    all_nodes = all_nodes.distinct()  # single-use: no checkpoint needed

    prev = None
    converged = False
    for _ in range(MAX_ITER):
        e = _small_star(_large_star(e)).transform(truncate_plan)
        # one-row fingerprint action materializes the lazy checkpoint;
        # (count, xor of content hashes) is order-insensitive, cannot
        # overflow under ANSI mode (sum of hashes can), and changes
        # whenever the distinct edge set changes
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        cur = (row["n"], row["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # Partially-rewired edges are silently WRONG clusters; fail
        # loudly — hitting this means a bug, not a big graph (50
        # alternating rounds handle any representable diameter).
        raise RuntimeError(
            f"connected_components did not converge within MAX_ITER={MAX_ITER} "
            "large/small-star round pairs"
        )
    # At fixpoint every non-root node has exactly one star edge to its
    # component root; roots and isolated vertices map to themselves.
    member = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    selfmap = all_nodes.join(
        member.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return member.union(selfmap)
