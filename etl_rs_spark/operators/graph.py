"""Connected components over near-duplicate pair graphs.

Pair-producing dedup operators (minhash LSH, simhash, n-gram Jaccard,
embedding near-dup) emit EDGES; the dedup action needs GROUPS — every
doc labeled with its duplicate-cluster representative so one survivor
per cluster is kept. Components of the pair graph are exactly those
clusters (duplicate-of is transitively closed at web scale: A~B, B~C
usually means A,C are copies of the same artifact).

Algorithm: iterative min-label propagation with path halving — each
round every node takes the smallest component id among {itself, its
neighbors' labels, its label's label}. The pointer-jumping term halves
label-chain depth per round, so convergence is O(log n) rounds even on
path-shaped graphs (near-dup clusters are usually diameter <= 3 and
finish in 2-3). This is the standard MapReduce/GraphX CC shape
(Kiveris et al.'s large-star/small-star family) expressed as DataFrame
joins.

The 100 TB story: each round is two hash joins + one aggregation, all
keyed on node/label ids — balanced keys, broadcast-free, no global
structure. State between rounds is ONE (node, component) frame,
``localCheckpoint``-ed so the plan does not grow with iterations (the
classic iterative-DataFrame lineage explosion); each round is built from
SQL expression strings, a few py4j calls per DataFrame operation.
Convergence is detected by a changed-label count that rides the
checkpoint job as an ``Observation`` — zero extra actions or joins per
round. The result is the TRUE components — a pure function of the edge set, independent
of iteration order, partitioning, or cluster size — which is what
makes a SQL oracle possible (DuckDB replays it as recursive-CTE
reachability and must agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from etl_rs_spark.sql_text import ident


def connected_components(
    edges: DataFrame,
    src: str = "id_l",
    dst: str = "id_r",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected pair graph with its
    component representative (the component's smallest node id).

    Returns (``node``, ``component``) for every node with at least one
    edge to a DIFFERENT node. Self-loops are discarded before the node
    set is derived — a doc paired only with itself carries no duplicate
    evidence and is absent from the output, exactly like a doc in no
    pair at all. Raises if ``max_iter`` rounds do not converge (a
    pathological chain longer than 2^max_iter nodes — not a dedup
    graph).
    """
    u, v = ident(src), ident(dst)
    und = edges.selectExpr(f"{u} AS u", f"{v} AS v").union(
        edges.selectExpr(f"{v} AS u", f"{u} AS v")
    )
    und = und.filter("u != v").distinct().localCheckpoint(eager=True)
    labels = und.selectExpr("u AS node").distinct().selectExpr("node", "node AS component")
    labels = labels.localCheckpoint(eager=True)

    for it in range(max_iter):
        # smallest neighbor label per node; carry the old label so the
        # convergence check RIDES the checkpoint job (an Observation)
        # instead of costing a separate join+count action per round
        neigh = (
            und.join(labels, F.expr("v = node"))
            .groupBy(F.expr("u AS node"))
            .agg(F.expr("min(component) AS _nc"))
        )
        stepped = labels.join(neigh, "node", "left").selectExpr(
            "node", "component AS _old", "least(component, _nc) AS component"
        )
        # path halving: component <- label(component)
        parent = stepped.selectExpr("node AS _p_node", "component AS _p_comp")
        halved = stepped.join(parent, F.expr("component = _p_node"), "left").selectExpr(
            "node", "_old", "least(component, _p_comp) AS component"
        )
        obs = Observation(f"cc_round_{it}")
        labels = (
            halved.observe(
                obs,
                F.expr("coalesce(sum(CAST(component != _old AS BIGINT)), 0) AS changed"),
            )
            .selectExpr("node", "component")
            .localCheckpoint(eager=True)
        )
        if int(obs.get["changed"]) == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_survivors(
    edges: DataFrame,
    src: str = "id_l",
    dst: str = "id_r",
) -> DataFrame:
    """Resolve a near-dup pair graph to per-doc verdicts: (``node``,
    ``component``, ``is_survivor``) for every doc in some pair —
    exactly one survivor (the smallest id) per duplicate cluster. Docs
    in no pair are absent (they trivially survive); anti-join the
    corpus against the non-survivors to apply the dedup."""
    cc = connected_components(edges, src=src, dst=dst)
    return cc.selectExpr("*", "node = component AS is_survivor")
