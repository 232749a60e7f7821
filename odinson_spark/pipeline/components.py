"""Connected components: a driver-side finish for small link graphs, and
large-star/small-star rounds above Spark's broadcast budget.

Canonicalization stage: link-edges from LSH blocking partition surfaces into
equivalence classes; each class takes min(node_id) as its canonical id.

:func:`connected_components_star` decides its route once, at entry. The
deduplicated edges are probed with one bounded collect against
``spark.sql.autoBroadcastJoinThreshold``, the line Spark itself draws for
"small enough for one machine". When the edges fit, the collected Arrow
table is the whole edge set: numpy labels it (factorized ids, min-hooking
plus pointer jumping) and the labels are broadcast back. Each star round
costs a checkpoint and two convergence jobs, so on the link graphs the KG
build and the dedup gates produce (hundreds of edges) the rounds are all
job overhead.

Above the budget (or with the threshold ≤ 0, which disables broadcasts)
the alternating large-star/small-star rounds run (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
regardless of diameter, so a path-shaped component of length 10^6 still
finishes. Each round is two self-aggregating shuffles on node id, and its
lineage is truncated with ``localCheckpoint``, which an executor loss
breaks; at 10^12-file scale the same loop would checkpoint to durable
storage instead. Exhausting the round budget raises: partial labels would
split one entity class into several canonical ids. A star round never
leaves fewer edges than non-root nodes, so probing again between rounds
could not switch routes mid-way.

Both routes label every node with the min id of its component (ids compare
as Spark orders them: numbers by value, strings by code point) and give
identical output.
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from ..routes import log_route

logger = logging.getLogger(__name__)

# smallest Arrow footprint of one id: an int, or a string's offset
_MIN_ID_BYTES = 4


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge high→low; for each node u connect all of its smaller
    neighbors (and u itself) to min(Γ≤(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    pairs = oriented.join(mins, "u")
    child_edges = pairs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return child_edges.union(self_edges).distinct()


def _broadcast_budget(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, parsed by Spark."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def _collect_within(e: DataFrame, budget: int):
    """(table, rows, bytes): the whole (u, v) edge set as an Arrow table when
    it fits in ``budget`` bytes, else (None, rows seen, bytes seen).

    A budget ≤ 0 collects nothing. Otherwise at most k+1 rows are read,
    k = budget / 8 (two ids of at least 4 Arrow bytes each), so a fixed-width
    id type never brings more than twice the budget to the driver.
    Variable-width ids first sum their UTF-8 bytes over those rows, so a
    table of long strings is refused before it is collected."""
    if budget <= 0:
        return None, None, None
    k = min(budget // (2 * _MIN_ID_BYTES), 2**31 - 2)
    head = e.limit(k + 1)
    if isinstance(e.schema["u"].dataType, (StringType, BinaryType)):
        rows, chars = head.agg(
            F.count(F.lit(1)), F.sum(F.octet_length("u") + F.octet_length("v"))
        ).first()
        est = rows * 2 * _MIN_ID_BYTES + (chars or 0)
        if rows > k or est > budget:
            return None, rows, est
    table = head.toArrow()
    if table.num_rows > k or table.nbytes > budget:
        return None, table.num_rows, table.nbytes
    return table, table.num_rows, table.nbytes


def label_edges(u: np.ndarray, v: np.ndarray):
    """Driver-side components of the edge list (u[i], v[i]).

    Returns (ids, components, rounds): the nodes that are not their
    component's minimum, their min ids, and the hooking rounds run. Ids are factorized in sorted order, so the smallest index of a
    component is its min id. Each round hooks every root that has a
    cross-tree edge onto the smallest root it touches (roots only ever
    point lower, so no cycles form), then pointer jumping flattens every
    tree to depth one. A round leaves only the local minima of the
    contracted graph as roots: a shuffled path halves per round instead of
    shrinking by one."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    parent = np.arange(len(ids))
    rounds = 0
    while True:
        pa_, pb_ = parent[a], parent[b]
        cross = pa_ != pb_
        if not cross.any():
            break
        rounds += 1
        a, b, pa_, pb_ = a[cross], b[cross], pa_[cross], pb_[cross]
        np.minimum.at(parent, np.maximum(pa_, pb_), np.minimum(pa_, pb_))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    child = np.flatnonzero(parent != np.arange(len(ids)))
    return ids[child], ids[parent[child]], rounds


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components, one label per vertex: returns (id, component),
    component = min id of the vertex's component (isolated vertices label
    themselves).

    Edge sets within the broadcast budget are labelled on the driver
    (:func:`label_edges`); larger ones run large-star/small-star rounds:
    O(log n) rounds regardless of component diameter. Convergence = the
    oriented edge set is stable across a round (every component is then a
    star centered at its min node). ``max_iterations`` is a safety net far
    above log2 of any real graph; hitting it raises.
    """
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = vertices.select(F.col(id_col).alias("id"))
    budget = _broadcast_budget(e.sparkSession)
    table, rows, nbytes = _collect_within(e, budget)
    if table is not None:
        child, comp, hooks = label_edges(
            table.column("u").to_numpy(), table.column("v").to_numpy()
        )
        id_type = table.schema.field("u").type
        labels = e.sparkSession.createDataFrame(
            pa.table({"id": pa.array(child, id_type), "component": pa.array(comp, id_type)})
        )
        log_route(logger, "connected_components_star", "local", nbytes, budget, "bytes",
                  edge_rows=rows, star_rounds=0, hook_rounds=hooks)
        return ids.join(F.broadcast(labels), "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    rounds, converged = 0, False
    while not converged and rounds < max_iterations:
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
        converged = (
            e2.exceptAll(e).limit(1).count() + e.exceptAll(e2).limit(1).count()
        ) == 0
        e = e2
    log_route(logger, "connected_components_star", "star", nbytes, budget, "bytes",
              edge_rows=rows, star_rounds=rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} rounds"
        )
    # stars point child → center(min); isolated vertices label themselves
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        ids.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
