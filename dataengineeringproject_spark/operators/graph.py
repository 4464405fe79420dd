"""Iterative graph operators: connected components over near-duplicate
pair edges — the step that turns pairwise dedup output (MinHash/LSH,
SimHash, embedding-cosine) into dedup CLUSTERS with one representative
per group (north star: LLM-data dedup at corpus scale).

Two paths, chosen by the directed edge count observed while the
symmetrized, distinct edge frame is checkpointed (no extra job):

- at or below _LOCAL_MAX_EDGES (2,000,000 directed edges): ONE task
  labels the whole graph (`coalesce(1).mapInPandas` running the numpy
  union-find `_min_labels`), and the labels are left-joined back to the
  nodes. Near-dup graphs are small and shallow, so the distributed loop
  below is bound by its Spark job count, not by data: on perfbench's
  corpus_dedup graph (about 900 verified pairs) the loop runs 54 Spark
  jobs, this path 6. The bound is what one task holds comfortably and
  finishes in about the time of a few loop rounds: 2M directed edges
  are 32 MB of long pairs in the worker, and the labeller takes about
  1 s on a shuffled 1M-node chain (2M directed edges) on a 4-core
  x86 box. Far beyond that, the one task, not the job count, would be
  the critical path. The union-find always reaches its fixpoint, so
  max_iter/strict do not apply on this path.
- above the bound: the distributed loop below.

Distributed algorithm: min-label propagation WITH label compression
(pointer jumping). Every node starts labeled with itself; each round
every node takes the min label in its neighborhood (including itself),
then — from round 3 on — follows the label chain a few extra steps
through the previous round's labels (comp <- labels_prev[comp],
applied {_CC_JUMPS}x). Plain propagation needs rounds = graph diameter
(fine for dense, shallow near-dup clusters, typically 2; measured 17
for the DBSCAN cell-adjacency grid at sf0.1 — 7.3 s of that query's
12.6 s cold wall, r16); compression contracts label-chain distance
geometrically per round, the Shiloach-Vishkin shortcutting move that
MapReduce-CC formulations (large-star/small-star, Kiveris et al.)
are built from, so rounds drop to O(log diameter) — a 2000-node chain
converges in 8 rounds where plain propagation would truncate at
max_iter. Each round is one broadcast-or-shuffle join + one
aggregation (+ the tiny label-lookup joins); no driver-side graph, no
collect; localCheckpoint truncates lineage so plans don't grow with
iterations (the standard Spark iterative-algo hygiene; on a cluster
use checkpoint() with an HDFS dir for fault tolerance instead).

Stats-propagation gotcha (r16, measured — the reason for
_reset_stats): Dataset.localCheckpoint carries the ORIGIN plan's
Catalyst sizeInBytes statistic into the checkpointed LogicalRDD, and
join size estimation MULTIPLIES the two sides when no row counts are
known. Chaining k joins per round therefore raises the carried
estimate to the (k+1)-th power EVERY round — with the 3 jump joins
the BigInt grew 4x in DIGIT COUNT per round (9 -> 39 -> 157 -> 630 ->
2522 digits ...), and by round 10 Catalyst was spending minutes per
round inside BigInteger.multiplyToomCook3 on million-digit size
estimates (jstack evidence, OPTIMIZATION_r16.md). Rebuilding the
frame over the SAME materialized rows via the JVM
createDataFrame(RDD[Row], schema) resets the estimate to the default
— digits stay flat (19) and per-round wall stays flat.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineeringproject_spark.session import ensure_package_on_workers

if TYPE_CHECKING:
    import pandas as pd

# directed-edge bound (both directions counted, after distinct) up to
# which one task labels the graph; see the module docstring.
_LOCAL_MAX_EDGES = 2_000_000

# label-compression jumps per round (round 3 onward). Each jump is one
# lookup join through the PREVIOUS round's checkpointed labels — stale
# jumps contract distance geometrically without referencing any
# un-checkpointed subtree twice. Gated to i >= 2 so the diameter-2
# graphs every dedup family produces (converged after round 2) never
# pay for a single jump join.
_CC_JUMPS = 3


class NonConvergenceError(RuntimeError):
    """Raised (strict mode) when label propagation exhausts max_iter
    with labels still changing — returned components would be split."""


def _reset_stats(df: DataFrame) -> DataFrame:
    """Rebuild df over its own (already materialized) rows so the
    logical plan carries DEFAULT size statistics instead of the origin
    plan's — see the stats-propagation gotcha in the module docstring.
    Pure JVM (SparkSession.createDataFrame(RDD[Row], schema)): no
    Python-RDD roundtrip, no recomputation (the source is the
    checkpointed RDD), one extra Row<->InternalRow conversion on scan
    of these few-column long frames. Needs a classic (JVM-backed)
    session: Spark Connect frames have no _jdf/_jsparkSession, and are
    rejected with a clear error instead of an AttributeError."""
    spark = df.sparkSession
    if not (hasattr(df, "_jdf") and hasattr(spark, "_jsparkSession")):
        raise RuntimeError(
            "connected_components needs a classic SparkSession: it resets "
            "plan statistics through the JVM DataFrame (_jdf/_jsparkSession), "
            "which Spark Connect sessions do not expose"
        )
    jdf = df._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema()),
        spark,
    )


def _min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find over the (src, dst) edge arrays (any ids
    numpy can sort: ints or str objects; no nulls) → (ids, components),
    one entry per distinct endpoint, component = min id of its
    connected component.

    Ids are ranked by np.unique, so rank order is id order and the min
    rank of a component is its min id. Each round hooks every root onto
    the min root across its edges (parent[hi] <- min lo, np.minimum.at),
    then jumps pointers (parent <- parent[parent]) until every tree is a
    star, and re-labels the edges by their roots, dropping those now
    inside one star. Parents only decrease and stay inside the
    component, so when no edge is left each component is one star
    rooted at its min rank. Every round hooks away each root with a
    smaller neighbouring root, so the edge list shrinks every round."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = np.split(inv, 2)
    parent = np.arange(ids.size)
    while (keep := u != v).any():
        lo, hi = np.minimum(u[keep], v[keep]), np.maximum(u[keep], v[keep])
        np.minimum.at(parent, hi, lo)
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
        u, v = parent[lo], parent[hi]
    return ids, ids[parent]


def _label_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body of the one-task path: all (src, dst) batches of
    the single partition → (id, component) rows. Module-level so the
    worker imports it by reference. Imports pandas itself, so importing
    the package does not."""
    import pandas as pd

    frames = [b for b in batches if len(b)]
    if frames:
        edges = pd.concat(frames, ignore_index=True)
        ids, comp = _min_labels(edges["src"].to_numpy(), edges["dst"].to_numpy())
        yield pd.DataFrame({"id": ids, "component": comp})


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    strict: bool = False,
) -> DataFrame:
    """(id) nodes + undirected (id_a, id_b) edges → (id, component)
    where component = min node id reachable. Deterministic. Edges with
    a null endpoint are ignored. Every edge endpoint is expected to be
    a node (all in-engine callers pass edges between nodes): the
    one-task path connects through any edge, while the loop only
    propagates through labeled nodes.

    Path: with at most _LOCAL_MAX_EDGES distinct directed edges, one
    task labels the graph with the union-find `_min_labels` and the
    labels are joined back to the nodes (nodes without edges keep their
    own id); it always converges, so max_iter and strict are unused.
    Above the bound the distributed loop below runs.

    Per round: component(n) = min(component(n), min over neighbors m of
    component(m)), then (round 3+) {_CC_JUMPS} label-compression jumps
    comp <- min(comp, labels_prev[comp]). Labels only ever decrease and
    always hold the id of a node in the same component, so the unique
    fixpoint of both steps is the per-component min id — the jumps
    change the ROUND COUNT (O(log diameter) instead of O(diameter)),
    never the answer (pinned by tests/test_r16_opt.py on chain + random
    fixtures against plain propagation). Convergence is a flag observed
    during each round's checkpoint job (no separate count action). If
    labels are still changing after max_iter loop rounds, the result is
    truncated: strict=True raises NonConvergenceError, strict=False
    emits a RuntimeWarning so callers can distinguish converged from
    truncated output (ADVICE r1)."""
    both = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    n_edges = Observation()
    both = _reset_stats(
        both.distinct()
        .observe(n_edges, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if n_edges.get["n"] <= _LOCAL_MAX_EDGES:
        id_type = both.schema["src"].dataType
        ensure_package_on_workers(both.sparkSession)
        local = (
            both.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .coalesce(1)
            .mapInPandas(
                _label_partition,
                T.StructType(
                    [
                        T.StructField("id", id_type),
                        T.StructField("component", id_type),
                    ]
                ),
            )
        )
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(local, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
        )

    labels = _reset_stats(
        nodes.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("component")
        ).localCheckpoint(eager=True)
    )

    for i in range(max_iter):
        # label each edge endpoint with the source's current component,
        # then take min over incoming neighbor labels per node
        neighbor_min = (
            both.join(labels, both.src == labels.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == F.col("id2"), "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("comp1"),
                F.col("component").alias("orig"),
            )
        )
        if i >= 2:
            # label compression through the PREVIOUS (checkpointed)
            # labels: follow the pointer chain _CC_JUMPS extra steps.
            # labels_prev[m] <= m for every node m, so each jump only
            # lowers comp1 and stays inside the component.
            for _ in range(_CC_JUMPS):
                lut = labels.select(
                    F.col("id").alias("cid"), F.col("component").alias("cc")
                )
                stepped = stepped.join(
                    lut, stepped.comp1 == lut.cid, "left"
                ).select(
                    "id",
                    F.least("comp1", F.coalesce("cc", "comp1")).alias("comp1"),
                    "orig",
                )
        # convergence flag observed DURING the checkpoint job
        # (CollectMetrics rides the materialization): one Spark job per
        # round instead of two — the loop is job-count-bound at any
        # scale where the frames are small next to the scheduler cost,
        # and at large scale the saved pass over `updated` is real.
        obs = Observation()
        updated = _reset_stats(
            stepped.select(
                "id",
                F.col("comp1").alias("component"),
                (F.col("comp1") < F.col("orig")).alias("__changed"),
            )
            .observe(
                obs,
                F.max(F.col("__changed").cast("int")).alias("any_changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = updated.drop("__changed")
        if not (obs.get["any_changed"] or 0):
            break
    else:
        msg = (
            f"connected_components did not converge after {max_iter} "
            "iterations; component labels are truncated (long chains "
            "split into multiple clusters). Raise max_iter."
        )
        if strict:
            raise NonConvergenceError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels
