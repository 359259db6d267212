"""Lineage cuts and loops over DataFrames: the one place the repo cuts
a plan's lineage (``materialize``) and the one implementation of every
iterative graph loop (connected components, k-core and k-truss
peeling, BFS, transitive closure, parity BFS, PageRank, label
propagation).

``materialize`` is the only caller of ``localCheckpoint``. The cut is
lazy: a relation is computed by the first action that reads it (a
convergence check, a driver fetch, the query's own sink), not when the
cut is placed. Under AQE, placing a cut over a shuffle still runs that
shuffle's map stage while the plan is built; only the final stage
waits. A durable checkpoint, when a caller needs one, is a change to
this one function.

The loops cut every relation they produce, so round R's plan scans
round R-1's result instead of replaying rounds 1..R-1:
- ``until_stable`` runs a step until a round changes no row;
- ``expand_frontier`` grows a visited set ring by ring until a ring
  is empty;
- ``iterate`` runs a step a fixed number of rounds.

The convergence loops raise past ``max_iter`` rather than return a
partial result (a partially merged component, a truncated distance).
The DuckDB oracles unroll the same bounds, so a silent partial result
would surface only as a hash mismatch on exotic data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F


def materialize(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: later plans that read the result scan its
    cached partitions instead of re-running the subtree that made it.
    Use it where a relation has several consumers or is the state of a
    loop. The cut is executor-local and lazy (see the module
    docstring)."""
    return df.localCheckpoint(eager=False)


def iterate(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int
) -> DataFrame:
    """Apply ``state = step(state)`` exactly ``rounds`` times, cutting
    the lineage after each round; return the last state. For loops
    whose round count is a parameter, not a convergence test: no round
    counts rows to decide whether to stop."""
    for _ in range(rounds):
        state = materialize(step(state))
    return state


def until_stable(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int,
    name: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until a round drops no row of
    ``state``; return that state.

    The check is a left anti join of the old state against the new one
    on all columns, so it suits steps that replace rows (label
    propagation) or remove them (peeling). Rounds = rounds of change
    + 1; raises if the state still changes in round ``max_iter``.
    """
    state = materialize(state)
    cols = state.columns
    for _ in range(max_iter):
        new = materialize(step(state))
        changed = state.join(new, cols, "left_anti").limit(1).count()
        state = new
        if changed == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds; raise max_iter"
    )


def min_label_components(edges: DataFrame, max_iter: int, name: str) -> DataFrame:
    """Connected components of the undirected graph on an ``(a, b)``
    edge relation: ``(node, root)`` for every node that appears on an
    edge, root = the least node of its component. Nodes may be of any
    orderable type (strings, ints, structs such as ``(doc_id, m_id)``).

    Min-label propagation through ``until_stable``: every round each
    node adopts the least label among its own and its neighbours'.
    Rounds = largest component diameter + 1. Nodes on no edge are not
    returned; callers left-join them in as singletons.

    Calling this runs Spark jobs: each round counts changed rows to
    decide whether to stop. The symmetric edge set is cut once, so the
    subtree that produced ``edges`` runs once, not once per round.
    """
    sym = materialize(
        edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("root", F.col("node"))
    )

    def propagate(labels: DataFrame) -> DataFrame:
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("root").alias("nroot")),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("nroot").alias("nbr_root"))
        )
        return labels.join(nbr, "node", "left").select(
            "node", F.least("root", "nbr_root").alias("root")
        )

    return until_stable(labels, propagate, max_iter, name)


def expand_frontier(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    key: str | list[str],
    max_iter: int,
    name: str,
) -> DataFrame:
    """Semi-naive expansion from ``seed``: round d (1-based) takes
    ``ring = step(frontier, d).distinct()``, keeps the rows whose
    ``key`` is not yet visited, and makes that ring the next frontier.
    Each round touches only the last ring, never the whole visited set.

    Stops on an empty ring and returns every visited row, seed
    included; raises if the ring of round ``max_iter`` is still
    non-empty. ``step`` must return the seed's columns.
    """
    visited = materialize(seed)
    frontier = visited
    for d in range(1, max_iter + 1):
        ring = materialize(
            step(frontier, d).distinct().join(visited.select(key), key, "left_anti")
        )
        if ring.limit(1).count() == 0:
            return visited
        visited = materialize(visited.unionByName(ring))
        frontier = ring
    raise RuntimeError(
        f"{name} frontier still live after {max_iter} rounds; raise max_iter"
    )
