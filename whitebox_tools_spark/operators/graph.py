"""Distributed graph primitives for the iterative raster family
(SURVEY.md §2.8).

connected_components: hash-to-min label propagation with pointer jumping
(label-of-label shortcutting), so convergence is O(log diameter) driver
rounds instead of O(diameter) — each round is two shuffles
(neighbour-min + jump), localCheckpoint'ed to keep lineage flat. This is
the standard large-scale CC recipe (two-phase hash-to-min) expressed as
plain DataFrame joins.

Every convergence-bounded driver-side loop in ``operators/`` runs
through the one round loop here, via two entry points:

- ``fixpoint`` — value fixpoints: two lazy ``step``s per check, then
  ``checkpoint_nostats`` and one ``limit(1).count()`` probe of
  ``pending(new, old)`` (``changed`` builds the usual "any value differs
  on key" test);
- ``expand`` — semi-naive frontier walks: ``known |= step(frontier,
  known)`` until a step adds nothing.

A loop that spends its ``max_rounds`` without converging warns
``not converged`` (RuntimeWarning); no result is silently partial.
Every finished loop appends ``(name, rounds, converged)`` to ``ROUNDS``
(the most recent ``ROUNDS.maxlen`` loops), so a run can report its
fixpoint round counts without threading them through return values.
"""

from __future__ import annotations

import warnings
from collections import deque
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node: str = "id",
    max_rounds: int = 60,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over undirected ``edges(a, b)``.

    Returns (node, comp) with comp = min node id in the component.
    ``nodes`` supplies isolated vertices too.

    When the node count fits ``broadcast_threshold`` (a (long, long)
    label frame of 2M rows is ~32 MB), every per-round join broadcasts
    the label side, so a round costs ONE shuffle (the neighbour-min
    groupBy) instead of four — the checkpointed frames carry no
    statistics, so AQE cannot discover this itself. Above the threshold
    the general shuffle-join path runs unchanged (the label frame scales
    with the graph and must never be broadcast at 100-TB node counts).
    """
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)

    labels = nodes.select(F.col(node).alias("node"), F.col(node).alias("comp"))
    labels = labels.localCheckpoint(eager=True)

    small = labels.count() <= broadcast_threshold
    hint = F.broadcast if small else (lambda df: df)

    def step(lab: DataFrame) -> DataFrame:
        lab_b = hint(lab)
        nbr_min = (
            sym.join(lab_b, sym.b == lab_b.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = (
            lab.join(hint(nbr_min), lab.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jumping: comp <- comp(comp)
        parent = prop.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        return (
            prop.join(hint(parent), prop.comp == parent.p_node, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )

    return fixpoint(
        labels, step, changed("node", "comp"), max_rounds, "connected_components"
    )


def _warn_nonconverged(name: str, rounds: int) -> None:
    """A loop exhausted its round budget without converging — the result
    is partial. Loud, not silent."""
    warnings.warn(
        f"{name}: fixpoint not converged after {rounds} rounds; "
        "result may be partial — raise max_rounds",
        RuntimeWarning,
        stacklevel=4,
    )


def _empty(df: DataFrame) -> bool:
    return df.limit(1).count() == 0


# (name, rounds, converged) per finished loop; rounds = steps run
ROUNDS: deque = deque(maxlen=4096)


def _rounds(state, advance, max_rounds: int, name: str, stride: int = 1):
    """The one bounded round loop: ``advance(state) -> (state, done)``
    runs once per ``stride`` rounds of the ``max_rounds`` budget. Spending
    the budget without ``done`` warns (see ``_warn_nonconverged``)."""
    checks = max(1, -(-max_rounds // stride))
    for i in range(checks):
        state, done = advance(state)
        if done:
            ROUNDS.append((name, (i + 1) * stride, True))
            return state
    ROUNDS.append((name, checks * stride, False))
    _warn_nonconverged(name, max_rounds)
    return state


def changed(key, *cols: str):
    """``pending`` for ``fixpoint``: rows of ``new`` whose ``cols`` differ
    from ``old`` on the join ``key``."""

    def pending(new: DataFrame, old: DataFrame) -> DataFrame:
        diff = reduce(
            lambda a, b: a | b, [F.col(f"n.{c}") != F.col(f"o.{c}") for c in cols]
        )
        return new.alias("n").join(old.alias("o"), key).where(diff)

    return pending


def fixpoint(init: DataFrame, step, pending, max_rounds: int, name: str) -> DataFrame:
    """Iterate ``step`` from ``init`` until ``pending(new, old)`` is empty.

    Each check composes two lazy steps (two rounds of the budget),
    checkpoints them and probes ``pending`` once — half the driver-side
    actions of a check per step (a converged extra step is idempotent)."""

    def advance(old):
        new = checkpoint_nostats(step(step(old)))
        return new, _empty(pending(new, old))

    return _rounds(init, advance, max_rounds, name, stride=2)


def expand(seed: DataFrame, step, max_rounds: int, name: str) -> DataFrame:
    """Semi-naive frontier walk from ``seed``: ``new = step(frontier,
    known)`` must return only rows not yet in ``known``; the walk stops
    when a step is empty and returns ``known`` (seed plus every step)."""

    def advance(state):
        known, frontier = state
        new = checkpoint_nostats(step(frontier, known))
        if _empty(new):
            return state, True
        return (checkpoint_nostats(known.unionByName(new)), new), False

    return _rounds((seed, seed), advance, max_rounds, name)[0]


def checkpoint_nostats(df: DataFrame) -> DataFrame:
    """localCheckpoint that DROPS inherited size statistics.

    Dataset.localCheckpoint preserves the child plan's sizeInBytes
    estimate, and a pointer-jumping round self-joins the evolving frame —
    the join estimate is the PRODUCT of both sides, so the inherited
    statistic SQUARES every round. Its bit-length doubles per round; by
    ~16 rounds Catalyst's stats arithmetic is multiplying million-bit
    BigIntegers on the driver and each round takes exponentially longer
    (observed: 0.5 s -> 27 s per batch on a 500-node graph). Rebuilding
    the frame over the checkpointed InternalRow RDD resets the estimate
    to the session default; explicit size_hint broadcasts (not AQE
    stats) drive the join strategy inside these loops anyway."""
    ck = df.localCheckpoint(eager=True)
    jdf = ck._jdf
    spark = df.sparkSession
    rdd = jdf.queryExecution().toRdd()
    new_jdf = spark._jsparkSession.internalCreateDataFrame(rdd, jdf.schema(), False)
    return DataFrame(new_jdf, spark)


def size_hint(df: DataFrame, small: bool) -> DataFrame:
    """Explicit broadcast hint for per-round fixpoint joins: checkpointed
    frames carry no statistics, so without the hint every round pays a
    full shuffle write before AQE can re-plan the read side. Gate
    ``small`` on a KNOWN bound (grid cell count, node count) — never
    broadcast a frame that scales with the 100-TB input."""
    return F.broadcast(df) if small else df
