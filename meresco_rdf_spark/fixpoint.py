"""The one semi-naive fixpoint loop behind every closure in the engine.

RDFS / OWL entailment, SPARQL and SHACL property paths and DESCRIBE all
grow a relation by joining the facts the last round found until a round
finds nothing new.  Each round makes exactly one eager
``localCheckpoint``, on the delta only: the accumulated closure stays a
shallow lazy union of checkpointed deltas, so lineage never grows and
nothing is rewritten.  A loop still finding facts after ``MAX_ROUNDS``
rounds raises ``FixpointNotConverged`` naming the loop, never a silent
partial answer.  Iterations whose bound is a user-facing meaning (k
hops, walk steps, PageRank iterations) are not fixpoints.
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

# Round cap of every fixpoint loop (and of connected components).  Rounds
# track the longest derivation chain, which is short on the graphs this
# engine closes; a loop that needs more is reported, not truncated.
MAX_ROUNDS = 64


class FixpointNotConverged(RuntimeError):
    """A fixpoint loop was still deriving new facts after ``MAX_ROUNDS``
    rounds."""

    def __init__(self, name: str, cap: int):
        super().__init__("%s did not converge within %d rounds"
                         % (name, cap))
        self.name = name
        self.rounds = cap


def rounds(name: str) -> Iterator[int]:
    """Round numbers 1..MAX_ROUNDS for a loop that ``break``s once it
    converges; running out of rounds raises ``FixpointNotConverged``."""
    cap = MAX_ROUNDS
    yield from range(1, cap + 1)
    raise FixpointNotConverged(name, cap)


def log_round(name: str, n: int, rows: int, started: float) -> None:
    """One DEBUG record per round: loop name, round, rows, wall seconds."""
    log.debug("fixpoint %s round=%d rows=%d wall_s=%.3f",
              name, n, rows, time.perf_counter() - started)


@contextmanager
def _no_constraint_propagation(spark):
    """Spark 4's eager ``localCheckpoint`` stats rewrite
    (``Union.rewriteConstraints``) throws ``key not found: <attr>#N``
    when a checkpointed union child keeps a constraint on an upstream
    filter attribute it does not output.  Inferred constraints buy
    nothing inside the loop (every round is materialized), so they are
    off while it runs and the caller's value is restored after."""
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _anti_join(cand: DataFrame, known: DataFrame,
               key: Sequence[str]) -> DataFrame:
    """``cand`` rows whose key is not in ``known``.  Null-safe on the
    key columns either schema marks nullable: a NULL ``lang`` never
    equals itself, so a plain anti-join would re-derive it forever."""
    cond = None
    for c in key:
        left, right = F.col("_new." + c), F.col("_old." + c)
        eq = (left.eqNullSafe(right)
              if cand.schema[c].nullable or known.schema[c].nullable
              else left == right)
        cond = eq if cond is None else cond & eq
    return cand.alias("_new").join(known.alias("_old"), cond, "left_anti")


def fixpoint(seed: DataFrame,
             step: Callable[[DataFrame, DataFrame], DataFrame],
             key: Sequence[str], name: str,
             closed: Optional[DataFrame] = None
             ) -> Tuple[DataFrame, DataFrame]:
    """Semi-naive closure of ``seed`` (duplicate-free on ``key``, the
    columns that identify a fact): returns ``(closure, derived)``, where
    ``derived`` holds only the facts the rounds added.

    ``step(delta, acc)`` derives one round's candidates from the last
    round's new facts (the seed in round 1) and, for rules that compose
    over everything known, the accumulated ``acc``.  ``name`` labels the
    DEBUG records and errors.  ``closed`` is an already-closed relation
    the seed extends: the seed is anti-joined against it and the
    closure includes it."""
    with _no_constraint_propagation(seed.sparkSession):
        if closed is not None:
            closed = closed.localCheckpoint()
            seed = _anti_join(seed, closed, key)
        delta = seed.localCheckpoint()
        acc = delta if closed is None else closed.unionByName(delta)
        deltas: List[DataFrame] = []
        for n in rounds(name):
            started = time.perf_counter()
            new = (_anti_join(step(delta, acc).dropDuplicates(list(key)),
                              acc, key)
                   .localCheckpoint())
            rows = new.count()
            log_round(name, n, rows, started)
            if not rows:
                break
            deltas.append(new)
            acc = acc.unionByName(new)
            delta = new
    derived = deltas[0] if deltas else delta.limit(0)
    for d in deltas[1:]:
        derived = derived.unionByName(d)
    return acc, derived
