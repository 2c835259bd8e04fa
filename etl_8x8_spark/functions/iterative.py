"""Lineage control for driver-looped iterative operators.

The bounded-round loops (pagerank, k-core, LPA, BFS, dedup cluster-CC)
persist each round's relation so round N's plan reads round N-1's
InMemoryRelation — no per-round barrier job (the r15 finding vs eager
``localCheckpoint``), and recomputation is bounded by the cache.

The escape hatch (r15 VERDICT items 5/9): lazy persist bounds
*recomputation* but not *lineage* — the logical plan still grows per
round, and on a long run with executor churn a lost cached block in
round N recomputes through every prior round. At the small fixed round
counts shipped here (3–5) that is a non-issue, but a production loop
with many rounds should truncate lineage periodically:
``CHECKPOINT_EVERY`` (8) makes every Nth round a lazy
``localCheckpoint`` — plan truncated to the checkpointed RDD, no extra
job (it materializes with the round's own first action). 0 would
disable checkpointing entirely (pure persist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Checkpoint cadence for iterative loops: every Nth round is a lazy
#: localCheckpoint instead of a plain persist. 8 exceeds every shipped
#: round count (3–5), so the hatch only engages on longer loops.
CHECKPOINT_EVERY = 8


def bound_round_lineage(df: DataFrame, rnd: int) -> DataFrame:
    """Bound a loop relation's lineage at 1-based round ``rnd``.

    Rounds that hit the ``CHECKPOINT_EVERY`` cadence are
    lazily localCheckpointed (lineage truncated; materializes with the
    round's own first action — reliability of that intermediate is not
    load-bearing, the loop re-runs from the source on loss); every
    other round is a lazy ``persist()`` (the r15 shape). Results are
    identical either way — only the plan boundary moves.
    """
    if CHECKPOINT_EVERY > 0 and rnd > 0 and rnd % CHECKPOINT_EVERY == 0:
        return df.localCheckpoint(eager=False)
    return df.persist()
