"""Plan accumulation hook for iterative operators.

Iterative operators truncate their lineage on purpose through
scratch.py (``materialize`` to scratch parquet, ``checkpoint`` for small
per-round state — PageRank rounds, k-core peels, the text-classifier
feature table, connected-components and recursive-union rounds): the
final DataFrame's plan shows only the last read, so a plan report that
inspects just the returned plan under-counts the real shuffle/join work
by everything that ran inside the materialization steps.

tools/plan_report.py sets ``ACTIVE`` to a list before running a query;
every materialization then appends its step's physical plan, and the
report sums exchanges/joins across (steps + final plan). Inactive (the
normal path), ``record`` is a no-op — zero overhead in production runs.
"""

from __future__ import annotations

#: When a list, materialization helpers append each step's physical
#: plan string. None (default) disables recording.
ACTIVE: list[str] | None = None


def record(df) -> None:
    """Append ``df``'s physical plan to the active accumulator."""
    if ACTIVE is None:
        return
    try:
        ACTIVE.append(df._jdf.queryExecution().executedPlan().toString())
    except Exception:
        # plan stringification must never break the actual computation
        pass
