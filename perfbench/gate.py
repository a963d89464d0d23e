"""The correctness gate: compare Spark results with their DuckDB oracles.

The comparison is the engine's own driver comparator
(``tools/driver_sim.py``: ``canon_frame`` + ``frames_match``): column
names, row count and a dtype-sensitive hash of every value, with rows
sorted first.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable
from pathlib import Path

TOOLS = str(Path(__file__).resolve().parent.parent / "tools")


def compare(
    names: Iterable[str],
    spark_result: Callable[[str], object],
    oracle_result: Callable[[str], object],
) -> dict[str, list[str]]:
    """Return {query: problems} for every query that errors or mismatches."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from driver_sim import canon_frame, frames_match

    failures: dict[str, list[str]] = {}
    for name in names:
        try:
            problems = frames_match(
                canon_frame(spark_result(name)), canon_frame(oracle_result(name))
            )
        except Exception as ex:
            problems = [f"error: {str(ex)[:300]}"]
        if problems:
            failures[name] = problems
    return failures
