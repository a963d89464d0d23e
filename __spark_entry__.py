"""Driver contract for the spark-graft builder (PySpark target).

Re-exports the registry (``cloudberry_spark.registry``) in the driver's
shape: every operator implemented from SURVEY.md §2 registers a named
query plus (where SQL-expressible) a DuckDB oracle.

The driver checks a prefix of ``queries()``, so this module also owns
the sample order: family round-robin, never-sampled oracled queries
first. Which queries the driver has already sampled is read from the
committed ``CORRECTNESS_r*.json`` records beside this file; ``_LEAD`` is
the one hand-kept input.
"""

from __future__ import annotations

import functools
import json
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cloudberry_spark.registry import Query, all_queries  # noqa: E402

FLAGSHIP = "tpch_q5"

#: Queries that lead the sampled prefix: never-sampled, oracled queries
#: whose internals changed since the last sample, so they most need
#: external confirmation. Rank lookups are by name, so a name that is
#: already sampled or unregistered is inert.
_LEAD: list[str] = [
    # snapshot-table DML: manifests now carry the committed schema and
    # reads pass it to the reader; tables live under per-process paths
    "dml_merge",
    "dml_update_delete",
    "dml_cascade_delete",
    "dml_insert_on_conflict",
    "ddl_part_add_truncate",
    "regress_matview_no_data_refresh",
    "regress_qpdc_drop_midcol_dml_int4",
    # streaming sinks and checkpoints under per-process scratch paths
    "stream_checkpoint_exactly_once",
    "sink_dynamic_partition_overwrite",
    "sink_compact_small_files",
    # other per-process scratch writers and the one scratch.materialize
    "copy_orc_roundtrip",
    "fdw_python_textfeed",
    "graph_kcore_peel",
    # inheritance and directory-table writes now commit through
    # SnapshotTable._commit
    "regress_inh_scan_mid_level",
    "regress_inh_only_scans",
    "regress_inh_update_child_propagates",
    "regress_dirtable_tag_filter",
    "regress_dirtable_md5_lookup",
]


def _rounds(root: str) -> list[Path]:
    """The ``CORRECTNESS_r<N>.json`` records under ``root``, oldest first
    (by round number, so r10 follows r9)."""
    rounds = Path(root).glob("CORRECTNESS_r*.json")
    return sorted(rounds, key=lambda p: int(p.stem.rpartition("_r")[2]))


@functools.cache
def driver_sampled(root: str = _REPO) -> frozenset[str]:
    """Names the correctness driver has already sampled.

    A name counts once some ``CORRECTNESS_r<N>.json`` under ``root``
    records it, unless the latest round recording it saw a hash
    mismatch or crashed before a verdict (no ``hash_match`` and an
    ``err`` other than ``no_oracle``): that query is still owed an
    external pass. No files, no names.
    """
    latest: dict[str, dict] = {}
    for f in _rounds(root):
        latest.update(json.loads(f.read_text()))
    return frozenset(n for n, rec in latest.items() if _verdict(rec))


def _verdict(rec: dict) -> bool:
    """Whether a correctness record settles its query: a hash match, or
    a rows-only check of a query with no oracle."""
    if rec.get("hash_match") is None:
        return rec.get("err") == "no_oracle"
    return rec["hash_match"]


def interleaved_queries() -> dict[str, Query]:
    """All queries, round-robin-interleaved across operator families.

    Harnesses that sample a prefix of the query dict (e.g. a correctness
    driver checking the first N) should see one representative of every
    SURVEY §2 family before seeing the second of any — so the ordering
    groups by each query's first tag and interleaves. Within a family,
    registration order is preserved (most canonical example first).
    """
    sampled = driver_sampled()
    fams: dict[str, list[Query]] = {}
    for q in all_queries().values():
        fam = q.tags[0] if q.tags else "misc"
        # the pipeline family is ~80 queries wide; splitting it by
        # subfamily (ml/text/dedup/similarity/multimodal/...) gives each
        # subfamily its own slot in the sampled prefix, so dedup and
        # similarity operators actually reach the driver.
        if fam == "pipeline" and len(q.tags) > 1:
            fam = f"pipeline.{q.tags[1]}"
        fams.setdefault(fam, []).append(q)
    rank = {n: i for i, n in enumerate(_LEAD)}
    for b in fams.values():
        # leads first, then oracled queries (never-driver-sampled ahead
        # of already-confirmed), and rows-only queries LAST: a sampled
        # slot spent on an un-oracle-able query scores only the weak
        # `no_oracle` check, so every hash-verifiable sibling outranks it
        b.sort(
            key=lambda q: (
                rank.get(q.name, len(rank)),
                q.oracle is None,
                q.name in sampled,
            )
        )
    # Emit depth-by-depth round-robin, but hoist never-sampled oracled
    # queries ahead of already-confirmed ones ACROSS depths: once every
    # family's head is confirmed, a sampled prefix should spend its
    # remaining slots on depth-2+ never-sampled queries (e.g. the second
    # and third dedup variants) instead of re-confirming tpch_q1. Family
    # diversity is preserved within each class by the (depth, family)
    # round-robin order; rows-only queries sort last overall.
    ordered: list[tuple[tuple[int, int, int, int], Query]] = []
    depth = max(len(b) for b in fams.values())
    for i in range(depth):
        for b in fams.values():
            if i < len(b):
                q = b[i]
                cls = 2 if q.oracle is None else (1 if q.name in sampled else 0)
                # _LEAD rank overrides depth so a curated high-risk query
                # reaches the prefix even when it's 2nd+ in its family
                ordered.append(((cls, rank.get(q.name, len(rank)), i, len(ordered)), q))
    ordered.sort(key=lambda t: t[0])
    return {q.name: q for _, q in ordered}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return all_queries()[FLAGSHIP].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered round-robin across operator families so any prefix sample
    spans every family (§2.1 scans … §2.11 UDX + pipeline + streaming),
    never-sampled oracled queries first (``interleaved_queries``).
    """
    return {name: q.fn for name, q in interleaved_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in interleaved_queries().items()
        if q.oracle is not None
    }
