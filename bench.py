#!/usr/bin/env python
"""Benchmark harness: runs the headline query suite and prints ONE JSON line.

Env:
  SPARK_GRAFT_SF_DIR  parquet fixture dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default all cores)

Methodology: each query's DataFrame is materialized with a noop-format
write (full pipeline execution, no driver collect bottleneck, no disk
sink cost) — the same way Spark's own SQL benchmarks measure. Each query
runs three times and reports the MEDIAN plus the max-min spread: the
first run pays one-time Janino codegen compilation (~0.5-1s per distinct
plan shape, a fixed cost independent of data volume), the later runs are
steady state — matching how BASELINE.md's reference numbers were taken
on a warm cluster (contrib/pax_storage/doc/performance.md), and the
regime that matters at 100 TB where compilation is noise. The persisted
spread makes cross-round drift attributable (environment vs plan).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: TPC-H headliners, named to match BASELINE.md's per-query table.
TPCH = {f"q{i}": f"tpch_q{i}" for i in range(1, 23)}

#: The reference's own spec texts (tpch500GB.sql, WITH partsupp) through
#: the PG frontend. These run over the deterministic CTE fixture, not
#: the sf parquet, so their time is frontend translate + planning +
#: fixed-small execution — a plan-shape/overhead comparison against
#: BASELINE.md's per-query floor, not a data-scale throughput number
#: (the fixture-schema TPCH group above carries the scale story).
#: Reported as tpch22_real_total, EXCLUDED from the headline `value`.
TPCH_REAL = {f"q{i}_real": f"tpch_q{i}_real" for i in range(1, 23)}

#: Real TPC-DS texts (reference regress/minidump corpus + spec),
#: same fixed-fixture caveat; reported as tpcds_real_total.
TPCDS_REAL = {
    f"ds_{q}_real": f"tpcds_{q}_real"
    for q in (
        "q01 q02 q03 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 q14 q15 "
        "q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 "
        "q31 q32 q33 q34 q35 q36 q37 q38 q39 q40 q41 q42 q43 q44 q45 "
        "q46 q47 q48 q49 q50 q51 q52 q53 q54 q55 q56 q57 q58 q59 q60 "
        "q61 q62 q63 q64 q65 q66 q67 q68 q69 q70a q71 q72 q73 q74 q75 q76 "
        "q77 q78 q79 q80 q81 q82 q83 q84 q85 q86 q87 q88 q89 q90 q91 "
        "q92 q93 q94 q95 q96 q97 q98 q99"
    ).split()
}

#: Pipeline / scale-path headliners beyond the reference's surface.
#: graph_pagerank and ml_text_classifier_e2e are the two heaviest
#: iterative plan families (unrolled join+groupBy rounds) — in the bench
#: so a regression in iterative-operator plumbing moves BENCH_r{N}, not
#: just plan-shape counts. snowflake12 covers the widest join tree.
#:
#: pagerank floor note (r4): ~4.5-5s at sf0.1 is the measured floor for
#: the 3-round matview loop — per-round fixed cost (a shuffle-join job,
#: a rank-state write+read, a dangling-mass broadcast job) dominates at
#: toy scale. A persist/localCheckpoint rank state measured the SAME
#: (5.5s): the constant is job scheduling, not parquet I/O, and it
#: amortizes linearly at cluster scale. r4 cut per-round work from two
#: joins + an anti-join to one join + a filter-agg (deg folded into the
#: rank state) and dropped the final round's materialization.
PIPELINE = {
    "dedup_minhash": "dedup_minhash_lsh_pairs",
    "knn_brute": "sim_knn_brute",
    "text_quality": "text_quality_score",
    "curate_e2e": "pipeline_end_to_end",
    "pagerank": "graph_pagerank",
    "text_clf_e2e": "ml_text_classifier_e2e",
    "snowflake12": "join_snowflake_12way",
    # round 4: the two new index-backed families (build + search/probe)
    "ivfpq_search": "sim_ivfpq_search",
    "dedup_incr_probe": "dedup_incremental_index_probe",
    # round 5: inverted-index BM25 (run 1 builds the postings index,
    # runs 2-3 probe it — the median IS the amortized probe cost) and
    # the partition-confined snapshot UPDATE (rewrites 1 of 5
    # partitions; includes the one-time partitioned seed)
    "inv_index_search": "text_inverted_index_search",
    "part_update": "dml_partition_confined_update",
}

#: Round 13: the two operator families that previously had NO bench
#: entry (streaming/IVM and multimodal decode) so they were invisible
#: to optimization. Timed with the same methodology but EXCLUDED from
#: the headline `value` (adding them to `value` would break the
#: round-over-round comparability of the total; their per-query numbers
#: live in `queries` like the spec suites).
EXTRA = {
    "ivm_refresh": "ivm_incremental_refresh",
    "mm_decode": "multimodal_decode_features",
}


def _time_group(spark, queries, sf_dir: str, group: dict[str, str],
                n_runs: int, timings: dict, spread: dict) -> None:
    """Time each query of ``group`` ``n_runs`` times; record the median
    under its label in ``timings`` and the max-min in ``spread``.

    fn() is timed together with execution: operators that materialize
    intermediate state eagerly (iterative matviews, DML scenarios) do
    real work inside fn(), and excluding it would under-report them.
    The median is robust to one-off GC/scheduler noise in either
    direction; the spread is persisted so a fleet-wide drift between
    rounds is attributable to environment vs plan change.
    """
    for label, name in group.items():
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = queries[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[label] = round(runs[len(runs) // 2], 3)
        spread[label] = round(runs[-1] - runs[0], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_SUITE subsets the run for scale soaks: "all" (default),
    # "tpch" (fixture-parquet TPC-H only — pair with SPARK_GRAFT_SF_DIR
    # pointing at a scaled dataset), "spec" (tpch22_real + tpcds_real
    # spec texts only — pair with SPARK_GRAFT_DS_SCALE), "pipeline".
    suite = os.environ.get("SPARK_GRAFT_SUITE", "all")
    from cloudberry_spark.registry import all_queries
    from cloudberry_spark.session import get_session

    spark = get_session("cloudberry-spark-bench")
    queries = all_queries()

    # Warmup: trivial query spins up executors + codegen paths, untimed.
    queries["tpch_q6"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    # SPARK_GRAFT_RUNS (default 3): raise to 5+ when verifying whether a
    # cross-round delta is noise (r7 verdict bench-hygiene item) — the
    # median of more steady-state runs tightens the spread estimate.
    # Default median-of-3; scale soaks may drop to 1 run/query (a soak
    # measures plan survival at volume, not run-to-run drift).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3")))
    headline: dict[str, str] = {}
    if suite in ("all", "tpch"):
        headline.update(TPCH)
    if suite in ("all", "pipeline"):
        headline.update(PIPELINE)
    _time_group(spark, queries, sf_dir, headline, n_runs, timings, spread)

    total = round(sum(timings.values()), 3)
    tpch_total = (
        round(sum(timings[q] for q in TPCH), 3) if suite in ("all", "tpch") else None
    )

    # Spec-text suites (fixed CTE fixture — frontend+plan+overhead cost,
    # not data-scale unless SPARK_GRAFT_DS_SCALE>1): timed after the
    # headline groups, separate totals.
    spec: dict[str, str] = (
        {**TPCH_REAL, **TPCDS_REAL} if suite in ("all", "spec") else {}
    )
    _time_group(spark, queries, sf_dir, spec, n_runs, timings, spread)
    tpch_real_total = (
        round(sum(timings[q] for q in TPCH_REAL), 3) if spec else None
    )
    tpcds_real_total = (
        round(sum(timings[q] for q in TPCDS_REAL), 3) if spec else None
    )

    # Streaming/IVM + multimodal baselines (round 13): timed, reported
    # in `queries`, excluded from the headline `value`.
    if suite in ("all", "pipeline"):
        _time_group(spark, queries, sf_dir, EXTRA, n_runs, timings, spread)

    # Multi-stream throughput (the MPP concurrency story): 4 distinct
    # query streams submitted from 4 threads share the scheduler; wall
    # clock well under the sum of their solo times shows inter-query
    # overlap. Reported as its own key, EXCLUDED from `value` so the
    # headline total stays comparable across rounds.
    if suite in ("all", "tpch"):
        import threading

        streams = ["tpch_q3", "tpch_q5", "tpch_q10", "tpch_q18"]
        solo = sum(timings[s.replace("tpch_", "")] for s in streams)

        def _run(name: str) -> None:
            queries[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        threads = [threading.Thread(target=_run, args=(s,)) for s in streams]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        timings["concurrent4_wall"] = round(time.perf_counter() - t0, 3)
        timings["concurrent4_solo_sum"] = round(solo, 3)
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = None
    # Key order matters for robustness, not semantics: every scalar
    # (headline value, per-family totals, run metadata) is emitted
    # BEFORE the two ~450-entry dicts, so a capture that truncates the
    # tail of the line still contains the headline numbers in its
    # parseable prefix (round-13 verdict item: BENCH_r11's one-line JSON
    # was tail-truncated driver-side and lost the totals entirely).
    print(
        json.dumps(
            {
                "metric": "tpch22+pipeline total wall",
                "value": total,
                "unit": "sec",
                "tpch22_total": tpch_total,
                "tpch22_real_total": tpch_real_total,
                "tpcds_real_total": tpcds_real_total,
                "runs_per_query": n_runs,
                "aggregation": "median",
                "sf": sf,
                "suite": suite,
                "ds_scale": int(os.environ.get("SPARK_GRAFT_DS_SCALE", "1")),
                "queries": timings,
                "spread": spread,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
