"""Scratch space and lineage truncation: the one owner of both.

The reference gives spill and temp files to one owner, the workfile
manager (utils/workfile_manager/workfile_mgr.c): each executor process
gets its own files from it, and no operator builds a path itself. This
module is that owner here. Nothing else in the engine spells the
``.scratch`` root or truncates lineage.

Layout (the root is gitignored, inside the repo)::

    .scratch/<basename(sf_dir)>/pid<N>/<name>   path(): snapshot tables,
                                                matviews, stream sinks and
                                                checkpoints, materialize()
    .scratch/spec_<tag>_k1_pid<N>/              spec_dir() at K=1
    .scratch/spec_<tag>_k<K>/                   spec_dir() at K>1
    <dir>/_staging_pid<N>/                      staging(): writes renamed
                                                into <dir>

Every process gets its own ``pid<N>`` dir, so two processes at the same
SF (test shards, a bench run beside a test run) never overwrite a path
the other is mid-read on. A killed process cannot clean up after itself:
the first ``path`` call per (process, SF) removes the ``pid<N>`` dirs of
dead processes. The K>1 spec dirs are the one shared cache, and every
process at that K builds the same data: a process writes a view under
its own ``staging()`` dir and renames it into place, so no process ever
writes where another reads.

Two ways to cut an iterative operator's lineage:

- ``materialize`` writes scratch parquet and reads it back. Compared
  with ``.persist()`` the lineage is truncated the same way, but the
  planner sees a real file relation with exact size statistics (so AQE's
  broadcast decisions behave exactly as for any table), re-runs are
  deterministic, and nothing pins executor memory. Use it for the big,
  iteration-invariant relations (PageRank edges, k-core survivors, the
  classifier's feature table).
- ``checkpoint`` keeps small per-round state (node-table sized, read
  more than once) in one job with no write+read round trip. Without a
  cut every few rounds the logical plan of a fixpoint loop doubles per
  iteration, and planning time explodes long before data size matters;
  the reference materializes per iteration in its WorktableScan
  (executor/nodeRecursiveunion.c:75) for the same reason.
  ``localCheckpoint`` stores blocks in executor memory or disk: fine
  under local[*], but on a cluster a lost executor makes the truncated
  lineage irrecoverable mid-job. So the reliable ``checkpoint()`` is
  used whenever the context has a checkpoint dir (set
  ``SPARK_GRAFT_CHECKPOINT_DIR`` to an HDFS/S3 path; ``get_session``
  applies it), and ``localCheckpoint`` only when none is set (local dev,
  where executor loss is driver loss anyway).

Both record the step's plan with ``planhook.record``, so
tools/plan_report.py counts the work the truncated final plan hides.
"""

from __future__ import annotations

import os
import shutil

from cloudberry_spark import planhook

#: Root of all engine scratch.
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

#: (pid, parent dir, prefix) whose dead-PID siblings were already swept.
_swept: set[tuple[int, str, str]] = set()


def _sweep_dead_pids(parent: str, prefix: str) -> None:
    """Once per process: remove ``<parent>/<prefix><pid>`` dirs whose
    process is gone. Best effort; a live process's dir is never touched."""
    key = (os.getpid(), parent, prefix)
    if key in _swept:
        return
    _swept.add(key)
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for e in entries:
        pid = e[len(prefix):]
        if not e.startswith(prefix) or not pid.isdigit() or int(pid) == os.getpid():
            continue
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)


def path(sf_dir: str, name: str) -> str:
    """This process's scratch path ``name`` for the fixture at ``sf_dir``."""
    parent = os.path.join(ROOT, os.path.basename(os.path.normpath(sf_dir)) or "sf")
    _sweep_dead_pids(parent, "pid")
    return os.path.join(parent, f"pid{os.getpid()}", name)


def spec_dir(tag: str, k: int) -> str:
    """Fixture-view dir of a spec prelude (sql/scale_fixture.spec_views):
    per process at K=1, shared across processes at K>1."""
    if k == 1:
        _sweep_dead_pids(ROOT, f"spec_{tag}_k1_pid")
        return os.path.join(ROOT, f"spec_{tag}_k1_pid{os.getpid()}")
    return os.path.join(ROOT, f"spec_{tag}_k{k}")


def staging(parent: str) -> str:
    """This process's staging dir inside ``parent``: write there, then
    ``os.rename`` into place, so another process never sees a partial
    write."""
    _sweep_dead_pids(parent, "_staging_pid")
    return os.path.join(parent, f"_staging_pid{os.getpid()}")


def materialize(df, spark, sf_dir: str, tag: str):
    """Write ``df`` to this process's scratch parquet ``tag`` and read it
    back: an iteration-invariant relation with real file statistics."""
    out = path(sf_dir, tag)
    # the final plan only shows the post-materialization read; record
    # this step's plan so tools/plan_report.py counts the real work
    planhook.record(df)
    # coalesce: these state tables are node/edge-list sized; writing 32
    # near-empty files per round costs more task/commit overhead than
    # the data. At cluster scale pick partitions ~ |state| / 128MB.
    df.coalesce(8).write.mode("overwrite").parquet(out)
    # the writer's schema: no footer-reading job to infer it again
    return spark.read.schema(df.schema).parquet(out)


def checkpoint(df):
    """Eagerly checkpoint small per-round state, truncating its lineage:
    reliable when a checkpoint dir is set, local otherwise."""
    planhook.record(df)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
