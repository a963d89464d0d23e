"""The scratch module is the one owner of scratch paths and lineage
truncation.

- Each process gets its own ``pid<N>`` dir under the SF's scratch dir,
  and the first ``path`` call of a process sweeps the dirs of dead ones.
- A query run by another process at the same SF leaves this process's
  snapshot table alone.
- ``checkpoint`` is reliable when the context has a checkpoint dir and
  local otherwise.
- No other engine file spells the scratch root or truncates lineage.
"""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

from cloudberry_spark import scratch
from cloudberry_spark.sources.snapshot import SnapshotTable
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


def _child_path(sf_dir: str, name: str) -> str:
    code = "import sys; from cloudberry_spark import scratch; print(scratch.path(*sys.argv[1:]))"
    return subprocess.run(
        [sys.executable, "-c", code, sf_dir, name],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()


def test_path_is_per_process_and_sweeps_dead_siblings(tmp_path, monkeypatch):
    assert _child_path("/data/sfA", "t") != scratch.path("/data/sfA", "t")
    assert scratch.path("/data/sfA", "t") == os.path.join(
        scratch.ROOT, "sfA", f"pid{os.getpid()}", "t")

    monkeypatch.setattr(scratch, "ROOT", str(tmp_path))
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        for pid in (dead, live.pid):
            os.makedirs(tmp_path / "sfB" / f"pid{pid}" / "t")
        scratch.path("/data/sfB", "t")
        assert not (tmp_path / "sfB" / f"pid{dead}").exists()
        assert (tmp_path / "sfB" / f"pid{live.pid}" / "t").is_dir()
    finally:
        live.kill()
        live.wait()


_CHILD = """
import sys

import duckdb

from cloudberry_spark.catalog import TABLES
from cloudberry_spark.registry import all_queries
from cloudberry_spark.session import get_session
from tests.conftest import assert_matches_oracle

sf_dir, name = sys.argv[1:]
spark = get_session("scratch-two-process")
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
q = all_queries()[name]
print("rows", assert_matches_oracle(q.fn(spark, sf_dir), con, q.oracle, name=name))
"""


def test_two_processes_at_one_sf_keep_their_snapshot_tables(spark):
    """Another process runs a snapshot DML query at this SF while this
    process holds a snapshot table at the scratch name that query uses:
    neither sees the other's files."""
    st = SnapshotTable.init(
        scratch.path(SF_DIR, "dml_part_confined"),
        spark.range(7).selectExpr("id AS held"),
    )
    try:
        before = sorted(st.read(spark).collect())
        child = subprocess.run(
            [sys.executable, "-c", _CHILD, SF_DIR, "dml_partition_confined_update"],
            cwd=REPO, capture_output=True, text=True, timeout=600,
        )
        assert child.returncode == 0, child.stderr[-3000:]
        assert "rows 5" in child.stdout, child.stdout
        after = sorted(st.read(spark).collect())
        assert after == before and len(after) == 7
    finally:
        shutil.rmtree(st.root, ignore_errors=True)


class _Frame:
    """Just enough of a DataFrame for ``scratch.checkpoint``."""

    def __init__(self, checkpoint_dir):
        ctx = SimpleNamespace(getCheckpointDir=lambda: checkpoint_dir)
        self.sparkSession = SimpleNamespace(sparkContext=ctx)
        self.calls = []

    def checkpoint(self, eager):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager):
        self.calls.append(("localCheckpoint", eager))
        return self


def test_checkpoint_is_reliable_only_with_a_checkpoint_dir():
    with_dir, without = _Frame("hdfs://ckpt"), _Frame(None)
    assert scratch.checkpoint(with_dir) is with_dir
    assert scratch.checkpoint(without) is without
    assert with_dir.calls == [("checkpoint", True)]
    assert without.calls == [("localCheckpoint", True)]


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def test_no_engine_code_outside_scratch_spells_the_root_or_truncates_lineage():
    pkg = REPO / "cloudberry_spark"
    bad = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "scratch.py":
            continue
        tree = ast.parse(f.read_text(), str(f))
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and ".scratch" in node.value and id(node) not in docs):
                bad.append(f"{f.relative_to(REPO)}:{node.lineno} spells .scratch")
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("checkpoint", "localCheckpoint")
                    and not (isinstance(node.func.value, ast.Name)
                             and node.func.value.id == "scratch")):
                bad.append(f"{f.relative_to(REPO)}:{node.lineno} calls .{node.func.attr}()")
    assert not bad, "\n".join(bad)
