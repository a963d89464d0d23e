#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload spec_adhoc --seed 1 --seconds 8 --trace 0

One closed-loop client drives the engine through its public surface
(``get_session``, ``all_queries()[name].fn(spark, sf_dir)`` and a noop
write). A run sets up three times, makes one cold pass over the
workload's queries, discarded warm-up passes, then warm passes until
``--seconds`` have gone by, and finally checks every query's result
against its DuckDB oracle. The last stdout line is the result JSON;
the line before it is the run manifest. ``--trace 1`` makes the
separate traced run that reports the per-layer metrics instead.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # the first set-up is timed from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

import fixture  # noqa: E402
import gate  # noqa: E402
import procfs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS, pass_order  # noqa: E402

#: The fixture: TPC-H-shaped tables at sf0.01 plus the pipeline tables,
#: generated once per checkout from a fixed data seed.
DATA_SF = 0.01
DATA_SEED = 42
DATA_DIR = ROOT / ".perfbench_data" / f"sf{DATA_SF}-seed{DATA_SEED}"
RUNS_DIR = ROOT / ".perfbench_runs"
OUT_DIR = ROOT / ".perfbench_out"
ENGINE_SCRATCH = ROOT / ".scratch"

SETUPS = 3  # set-ups per run; setup_s is their median
MAX_CPUS = 4
DRIVER_MEM = "3g"
#: The JVM compiles with its first JIT tier only. With the default tiered
#: JIT, C2 kept recompiling for minutes and a pass's CPU time halved over
#: a 60 s window, so a run measured wherever on that slope it happened
#: to be. With C1 only, CPU per pass levels off within a few passes,
#: which the discarded warm-up passes cover.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def engine_present() -> bool:
    return (ROOT / "cloudberry_spark" / "registry.py").is_file() and (
        ROOT / "tools" / "driver_sim.py"
    ).is_file()


def ensure_fixture() -> str:
    """Reuse the checkout's fixture if its checksum holds; else build it."""
    meta = DATA_DIR / "CHECKSUM.json"
    if meta.is_file():
        rec = json.loads(meta.read_text())
        if (rec["sf"], rec["seed"]) == (DATA_SF, DATA_SEED) and rec[
            "sha256"
        ] == fixture.checksum(str(DATA_DIR)):
            return rec["sha256"]
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    shutil.rmtree(str(DATA_DIR) + ".tmp", ignore_errors=True)
    DATA_DIR.parent.mkdir(parents=True, exist_ok=True)
    return fixture.build(str(DATA_DIR), DATA_SF, DATA_SEED)


def _pid_alive(pid: str) -> bool:
    return pid.isdigit() and os.path.exists(f"/proc/{pid}")


def sweep_stale() -> None:
    """Remove run and engine-scratch dirs left behind by dead processes."""
    for parent in (RUNS_DIR, ENGINE_SCRATCH):
        if parent.is_dir():
            for d in parent.glob("pb_*"):
                if not _pid_alive(d.name.rsplit("_", 1)[-1]):
                    shutil.rmtree(d, ignore_errors=True)
    if ENGINE_SCRATCH.is_dir():
        for d in ENGINE_SCRATCH.glob("spec_*_pid*"):
            if not _pid_alive(d.name.rsplit("_pid", 1)[-1]):
                shutil.rmtree(d, ignore_errors=True)


class RunDirs:
    """Per-run paths. The fixture dir's basename is unique to the run, so
    the engine's scratch paths (derived from it) are too."""

    def __init__(self, workload: str, seed: int) -> None:
        self.tag = f"pb_{workload}_{seed}_{os.getpid()}"
        self.root = RUNS_DIR / self.tag
        self.sf_dir = self.root / self.tag
        self.local = self.root / "local"
        self.tmp = self.root / "tmp"
        self.events = self.root / "events"
        self.engine_scratch = ENGINE_SCRATCH / self.tag

    def engine_pid_dirs(self) -> list[Path]:
        if not ENGINE_SCRATCH.is_dir():
            return []
        return list(ENGINE_SCRATCH.glob(f"spec_*_pid{os.getpid()}"))

    def clean(self) -> None:
        for d in [self.root, self.engine_scratch, *self.engine_pid_dirs()]:
            shutil.rmtree(d, ignore_errors=True)

    def create(self) -> None:
        self.clean()
        for d in (self.sf_dir, self.local, self.tmp, self.events):
            d.mkdir(parents=True)
        for name in fixture.TABLES:
            os.link(DATA_DIR / f"{name}.parquet", self.sf_dir / f"{name}.parquet")


def configure_env(dirs: RunDirs, cpus: int, traced: bool) -> None:
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        submit += spans.event_log_conf(str(dirs.events))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(dirs.local),
        TMPDIR=str(dirs.tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData {JIT_OPTS}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )


class Bench:
    def __init__(self, workload, seed: int, dirs: RunDirs, traced: bool) -> None:
        self.wl = workload
        self.seed = seed
        self.dirs = dirs
        self.sf_dir = str(dirs.sf_dir)
        self.traced = traced
        self.tracer = spans.Tracer()
        self.tracer.enabled = traced
        self.spark = None
        self.queries = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.setup_samples: list[float] = []
        self.setup_spans: dict[str, float] = {}
        self.bindings: dict[str, int] = {}
        self.phases: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def setup(self, fixture_s: float) -> None:
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = T_PROCESS if i == 0 else time.perf_counter()
            with self.tracer.span("setup"):
                from cloudberry_spark.catalog import ensure_views
                from cloudberry_spark.registry import all_queries
                from cloudberry_spark.session import get_session

                with self.tracer.span("session_start") as s_start:
                    self.spark = get_session("perfbench")
                with self.tracer.span("registry_load") as s_load:
                    self.queries = all_queries()
                ensure_views(self.spark, self.sf_dir)
                self.queries[WARMUP_QUERY].fn(self.spark, self.sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
            self.setup_samples.append(time.perf_counter() - t0 - (fixture_s if i == 0 else 0))
            if i == 0:
                from pyspark import SparkContext

                self.jvm_pid = SparkContext._gateway.proc.pid
                if self.traced:
                    sp = self.tracer.spans
                    self.setup_spans = {
                        "session.start_s": sp[s_start]["end"] - sp[s_start]["start"],
                        "registry.load_s": sp[s_load]["end"] - sp[s_load]["start"],
                    }
                    self.bindings = spans.install(self.tracer)

    # -- timed passes ---------------------------------------------------

    def run_query(self, name: str, pass_no: int, traced: bool) -> tuple[float, float] | None:
        """(wall, process-tree CPU) seconds of one query, or None if it failed."""
        tr = self.tracer
        sc = self.spark.sparkContext
        self.attempted += 1
        if traced:
            sc.setJobDescription(f"{self.wl.name}:{name}:{pass_no}")
        c0 = procfs.cpu_seconds(procfs.tree())
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name):
                with tr.span("build"):
                    df = self.queries[name].fn(self.spark, self.sf_dir)
                if traced:
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # counted, reported, and the loop goes on
            self.failed += 1
            self.errors.append(f"{name} pass {pass_no}: {str(ex)[:300]}")
            return None
        finally:
            if traced:
                sc.setJobDescription(None)
        wall = time.perf_counter() - t0
        return wall, procfs.cpu_seconds(procfs.tree()) - c0

    def run_pass(self, pass_no: int, kind: str, traced: bool = False) -> dict:
        """One pass over the workload in its seeded order."""
        self.tracer.enabled = traced
        before, steal0 = procfs.tree(), procfs.steal_seconds()
        cg0 = spans.codegen_counters(self.spark) if traced else None
        epoch0, t0 = time.time(), time.perf_counter()
        lat: dict[str, float] = {}
        qcpu: dict[str, float] = {}
        with self.tracer.span("pass", pass_no=pass_no) as root:
            for name in pass_order(self.wl.queries, self.seed):
                res = self.run_query(name, pass_no, traced)
                if res is not None:
                    lat[name], qcpu[name] = res
        wall = time.perf_counter() - t0
        epoch1 = time.time()
        after, steal1 = procfs.tree(), procfs.steal_seconds()
        rec = {
            "pass": pass_no,
            "kind": kind,
            "traced": traced,
            "wall_s": wall,
            "cpu_s": procfs.cpu_seconds(after) - procfs.cpu_seconds(before),
            "latency_s": lat,
            "query_cpu_s": qcpu,
            "host_steal_s": steal1 - steal0,
        }
        if traced:
            cg1 = spans.codegen_counters(self.spark)
            rec.update(
                span_root=root,
                epoch=(epoch0, epoch1),
                compiles=cg1[0] - cg0[0],
                compile_mean_ms=cg1[1],
                pyworker_cpu_s=procfs.pyworker_cpu_seconds(after, self.jvm_pid)
                - procfs.pyworker_cpu_seconds(before, self.jvm_pid),
                scratch=_scratch_written(self.dirs.engine_scratch, epoch0),
            )
        self.tracer.enabled = False
        self.passes.append(rec)
        return rec

    def run_passes(self, seconds: float) -> None:
        """Cold pass, discarded warm-up, then whole measured passes until
        ``seconds`` have gone by. The traced run measures traced (T) and
        untraced (U) passes in T U U T order, so warm-up drift cancels
        out of the tracing overhead."""
        with self.phase("cold"):
            self.run_pass(0, "cold")
        with self.phase("warmup"):
            for p in range(1, 1 + self.wl.warmup_passes):
                self.run_pass(p, "warmup")
        with self.phase("measured"):
            deadline = time.perf_counter() + seconds
            i = 0
            while True:
                traced = self.traced and i % 4 in (0, 3)
                self.run_pass(1 + self.wl.warmup_passes + i, "measured", traced)
                i += 1
                if time.perf_counter() >= deadline and not (self.traced and i % 4):
                    break

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    # -- correctness gate -----------------------------------------------

    def check_results(self) -> None:
        """Run each query once more to pandas and compare with DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in fixture.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        t0 = time.perf_counter()
        failures = gate.compare(
            self.wl.queries,
            lambda n: self.queries[n].fn(self.spark, self.sf_dir).toPandas(),
            lambda n: con.execute(self.queries[n].oracle).df(),
        )
        con.close()
        self.phases["gate"] = time.perf_counter() - t0
        self.attempted += len(self.wl.queries)
        self.failed += len(failures)
        self.errors += [f"{n} gate: {'; '.join(p)[:300]}" for n, p in failures.items()]

    # -- teardown -------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, end the JVM, and wait for every child process."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        spark, self.spark = self.spark, None
        try:
            spark.stop()
        finally:
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            # the Python workers exit once the JVM is gone; kill stragglers
            deadline = time.monotonic() + 30
            killed = False
            while left := [p for p in procfs.tree() if p != os.getpid()]:
                if time.monotonic() > deadline + 5:
                    break
                if time.monotonic() > deadline and not killed:
                    for p in left:
                        try:
                            os.kill(p, signal.SIGKILL)
                        except OSError:
                            pass
                    killed = True
                time.sleep(0.2)


def _scratch_written(root: Path, since_epoch: float) -> tuple[int, int]:
    """(files, bytes) under the engine scratch dir modified since a time."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except OSError:
                continue
            if st.st_mtime >= since_epoch:
                files += 1
                size += st.st_size
    return files, size


# -- metrics ------------------------------------------------------------------


#: The gated warm figures are CPU costs. The wall-clock ones moved with
#: the CPU time the hypervisor gave to other guests by more than any
#: bound a gate may have (see README), so the traced run reports them
#: among the per-layer figures.
GATED_WARM = ("cpu_s_per_query", "warm_cpu_geomean_s")
WALL_WARM = {"warm_qpm": "1/min", "warm_geomean_s": "s", "warm_p90_s": "s"}


def warm_figures(b: Bench) -> dict[str, float]:
    """Warm figures over the run's untraced measured passes."""
    passes = [r for r in b.passes if r["kind"] == "measured" and not r["traced"]]
    return stats.warm_summary(passes, b.wl.queries)


def end_to_end(b: Bench) -> dict[str, dict]:
    warm = warm_figures(b)
    return {
        "setup_s": _m(statistics.median(b.setup_samples), "s"),
        **{k: _m(warm[k], "s") for k in GATED_WARM},
    }


def per_layer(b: Bench, run_dirs: RunDirs) -> tuple[dict[str, dict], dict]:
    traced = [r for r in b.passes if r["kind"] == "measured" and r["traced"]]
    untraced = [r for r in b.passes if r["kind"] == "measured" and not r["traced"]]
    events = spans.parse_event_logs(str(run_dirs.events))
    sp = b.tracer.spans
    rows = []
    split_err = 0.0
    for r in traced:
        split = stats.wall_split(sp, r["span_root"], spans.LAYER_OF)
        root = sp[r["span_root"]]
        split_err = max(split_err, abs(sum(split.values()) - (root["end"] - root["start"])))
        row = {k: split.get(k, 0.0) for k in (*spans.LAYER_OF.values(), "unattributed_s")}
        names = [s["name"] for s in sp if _under(sp, s, r["span_root"])]
        for span_name, metric in spans.CALLS_OF.items():
            row[metric] = names.count(span_name)
        tags = {t: v for t, v in events.items() if t.endswith(f":{r['pass']}")
                and t.startswith(f"{b.wl.name}:")}
        for key in ("jobs", "stages", "tasks"):
            row[f"spark.{key}"] = sum(v[key] for v in tags.values())
        for key in ("executor.deser_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
                    "scan.input_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
                    "spill.bytes"):
            row[key] = sum(v[key] for v in tags.values())
        e0, e1 = r["epoch"]
        jobs = [(max(a, e0), min(z, e1)) for v in tags.values() for a, z in v["job_spans"]]
        row["driver.outside_jobs_s"] = r["wall_s"] - stats.merged_length(
            j for j in jobs if j[1] > j[0])
        row["codegen.compiles"] = r["compiles"]
        row["codegen.compile_s"] = r["compiles"] * r["compile_mean_ms"] / 1e3
        row["pyworker.cpu_s"] = r["pyworker_cpu_s"]
        row["scratch.files_written"], row["scratch.bytes_written"] = r["scratch"]
        rows.append(row)
    metrics: dict[str, dict] = {}
    for key in rows[0]:
        metrics[key] = _m(statistics.fmean(row[key] for row in rows), _unit(key))
    for key, val in b.setup_spans.items():
        metrics[key] = _m(val, "s")
    metrics["cold_pass_s"] = _m(next(r["wall_s"] for r in b.passes if r["kind"] == "cold"), "s")
    warm = warm_figures(b)
    for key, unit in WALL_WARM.items():
        metrics[key] = _m(warm[key], unit)

    def qpm(rs):
        return 60.0 * sum(len(r["latency_s"]) for r in rs) / sum(r["wall_s"] for r in rs)

    metrics["trace.overhead_pct"] = _m(100.0 * (qpm(untraced) / qpm(traced) - 1.0), "%")
    detail = {
        "traced_passes": len(traced),
        "untraced_passes": len(untraced),
        "max_split_error_s": split_err,
        "bindings_wrapped": b.bindings,
    }
    return metrics, detail


def _under(sp: list[dict], s: dict, root: int) -> bool:
    p = s["parent"]
    while p is not None:
        if p == root:
            return True
        p = sp[p]["parent"]
    return False


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if "bytes" in key:
        return "bytes"
    return "count"


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# -- manifest -----------------------------------------------------------------


def manifest(b: Bench, args, cpus: int, load0, steal0: float, data_sha: str) -> dict:
    spark = b.spark
    conf = sorted(
        (k, v) for k, v in spark.conf.getAll.items()
        if k.startswith("spark.sql.") or k in (
            "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions")
    )
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": b.wl.name,
        "queries": list(b.wl.queries),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": socket.gethostname(),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_before": load0,
        "loadavg_after": os.getloadavg(),
        "host_steal_s": procfs.steal_seconds() - steal0,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "fixture": {"sf": DATA_SF, "seed": DATA_SEED, "sha256": data_sha},
        "conf_sha256": hashlib.sha256(json.dumps(conf).encode()).hexdigest(),
        "setup_samples_s": b.setup_samples,
        "phase_s": b.phases,
        "warmup_passes": b.wl.warmup_passes,
        "warm_figures": warm_figures(b),
        "passes": [
            {k: r[k] for k in ("pass", "kind", "traced", "wall_s", "cpu_s", "host_steal_s")}
            | {"queries": len(r["latency_s"])}
            | ({k: r[k] for k in ("latency_s", "query_cpu_s")} if r["kind"] == "measured" else {})
            for r in b.passes
        ],
        "errors": b.errors,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_present():
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load0, steal0 = os.getloadavg(), procfs.steal_seconds()
    t_fix = time.perf_counter()
    data_sha = ensure_fixture()
    sweep_stale()
    dirs = RunDirs(args.workload, args.seed)
    dirs.create()
    fixture_s = time.perf_counter() - t_fix
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    traced = bool(args.trace)
    configure_env(dirs, cpus, traced)
    sys.path.insert(0, str(ROOT))

    b = Bench(WORKLOADS[args.workload], args.seed, dirs, traced)
    try:
        with b.phase("setup"):
            b.setup(fixture_s)
        b.run_passes(args.seconds)
        b.check_results()
        info = manifest(b, args, cpus, load0, steal0, data_sha)
        if traced:
            jvm_rss = procfs.vm_hwm_mb(b.jvm_pid)
            b.stop()  # flushes the event log
            metrics, info["trace"] = per_layer(b, dirs)
            metrics["jvm.peak_rss_mb"] = _m(jvm_rss, "MiB")
            OUT_DIR.mkdir(exist_ok=True)
            out = OUT_DIR / f"{dirs.tag}-spans.json"
            out.write_text(json.dumps({"manifest": info, "spans": b.tracer.spans}))
        else:
            metrics = end_to_end(b)
    finally:
        try:
            b.stop()
        finally:
            dirs.clean()
    print(json.dumps({"manifest": info}), flush=True)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
