"""Simulate the driver harness against __spark_entry__.py.

Builds a *vanilla* SparkSession (the driver's, not ours — so runtime
configure_session must do all compat work), runs entry(), then runs every
queries() entry at the given SF side-by-side with its oracle_sql() on
DuckDB, comparing row count / column names / a strict pandas value hash.

The comparator deliberately mirrors (and is at least as strict as) the
driver's pandas canonicalizer:

* **dtype-sensitive**: both frames are hashed with
  ``pandas.util.hash_pandas_object`` after column-name sort + row sort.
  An int64 column of 1s does NOT match a float64 column of 1.0s — the
  exact failure class of the CORRECTNESS_r05 window-SUM red.
* **no float rounding**: values are hashed exactly; Spark/DuckDB must
  agree bit-for-bit (queries must round/cast in SQL where engines
  legitimately differ).
* **hard error on complex output columns**: a top-level ARRAY/MAP
  column raises TypeError inside the hash, which is reported as FAIL —
  the driver records the same situation as a harness ERROR
  (CORRECTNESS_r01 agg_array_agg; r05: five more). A top-level STRUCT
  column arrives as hashable ``Row`` cells and passes the hash, so
  ``complex_fields`` flags it from the Spark schema instead.

``tests/conftest.py::assert_matches_oracle`` judges with the same
``canon_frame`` + ``frames_match``, so the suite and this replica
agree on every query.

Usage: python tools/driver_sim.py [sf_dir] [name_filter|first:N]
Exit code 0 iff everything matches. A lost Spark session stops the run
at the query that found it, with exit code 2.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from py4j.protocol import Py4JNetworkError
from pyspark.sql import SparkSession
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as e  # noqa: E402
from cloudberry_spark.catalog import TABLES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
FILT = sys.argv[2] if len(sys.argv) > 2 else ""

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def complex_fields(schema: T.StructType) -> list[str]:
    """Top-level ARRAY/MAP/STRUCT output columns, as ``name:type``.

    The driver hashes both result frames; such a column errors it or
    is hashed by its string form. Scalarize on BOTH engines instead
    (sorted ``array_join`` strings / per-element columns — the
    array_set_operations pattern, operators/arrays.py).
    """
    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, COMPLEX)
    ]


def _row_key(df: pd.DataFrame) -> pd.Series:
    """Deterministic row sort key: stringified cells (NaN-stable)."""
    def cell(x):
        if x is None:
            return "\x00"
        if isinstance(x, float) and x != x:
            return "\x01NaN"
        return str(x)

    if not len(df.columns):
        return pd.Series([""] * len(df))
    return df.apply(lambda r: "\x1f".join(cell(x) for x in r), axis=1)


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name sort, row sort, representation-only dtype unification.

    The ONLY coercions are exact-value-preserving representation
    differences between the two engines' pandas bridges (Spark DECIMAL
    arrives as object(Decimal) while DuckDB's .df() gives float64;
    Spark DATE arrives as object(datetime.date) while DuckDB gives
    datetime64). int-vs-float and None-vs-'' stay distinct; float
    values are never rounded.
    """
    import datetime as _dt
    from decimal import Decimal as _Dec

    df = df.copy()
    df.columns = [str(c).lower() for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            # us (not ns) resolution: DuckDB hands back us frames and
            # pre-1677 dates (regress horology rows) overflow ns
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == np.float32:
            df[c] = s.astype("float64")
        elif s.dtype == object:
            nn = s.dropna()
            if len(nn) and nn.map(lambda x: isinstance(x, _Dec)).all():
                df[c] = s.astype("float64")
            elif len(nn) and nn.map(
                lambda x: isinstance(x, (_dt.date, _dt.datetime))
            ).all():
                df[c] = s.astype("datetime64[us]")
    if len(df):
        df = df.loc[_row_key(df).sort_values(kind="mergesort").index]
        df = df.reset_index(drop=True)
    return df


def frames_match(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions ([] == match).

    Raises TypeError on unhashable cells (complex-typed columns) — the
    caller reports that as a hard FAIL, mirroring the driver's ERROR.
    """
    problems: list[str] = []
    if len(sdf) != len(ddf):
        problems.append(f"rows {len(sdf)} vs {len(ddf)}")
    if list(sdf.columns) != list(ddf.columns):
        problems.append(f"cols {list(sdf.columns)} vs {list(ddf.columns)}")
    if problems:
        return problems
    # dtype-sensitive, no-rounding value hash (driver-faithful). Hash
    # per column so a TypeError names the offending column.
    sh = pd.util.hash_pandas_object(sdf, index=False).to_numpy()
    dh = pd.util.hash_pandas_object(ddf, index=False).to_numpy()
    if not np.array_equal(sh, dh):
        n = int((sh != dh).sum())
        idx = int(np.nonzero(sh != dh)[0][0])
        srow, drow = sdf.iloc[idx].to_dict(), ddf.iloc[idx].to_dict()
        dt = ""
        if [str(t) for t in sdf.dtypes] != [str(t) for t in ddf.dtypes]:
            dt = (f"; dtypes {[str(t) for t in sdf.dtypes]} vs "
                  f"{[str(t) for t in ddf.dtypes]}")
        problems.append(f"{n} row-hash mismatches, first row {idx}: "
                        f"{srow} vs {drow}{dt}")
    return problems


def lost_session(ex: BaseException | None) -> BaseException | None:
    """The lost connection to the Spark JVM in ``ex``'s ``__cause__``
    chain, if there is one. ``session.require_conf`` raises its
    RuntimeError from the refused connection, so a dead JVM would
    otherwise read as a conf failure of every later query."""
    while ex is not None and not isinstance(ex, (ConnectionError, Py4JNetworkError)):
        ex = ex.__cause__
    return ex


def main() -> int:
    import os

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        # default-1g heaps die collecting sf0.1 results; the knob keeps
        # the session otherwise vanilla (DRIVER_SIM_MEM=1g to mimic a
        # stock spark-submit exactly)
        .config(
            "spark.driver.memory", os.environ.get("DRIVER_SIM_MEM", "4g")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    print("== entry() smoke ==")
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry -> {len(rows)} rows, schema: {df.schema.simpleString()[:120]}")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    ok = bad = 0
    names = list(qs)
    # "first:N" filter replays exactly the driver's prefix sample
    if FILT.startswith("first:"):
        names = names[: int(FILT.split(":")[1])]
    # "shard:K:N" takes every Nth query starting at K (parallel full runs)
    if FILT.startswith("shard:"):
        _, k, n = FILT.split(":")
        names = names[int(k) :: int(n)]
    # comma-separated filters are substring alternatives (OR)
    if "," in FILT:
        alts = [f for f in FILT.split(",") if f]
        names = [n for n in names if any(f in n for f in alts)]
    elif FILT and not FILT.startswith(("first:", "shard:")):
        names = [n for n in names if FILT in n]
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as ex:
            lost = lost_session(ex)
            if lost is not None:
                print(f"LOST {name}: the Spark session is gone "
                      f"({type(lost).__name__}: {str(lost)[:120]}); "
                      f"{len(names) - i - 1} queries not run")
                return 2
            print(f"FAIL {name}: spark error {str(ex)[:200]}")
            bad += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(spdf)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            ok += 1
            continue
        cf = complex_fields(sdf.schema)
        if cf:
            print(f"FAIL {name}: complex top-level columns {cf} "
                  f"(scalarize on BOTH engines)")
            bad += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {str(ex)[:200]}")
            bad += 1
            continue
        try:
            problems = frames_match(canon_frame(spdf), canon_frame(dpdf))
        except TypeError as ex:
            # unhashable cell (ARRAY/MAP output) — the driver
            # records this as a harness ERROR; we fail hard
            print(f"FAIL {name}: unhashable cells (driver would ERROR): "
                  f"{str(ex)[:160]}")
            bad += 1
            continue
        except Exception as ex:
            # any other canonicalization blow-up (e.g. datetime range)
            # is a FAIL for this query, never a crash of the whole run
            print(f"FAIL {name}: canonicalize error "
                  f"{type(ex).__name__}: {str(ex)[:160]}")
            bad += 1
            continue
        if problems:
            print(f"FAIL {name}: {'; '.join(p[:400] for p in problems)}")
            bad += 1
        else:
            print(f"ok   {name}: {len(spdf)} rows match [{time.time()-t0:.1f}s]")
            ok += 1
    print(f"== {ok} ok, {bad} fail ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
