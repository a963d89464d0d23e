"""Strict driver-fidelity audit: exact values + pandas dtypes.

The per-round correctness driver compares Spark and DuckDB results by
hashing pandas frames — dtype-sensitive and bit-exact, with NO float
normalization. The tests and tools/driver_sim.py judge with that
comparator (``canon_frame`` + ``frames_match``); this audit is a second,
independently written check of the failure classes that went red in
CORRECTNESS_r02:

  1. float accumulation-order drift (Spark partial aggs vs DuckDB order),
  2. int-vs-FLOAT kind divergence (e.g. a Spark BIGINT window sum vs a
     DuckDB HUGEINT that lands as float64 — the CORRECTNESS_r05 red;
     integer WIDTHS int8/int32/int64 hash identically in the driver's
     pandas hash and are NOT flagged),
  3. timestamps outside the pandas ns range (Arrow ArrowInvalid on cast).

This audit reproduces the stricter bar: for every registered query with
an oracle, collect BOTH sides as pandas via Arrow, sort columns by name,
totally order rows, then require (a) identical dtype kinds per column
and (b) bit-exact values (floats compared with ==, no rounding).

It is stricter than the driver on one pair: a Spark DECIMAL column
(pandas object of Decimal) against a DuckDB float64 one fails (a) here,
while the driver accepted it (regress_rngf_multi_unnest_ordinality,
CORRECTNESS_r12) and ``canon_frame`` unifies it.

Usage: python tools/strict_audit.py [sf_dir] [name_filter...]
Exit 0 iff everything matches. Prints one line per problem query.
"""

from __future__ import annotations

import datetime
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cloudberry_spark.catalog import TABLES  # noqa: E402
from cloudberry_spark.registry import all_queries  # noqa: E402
from cloudberry_spark.session import get_session  # noqa: E402

NS_MIN = pd.Timestamp.min
NS_MAX = pd.Timestamp.max


def _cell_str(x) -> str:
    """NULL-stable stringification: None and (float) NaN sort together —
    the two engines render SQL NULL differently per column dtype
    (object None vs float64 NaN) and a divergent sort key would
    misalign whole rows."""
    if x is None:
        return "\x00"
    if isinstance(x, float) and x != x:
        return "\x00"
    return str(x)


def _unify_dates(s: pd.Series) -> pd.Series:
    """A date column as tz-naive ``datetime64[us]``, the way
    ``driver_sim.canon_frame`` spells it: Spark DATE arrives as object
    of ``datetime.date`` and DuckDB's as ``datetime64``, and the two
    stringify differently (``1401-05-21`` vs ``1401-05-21 00:00:00``).
    us, not ns: pre-1677 dates overflow ns."""
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.astype("datetime64[us]")
    nn = s.dropna() if s.dtype == object else ()
    if len(nn) and nn.map(
        lambda x: isinstance(x, (datetime.date, datetime.datetime))
    ).all():
        return s.astype("datetime64[us]")
    return s


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns, key=str.lower)]
    df.columns = [c.lower() for c in df.columns]
    # one spelling per date before the row sort, so both frames order
    # their rows alike
    df = df.apply(_unify_dates)
    # total row order: stringify every cell (NULL-stable), sort on the
    # tuple — mirrors the driver's canonicalization.
    if len(df):
        key = df.apply(
            lambda r: "\x00".join(_cell_str(x) for x in r), axis=1
        )
        df = df.loc[key.sort_values(kind="mergesort").index].reset_index(
            drop=True
        )
    return df


def _dtype_kind(dt) -> str:
    """Collapse dtypes to the equivalence the driver's hash cares about.

    Integer WIDTHS collapse (int8/int32/int64 all hash identically in
    pandas.util.hash_pandas_object — proven by rounds of driver-green
    rows with Spark int32 vs DuckDB int64 outputs); int-vs-float and
    Decimal-vs-native stay distinct (the classes that went red)."""
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    if s.startswith(("int", "uint")):
        return "int"
    return s


def compare(name: str, spark_pd: pd.DataFrame, ddb_pd: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pd) != len(ddb_pd):
        return [f"rows {len(spark_pd)} vs {len(ddb_pd)}"]
    a, b = _canon(spark_pd), _canon(ddb_pd)
    if list(a.columns) != list(b.columns):
        return [f"cols {list(a.columns)} vs {list(b.columns)}"]
    for c in a.columns:
        ka, kb = _dtype_kind(a[c].dtype), _dtype_kind(b[c].dtype)
        if ka != kb:
            # object-vs-concrete is usually fine (strings); flag numeric
            # width/kind mismatches, the driver-visible hazard.
            if "object" in (ka, kb) and not (
                {"int32", "int64", "float32", "float64"} & {ka, kb}
            ):
                continue
            problems.append(f"dtype[{c}] {ka} vs {kb}")
    if problems:
        return problems
    for c in a.columns:
        va, vb = a[c].to_numpy(), b[c].to_numpy()
        if va.dtype.kind == "f" or vb.dtype.kind == "f":
            va = va.astype("float64")
            vb = vb.astype("float64")
            neq = ~((va == vb) | (np.isnan(va) & np.isnan(vb)))
        elif va.dtype.kind == "M" or vb.dtype.kind == "M" or (
            len(a) and isinstance(a[c].iloc[0], (pd.Timestamp,))
        ):
            # datetime-ish: compare NaT==NaT, and date == midnight
            # timestamp (Spark DATE arrives as object-of-date, DuckDB
            # DATE as datetime64 — the driver's canonicalizer treats
            # them alike, proven by green r2 rows with DATE outputs).
            # us (not ns) resolution: pre-1677 dates (the olap sale
            # fixture's year 1401) overflow datetime64[ns].
            sa = pd.Series(va).astype("datetime64[us]")
            sb = pd.Series(vb).astype("datetime64[us]")
            neq = ~((sa == sb) | (sa.isna() & sb.isna())).to_numpy()
        else:
            if va.dtype == object or vb.dtype == object:
                # SQL NULL arrives as None on one engine and float NaN
                # on the other in object columns (e.g. boolean-with-
                # NULL); unify before comparing
                def _nn(arr):
                    return np.array(
                        [
                            None
                            if x is None
                            or (isinstance(x, float) and x != x)
                            else x
                            for x in arr
                        ],
                        dtype=object,
                    )

                va, vb = _nn(va), _nn(vb)
            try:
                neq = va != vb
                # object columns of lists -> elementwise array; reduce
                if getattr(neq, "ndim", 1) > 1:
                    neq = neq.any(axis=tuple(range(1, neq.ndim)))
            except Exception:
                neq = np.array(
                    [str(x) != str(y) for x, y in zip(va, vb)]
                )
        n = int(np.sum(neq))
        if n:
            i = int(np.argmax(neq))
            problems.append(
                f"{n} exact mismatches in [{c}], first row {i}: "
                f"{a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    spark = get_session("strict-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = all_queries()
    names = [
        n
        for n in sorted(qs)
        if not filters or any(f in n for f in filters)
    ]
    ok = bad = skipped = 0
    for name in names:
        q = qs[name]
        if q.oracle is None:
            skipped += 1
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark/arrow error: {str(ex)[:300]}")
            bad += 1
            continue
        try:
            ddb_pd = con.execute(q.oracle).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            bad += 1
            continue
        problems = compare(name, spark_pd, ddb_pd)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)[:500]}")
            bad += 1
        else:
            ok += 1
            if "-v" in sys.argv:
                print(f"ok   {name} [{time.time() - t0:.1f}s]")
    print(f"== strict: {ok} ok, {bad} fail, {skipped} no-oracle ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
