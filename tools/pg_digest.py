#!/usr/bin/env python
"""Digest of everything the registry feeds the PG frontend.

Wraps ``pgcompat.translate_pg_sql`` before the registry loads its
modules (so every ``from ... import translate_pg_sql`` binds the
wrapper), then calls each registered query's ``fn`` on a vanilla
session without collecting it. Prints one sorted line per distinct
frontend input, ``sha256(input) sha256(output)``, and a closing count
line. An input the frontend rejects digests its exception type and
message instead of an output, so a changed error shows up too.

A refactor of the frontend should leave the output byte-identical
between the parent commit and the change:

    python tools/pg_digest.py <sf_dir> > after.txt
    diff before.txt after.txt

``shard:K:N`` takes every Nth query (by name) starting at K; merge the
shards with ``cat s0 s1 | grep -v '^#' | sort -u``. Queries run in name
order, so two commits with different sample orders digest alike.

Usage: python tools/pg_digest.py <sf_dir> [shard:K:N]
"""

from __future__ import annotations

import functools
import hashlib
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import SparkSession  # noqa: E402

from cloudberry_spark.registry import all_queries  # noqa: E402
from cloudberry_spark.sql import pgcompat  # noqa: E402


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8", "surrogatepass")).hexdigest()


def _record(translate, seen: dict[str, set[str]]):
    """``translate`` that adds each input's output digest to ``seen``."""

    @functools.wraps(translate)
    def wrapper(sql: str) -> str:
        try:
            out = translate(sql)
        except Exception as ex:
            out = f"!{type(ex).__name__}: {ex}"
            raise
        finally:
            seen.setdefault(_sha(sql), set()).add(_sha(out))
        return out

    return wrapper


def main() -> int:
    sf_dir = sys.argv[1]
    filt = sys.argv[2] if len(sys.argv) > 2 else ""
    seen: dict[str, set[str]] = {}
    # before all_queries() imports the operator modules
    pgcompat.translate_pg_sql = _record(pgcompat.translate_pg_sql, seen)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pg-digest")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sorted(qs)
    if filt.startswith("shard:"):
        _, k, n = filt.split(":")
        names = names[int(k) :: int(n)]
    failed = 0
    for name in names:
        try:
            qs[name].fn(spark, sf_dir)
        except Exception as ex:
            failed += 1
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:160]}",
                  file=sys.stderr)
    lines = sorted(f"{i} {o}" for i, outs in seen.items() for o in outs)
    print("\n".join(lines))
    print(f"# {len(seen)} distinct inputs, {len(names)} queries, "
          f"{failed} failed")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
