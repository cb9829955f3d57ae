"""Local mimic of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted). Each
query's frame is released after its collect (``operators.cache.release``);
any persisted RDD (cache or localCheckpoint) the query left behind is a
``LEAK <name>`` failure — except checkpoint blocks that no frame
references any more, which the JVM ContextCleaner frees after a GC.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import math
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from automated_datastore_discovery_with_aws_glue_spark.operators.cache import release
from automated_datastore_discovery_with_aws_glue_spark.session import get_spark
from automated_datastore_discovery_with_aws_glue_spark.sources.readers import TESTDATA_TABLES


#: value types the DRIVER's canonicalization can handle.  The driver
#: sorts every output column through pandas ``sort_values`` →
#: ``factorize``, which throws ``TypeError: unhashable type`` on list /
#: dict / ndarray cells (bit r7's ``mm_pixel_stats``: values equal,
#: harness crash).  Mimic that strictness here so an array/map/struct
#: output column fails LOCALLY, before the driver ever sees it.
_SCALAR_TYPES = (type(None), bool, int, float, str, bytes)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if not isinstance(v, _SCALAR_TYPES) and not _is_scalar_ts(v):
                raise NonScalarColumn(
                    f"column {cols[i]!r} holds {type(v).__name__} "
                    f"({v!r:.60}); the driver's pandas canonicalization "
                    f"cannot sort non-scalar cells — emit atomic columns"
                )
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "NaN"
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


class NonScalarColumn(TypeError):
    """A declared query emitted a column the driver harness cannot sort."""


def _is_scalar_ts(v) -> bool:
    # datetime/date (Spark TimestampType/DateType) sort fine in pandas
    import datetime

    return isinstance(v, (datetime.date, datetime.datetime, datetime.time))


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _left_behind(spark, before: set[int]) -> set[int]:
    """Persisted RDDs the query left behind. Checkpoint blocks whose
    frames are all gone belong to the ContextCleaner, which frees them
    once a GC finds the frames unreachable and it has worked through
    its queue — so run GCs for a while before calling anything a leak
    (a registered cache stays referenced, so a real leak never drains)."""
    left = _persistent_rdd_ids(spark) - before
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        left = _persistent_rdd_ids(spark) - before
    return left


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd filter must not report a false-green "0 pass, 0 fail"
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 1
    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        before = _persistent_rdd_ids(spark)
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            release(sdf)
            del sdf
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        leaked = _left_behind(spark, before)
        if leaked:
            print(f"LEAK {name}: {len(leaked)} persisted RDD(s) left after release")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            try:
                normalize(s_rows, s_cols)
            except NonScalarColumn as e:
                print(f"FAIL {name}: non-scalar output column: {e}")
                n_fail += 1
                continue
            print(f"SKIP {name}: no oracle (rows-only: {len(s_rows)} rows)")
            n_skip += 1
            continue
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            sc, sr = normalize(s_rows, s_cols)
            dc, dr = normalize(d_rows, d_cols)
        except NonScalarColumn as e:
            print(f"FAIL {name}: non-scalar output column: {e}")
            n_fail += 1
            continue
        if sc != dc:
            print(f"FAIL {name}: columns {sc} != {dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} != {len(dr)}")
            n_fail += 1
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
