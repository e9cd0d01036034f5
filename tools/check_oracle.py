"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at
sf0.01; compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from newsleak_spark.session import get_spark  # noqa: E402
from newsleak_spark.transcripts import TABLES  # noqa: E402


_DUCK2SPARK = {
    "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "DOUBLE": "double", "FLOAT": "float",
    "VARCHAR": "string", "DATE": "date", "BOOLEAN": "boolean",
}


def _duck_type(t) -> str:
    s = str(t).upper()
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    return _DUCK2SPARK.get(s, s.lower())


def _spark_type(t: str) -> str:
    return "timestamp" if t.startswith("timestamp") else t


def type_mismatches(scols, sdtypes, dcols, dtypes):
    """Result-TYPE mismatches (e.g. DuckDB HUGEINT vs Spark bigint).

    Normalized python values compare equal, but the driver's value hash
    is type-sensitive — round 1's u_set_algebra failed exactly this way.
    Catch it locally by comparing column types by (sorted) name."""
    sm = {c: _spark_type(t) for c, t in zip(scols, sdtypes)}
    dm = {c: _duck_type(t) for c, t in zip(dcols, dtypes)}
    return [
        (c, sm[c], dm[c]) for c in sorted(set(sm) & set(dm)) if sm[c] != dm[c]
    ]


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_val(r[i]) for i in idx))
    return sorted(cols), sorted(out, key=repr)


def _norm_val(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]
    # render twin-consuming oracles (english, IVF) against THIS sweep's
    # scale — the driver gate uses the default (gate scale sf0.01)
    import os

    from newsleak_spark.twins import ORACLE_SF_ENV, sf_tag

    os.environ[ORACLE_SF_ENV] = sf_tag(sf_dir)
    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except Exception:
            pass

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name} (rows-only: {len(srows)} rows)")
            n_pass += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        badtypes = type_mismatches(scols, [t for _, t in sdf.dtypes], dcols, dtypes)
        if badtypes:
            print(f"FAIL {name}: result types differ (spark vs duckdb): {badtypes}")
            n_fail += 1
        elif sc != dc:
            print(f"FAIL {name}: columns {sc} != {dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} != {len(dr)}")
            n_fail += 1
        elif sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {diff}")
            n_fail += 1
        else:
            print(f"ok   {name} ({len(sr)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
