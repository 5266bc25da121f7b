"""Correctness gate for ``__spark_entry__.py``: run every ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB at the same sf, then
compare column names, row count and the multiset of row values. Queries
without an oracle are checked for running only (rows-only).

    python3 scripts/check_oracle_quick.py [sf_dir] [q1,q2,...]

``sf_dir`` defaults to ``testdata/sf0.01`` beside the checkout. Prints
PASS / FAIL / ERROR (or ``rows-only``) per query and exits 1 if any query
failed or errored.
"""
import math
import os
import sys
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(REPO), "testdata", "sf0.01")
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

from amundsendatabuilder_spark.session import get_spark  # noqa: E402
import __spark_entry__ as E  # noqa: E402


def norm(v):
    """Hashable, NaN-safe form of one cell: floats round to 9 places and NaN
    becomes a marker (NaN != NaN would fail every row holding one); arrays,
    structs and maps become tuples. Numeric equality across int / float /
    Decimal is kept, so a Spark 1.0 matches a DuckDB 1."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted(((str(k), norm(x)) for k, x in v.items()),
                            key=lambda kv: kv[0]))
    return v


spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, oracles = E.queries(), E.oracle_sql()
failures = 0
for name in ONLY or list(qs):
    try:
        sdf = qs[name](spark, SF)
        scols = sorted(sdf.columns)
        srows = [tuple(norm(r[c]) for c in scols) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only spark={len(srows)} (no oracle)")
            continue
        res = con.execute(oracles[name])
        names = [d[0] for d in res.description]
        dcols = sorted(names)
        order = sorted(range(len(names)), key=lambda i: names[i])
        drows = [tuple(norm(r[i]) for i in order) for r in res.fetchall()]
        ok_cols = scols == dcols
        ok_vals = Counter(srows) == Counter(drows)
        status = "PASS" if ok_cols and ok_vals else "FAIL"
        failures += status == "FAIL"
        print(f"{name}: {status} spark={len(srows)} duck={len(drows)} "
              f"cols={'OK' if ok_cols else (scols, dcols)}")
        if ok_cols and not ok_vals and len(srows) == len(drows):
            extra = Counter(srows) - Counter(drows)
            missing = Counter(drows) - Counter(srows)
            print("   first diff:", next(iter(extra)), "vs", next(iter(missing)))
    except Exception as e:
        failures += 1
        print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}")
print(f"\n{failures} failures")
sys.exit(1 if failures else 0)
