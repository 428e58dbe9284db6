"""Strict driver-faithful correctness gate.

The driver's hasher compares raw cell values after a pandas sort — it is
sensitive to dtype shape (int64 vs float64, DECIMAL vs DOUBLE, list cells),
not just numeric value.  `tools/check_correctness.py` normalizes values and
so passes rows the driver rejects (round-6: mixture_plan, hash_embed_vectors).
This tool replicates the stricter comparison: sort columns by name, sort rows,
then compare (type-kind, stringified-value) per cell with floats rounded to 6
places but WITHOUT cross-type coercion — an int64 1407 vs float64 1407.0 is a
FAIL here, as it is for the driver.

Usage: python tools/strict_gate.py [sf_dir] [--only a,b] [--first N]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_INT_KINDS = (int, np.integer)
_FLOAT_KINDS = (float, np.floating)


def cell(v):
    """(kind, normalized string) — kind mismatches are failures."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is np.nan:
        return ("null", "")
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return ("bool", str(bool(v)))
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, _INT_KINDS):
        return ("int", str(int(v)))
    if isinstance(v, _FLOAT_KINDS):
        f = float(v)
        if math.isnan(f):
            return ("null", "")
        return ("float", repr(round(f, 6)))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", "[" + ",".join(f"{k}:{s}" for k, s in map(cell, v)) + "]")
    return (type(v).__name__, str(v))


def canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    return rows


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
    only = None
    first = None
    for i, a in enumerate(sys.argv):
        if a == "--only":
            only = sys.argv[i + 1].split(",")
        if a == "--first":
            first = int(sys.argv[i + 1])

    from pyspark.sql import SparkSession
    from confluent_data_ingestion_spark.queries import QUERIES, ORACLES

    # a misspelled row name must fail, not pass as "0/0"
    unknown = sorted(set(only or ()) - set(QUERIES))
    if unknown:
        print(f"strict gate: unknown rows {unknown}")
        return 1

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .appName("strict-gate")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    names = list(QUERIES)
    if only:
        names = [n for n in names if n in set(only)]
    if first:
        names = names[:first]

    n_fail = 0
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf)
            s_pdf = sdf.toPandas()
            s_rows = canon(s_pdf)
            if name not in ORACLES:
                print(f"{name:40s} ROWS-ONLY ({len(s_rows)} rows)")
                continue
            o_pdf = con.execute(ORACLES[name]).df()
            o_rows = canon(o_pdf)
            # the driver also compares schemas: identical values under
            # misaligned column NAMES must fail here, not at the driver
            if sorted(s_pdf.columns) != sorted(o_pdf.columns):
                n_fail += 1
                print(
                    f"{name:40s} FAIL cols {sorted(s_pdf.columns)}"
                    f" vs {sorted(o_pdf.columns)}"
                )
                continue
            if s_rows == o_rows:
                print(f"{name:40s} OK ({len(s_rows)} rows)")
            else:
                n_fail += 1
                print(f"{name:40s} FAIL rows {len(s_rows)} vs {len(o_rows)}")
                for a, b in zip(s_rows, o_rows):
                    if a != b:
                        print(f"  spark : {a}")
                        print(f"  oracle: {b}")
                        break
        except Exception as e:  # noqa: BLE001 — report and continue
            n_fail += 1
            print(f"{name:40s} ERR {type(e).__name__}: {e}")
    spark.stop()
    print(f"strict gate: {len(names) - n_fail}/{len(names)} pass")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
