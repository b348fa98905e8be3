#!/usr/bin/env python3
"""Derive ``expected_pipeline.json``: each pipeline query's row count
and content fingerprint, computed from its DuckDB oracle over the
committed tables.

Before writing, every query is also run on Spark and compared with its
oracle by ``tools/check_oracles.py``'s comparison (row count, column
names, sorted values); the Spark fingerprint must equal the oracle's.
Any disagreement aborts without writing.

    python3 perfbench/derive_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def main() -> int:
    from perfbench import host, pipeline

    work = os.path.join(ROOT, ".perfbench", "derive")
    host.apply_env(work)
    os.environ["TZ"] = "UTC"

    import check_oracles

    from hbasewd_spark.queries import REGISTRY, oracle_sql

    oracles = oracle_sql()
    con = check_oracles.duck_con(pipeline.TABLES_DIR)
    spark, _ = host.start_session()
    expected, bad = {}, []
    for name in pipeline.QUERIES:
        rel = con.sql(oracles[name])
        cols, duck_rows = rel.columns, rel.fetchall()
        duck_fp = pipeline.fingerprint(cols, duck_rows)
        df = REGISTRY[name].fn(spark, pipeline.TABLES_DIR)
        rows = df.collect()
        errs = check_oracles.compare(name, df.toPandas(), con.sql(oracles[name]).df())
        spark_fp = pipeline.fingerprint(df.columns, rows)
        if spark_fp != duck_fp:
            errs.append("fingerprints differ")
        print(f"{'ok  ' if not errs else 'FAIL'} {name}: {len(duck_rows)} rows {'; '.join(errs)}")
        bad += errs
        expected[name] = {"rows": len(duck_rows), "fingerprint": duck_fp}
    host.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        return 1
    out = {
        "source": "DuckDB oracle_sql() of each query over perfbench/tables, "
        "cross-checked against Spark with tools/check_oracles.py's compare()",
        "queries": expected,
    }
    with open(pipeline.EXPECTED, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
