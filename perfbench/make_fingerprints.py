"""Rebuild perfbench/fingerprints.json: the result fingerprint of every
``query_mix`` query on perfbench/data/sf0.01, taken from its DuckDB twin
and confirmed against the Spark result before it is stored.

    python3 perfbench/make_fingerprints.py

Run from the root of a checkout. Takes a few minutes; the benchmark
itself only compares against the stored file.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import querymix  # noqa: E402


def main() -> int:
    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark
    from job_etl_spark.testing import duck_connection

    reg = registry()
    spark = get_spark("perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    out, bad = {}, []
    con = duck_connection(querymix.DATA)
    try:
        for q in querymix.QUERIES:
            res = con.execute(reg[q].oracle)
            duck = querymix.fingerprint([d[0] for d in res.description], res.fetchall())
            df = reg[q].fn(spark, querymix.DATA)
            ours = querymix.fingerprint(df.columns, df.collect())
            print(q, duck, "ok" if duck == ours else f"SPARK DIFFERS: {ours}", flush=True)
            if duck != ours:
                bad.append(q)
            out[q] = duck
    finally:
        con.close()
        spark.stop()
    if bad:
        print("not written: Spark and DuckDB disagree on", bad, file=sys.stderr)
        return 1
    with open(querymix.FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
