"""Focused driver-style parity check for named queries.

Same canonicalization as scripts/gate_sim.py (fetchall, 9-sig-digit
floats, rows sorted with columns sorted by name) but runs only the
queries named on the command line — for iterating on one query without
the full 50-entry sweep.

Usage: python scripts/check_query.py q146_corpus_recipe_multimodal [more...]
       [--sf /root/testdata/sf0.01]
Must run with cwd=/root/repo (Python workers resolve the package by cwd).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))

from gate_sim import canon_rows  # noqa: E402  (scripts/ sibling import)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    ).getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry.queries()
    oracles = entry.oracle_sql()
    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name not in oracles:
                print(f"{name}: rows-only ({len(srows)} rows) "
                      f"[{time.time() - t0:.1f}s]")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            sc, scl = canon_rows(scols, srows)
            oc, ocl = canon_rows(ocols, orows)
            ok = scl == ocl and sc == oc
            n_fail += 0 if ok else 1
            status = "ok" if ok else "MISMATCH"
            print(
                f"{name}: {status} (spark {len(srows)} vs oracle "
                f"{len(orows)} rows; cols {scl == ocl}) "
                f"[{time.time() - t0:.1f}s]"
            )
            if not ok and sc != oc:
                only_s = [r for r in sc if r not in set(oc)][:3]
                only_o = [r for r in oc if r not in set(sc)][:3]
                print(f"  spark-only: {only_s}")
                print(f"  oracle-only: {only_o}")
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
