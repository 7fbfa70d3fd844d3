"""Driver-style correctness-gate simulation.

Replays the correctness gate: a bare SparkSession (no extra conf), the
FIRST 50 entries of ``__spark_entry__.queries()`` in order (or the
first ``first_n``, or only the queries named), each compared against
its ``oracle_sql()`` run by DuckDB over the same parquet — rows, schema
(column names), and canonicalized values.

Canonicalization mirrors tests/test_oracle_parity.py: DuckDB via
``fetchall()`` (native ints + None — NEVER fetchdf, which floats
nullable int64), floats rounded to 9 significant decimals, rows sorted
by stringified tuple with columns sorted by name.

Usage: python scripts/gate_sim.py [sf_dir] [first_n | name ...]
  e.g. python scripts/gate_sim.py <sf_dir> q141_image_phash_dedup q145_video_phash_dedup
SPARK_GRAFT_CPUS sets the local master width (default 32). Must run
from the repository root (Python workers resolve the package by cwd).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.getcwd())

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_val(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(canon_val(r[i]) for i in order) for r in rows
    ), sorted(cols)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    picks = sys.argv[2:]
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = SparkSession.builder.master(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    ).getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if len(picks) == 1 and picks[0].isdigit():
        names = list(queries)[: int(picks[0])]
    else:
        names = picks or list(queries)[:50]
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                status = f"rows-only ({len(srows)} rows)"
                n_pass += 1
            else:
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                sc, scn = canon_rows(scols, srows)
                oc, ocn = canon_rows(ocols, orows)
                if scn != ocn:
                    status = f"SCHEMA MISMATCH spark={scn} oracle={ocn}"
                    n_fail += 1
                elif sc != oc:
                    diff = [
                        (a, b) for a, b in zip(sc, oc) if a != b
                    ][:3]
                    status = (
                        f"VALUE MISMATCH rows {len(sc)}/{len(oc)} "
                        f"first-diffs={diff}"
                    ) if len(sc) == len(oc) else (
                        f"ROWCOUNT MISMATCH {len(sc)} vs {len(oc)}"
                    )
                    n_fail += 1
                else:
                    status = f"ok ({len(srows)} rows)"
                    n_pass += 1
        except Exception as exc:  # noqa: BLE001 - report and continue
            status = f"ERROR {type(exc).__name__}: {exc}"
            n_fail += 1
        print(f"{name}: {status} [{time.time() - t0:.1f}s]", flush=True)

    print(json.dumps({"pass": n_pass, "fail": n_fail, "n": len(names)}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
