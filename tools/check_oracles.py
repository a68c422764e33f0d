#!/usr/bin/env python
"""Self-check harness replicating the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf0.01 (or $SPARK_GRAFT_SF_DIR)
AND its oracle_sql() through DuckDB over the same parquet, then compares:
row count, column-name set, and the order-insensitive multiset of normalized
row values (columns sorted by name — the driver's documented compare).

Usage:  python tools/check_oracles.py [query_name ...]
        python tools/check_oracles.py --all [--out tools/oracle_sweep.jsonl]
Exit 0 iff every checked query matches; exit 2 on a usage error, including
a query name that is not in the registry.

``--all`` (r17, VERDICT r16 task 8): the committed-artifact form of the
full sweep — runs every registry row (same as passing no names) AND
writes one JSON line per row (name, status, rows, sec, detail) plus a
trailing summary line to ``--out`` (default ``tools/oracle_sweep.jsonl``),
converting "green locally" from a claim into a per-round record.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(v):
    if isinstance(v, Decimal):
        return int(v) if v == int(v) else float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    return v


def rows_to_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from tikv_data_compare_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    # data-dependent oracle literals (the dsir cost table) must be frozen
    # from the SAME parquet this run compares against — the dedicated var
    # exists so the driver's own env can never point them elsewhere
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    args = sys.argv[1:]
    sweep_out = None
    if "--out" in args:
        i = args.index("--out")
        if i + 1 >= len(args):
            # r18 (ADVICE): a missing value used to IndexError-traceback;
            # match the --all path's usage-style exit instead
            print("--out requires a path argument", file=sys.stderr)
            sys.exit(2)
        sweep_out = args[i + 1]
        del args[i : i + 2]
    if "--all" in args:
        args.remove("--all")
        if args:
            print("--all takes no query names", file=sys.stderr)
            sys.exit(2)
        if sweep_out is None:
            sweep_out = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "oracle_sweep.jsonl"
            )
    queries = entrymod.queries()
    # a name outside the registry would otherwise filter to nothing and
    # read as green: reject it before any Spark work
    unknown = sorted(set(args) - set(queries))
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    only = set(args)
    records: list[dict] = []

    t_start = time.time()
    spark = get_spark("check_oracles", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # explicit sf_dir threading (r15) — the env var set above remains only
    # as the fallback for no-arg harnesses like the driver's own gate
    oracles = entrymod.oracle_sql(sf_dir=sf_dir)
    failures, n_checked, n_rows_only = [], 0, 0

    for name, fn in queries.items():
        if only and name not in only:
            continue
        # session hygiene: without this, accumulated executor state inflates
        # later queries 10-30x in long sessions (see BASELINE.md note)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL] {name}: spark error: {str(e)[:300]}")
            records.append(
                {"name": name, "status": "fail",
                 "detail": f"spark error: {str(e)[:300]}",
                 "sec": round(time.time() - t0, 1)}
            )
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"[rows-only] {name}: {len(srows)} rows, {time.time()-t0:.1f}s")
            status = "rows_only" if srows else "fail"
            records.append(
                {"name": name, "status": status, "rows": len(srows),
                 "sec": round(time.time() - t0, 1)}
            )
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL] {name}: duckdb error: {str(e)[:300]}")
            records.append(
                {"name": name, "status": "fail",
                 "detail": f"duckdb error: {str(e)[:300]}",
                 "sec": round(time.time() - t0, 1)}
            )
            continue
        n_checked += 1
        problems = []
        if len(srows) != len(drows):
            problems.append(f"row count {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sm, dm = rows_to_multiset(srows, scols), rows_to_multiset(drows, dcols)
            if sm != dm:
                diff_s = list((sm - dm).items())[:3]
                diff_d = list((dm - sm).items())[:3]
                problems.append(f"value mismatch: spark-only={diff_s} duck-only={diff_d}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL] {name}: {'; '.join(p[:400] for p in problems)}")
            records.append(
                {"name": name, "status": "fail", "rows": len(srows),
                 "detail": "; ".join(p[:400] for p in problems),
                 "sec": round(time.time() - t0, 1)}
            )
        else:
            print(f"[ok]   {name}: {len(srows)} rows match, {time.time()-t0:.1f}s")
            records.append(
                {"name": name, "status": "ok", "rows": len(srows),
                 "sec": round(time.time() - t0, 1)}
            )

    print(
        f"\n{n_checked} oracle-checked, {n_rows_only} rows-only, {len(failures)} failures"
    )
    for name, why in failures:
        print(f"  FAIL {name}: {why[:500]}")
    if sweep_out is not None:
        import json

        with open(sweep_out, "w") as f:
            for rec in records:
                f.write(json.dumps(rec) + "\n")
            f.write(
                json.dumps(
                    {
                        "summary": True,
                        "sf_dir": sf_dir,
                        "oracle_checked": n_checked,
                        "rows_only": n_rows_only,
                        "failures": [n for n, _ in failures],
                        "wall_sec": round(time.time() - t_start, 1),
                    }
                )
                + "\n"
            )
        print(f"sweep record written: {sweep_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
