"""DuckDB oracle for the curate workload, and the pinned full-scale answer.

The engine registers a declarative DuckDB recomputation of every curation
stage (``oracle_sql()["curation_pipeline"]``).  At full scale it runs for
tens of minutes, so its answer for the fixed full-scale corpus is pinned in
``curate_expected.json`` once; smaller corpora (the smoke test) run it live.
The seed never changes the corpus content, only its row order and file
split, so one pin serves every seed.

Pin (re)generation::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PIN = os.path.join(HERE, "curate_expected.json")


def curate_rows(sf_dir: str, threads: int = 0) -> list[list]:
    """``[part, label, n1, n2, n3]`` rows of the curation_pipeline oracle
    over ``sf_dir/documents.parquet``, sorted; ``threads=0`` uses all
    cores."""
    import duckdb

    from tikv_data_compare_spark import queries

    sql = queries.oracle_sql(sf_dir)["curation_pipeline"]
    con = duckdb.connect()
    try:
        con.sql("SET enable_progress_bar = false")
        if threads:
            con.sql(f"SET threads = {threads}")
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        return sorted([list(r) for r in con.sql(sql).fetchall()])
    finally:
        con.close()


def pinned() -> dict:
    """``{"n_docs": ..., "rows": [...]}`` as pinned for the full corpus."""
    with open(PIN) as fh:
        return json.load(fh)


def main() -> None:
    import pyarrow.parquet as pq

    import gen

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        pq.write_table(gen.documents(gen.FULL.n_docs), os.path.join(tmp, "documents.parquet"))
        rows = curate_rows(tmp, threads=2)
    with open(PIN, "w") as fh:
        body = ",\n  ".join(json.dumps(r) for r in rows)
        fh.write(f'{{"n_docs": {gen.FULL.n_docs},\n "rows": [\n  {body}\n ]}}\n')
    print(f"pinned {len(rows)} rows to {PIN}")


if __name__ == "__main__":
    sys.path[:0] = [HERE, os.getcwd()]
    main()
