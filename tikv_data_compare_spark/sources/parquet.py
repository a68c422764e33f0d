"""Parquet-backed keyed sources — the engine's default cluster stand-in.

The reference opens two RawKV clusters by PD address (S2,
diff/diff.go:19-31); here a "cluster" is any DataFrame-producing source with
a declared key.  For the fixtures that's parquet; `load_keyed` applies the
range predicate *before* anything else so Catalyst pushes it into the scan
(row-group min/max pruning — the moral equivalent of shipping the range in
the Scan RPC, scan/scan.go:45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tikv_data_compare_spark.model import Keyed, unique_by_key

TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: tables whose declared key is NOT unique in the fixture data and need
#: unique_by_key before keyed comparison ops
NON_UNIQUE_KEYS = {"lineitem"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_keyed(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    start=None,
    end=None,
    ensure_unique: bool = True,
) -> Keyed:
    """Keyed view of a fixture table, range-restricted at the scan."""
    df = load_table(spark, sf_dir, name)
    keys = TABLE_KEYS[name]
    k = Keyed.of(df, keys=keys).in_range(start, end)
    if ensure_unique and name in NON_UNIQUE_KEYS:
        k = Keyed(unique_by_key(k.df, list(keys)), k.keys, k.values)
    return k
