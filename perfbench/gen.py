"""Seeded input generation for the benchmark workloads.

Base tables are a fixed function of the :class:`Scale` and never of
``--seed``: a TPC-H-shaped ``lineitem``, unique by ``(l_orderkey,
l_linenumber)`` like the sf0.1 table after ``model.unique_by_key``, and a
text corpus shaped like the sf0.1 ``documents`` table (uniform 10-100 words
over a 30-word vocabulary, 5% near-duplicates marked by one inserted
``dup`` word, a few exact copies).  The seed only chooses what each
workload varies: where drift is planted in the destination KV side, or how
the corpus rows are ordered and split into files.

The KV side is the engine's own rendering (``model.to_kv``), written once
per scale as range-partitioned, key-sorted parquet, so a seed's drift
rewrites only the files its key range touches.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240601
KEYS = ["l_orderkey", "l_linenumber"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


@dataclass(frozen=True)
class Scale:
    """Input sizes.  ``FULL`` is what the benchmark measures; ``SMOKE``
    is the sf0.001 shape its smoke test runs."""

    kv_rows: int  # lineitem rows before key dedup, kv_compare
    kv_orders: int
    kv_replicas: int
    kv_files: int
    dump_rows: int  # lineitem rows before key dedup, dump_roundtrip
    dump_orders: int
    n_docs: int


FULL = Scale(600_000, 150_000, 2, 16, 65_000, 16_250, 600)
SMOKE = Scale(6_000, 1_500, 3, 4, 6_000, 1_500, 200)


def lineitem(n: int, n_orders: int, replicas: int = 1) -> pa.Table:
    """Typed lineitem rows (``n`` before key dedup), unique by key, sorted
    by key.  Replica ``i`` shifts ``l_orderkey`` by ``i * n_orders``
    (disjoint key spaces)."""
    rng = np.random.default_rng(BASE_SEED)
    ok = rng.integers(0, n_orders, n)
    ln = rng.integers(1, 8, n).astype(np.int32)
    _, first = np.unique(ok * 8 + ln, return_index=True)
    first.sort()
    cols = {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_orders // 7 + 1, n),
        "l_suppkey": rng.integers(0, max(n_orders // 150, 10), n),
        "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (
            np.datetime64("1995-01-02") + rng.integers(0, 2498, n).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    }
    cols = {k: v[first] for k, v in cols.items()}
    order = np.lexsort((cols["l_linenumber"], cols["l_orderkey"]))
    cols = {k: v[order] for k, v in cols.items()}
    parts = []
    for i in range(replicas):
        rep = dict(cols)
        rep["l_orderkey"] = cols["l_orderkey"] + i * n_orders
        parts.append(pa.table(rep))
    return pa.concat_tables(parts)


def documents(n: int) -> pa.Table:
    """The fixed text corpus of ``n`` docs (doc_id, text, lang, source,
    n_chars)."""
    rng = np.random.default_rng(BASE_SEED + 1)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i >= 100 and i % 625 == 313:  # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_kv(spark, typed: pa.Table, out: str, n_files: int) -> None:
    """Render ``typed`` through ``model.to_kv`` into ``n_files`` key-range
    partitioned, key-sorted parquet files under ``out``."""
    import tempfile

    from tikv_data_compare_spark.model import to_kv

    with tempfile.TemporaryDirectory() as tmp:
        typed_path = os.path.join(tmp, "typed.parquet")
        pq.write_table(typed, typed_path)
        (
            to_kv(spark.read.parquet(typed_path), KEYS)
            .repartitionByRange(n_files, "key")
            .sortWithinPartitions("key")
            .write.mode("overwrite")
            .parquet(out)
        )


def kv_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def encode_key(orderkey: int, linenumber: int) -> bytes:
    """``model.to_kv``'s key bytes: sign-flipped big-endian int64 per column."""
    flip = 1 << 63
    return (orderkey ^ flip).to_bytes(8, "big") + (linenumber ^ flip).to_bytes(8, "big")


def decode_key(key: bytes) -> tuple[int, int]:
    flip = 1 << 63
    return int.from_bytes(key[:8], "big") ^ flip, int.from_bytes(key[8:], "big") ^ flip


@dataclass
class Drift:
    """Planted differences between src and dst, by status."""

    changed: set = field(default_factory=set)
    only_src: set = field(default_factory=set)
    only_dst: set = field(default_factory=set)

    def by_status(self) -> dict[str, set]:
        return {"changed": self.changed, "only_src": self.only_src, "only_dst": self.only_dst}


def _updated(value: bytes, rng) -> bytes:
    """Change ``l_quantity`` (third '|' field) to another whole quantity."""
    f = value.split(b"|")
    q = float(f[2])
    f[2] = repr(float((int(q) + int(rng.integers(1, 50)) - 1) % 50 + 1)).encode()
    return b"|".join(f)


def plant(keys: list, values: list, picks: np.ndarray, rng, drift: Drift):
    """Apply drift at the sorted positions ``picks``: each picked row is
    updated, deleted, or gets a new neighbour key inserted after it (one
    third each).  Returns the new (keys, values), still sorted."""
    action = {int(p): int(a) for p, a in zip(picks, rng.integers(0, 3, len(picks)))}
    out_k, out_v = [], []
    for i, (k, v) in enumerate(zip(keys, values)):
        a = action.get(i)
        if a == 1:
            drift.only_src.add(k)
            continue
        if a == 0:
            v = _updated(v, rng)
            drift.changed.add(k)
        out_k.append(k)
        out_v.append(v)
        if a == 2:
            ok, _ = decode_key(k)
            # base line numbers are 1-7, so only an earlier insert (possibly
            # in a neighbouring file of the same order) can hold 8-15
            free = [ln for ln in range(8, 16) if encode_key(ok, ln) not in drift.only_dst]
            new = encode_key(ok, free[int(rng.integers(0, len(free)))])
            drift.only_dst.add(new)
            out_k.append(new)
            out_v.append(_updated(v, rng))
    order = sorted(range(len(out_k)), key=out_k.__getitem__)
    return [out_k[i] for i in order], [out_v[i] for i in order]


def _write_kv_file(keys: list, values: list, path: str) -> None:
    pq.write_table(
        pa.table({"key": pa.array(keys, pa.binary()), "value": pa.array(values, pa.binary())}),
        path,
    )


def contiguous_drift(src_dir: str, dst_dir: str, seed: int, frac: float = 0.01) -> Drift:
    """dst = src with drift inside one contiguous key range holding ``frac``
    of the keys, placed by ``seed``.  Files the range misses are hard
    links to the src files (copies where links are unsupported)."""
    rng = np.random.default_rng(seed)
    files = kv_files(src_dir)
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
    total = sum(counts)
    n = max(1, int(total * frac))
    start = int(rng.integers(0, total - n))
    os.makedirs(dst_dir)
    drift = Drift()
    offset = 0
    for f, c in zip(files, counts):
        lo, hi = max(start - offset, 0), min(start + n - offset, c)
        target = os.path.join(dst_dir, os.path.basename(f))
        if lo >= hi:
            try:
                os.link(f, target)
            except OSError:
                shutil.copyfile(f, target)
        else:
            t = pq.read_table(f)
            k, v = plant(
                t["key"].to_pylist(), t["value"].to_pylist(), np.arange(lo, hi), rng, drift
            )
            _write_kv_file(k, v, target)
        offset += c
    return drift


def scattered_drift(src_dir: str, dst_dir: str, seed: int, frac: float = 0.01) -> Drift:
    """dst = src with drift at ``frac`` of the keys, spread uniformly over
    the whole key space by ``seed``; written as one file."""
    rng = np.random.default_rng(seed)
    t = pa.concat_tables([pq.read_table(f) for f in kv_files(src_dir)])
    picks = np.sort(rng.choice(t.num_rows, max(1, int(t.num_rows * frac)), replace=False))
    drift = Drift()
    k, v = plant(t["key"].to_pylist(), t["value"].to_pylist(), picks, rng, drift)
    os.makedirs(dst_dir)
    _write_kv_file(k, v, os.path.join(dst_dir, "part-00000.parquet"))
    return drift


def shuffled_documents(docs: pa.Table, out_dir: str, seed: int) -> None:
    """The corpus with its rows permuted and split into 1-4 files by
    ``seed``; the content, and so the correct curation answer, is fixed."""
    rng = np.random.default_rng(seed)
    t = docs.take(pa.array(rng.permutation(docs.num_rows)))
    cuts = np.sort(rng.choice(np.arange(1, t.num_rows), int(rng.integers(0, 4)), replace=False))
    os.makedirs(out_dir)
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, t.num_rows])):
        pq.write_table(t.slice(int(a), int(b - a)), os.path.join(out_dir, f"part-{i:05d}.parquet"))
