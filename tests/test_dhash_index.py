"""Persistent dHash band index: build/load roundtrip, cross-pair parity
with the batch self-join, append growth, and meta validation."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.operators import dhash_index as dhi
from tikv_data_compare_spark.operators.multimodal import dhash_pairs


def _hashes(spark):
    """Planted 64-bit hashes with known hamming structure: 1<->2 differ by
    2 bits, 3 is a near-dup of 1 (5 flips), 4 is far (complement), 5 is a
    NULL-hash (undecodable) row, 6 duplicates 2 exactly."""
    def i64(v):  # two's-complement wrap into BIGINT range
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= 1 << 63 else v

    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0b101),
        (3, i64(base ^ ((1 << 63) | (1 << 40) | (1 << 22) | (1 << 9) | 1))),
        (4, i64(base ^ ((1 << 64) - 1))),
        (5, None),
        (6, base ^ 0b101),
    ]
    return spark.createDataFrame(rows, "doc_id long, dhash long")


def test_build_query_matches_batch_self_join(spark, tmp_path):
    """query(B vs index-of-A) == dhash_pairs(A ∪ B) restricted to cross
    pairs — the per-image-pure-function contract, at every max_hamming."""
    h = _hashes(spark)
    a = h.filter("doc_id <= 3")
    b = h.filter("doc_id > 3")
    p = str(tmp_path / "dhx")
    meta = dhi.build_dhash_index(a, p, n_bands=8)
    assert meta["n_docs"] == 3 and meta["slice_width"] == 8
    for mh in (2, 6, 64):
        got = sorted(
            (r["new_id"], r["indexed_id"], r["hamming"])
            for r in dhi.query_dhash_index(b, p, max_hamming=mh).collect()
        )
        a_ids = {1, 2, 3}
        want = sorted(
            (pair["doc_b"], pair["doc_a"], pair["hamming"])
            for pair in dhash_pairs(h, max_hamming=mh).collect()
            if pair["doc_a"] in a_ids and pair["doc_b"] not in a_ids
        )
        assert got == want
    # planted check at the pigeonhole-safe radius: 6 (== 2's hash, ham 0),
    # 6-vs-1 (ham 2), 6-vs-3 (flip sets {63,40,22,9,0}^{2,0} -> ham 5);
    # far row 4 (ham ~62) excluded; NULL row 5 never pairs
    got6 = {
        (r["new_id"], r["indexed_id"]): r["hamming"]
        for r in dhi.query_dhash_index(b, p, max_hamming=6).collect()
    }
    assert got6[(6, 2)] == 0 and got6[(6, 1)] == 2 and got6[(6, 3)] == 5
    assert not any(n == 4 or n == 5 for n, _ in got6)


def test_append_grows_index_exactly(spark, tmp_path):
    h = _hashes(spark)
    p = str(tmp_path / "dhxa")
    dhi.build_dhash_index(h.filter("doc_id <= 2"), p, n_bands=8)
    # appending includes a NULL-hash row: it must not index
    added = dhi.append_to_dhash_index(h.filter("doc_id IN (3, 5)"), p)
    assert added == 1
    idx = dhi.load_dhash_index(spark, p)
    assert idx.meta["n_docs"] == 3
    # post-append query sees the appended image
    got = {
        (r["new_id"], r["indexed_id"])
        for r in dhi.query_dhash_index(
            h.filter("doc_id = 6"), p, max_hamming=64
        ).collect()
    }
    assert got == {(6, 1), (6, 2), (6, 3)}
    # extra_meta rides the swap
    dhi.append_to_dhash_index(
        h.filter("doc_id = 4"), p, extra_meta={"last_epoch": 3}
    )
    assert dhi.load_dhash_index(spark, p).meta["last_epoch"] == 3


def test_compact_preserves_pairs_and_bounds_files(spark, tmp_path):
    """Appended fragments + compact: identical band rows and pair results,
    bounded file count, n_compactions tracked."""
    h = _hashes(spark)
    p = str(tmp_path / "dhxc")
    dhi.build_dhash_index(h.filter("doc_id = 1"), p, n_bands=8)
    for d in (2, 3, 4):
        dhi.append_to_dhash_index(h.filter(f"doc_id = {d}"), p)
    q = h.filter("doc_id = 6")
    before_rows = sorted(map(tuple, spark.read.parquet(f"{p}/bands").collect()))
    before_q = sorted(
        map(tuple, dhi.query_dhash_index(q, p, max_hamming=64).collect())
    )
    stats = dhi.compact_dhash_index(spark, p, target_files=1)
    assert stats["files_after"] <= 1 < stats["files_before"]
    assert stats["n_compactions"] == 1
    assert sorted(
        map(tuple, spark.read.parquet(f"{p}/bands").collect())
    ) == before_rows
    assert sorted(
        map(tuple, dhi.query_dhash_index(q, p, max_hamming=64).collect())
    ) == before_q
    assert before_q  # planted near-dups guarantee non-vacuous


def test_geometry_comes_from_meta(spark, tmp_path):
    """A 4-band index bands its queries at 4 bands regardless of caller
    defaults — slice width differs from the 8-band default, so parity with
    the 4-band self-join proves the meta drove the banding."""
    h = _hashes(spark)
    p = str(tmp_path / "dhxg")
    dhi.build_dhash_index(h.filter("doc_id <= 3"), p, n_bands=4)
    got = sorted(
        (r["new_id"], r["indexed_id"], r["hamming"])
        for r in dhi.query_dhash_index(
            h.filter("doc_id > 3"), p, max_hamming=3
        ).collect()
    )
    a_ids = {1, 2, 3}
    want = sorted(
        (pair["doc_b"], pair["doc_a"], pair["hamming"])
        for pair in dhash_pairs(h, max_hamming=3, n_bands=4).collect()
        if pair["doc_a"] in a_ids and pair["doc_b"] not in a_ids
    )
    assert got == want


def test_load_validation(spark, tmp_path):
    h = _hashes(spark)
    p = str(tmp_path / "dhxv")
    with pytest.raises(ValueError, match="n_bands"):
        dhi.build_dhash_index(h, p, n_bands=0)
    dhi.build_dhash_index(h, p, n_bands=8)
    meta = spark.read.parquet(f"{p}/meta").collect()[0].asDict()
    # wrong version refuses
    bad = {**meta, "version": 99}
    dhi._write_meta(spark, p, bad)
    with pytest.raises(ValueError, match="version"):
        dhi.load_dhash_index(spark, p)
    # inconsistent geometry refuses
    bad = {**meta, "slice_width": 5}
    dhi._write_meta(spark, p, bad)
    with pytest.raises(ValueError, match="geometry"):
        dhi.load_dhash_index(spark, p)


# ---------------------------------------------------- streaming maintenance


def _png_rows(spark, ids_and_payloads):
    return spark.createDataFrame(ids_and_payloads, "doc_id long, payload binary")


def test_dhash_index_stream_chunked_equals_oneshot(spark, tmp_path):
    """Index maintained epoch-by-epoch from an image stream finds the same
    cross pairs as an index built one-shot from the union."""
    from test_multimodal import _gradient_png

    from tikv_data_compare_spark.operators.multimodal import image_dhash
    from tikv_data_compare_spark.streaming.dhash_index_stream import (
        dhash_index_stream,
    )

    base = _gradient_png(32, 32)
    noisy = _gradient_png(32, 32, noise={(5, 5): 250})
    rows = [
        (1, bytearray(base)),
        (2, bytearray(noisy)),
        (3, bytearray(b"junk")),
        (4, bytearray(_gradient_png(32, 32, noise={(1, 1): 9, (9, 9): 200}))),
    ]
    src = str(tmp_path / "dhxs_src")
    for lo, hi in ((1, 3), (3, 5)):
        _png_rows(
            spark, [r for r in rows if lo <= r[0] < hi]
        ).coalesce(1).write.mode("append").parquet(src)
    idx = str(tmp_path / "dhxs_idx")
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = dhash_index_stream(
        stream, idx, checkpoint_location=str(tmp_path / "dhxs_ckpt")
    )
    q.awaitTermination(120)
    m = dhi.load_dhash_index(spark, idx).meta
    assert m["n_docs"] == 3 and m["last_epoch"] >= 1  # junk never indexes
    # a fresh probe image pairs against epoch-0 AND epoch-1 content
    probe = image_dhash(_png_rows(spark, [(9, bytearray(base))]))
    got = {
        (r["new_id"], r["indexed_id"])
        for r in dhi.query_dhash_index(probe, idx, max_hamming=64).collect()
    }
    assert got == {(9, 1), (9, 2), (9, 4)}


def test_dhash_index_ingest_watermark_skip(spark, tmp_path):
    from test_multimodal import _gradient_png

    from tikv_data_compare_spark.streaming.dhash_index_stream import (
        ingest_batch_into_dhash_index,
    )

    a = _png_rows(spark, [(1, bytearray(_gradient_png(32, 32)))])
    b = _png_rows(
        spark, [(2, bytearray(_gradient_png(32, 32, noise={(5, 5): 250})))]
    )
    idx = str(tmp_path / "dhxw_idx")
    assert ingest_batch_into_dhash_index(a, idx, epoch_id=0) is True
    assert ingest_batch_into_dhash_index(b, idx, epoch_id=1) is True
    m1 = dhi.load_dhash_index(spark, idx).meta
    assert m1["n_docs"] == 2 and m1["last_epoch"] == 1
    # watermark skip: same epoch again is a no-op
    assert ingest_batch_into_dhash_index(b, idx, epoch_id=1) is False
    assert dhi.load_dhash_index(spark, idx).meta == m1
    # crash-window redelivery: duplicate band rows are harmless (distinct
    # query, distinct n_docs recount) and the lost watermark completes
    dhi._write_meta(spark, idx, {**m1, "last_epoch": 0})
    assert ingest_batch_into_dhash_index(b, idx, epoch_id=1) is True
    m2 = dhi.load_dhash_index(spark, idx).meta
    assert m2["n_docs"] == 2 and m2["last_epoch"] == 1


def test_dhash_index_stream_requires_checkpoint(spark, tmp_path):
    from tikv_data_compare_spark.streaming.dhash_index_stream import (
        dhash_index_stream,
    )

    stream = spark.readStream.schema("doc_id long, payload binary").parquet(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="checkpoint_location"):
        dhash_index_stream(stream, str(tmp_path / "i"))
