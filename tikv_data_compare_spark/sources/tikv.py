"""TiKV RawKV connector: region-aligned Python DataSource over a pluggable
client.

The connector logic is REAL and tested — region→partition planning
(the reference's PaginateScanRegion + ConvertToRawKey,
checksum/checksum.go:52-65), the paginated ascending scan protocol with
``lastKey + 0x00`` resume (scan/scan.go:44-60), the API-version handshake
(utils/utils.go:13-26) — and only the wire client is absent: the
``tikv-client`` package does not exist in this environment, so
``load_tikv`` against a live PD address fails loudly with the same message
as before.  Everything above the client boundary runs today against the
in-process :class:`FakeTikvClient`, which implements the documented client
contract over deterministic synthetic data — the connector's partition
planning, pagination, and range clamping are exercised end-to-end through
``spark.read.format("tikv_raw")`` in tests/test_tikv.py.

Client contract (what a real ``tikv-client`` adapter must provide)::

    class Client:
        def api_version(self) -> str: ...            # "V1" | "V1TTL" | "V2"
        def region_boundaries(self) -> list[bytes]:  # sorted split keys
        def scan(self, start: bytes, end: bytes | None, limit: int)
            -> list[tuple[bytes, bytes]]             # ascending, half-open

Scale shape: one ``InputPartition`` per region sub-range intersecting the
requested key range, so scans are region-aligned (data-local on a real
cluster) and the range rides inside every scan call exactly as the
reference ships it inside the Scan RPC.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from tikv_data_compare_spark.model import Keyed

#: reference batch size (scan/scan.go:42)
DEFAULT_BATCH = 10240


def plan_ranges(
    boundaries: list[bytes], start: bytes | None, end: bytes | None
) -> list[tuple[bytes | None, bytes | None]]:
    """Split ``[start, end)`` at every region boundary it crosses — the pure
    planning core of the reference's region-parallel checksum
    (checksum/checksum.go:52-65): each returned sub-range lies inside one
    region, so one task per sub-range is region-aligned.

    ``boundaries`` are the region SPLIT keys (region i covers
    ``[boundaries[i-1], boundaries[i])``; the first region starts at -inf,
    the last ends at +inf).  ``None`` bounds mean unbounded, as in the
    reference's empty start/end keys (config/config.go:32-33).
    """
    cuts = sorted(
        b
        for b in boundaries
        if (start is None or b > start) and (end is None or b < end)
    )
    points: list[bytes | None] = [start, *cuts, end]
    if start is not None and end is not None and start >= end:
        return []
    return [(points[i], points[i + 1]) for i in range(len(points) - 1)]


def paginated_scan(client, start: bytes | None, end: bytes | None, batch: int = DEFAULT_BATCH):
    """The reference's scan loop (scan/scan.go:44-60): fetch ``batch``-sized
    ascending pages, resume from ``lastKey + 0x00`` (the smallest key
    strictly greater than lastKey under bytewise order), stop on a short
    page.  Yields (key, value) pairs."""
    cursor = start
    while True:
        page = client.scan(cursor, end, batch)
        yield from page
        if len(page) < batch:
            return
        cursor = page[-1][0] + b"\x00"


def checksum_parallel(
    client,
    start: bytes | None = None,
    end: bytes | None = None,
    concurrency: int = 10,
) -> dict:
    """The reference's region-parallel coprocessor checksum
    (GetChecksumParallel, checksum/checksum.go:45-102) over the client
    contract: split ``[start, end)`` at region boundaries, fetch each
    sub-range's ``{crc64_xor, total_kvs, total_bytes}`` triple from the
    cluster (server-side — only 24 bytes per region cross the wire), and
    merge under the commutative monoid ``(XOR, +, +)``
    (checksum/checksum.go:25-29).  ``concurrency`` mirrors the reference's
    worker-pool size (default 10, config/config.go:36).

    Clients without a ``checksum`` method (the public tikv-client package
    exposes no checksum RPC) raise AttributeError — callers fall back to
    scan + Spark-side ``checksum(algo='crc64')``, which is byte-compatible
    with the coprocessor result (cross-validated in tests/test_tikv.py)."""
    from concurrent.futures import ThreadPoolExecutor

    ranges = plan_ranges(client.region_boundaries(), start, end) or [(start, end)]
    crc, kvs, nbytes = 0, 0, 0
    with ThreadPoolExecutor(max_workers=max(1, concurrency)) as pool:
        for c, k, b in pool.map(lambda r: client.checksum(r[0], r[1]), ranges):
            crc ^= c
            kvs += k
            nbytes += b
    return {"checksum": crc, "total_kvs": kvs, "total_bytes": nbytes}


def compare_checksum_parallel(
    src_client,
    dst_client,
    start: bytes | None = None,
    end: bytes | None = None,
    concurrency: int = 10,
) -> dict:
    """The reference's full ``checksum`` subcommand flow over two clusters
    (runRawKvChecksum, checksum/checksum.go:118-179) WITHOUT Spark in the
    data path: API-version handshake first (checksum/checksum.go:134-137),
    then each side's region-parallel coprocessor triple via
    :func:`checksum_parallel`, then the triple comparison.  Only ~24 bytes
    per region per side ever cross the wire — the 100 TB shape of a
    cluster-to-cluster compare; the scan+Spark path remains for when rows
    are actually needed (diff) or the client lacks the checksum RPC.

    Returns the same verdict dict shape as
    ``operators.checksum.checksum_verdict``."""
    sv, dv = src_client.api_version(), dst_client.api_version()
    if sv != dv:
        raise ValueError(f"API version mismatch: src {sv} != dst {dv}")
    # the two clusters are independent — overlap their region-parallel
    # checksums so the verdict takes ~max(T_src, T_dst) instead of the sum
    # (the reference likewise runs both sides concurrently,
    # checksum/checksum.go:140-168)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fs = pool.submit(checksum_parallel, src_client, start, end, concurrency)
        fd = pool.submit(checksum_parallel, dst_client, start, end, concurrency)
        s, d = fs.result(), fd.result()
    equal = all(s[f] == d[f] for f in ("checksum", "total_kvs", "total_bytes"))
    return {
        "equal": equal,
        "src": {"side": "src", **s},
        "dst": {"side": "dst", **d},
        "path": "coprocessor",
    }


class FakeTikvClient:
    """In-memory client implementing the contract over deterministic
    synthetic data: ``n`` pairs with 8-byte big-endian keys and md5-derived
    values, region split keys every ``region_size`` keys.  Exists so the
    connector above the wire boundary is runnable and testable in this
    environment; a real deployment swaps in a ``tikv-client`` adapter with
    the same three methods.  Also implements the optional ``checksum``
    method (the coprocessor RPC, checksum/checksum.go:83) with TiKV's
    public algorithm — CRC-64/XZ over ``key ++ value``, XOR across pairs —
    so :func:`checksum_parallel` is testable end-to-end."""

    def __init__(self, n: int = 1000, region_size: int = 100, api_version: str = "V2"):
        self._api = api_version
        self._keys = [i.to_bytes(8, "big") for i in range(n)]
        self._kv = {k: hashlib.md5(k).digest() for k in self._keys}
        self._bounds = [
            (i).to_bytes(8, "big") for i in range(region_size, n, region_size)
        ]

    def api_version(self) -> str:
        return self._api

    def region_boundaries(self) -> list[bytes]:
        return list(self._bounds)

    def scan(self, start: bytes | None, end: bytes | None, limit: int):
        out = []
        for k in self._keys:  # sorted by construction
            if start is not None and k < start:
                continue
            if end is not None and k >= end:
                break
            out.append((k, self._kv[k]))
            if len(out) >= limit:
                break
        return out

    def checksum(self, start: bytes | None, end: bytes | None) -> tuple[int, int, int]:
        """Coprocessor-side checksum triple of one sub-range (what a region
        computes server-side in the reference's Checksum RPC)."""
        from tikv_data_compare_spark.functions.hashes import crc64_xz

        crc, kvs, nbytes = 0, 0, 0
        for k in self._keys:
            if start is not None and k < start:
                continue
            if end is not None and k >= end:
                break
            v = self._kv[k]
            crc ^= crc64_xz(k + v)
            kvs += 1
            nbytes += len(k) + len(v)
        return (crc, kvs, nbytes)


class StaticKvClient(FakeTikvClient):
    """A :class:`FakeTikvClient` over CALLER-SUPPLIED (key, value) pairs
    instead of generated ones — the client emulation used to cross-validate
    :func:`checksum_parallel` against Spark-side checksums over the SAME
    logical KV set (the fixture tables rendered to canonical KV).  Region
    split keys fall every ``region_size`` pairs, so the region-parallel
    plan really splits."""

    def __init__(self, pairs: list[tuple[bytes, bytes]], region_size: int = 100,
                 api_version: str = "V2"):
        self._api = api_version
        ordered = sorted(pairs)
        self._keys = [k for k, _ in ordered]
        self._kv = dict(ordered)
        self._bounds = [
            self._keys[i] for i in range(region_size, len(self._keys), region_size)
        ]


def _make_client(options):
    """Resolve the client from reader options.  ``client=fake`` builds the
    in-memory fake (options: fake_n, fake_region_size, fake_api_version);
    ``client=module:callable`` imports a factory (a real tikv-client
    adapter); anything else is the live-cluster path, which requires the
    absent dependency and fails loudly."""
    kind = options.get("client", "live")
    if kind == "fake":
        return FakeTikvClient(
            n=int(options.get("fake_n", 1000)),
            region_size=int(options.get("fake_region_size", 100)),
            api_version=options.get("fake_api_version", "V2"),
        )
    if ":" in kind:
        import importlib

        mod, _, fn = kind.partition(":")
        return getattr(importlib.import_module(mod), fn)(options)
    try:
        import tikv_client  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "TiKV connector requires the tikv-client package (not bundled in "
            "this environment); use sources.parquet for file-backed sources, "
            "or export the cluster with the reference's scan command and open "
            "the dump with sources.scandump.load_scan_dump (reads the "
            "{NAME}_scan.log.<ts> format with a key range), or pass "
            ".option('client', 'fake') / a module:factory adapter"
        ) from e
    from tikv_data_compare_spark.sources.tikv_live import LiveTikvClient

    return LiveTikvClient(options)


@dataclass
class _RangePartition(InputPartition):
    start: bytes | None
    end: bytes | None


def _parse_key(options, name: str) -> bytes | None:
    v = options.get(name)
    return bytes.fromhex(v) if v else None


class TikvScanReader(DataSourceReader):
    def __init__(self, options):
        self.options = dict(options)
        self.batch = int(options.get("batch", DEFAULT_BATCH))

    def partitions(self):
        client = _make_client(self.options)
        start = _parse_key(self.options, "start_key")
        end = _parse_key(self.options, "end_key")
        want = self.options.get("api_version")
        have = client.api_version()
        if want and want != have:
            # the reference aborts before scanning on a version mismatch
            # (checksum/checksum.go:134-137 via utils/utils.go:13-26)
            raise ValueError(f"cluster API version {have} != requested {want}")
        ranges = plan_ranges(client.region_boundaries(), start, end)
        return [_RangePartition(s, e) for s, e in ranges] or [_RangePartition(start, end)]

    def read(self, partition: _RangePartition):
        client = _make_client(self.options)
        yield from paginated_scan(client, partition.start, partition.end, self.batch)


class TikvDataSource(DataSource):
    """``spark.read.format("tikv_raw")`` — (key binary, value binary) rows,
    one input partition per region sub-range."""

    @classmethod
    def name(cls) -> str:
        return "tikv_raw"

    def schema(self) -> str:
        return "key binary, value binary"

    def reader(self, schema) -> TikvScanReader:
        return TikvScanReader(self.options)


def load_tikv(
    spark,
    pd_addr: str | None = None,
    start: bytes | None = None,
    end: bytes | None = None,
    api_version: str = "V2",
    client: str = "live",
    batch: int = DEFAULT_BATCH,
    **client_options,
) -> Keyed:
    """Open a RawKV cluster (or the in-process fake / a custom adapter) as a
    keyed DataFrame.  The API-version handshake is enforced at planning
    time; the key range is shipped into every scan call."""
    spark.dataSource.register(TikvDataSource)
    r = (
        spark.read.format("tikv_raw")
        .option("client", client)
        .option("api_version", api_version)
        .option("batch", str(batch))
    )
    if pd_addr:
        r = r.option("pd_addr", pd_addr)
    if start is not None:
        r = r.option("start_key", start.hex())
    if end is not None:
        r = r.option("end_key", end.hex())
    for k, v in client_options.items():
        r = r.option(k, str(v))
    return Keyed(r.load())
