"""Key codecs — the reference's ``format`` / ``decodets`` / ``encodekey`` layer.

Pure-Python re-implementations (from public TiKV/TiDB memcomparable codec
semantics) of the reference's codec surface:

- parse_key:      reference config/config.go:59-63 (br utils.ParseKey; formats
                  raw | hex | escaped)
- encode_key_v2:  reference codec/codec.go:47-52 — prepend the APIv2 RawKV
                  prefix ``b'r\\x00\\x00\\x00'`` then memcomparable EncodeBytes
- decode_key_v2:  reference checksum/checksum.go:31-43 — DecodeBytes then strip
                  the 4-byte prefix (error if shorter than 4)
- decode_ts:      reference codec/codec.go:35-36 — bitwise-NOT of the
                  big-endian u64 (TiKV stores timestamps inverted so newer
                  sorts first under ascending byte order)
- hex_upper:      reference scan/scan.go:52 rendering convention
- next_key:       the scan-resume convention ``lastKey + 0x00`` — the smallest
                  key strictly greater under bytewise order (scan/scan.go:59)

These are driver-side scalar helpers; `register_codec_udfs` exposes the
row-level ones as Spark SQL functions for use inside DataFrame plans.
"""

from __future__ import annotations

_V2_RAW_PREFIX = b"r\x00\x00\x00"
_ENC_GROUP_SIZE = 8
_ENC_MARKER = 0xFF
_ENC_PAD = 0x00
_U64_MASK = (1 << 64) - 1


# ---------------------------------------------------------------- parse / render


def parse_key(fmt: str, s: str) -> bytes:
    """Decode user key input per --format ∈ {raw, hex, escaped}."""
    if fmt == "raw":
        return s.encode("utf-8")
    if fmt == "hex":
        return bytes.fromhex(s)
    if fmt in ("escaped", "escape"):
        return _unescape_go(s)
    raise ValueError(f"unknown key format {fmt!r} (want raw|hex|escaped)")


def _unescape_go(s: str) -> bytes:
    """Go-style %q unescape (subset: \\x.., \\n, \\r, \\t, \\\\, \\', \\\")."""
    out = bytearray()
    i = 0
    b = s.encode("utf-8")
    while i < len(b):
        c = b[i]
        if c != ord("\\"):
            out.append(c)
            i += 1
            continue
        if i + 1 >= len(b):
            raise ValueError("dangling escape")
        n = b[i + 1]
        simple = {ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("\\"): 92, ord("'"): 39, ord('"'): 34, ord("0"): 0}
        if n in simple:
            out.append(simple[n])
            i += 2
        elif n == ord("x"):
            out.append(int(b[i + 2 : i + 4].decode(), 16))
            i += 4
        else:
            raise ValueError(f"unsupported escape \\{chr(n)}")
    return bytes(out)


def hex_upper(b: bytes) -> str:
    """Uppercase-hex rendering used by every human-facing output."""
    return b.hex().upper()


def next_key(b: bytes) -> bytes:
    """Smallest key strictly greater than ``b`` in unsigned bytewise order."""
    return b + b"\x00"


# ---------------------------------------------------------------- memcomparable


def encode_bytes(b: bytes) -> bytes:
    """TiKV memcomparable EncodeBytes: 8-byte groups, zero-padded, each group
    followed by a marker byte ``0xFF - pad_count`` so encoded order equals raw
    bytewise order."""
    out = bytearray()
    for i in range(0, len(b) + 1, _ENC_GROUP_SIZE):
        group = b[i : i + _ENC_GROUP_SIZE]
        pad = _ENC_GROUP_SIZE - len(group)
        out += group + bytes([_ENC_PAD]) * pad
        out.append(_ENC_MARKER - pad)
        if pad > 0:
            break
    return bytes(out)


def decode_bytes(b: bytes) -> bytes:
    """Inverse of :func:`encode_bytes`; raises ValueError on malformed input."""
    out = bytearray()
    i = 0
    while True:
        if i + _ENC_GROUP_SIZE + 1 > len(b):
            raise ValueError("insufficient bytes to decode value")
        group, marker = b[i : i + _ENC_GROUP_SIZE], b[i + _ENC_GROUP_SIZE]
        i += _ENC_GROUP_SIZE + 1
        pad = _ENC_MARKER - marker
        if pad == 0:
            out += group
            continue
        if pad > _ENC_GROUP_SIZE:
            raise ValueError(f"invalid marker byte {marker:#x}")
        keep = _ENC_GROUP_SIZE - pad
        if any(x != _ENC_PAD for x in group[keep:]):
            raise ValueError("invalid padding byte")
        out += group[:keep]
        return bytes(out)


def encode_key_v2(raw_key: bytes) -> bytes:
    """APIv2 on-wire key: memcomparable(``b'r\\0\\0\\0'`` ++ raw_key)."""
    return encode_bytes(_V2_RAW_PREFIX + raw_key)


def decode_key_v2(wire_key: bytes) -> bytes:
    """Inverse of :func:`encode_key_v2`.

    Mirrors reference checksum/checksum.go:37-39: decoded key shorter than the
    4-byte prefix is an error.
    """
    decoded = decode_bytes(wire_key)
    if len(decoded) < len(_V2_RAW_PREFIX):
        raise ValueError(f"wrong format of key {hex_upper(wire_key)}")
    return decoded[len(_V2_RAW_PREFIX) :]


# ---------------------------------------------------------------- timestamps


def encode_ts(ts: int) -> bytes:
    """Pack a u64 timestamp bit-inverted, big-endian (so newer sorts first)."""
    return ((~ts) & _U64_MASK).to_bytes(8, "big")


def decode_ts(b: bytes) -> int:
    """``^BigEndian.Uint64(b)`` — reference codec/codec.go:35-36."""
    if len(b) < 8:
        raise ValueError("timestamp key needs at least 8 bytes")
    return (~int.from_bytes(b[:8], "big")) & _U64_MASK


# ---------------------------------------------------------------- Spark surface


def register_codec_udfs(spark) -> None:
    """Register the row-level codecs as Spark SQL functions.

    These are plain Python UDFs (not hot-path — codec ops run on report-sized
    or key-construction data; the bulk comparison path stays on built-ins).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.udf.register("kv_decode_ts", lambda b: None if b is None else decode_ts(bytes(b)), T.LongType())
    spark.udf.register(
        "kv_encode_key_v2", lambda b: None if b is None else encode_key_v2(bytes(b)), T.BinaryType()
    )
    spark.udf.register(
        "kv_decode_key_v2", lambda b: None if b is None else decode_key_v2(bytes(b)), T.BinaryType()
    )
    _ = F  # imported for symmetry with other modules
