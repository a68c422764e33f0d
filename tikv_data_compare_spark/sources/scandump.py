"""Scan-dump source — reads the reference's ``{NAME}_scan.log.<ts>`` files.

The reference's ``scan`` subcommand streams a RawKV cluster to a text dump,
one line per pair: ``key:<HEX>, value:<HEX>, cnt:<N>.`` (scan/scan.go:35-61;
the format string is scan/scan.go:52).  That dump is the reference's only
durable export — a real user migrating off the reference starts from either
a live cluster or one of these files.  :func:`load_scan_dump` opens such
dumps as a Spark DataFrame ``(key binary, value binary, cnt bigint)`` with
Spark's built-in text source and one projection, so a dump read runs in the
JVM and starts no Python worker:

- **partitions**: the text source splits each file at line boundaries into
  ~``spark.sql.files.maxPartitionBytes`` pieces, so one multi-GB dump fans
  out across the cluster instead of pinning one task per file;
- **format check**: every non-blank line must match the format, with an
  even number of hex digits per field and a ``cnt`` that fits a bigint; the
  check is a ``Filter`` (column pruning cannot drop it) that raises naming
  the file and the line;
- **key range**: ``start``/``end`` are plain ``[start, end)`` filters on
  ``key`` (unsigned bytewise order), the analogue of the range riding in
  the Scan RPC (scan/scan.go:45).

Directories are read without their ``_``/``.`` files (the ``_META.json``
sidecar), and globs are accepted.  ``export_hex`` (operators/scan.py)
writes this exact line format, so a dump produced by this engine
round-trips through this source bit-for-bit.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

# scan/scan.go:52 — fmt.Sprintf("key:%s, value:%s, cnt:%d.\n", HEX, HEX, n);
# trailing whitespace (a CRLF file's \r among it) is accepted
_LINE = r"^key:(?:[0-9A-Fa-f]{2})*, value:(?:[0-9A-Fa-f]{2})*, cnt:[0-9]+\.\s*$"


def _between(line, before: str, after: str):
    """The text between ``before`` and ``after`` in a line that matched
    ``_LINE`` (its hex and digits hold neither): two substring searches,
    far cheaper per line than extracting each field with the regex."""
    return F.substring_index(F.substring_index(line, after, 1), before, -1)


def load_scan_dump(spark, path: str, start=None, end=None):
    """Open a reference scan dump (file, directory or glob) as a keyed KV
    DataFrame; ``start``/``end`` are bytes or hex strings."""
    try:
        raw = spark.read.text(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        raise FileNotFoundError(f"scan dump not found: {path}") from e
    line = F.col("value")
    cnt = _between(line, ", cnt:", ".").try_cast("bigint")
    malformed = F.raise_error(
        F.concat(
            F.lit("malformed scan-dump line in "),
            F.col("_metadata.file_path"),
            F.lit(": "),
            F.substring(line, 1, 80),
        )
    )
    df = (
        raw.filter(~line.rlike(r"^\s*$"))
        .filter(F.when(line.rlike(_LINE) & cnt.isNotNull(), True).otherwise(malformed))
        .select(
            F.unhex(_between(line, "key:", ", value:")).alias("key"),
            F.unhex(_between(line, ", value:", ", cnt:")).alias("value"),
            cnt.alias("cnt"),
        )
    )
    if start is not None:
        df = df.filter(F.col("key") >= F.lit(_key(start)))
    if end is not None:
        df = df.filter(F.col("key") < F.lit(_key(end)))
    return df


def _key(k) -> bytes:
    return bytes(k) if isinstance(k, (bytes, bytearray)) else bytes.fromhex(str(k))
