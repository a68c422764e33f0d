"""Source metadata handshake — the API-version gate at the source boundary.

The reference refuses to compare clusters whose API versions differ: it
fetches each cluster's version from PD before any dual-cluster operation and
errors on mismatch (reference utils/utils.go:13-26, enforced at
scan/scan.go:83-88, checksum/checksum.go:134-137, diff/diff.go:81-84).
``model.check_comparable`` is the schema-level analogue of that gate; this
module adds the *source-level metadata round-trip*:

- ``write_dump_meta`` drops a ``_META.json`` sidecar next to a scan dump
  (api version, source name, schema kind).  ``export_hex`` writes it
  automatically; files starting with ``_`` are ignored by Spark's
  file sources (the scandump reader is one), so the sidecar is invisible
  to the data path.
- ``read_meta`` recovers a :class:`SourceMeta` from a dump directory (the
  sidecar), a bare dump file (defaults), or a parquet path (schema-derived).
- ``check_handshake`` is the ``GetClusterAPIVersion`` equality gate: src and
  dst must agree on api_version and source kind before a compare runs.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

DEFAULT_API_VERSION = "V2"

_META_FILE = "_META.json"


@dataclass(frozen=True)
class SourceMeta:
    kind: str  # "dump" | "parquet"
    api_version: str
    name: str = ""

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)


def write_dump_meta(
    path: str, api_version: str = DEFAULT_API_VERSION, name: str = ""
) -> SourceMeta:
    """Write the ``_META.json`` sidecar into dump directory ``path``."""
    meta = SourceMeta(kind="dump", api_version=api_version, name=name)
    with open(os.path.join(path, _META_FILE), "w") as fh:
        fh.write(meta.to_json())
    return meta


def is_scan_dump(path: str) -> bool:
    """Heuristic source detection: a dump is a dir carrying the sidecar, or a
    path whose name follows the reference's ``{NAME}_scan.log.<ts>`` pattern
    (scan/scan.go:35)."""
    if os.path.isdir(path) and os.path.exists(os.path.join(path, _META_FILE)):
        return True
    return "_scan.log" in os.path.basename(os.path.normpath(path))


def read_meta(path: str) -> SourceMeta:
    """Metadata for a source path — the Spark-side ``GetClusterAPIVersion``.

    Dump dirs read their sidecar; sidecar-less dumps (written by the
    reference itself, which records no metadata) get the default API
    version; anything else is a parquet/tabular source whose "version" is
    its schema, gated separately by ``model.check_comparable``.
    """
    if path.startswith(("tikv://", "tikv+fake://")):
        # a live cluster endpoint: the version is enforced again at scan
        # planning time by the connector itself (sources/tikv.py)
        return SourceMeta(kind="cluster", api_version=DEFAULT_API_VERSION)
    sidecar = os.path.join(path, _META_FILE)
    if os.path.isdir(path) and os.path.exists(sidecar):
        with open(sidecar) as fh:
            d = json.load(fh)
        return SourceMeta(
            kind=d.get("kind", "dump"),
            api_version=d.get("api_version", DEFAULT_API_VERSION),
            name=d.get("name", ""),
        )
    if is_scan_dump(path):
        return SourceMeta(kind="dump", api_version=DEFAULT_API_VERSION)
    return SourceMeta(kind="parquet", api_version=DEFAULT_API_VERSION)


def check_handshake(src: SourceMeta, dst: SourceMeta) -> None:
    """API-version equality gate (reference utils/utils.go:13-26 consumers:
    'Different api version between src and dst' is a hard error)."""
    if src.api_version != dst.api_version:
        raise ValueError(
            f"Different api version between src:{src.api_version} and "
            f"dst:{dst.api_version}."
        )
    # dumps and live clusters are the same comparability class (canonical
    # binary KV pairs — a dump IS a cluster export); typed tables are not
    kv = {"dump", "cluster"}
    src_class = "kv" if src.kind in kv else src.kind
    dst_class = "kv" if dst.kind in kv else dst.kind
    if src_class != dst_class:
        raise ValueError(
            f"source kinds differ: src is {src.kind}, dst is {dst.kind}; "
            "compare KV sources (dump/cluster) together or tables together"
        )
