"""CLI veneer — the reference's six subcommands, Spark-backed.

Reference: cmd/main.go:23-28 registers checksum / scan / diff / format /
decodets / encodekey with shared flags (config/config.go:10-18: src-pd,
dst-pd, start-key, end-key, format, concurrency).  Here clusters are
parquet paths (or any Spark-readable path); keys are parsed per --format
exactly like br's ParseKey (config/config.go:59-63).

Usage examples:
  python -m tikv_data_compare_spark.cli checksum --src S.parquet --dst D.parquet
  python -m tikv_data_compare_spark.cli diff --src S.parquet --dst D.parquet --start-key 00 --end-key ff --format hex
  python -m tikv_data_compare_spark.cli scan --src S.parquet --out /tmp/dump
  python -m tikv_data_compare_spark.cli format --key 'abc' --format raw
  python -m tikv_data_compare_spark.cli decodets --key 00000000000000FF --format hex
  python -m tikv_data_compare_spark.cli encodekey --key 'abc' --format raw
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from tikv_data_compare_spark import codec


def _add_common(p: argparse.ArgumentParser, dual: bool) -> None:
    p.add_argument("--src", required=True, help="src parquet path (key/value or typed)")
    if dual:
        p.add_argument("--dst", required=True, help="dst parquet path")
    p.add_argument("--keys", default="key", help="comma-separated key columns")
    p.add_argument("--start-key", default="", help="range start (inclusive); empty = unbounded")
    p.add_argument("--end-key", default="", help="range end (exclusive); empty = unbounded")
    p.add_argument("--format", default="hex", choices=["raw", "hex", "escaped"], dest="key_format")
    p.add_argument(
        "--concurrency",
        type=int,
        default=0,
        help="parallelism (0 = all cores): local executor threads for a fresh "
        "session AND the shuffle-partition count — the Spark analogue of the "
        "reference's range-worker pool size (config/config.go:36, default 10)",
    )
    # flag parity with the reference (config/config.go): its serial-vs-
    # region-parallel switch is meaningless on Spark — execution is always
    # partition-parallel — so the flag is accepted and ignored
    p.add_argument("--use-parallel", action="store_true", help="accepted for reference flag parity (Spark is always parallel)")


_INT_TYPES = {"long", "integer", "short", "byte"}


def _typed_bound(raw: str, col: str, type_name: str):
    """Parse a range bound against the leading key column's actual type.

    Binary keys go through ``codec.parse_key`` (handled by the caller); typed
    keys take their natural literal form: decimal for integer columns, the raw
    string for string columns.  Anything else is rejected loudly — silently
    reinterpreting bytes as an integer (the old ``int.from_bytes``) turned
    ``--start-key 1000`` into 825241648.
    """
    if type_name in _INT_TYPES:
        try:
            return int(raw, 10)
        except ValueError:
            raise SystemExit(
                f"--start/end-key {raw!r} is not a decimal integer, but key column "
                f"{col!r} has type {type_name}"
            )
    if type_name == "string":
        return raw
    raise SystemExit(
        f"range bounds on key column {col!r} of type {type_name} are not supported; "
        "use a binary, integer, or string key column"
    )


def _keyed(spark, path: str, keys: list[str], args):
    from tikv_data_compare_spark.model import Keyed
    from tikv_data_compare_spark.sources import meta as meta_mod

    if path.startswith("tikv://") or path.startswith("tikv+fake://"):
        # a live cluster addressed by PD endpoint, exactly the reference's
        # --src-pd/--dst-pd UX (config/config.go:10-18); tikv+fake:// drives
        # the in-memory client for tests/demos.  The live path fails loudly
        # until a tikv-client adapter exists (sources/tikv.py).
        from tikv_data_compare_spark.sources.tikv import load_tikv

        scheme, _, addr = path.partition("://")
        k = load_tikv(
            spark,
            pd_addr=addr or None,
            client="fake" if scheme == "tikv+fake" else "live",
        )
        keys = ["key"]
        df = k.df
    elif meta_mod.is_scan_dump(path):
        # a reference-format scan dump ({NAME}_scan.log.<ts>, scan/scan.go:35)
        # opens as the canonical binary KV pair; the running counter is a
        # file artifact, not data — drop it from comparisons
        from tikv_data_compare_spark.sources.scandump import load_scan_dump

        df = load_scan_dump(spark, path).drop("cnt")
        keys = ["key"]
        k = Keyed.of(df, keys=("key",))
    else:
        df = spark.read.parquet(path)
        k = Keyed.of(df, keys=tuple(keys))
    raw_start, raw_end = args.start_key, args.end_key
    if not raw_start and not raw_end:
        return k
    first = keys[0]
    first_type = dict((f.name, f.dataType.typeName()) for f in df.schema.fields)[first]
    if first_type == "binary":
        start = codec.parse_key(args.key_format, raw_start) if raw_start else None
        end = codec.parse_key(args.key_format, raw_end) if raw_end else None
    else:
        start = _typed_bound(raw_start, first, first_type) if raw_start else None
        end = _typed_bound(raw_end, first, first_type) if raw_end else None
    return k.in_range(start, end)


def _coprocessor_verdict(args) -> dict | None:
    """When BOTH sources are clusters (tikv:// / tikv+fake://) and every
    client exposes the checksum RPC, compare them entirely server-side
    (sources.tikv.compare_checksum_parallel — the reference's actual
    checksum flow).  Returns None to fall back to the scan+Spark path."""
    from tikv_data_compare_spark.sources.tikv import (
        _make_client,
        compare_checksum_parallel,
    )

    def client_for(path: str):
        scheme, _, addr = path.partition("://")
        if scheme not in ("tikv", "tikv+fake"):
            return None
        opts = {"client": "fake" if scheme == "tikv+fake" else "live"}
        if addr and scheme == "tikv":
            opts["pd_addr"] = addr
        return _make_client(opts)

    sc, dc = client_for(args.src), client_for(args.dst)
    if sc is None or dc is None:
        return None
    if not (hasattr(sc, "checksum") and hasattr(dc, "checksum")):
        return None  # client lacks the RPC — scan+Spark crc64 instead
    start = codec.parse_key(args.key_format, args.start_key) if args.start_key else None
    end = codec.parse_key(args.key_format, args.end_key) if args.end_key else None
    return compare_checksum_parallel(
        sc, dc, start, end, concurrency=args.concurrency or 10
    )


def main(argv: list[str] | None = None) -> int:
    top = argparse.ArgumentParser(prog="tikv-data-compare-spark")
    sub = top.add_subparsers(dest="cmd", required=True)

    for name, dual in (("checksum", True), ("diff", True), ("scan", False)):
        p = sub.add_parser(name)
        _add_common(p, dual)
        if name == "checksum":
            p.add_argument("--algo", default="xxhash64", choices=["xxhash64", "md5i64", "crc64"])
        if name == "diff":
            p.add_argument(
                "--targeted-buckets",
                type=int,
                default=0,
                help="localize the diff first: per-bucket checksums over N "
                "hash buckets of the key, then row-diff only the mismatched "
                "buckets (operators.diff.targeted_diff — findings identical "
                "to the full diff; the scale path when drift is sparse)",
            )
            p.add_argument(
                "--tolerance",
                action="append",
                default=[],
                metavar="COL=EPS[:REL]",
                help="treat numeric column COL as equal within |src-dst| <= EPS, "
                "or with :REL within max(EPS, REL*max(|src|,|dst|)) — relative "
                "drift plus an absolute floor for near-zero values "
                "(repeatable; operators.diff.diff_tolerant) — suppresses "
                "re-encode float jitter instead of flooding findings; other "
                "columns stay byte-exact; not combinable with "
                "--targeted-buckets (the bucket checksums are exact by design)",
            )
        if name == "scan":
            p.add_argument("--out", default="", help="src output dir (default: {src}_scan.log.<ts>)")
            # the reference's scan dumps BOTH clusters in one invocation
            # (scan/scan.go:87-108: errgroup over src AND dst after the
            # api-version gate at scan/scan.go:74-86) — --dst restores that
            # workflow: version-gate the pair, then export both sides
            p.add_argument("--dst", default="", help="also dump this second source "
                           "(version-gated pair, mirroring the reference's dual scan)")
            p.add_argument("--out-dst", default="",
                           help="dst output dir (default: {dst}_scan.log.<ts>)")

    # incremental flow: store ~16 B/bucket once, then detect WHICH key
    # ranges drifted on every later run without rescanning the old snapshot
    p = sub.add_parser("manifest")
    _add_common(p, dual=False)
    p.add_argument("--save", default="", help="write the per-bucket checksum manifest here")
    p.add_argument("--against", default="", help="compare src against this saved manifest")
    p.add_argument("--buckets", type=int, default=256, help="hash-bucket count (must match at save and compare)")
    p.add_argument("--range-key", default="",
                   help="at --save: bucket by QUANTILE RANGES of this numeric key "
                        "instead of key hashes (balanced under skew; drift "
                        "localizes to contiguous scannable ranges); boundaries "
                        "are stored in the manifest and reused at compare")
    p.add_argument("--algo", default="xxhash64", choices=["xxhash64", "md5i64"])

    for name in ("format", "decodets", "encodekey"):
        p = sub.add_parser(name)
        p.add_argument("--key", required=True)
        p.add_argument("--format", default="hex", choices=["raw", "hex", "escaped"], dest="key_format")

    # near-dup detection over a documents parquet: the batch self-join by
    # default, or the PERSISTENT band-table index for incremental ingest
    # (--build-index / --append-index / --index, mirroring the ann flags)
    p = sub.add_parser("dedup")
    p.add_argument("--src", required=True, help="documents parquet (dir or file)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--dedup-algo", default="", choices=["", "md5i64", "xxhash64"],
                   help="hash algorithm; unset resolves per mode — md5i64 "
                        "for the shingle/minhash modes (oracle-checkable; "
                        "kept sets are algo-dependent there) and xxhash64 "
                        "for --self-dedup-trim (span verdicts are algo-"
                        "independent, r18 operator default).  Index "
                        "queries/appends read it from the index meta instead")
    p.add_argument("--build-index", default="",
                   help="persist --src's LSH band table to this dir (4 rows × "
                        "~32 B per doc) for later incremental queries")
    p.add_argument("--append-index", default="",
                   help="append --src's band keys to this index so later "
                        "batches dedup against them")
    p.add_argument("--index", default="",
                   help="query --src as a NEW batch against this index: "
                        "candidate (new_id, indexed_id) pairs")
    p.add_argument("--ingest-index", default="",
                   help="fold --src as ONE watermarked epoch into this index "
                        "(bootstrap build if absent): emit the epoch's "
                        "intra+cross candidate pairs, then append its band "
                        "keys — the incremental-ingest flow "
                        "(streaming.dedup_stream batch face)")
    p.add_argument("--epoch", type=int, default=None,
                   help="with --ingest-index: the epoch id, default 0 "
                        "(epochs <= the index's last_epoch watermark are "
                        "redelivery no-ops)")
    p.add_argument("--pairs-out", default="",
                   help="with --ingest-index: write the epoch's pairs under "
                        "PAIRS_OUT/epoch=N")
    p.add_argument("--labels", default="",
                   help="with --ingest-index: ALSO fold the epoch's pairs "
                        "into this persisted (id, component) label table — "
                        "incremental canonicalization (keep/drop verdicts "
                        "stay current without re-reading the pair log)")
    p.add_argument("--corpus", default="",
                   help="with --index: the indexed docs parquet — adds the "
                        "exact-Jaccard verify column to the cross pairs")
    p.add_argument("--lines", action="store_true",
                   help="C4-style corpus LINE dedup instead of document "
                        "near-dup: drop every non-first occurrence of a line "
                        "across the corpus, rebuild each doc in order "
                        "(operators.dedup.dedup_lines)")
    p.add_argument("--sep", default="\n", help="with --lines: literal line separator")
    p.add_argument("--subtract", default="",
                   help="cross-corpus exact-content subtraction: flag every "
                        "--src doc whose content exists verbatim in this "
                        "parquet (operators.dedup.subtract_corpus; the "
                        "incremental-crawl dedup)")
    p.add_argument("--subtract-bloom-bits", type=int, default=None,
                   help="with --subtract: pre-screen through a fixed-size "
                        "Bloom bitmap of this many bits (corpus-sized "
                        "other-set mode; result identical)")
    p.add_argument("--self-dedup-trim", type=int, default=0, metavar="SPAN",
                   help="span-SURGICAL corpus-internal ExactSubstr dedup "
                        "(r17, text.self_dedup_trim): cut every >= SPAN-char "
                        "verbatim span shared with a smaller-id doc out of "
                        "the later doc's text (Lee et al.'s removal mode; "
                        "the drop verdict is curate's self_dedup_span stage)")
    p.add_argument("--max-fp-df", type=int, default=None,
                   help="with --self-dedup-trim: hot-fingerprint rekey "
                        "threshold (exact at any value; bounds the candidate "
                        "join on template-heavy corpora)")
    p.add_argument("--snap", default="none", choices=["none", "word"],
                   help="with --self-dedup-trim: 'word' extends each cut to "
                        "whitespace boundaries so no word is partially "
                        "removed (r18; 'none' = the paper's exact spans)")
    p.add_argument("--only-ids", default="",
                   help="with --self-dedup-trim: parquet whose id column "
                        "names the docs to trim — the dedup reference stays "
                        "the full --src corpus, each output row is identical "
                        "to the full run's (r18 survivors-only seam)")
    p.add_argument("--out", default="", help="write result parquet here")
    p.add_argument("--concurrency", type=int, default=0)

    # deterministic corpus sampling: hash Bernoulli / stratified quota /
    # training shards / source-mixture (explicit rates or sqrt-temperature)
    p = sub.add_parser("sample")
    p.add_argument("--src", required=True, help="documents parquet (dir or file)")
    p.add_argument("--method", default="hash",
                   choices=["hash", "stratified", "shard", "mixture",
                            "token-mixture", "sqrt-mixture", "dsir",
                            "token-budget", "split"])
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--pct", type=int, default=10, help="hash: keep percentage")
    p.add_argument("--k", type=int, default=20, help="stratified: rows per group")
    p.add_argument("--group-col", default="source",
                   help="stratified/mixture/sqrt-mixture group column")
    p.add_argument("--n-shards", type=int, default=8, help="shard: shard count")
    p.add_argument("--weights", default="",
                   help="mixture spec GROUP=RATE_BP[xEPOCHS],... e.g. "
                        "web=2500,wiki=10000x3 (rates per 10000; unlisted "
                        "groups DROP); token-mixture: GROUP=SHARE_BP token-"
                        "share targets, keep-rates derived from token counts")
    p.add_argument("--epochs-for-full", type=int, default=1,
                   help="sqrt-mixture: replicate full-rate (smallest) groups "
                        "this many times with an epoch index")
    p.add_argument("--target", default="",
                   help="dsir: target-corpus parquet (the clean/domain data "
                        "you want more of); weights score --src against it")
    p.add_argument("--tau-c", type=int, default=0,
                   help="dsir: selectivity pivot in the x1e6 log units of "
                        "dsir_logw_c — raise to keep less, more target-skewed "
                        "data")
    p.add_argument("--n-buckets", type=int, default=4096,
                   help="dsir: hashed n-gram feature buckets")
    p.add_argument("--dsir-algo", default="md5i64",
                   choices=["md5i64", "xxhash64"],
                   help="dsir: feature/coin hash — md5i64 is the oracle-"
                        "checkable default, xxhash64 the JVM-intrinsic fast "
                        "path (~1.7x at sf0.1; a different algo selects a "
                        "different, equally deterministic kept set)")
    p.add_argument("--budget-tokens", type=int, default=0,
                   help="token-budget: admit docs (best score first, then "
                        "content-hash order) while the cumulative token "
                        "count stays under this")
    p.add_argument("--score-col", default="",
                   help="token-budget: optional score column — higher "
                        "scores admit first (integer-frozen scores replay)")
    p.add_argument("--fractions", default="train=9000,val=500,test=500",
                   help="split: NAME=BASIS_POINTS,... summing to 10000; "
                        "insertion order defines the bucket layout")
    p.add_argument("--split-group-col", default="",
                   help="split: key the coin on this column instead of the "
                        "content — e.g. a canonical dup-component label, so "
                        "near-dup families co-assign (leakage guard)")
    p.add_argument("--split-dirs", action="store_true",
                   help="split + --out: write split=NAME/ partitioned "
                        "parquet (one directory per split, the layout a "
                        "training job consumes) instead of one flat table")
    p.add_argument("--out", default="", help="write result parquet here")
    p.add_argument("--concurrency", type=int, default=0)

    # the LLM-pipeline capstone as a first-class subcommand: run the full
    # curation chain (exact dedup → near-dup → quality → repetition →
    # optional PII / decontamination) over a documents parquet and write
    # the kept corpus; the attrition funnel prints as JSON lines
    p = sub.add_parser("curate")
    p.add_argument("--src", required=True, help="documents parquet (dir or file)")
    p.add_argument("--out", default="", help="kept-docs parquet dir (default: {src}_curated)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--near-dup-jaccard-c", type=int, default=8000)
    p.add_argument("--max-dup-word-frac-c", type=int, default=7000)
    p.add_argument("--max-top-bigram-frac-c", type=int, default=1800)
    p.add_argument("--drop-pii", action="store_true")
    p.add_argument("--redact-pii", action="store_true",
                   help="mask PII spans in the kept docs' text with typed "
                        "placeholders (<EMAIL>/<URL>/<NUM>) instead of "
                        "dropping the documents; composes with --drop-pii")
    p.add_argument("--probes", default="", help="probe/benchmark parquet for decontamination")
    p.add_argument("--max-contamination-hits", type=int, default=0)
    p.add_argument("--decontam-span", type=int, default=0,
                   help="with --probes: if > 0, use EXACT-substring "
                        "decontamination (drop docs sharing a verbatim span "
                        "of at least this many chars with a probe) instead "
                        "of the n-gram overlap screen")
    p.add_argument("--decontam-max-fp-df", type=int, default=0,
                   help="with --decontam-span: if > 0, winnow fingerprints "
                        "above this corpus document frequency are re-keyed "
                        "at full span resolution instead of joined "
                        "(hot-fingerprint split for template-heavy corpora; "
                        "EXACT at any value since r16 — a pure performance "
                        "knob; negative values are rejected loudly)")
    p.add_argument("--decontam-algo", default="",
                   choices=["", "md5i64", "xxhash64"],
                   help="winnow gram hash for the exact span stages only "
                        "(--decontam-span / --self-dedup-span); default "
                        "inherits --algo.  The span verdicts are "
                        "algo-independent (verbatim verify), so xxhash64 "
                        "is a pure throughput knob here")
    p.add_argument("--self-dedup-span", type=int, default=0,
                   help="if > 0, appends a 'self_dedup_span' stage: corpus-"
                        "internal ExactSubstr dedup (Lee et al. 2021) — "
                        "docs sharing a verbatim span of at least this many "
                        "chars with a smaller-id doc drop.  When equal to "
                        "--decontam-span (with --probes), the corpus is "
                        "winnowed once for both stages")
    p.add_argument("--self-dedup-trim-span", type=int, default=0,
                   help="if > 0, span-surgically TRIMS survivors instead of "
                        "gating: every verbatim span of at least this many "
                        "chars shared with a smaller-id doc is cut out of "
                        "the kept doc's text (text.self_dedup_trim — a "
                        "transform like --redact-pii, attrition unchanged; "
                        "composes with --self-dedup-span)")
    p.add_argument("--self-dedup-trim-snap", default="none",
                   choices=["none", "word"],
                   help="with --self-dedup-trim-span: 'word' extends each "
                        "cut to whitespace boundaries so the spliced text "
                        "never contains word fragments (r18)")
    p.add_argument("--keep-langs", default="",
                   help="comma-separated language codes: appends a 'language' "
                        "stage keeping only docs whose stopword-overlap "
                        "prediction is listed (unpredictable docs drop)")
    p.add_argument("--max-lm-nll-c", type=int, default=0,
                   help="if > 0, appends a 'fluency' stage (CCNet-style "
                        "perplexity gate): docs whose mean bigram-LM cost "
                        "(x1e6) exceeds the cap drop; unscoreable docs drop")
    p.add_argument("--lm-train", default="",
                   help="with --max-lm-nll-c: train the bigram LM on this "
                        "clean reference parquet instead of --src itself")
    p.add_argument("--quality-seed", default="",
                   help="reference-corpus parquet: appends a "
                        "'quality_classifier' stage — the model-based "
                        "seed-vs-crawl quality filter (NB hashed-n-gram "
                        "weights + driver-trained logistic threshold); docs "
                        "scoring below the trained boundary drop")
    p.add_argument("--quality-crawl", default="",
                   help="with --quality-seed: explicit negative-class "
                        "parquet (default: the input corpus itself)")
    p.add_argument("--min-quality-c", type=int, default=None,
                   help="with --quality-seed: override the trained decision "
                        "boundary with this x1e6 mean-log-odds threshold")
    p.add_argument("--quality-n-buckets", type=int, default=2048)
    p.add_argument("--quality-algo", default="md5i64",
                   choices=["md5i64", "xxhash64"],
                   help="quality stage's feature hash — NOT inherited from "
                        "--algo: the classifier's kept set is feature-hash-"
                        "dependent, so switching it is an explicit decision "
                        "(xxhash64 = throughput; the md5 feature fold "
                        "dominates the stage's cost at scale)")
    p.add_argument("--c4-rules", action="store_true",
                   help="appends a 'boilerplate' stage: the C4 cleaning "
                        "heuristics (lorem-ipsum/curly-brace docs drop; docs "
                        "retaining < --c4-min-kept-lines clean lines drop)")
    p.add_argument("--c4-min-kept-lines", type=int, default=3)
    p.add_argument("--block-sources", default="",
                   help="comma-separated source values: appends a "
                        "'url_blocklist' stage dropping docs whose source "
                        "column is listed (C4 badlist at provenance "
                        "granularity)")
    p.add_argument("--source-col", default="source")
    p.add_argument("--algo", default="xxhash64", choices=["xxhash64", "md5i64"],
                   help="near-dup shingle hash (xxhash64 = throughput default)")
    p.add_argument("--concurrency", type=int, default=0)

    # model-based quality classifier (r16): fit the seed-vs-crawl filter
    # once (--seed + --model-out, writes the stamped weight-table parquet)
    # or score a corpus with a frozen model (--model [+ --out]) — the
    # build-once/score-many CLI shape of the ann/bm25 index subcommands
    p = sub.add_parser("quality")
    p.add_argument("--src", required=True,
                   help="documents parquet: the crawl/default negative "
                        "class when fitting; the corpus to score otherwise")
    p.add_argument("--seed", default="",
                   help="reference-corpus parquet — enables FIT mode "
                        "(requires --model-out)")
    p.add_argument("--crawl", default="",
                   help="fit: explicit negative-class parquet (default: "
                        "--src itself)")
    p.add_argument("--model-out", default="",
                   help="fit: directory for the stamped model parquet")
    p.add_argument("--model", default="",
                   help="score: trained model parquet from --model-out")
    p.add_argument("--out", default="",
                   help="score: write kept docs here (default: print the "
                        "scoring summary only)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--n-buckets", type=int, default=2048)
    p.add_argument("--algo", default="md5i64", choices=["md5i64", "xxhash64"],
                   help="feature hash (md5i64 = oracle-checkable, "
                        "xxhash64 = throughput)")
    p.add_argument("--concurrency", type=int, default=0)

    # approximate-nearest-neighbor search over an embeddings parquet: every
    # ANN path (exact brute force, LSH buckets, IVF cells, PQ codes, the
    # composed IVFPQ) behind one subcommand.  With --queries the IVF/IVFPQ
    # methods run the DataFrame-query JOIN path (no driver collect, no 16k
    # broadcast ceiling); without it, queries are the --n-queries lowest
    # vec_ids of the corpus via the broadcast path.
    p = sub.add_parser("ann")
    p.add_argument("--src", default="",
                   help="embeddings parquet with (vec_id, embedding) — required "
                        "for everything except --compact-index")
    p.add_argument("--queries", default="",
                   help="queries parquet (query_id, embedding); ivf/ivfpq only — "
                        "runs the join path with no query-count ceiling")
    p.add_argument("--include-self", action="store_true",
                   help="with --queries/--index: do NOT drop candidates whose "
                        "vec_id equals the query_id — REQUIRED when the query "
                        "ids are an unrelated id space (the default "
                        "self-exclusion assumes queries are corpus rows; an "
                        "id collision would silently hide a neighbor)")
    p.add_argument("--method", default="bruteforce",
                   choices=["bruteforce", "lsh", "ivf", "pq", "ivfpq"])
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--n-queries", type=int, default=10)
    p.add_argument("--n-planes", type=int, default=6)
    p.add_argument("--n-cells", type=int, default=16)
    def _probe_arg(v: str):
        # 'auto' sizes the probe from corpus/cell density
        # (similarity.resolve_n_probe); anything else must be an int
        if v == "auto":
            return v
        try:
            return int(v)
        except ValueError:
            raise argparse.ArgumentTypeError(f"{v!r} is not an integer or 'auto'")

    p.add_argument("--n-probe", type=_probe_arg, default=4)
    p.add_argument("--m", type=int, default=8)
    p.add_argument("--k-codes", type=int, default=32)
    p.add_argument("--rerank", type=int, default=0)
    p.add_argument("--build-index", default="",
                   help="build a persistent IVFPQ index of --src here and exit "
                        "(train + encode once; later runs query it via --index)")
    p.add_argument("--append-index", default="",
                   help="encode --src rows with this index's FROZEN codebooks "
                        "and append them (FAISS add(): existing codes untouched)")
    p.add_argument("--on-drift", default="fail", choices=["fail", "warn", "skip"],
                   help="append quantization-drift gate: fail (default) rejects "
                        "appends whose sample quantization error exceeds the "
                        "build-time band stored in the index meta; warn "
                        "proceeds loudly; skip disables the gate")
    p.add_argument("--compact-index", default="",
                   help="rewrite this index's vectors/ into a bounded, "
                        "cell-clustered file set (swap-committed; queries "
                        "unchanged) — run after many --append-index epochs")
    p.add_argument("--target-files", type=int, default=0,
                   help="file count for --compact-index (default: sized from "
                        "the index row count)")
    p.add_argument("--index", default="",
                   help="query this persisted index (requires --queries; "
                        "--rerank reads float vectors from --src)")
    p.add_argument("--out", default="", help="write result parquet here instead of printing rows")
    p.add_argument("--concurrency", type=int, default=0)

    # BM25 ranked retrieval over a documents parquet: one-shot scoring, or
    # the persistent text index (build once / query many; appends keep the
    # statistics EXACT for the grown corpus — operators/text_index.py)
    p = sub.add_parser("search")
    p.add_argument("--src", default="", help="documents parquet (one-shot scoring / --build-index / --append-index)")
    p.add_argument("--query", action="append", default=[],
                   help="query string (repeatable; ids assigned 0..n-1 in order)")
    p.add_argument("--queries", default="",
                   help="queries parquet (query_id, qtext) — alternative to --query")
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--build-index", default="",
                   help="persist --src's BM25 statistics (postings/dfreq/meta) here and exit")
    p.add_argument("--append-index", default="",
                   help="append --src's postings to this index (df/avgdl re-derive exactly)")
    p.add_argument("--index", default="",
                   help="score queries against this persisted index instead of scanning --src")
    p.add_argument("--out", default="", help="write result parquet here")
    p.add_argument("--concurrency", type=int, default=0)

    # SemDeDup: k-means-bucketed semantic near-duplicate verdicts over an
    # embeddings parquet (operators/clustering.py)
    p = sub.add_parser("semdedup")
    p.add_argument("--src", required=True, help="embeddings parquet with (vec_id, embedding)")
    p.add_argument(
        "--k", default="auto",
        help="cluster count, or 'auto' (default) = ceil(n/cell_target) — "
        "the linear geometry; a FIXED k is quadratic in corpus growth",
    )
    p.add_argument("--n-iter", type=int, default=2)
    p.add_argument("--threshold-c", type=int, default=9500,
                   help="scaled cosine (x10000) above which the higher id drops")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--out", default="", help="write verdict parquet here")
    p.add_argument("--concurrency", type=int, default=0)

    # exact heavy-hitter key profile: the pre-flight that sizes salting
    p = sub.add_parser("hotkeys")
    p.add_argument("--src", required=True, help="parquet to profile")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--top-n", type=int, default=20)
    p.add_argument("--out", default="", help="write profile parquet here")
    p.add_argument("--concurrency", type=int, default=0)

    # perceptual image hashing over a binary-payload parquet: per-image
    # dHash (+ optional banded hamming near-dup pairs)
    p = sub.add_parser("imagehash")
    p.add_argument("--src", required=True, help="parquet with an image payload column")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--payload-col", default="payload")
    p.add_argument("--out", default="", help="write (id, dhash, decoded) parquet here")
    p.add_argument("--pairs", action="store_true",
                   help="also emit near-dup pairs (banded hamming join)")
    p.add_argument("--max-hamming", type=int, default=6)
    p.add_argument("--pairs-out", default="", help="with --pairs: write pairs parquet here")
    p.add_argument("--n-bands", type=int, default=8,
                   help="band count for --pairs / --build-index (pigeonhole: "
                        "recall complete for max-hamming <= n-bands - 1)")
    p.add_argument("--build-index", default="",
                   help="persist --src's band rows as a dhash index here and "
                        "exit (operators/dhash_index.py; later runs query it "
                        "via --index)")
    p.add_argument("--append-index", default="",
                   help="band --src's hashes with this index's stored "
                        "geometry and append them")
    p.add_argument("--index", default="",
                   help="near-dup pairs of --src's images against this "
                        "persisted index (instead of the batch self-join)")
    p.add_argument("--concurrency", type=int, default=0)

    # deterministic Bloom membership filter: build/append a fixed-size
    # bitmap from an item column (blocklists, held-out fingerprints) and
    # probe candidate frames map-side (operators/bloom.py)
    p = sub.add_parser("bloom")
    p.add_argument("--src", required=True,
                   help="items parquet: the insert set (--build-index/"
                        "--append-index) or the candidates (--index)")
    p.add_argument("--item-col", default="item")
    p.add_argument("--m-bits", type=int, default=63 * 1024,
                   help="build: bitmap size in bits (fixed however many "
                        "items are inserted)")
    p.add_argument("--k-hashes", type=int, default=4,
                   help="build: probes per item (false-positive knob)")
    p.add_argument("--build-index", default="",
                   help="persist --src's items as a bloom index here and exit")
    p.add_argument("--append-index", default="",
                   help="OR --src's items into this index (stored geometry)")
    p.add_argument("--index", default="",
                   help="probe --src against this index; prints row/flag "
                        "counts (use --out for the flagged frame)")
    p.add_argument("--out", default="",
                   help="with --index: write the probed frame (+ "
                        "might_contain) here")
    p.add_argument("--concurrency", type=int, default=0)

    # sliding-window passage chunking: cut long documents into word windows
    # with carried overlap (the embedding-model / context-budget prep)
    p = sub.add_parser("chunk")
    p.add_argument("--src", required=True, help="documents parquet (dir or file)")
    p.add_argument("--out", default="", help="output parquet (default: {src}_chunks)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-words", type=int, default=128)
    p.add_argument("--overlap", type=int, default=16)
    p.add_argument("--concurrency", type=int, default=0)

    # trained byte-level BPE over a documents parquet: learn merges from the
    # corpus word-frequency table, write (id, n_tokens_subword, token_ids)
    # parquet + the merge/vocab tables for reuse
    p = sub.add_parser("tokenize")
    p.add_argument("--src", required=True, help="documents parquet (dir or file)")
    p.add_argument("--out", default="", help="output parquet (default: {src}_tokens)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--n-merges", type=int, default=256)
    p.add_argument("--vocab-top", type=int, default=4096)
    p.add_argument("--vocab-out", default="",
                   help="also write the (token_id, token_hex) vocab parquet here")
    p.add_argument("--ids", action="store_true",
                   help="include the token_ids array column (counts only "
                        "otherwise — id arrays are ~8 B/token of output)")
    p.add_argument("--pack-seq-len", type=int, default=0,
                   help="if > 0, ALSO write concatenate-and-cut training "
                        "sequences of this many token ids to "
                        "{out}_seqs (pack_sequences)")
    p.add_argument("--pack-shards", type=int, default=8)
    p.add_argument("--concurrency", type=int, default=0)

    args = top.parse_args(argv)

    # codec subcommands are pure driver-side (reference codec/codec.go:14-54)
    if args.cmd == "format":
        b = codec.parse_key(args.key_format, args.key)
        print(json.dumps({"raw": b.decode("utf-8", "replace"), "hex": codec.hex_upper(b)}))
        return 0
    if args.cmd == "decodets":
        b = codec.parse_key(args.key_format, args.key)
        print(json.dumps({"ts": codec.decode_ts(b)}))
        return 0
    if args.cmd == "encodekey":
        b = codec.parse_key(args.key_format, args.key)
        print(json.dumps({"encoded_hex": codec.hex_upper(codec.encode_key_v2(b))}))
        return 0

    from tikv_data_compare_spark.session import get_spark

    spark = get_spark("cli", cpus=args.concurrency or None)
    if args.concurrency:
        # getOrCreate may have reused an existing session whose build-time
        # confs are frozen; shuffle partitions are runtime-settable, so the
        # concurrency knob always takes effect on the comparison's shuffles
        # (the reference's --concurrency sizes its range worker pool the
        # same way, config/config.go:36)
        spark.conf.set("spark.sql.shuffle.partitions", str(args.concurrency))

    if args.cmd == "dedup":
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators import dedup as dd
        from tikv_data_compare_spark.operators import dedup_index as di

        if args.self_dedup_trim:
            # r18 (ADVICE): the full companion-flag set is rejected, not
            # just the index-building half — previously --corpus / --epoch /
            # --pairs-out / --labels were silently dropped in this mode
            if args.subtract or args.build_index or args.append_index \
                    or args.index or args.ingest_index or args.lines \
                    or args.corpus or args.epoch is not None \
                    or args.pairs_out or args.labels:
                print("dedup: --self-dedup-trim is its own mode (only "
                      "--out/--max-fp-df/--dedup-algo/--snap/--only-ids "
                      "apply)", file=sys.stderr)
                return 2
            from tikv_data_compare_spark.operators import text as tx

            try:
                trimmed = tx.self_dedup_trim(
                    spark.read.parquet(args.src),
                    id_col=args.id_col, text_col=args.text_col,
                    min_span=int(args.self_dedup_trim),
                    max_fp_df=args.max_fp_df,
                    # unset flag → the operator's throughput default (r18)
                    algo=args.dedup_algo or "xxhash64",
                    snap=args.snap,
                    later_ids=(
                        spark.read.parquet(args.only_ids).select(args.id_col)
                        if args.only_ids else None
                    ),
                )
                if args.out:
                    trimmed.write.mode("overwrite").parquet(args.out)
                    trimmed = spark.read.parquet(args.out)
                counts = trimmed.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((~F.col("kept_intact")).cast("long")).alias("c"),
                    F.sum("n_trimmed_chars").alias("t"),
                ).first()
            except ValueError as e:
                print(f"dedup: {e}", file=sys.stderr)
                return 2
            result = {"rows": int(counts["n"]),
                      "docs_cut": int(counts["c"] or 0),
                      "chars_trimmed": int(counts["t"] or 0)}
            if args.out:
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        if args.subtract:
            if args.build_index or args.append_index or args.index \
                    or args.ingest_index or args.lines or args.corpus \
                    or args.labels or args.pairs_out or args.epoch is not None:
                # silently ignoring a requested flag would leave downstream
                # tooling reading stale/absent outputs (the sibling-mode rule)
                print("dedup: --subtract is its own mode (only --out/"
                      "--subtract-bloom-bits apply)", file=sys.stderr)
                return 2
            try:
                flagged = dd.subtract_corpus(
                    spark.read.parquet(args.src),
                    spark.read.parquet(args.subtract),
                    content_col=args.text_col,
                    bloom_m_bits=args.subtract_bloom_bits,
                )
                if args.out:
                    flagged.write.mode("overwrite").parquet(args.out)
                    flagged = spark.read.parquet(args.out)
                counts = flagged.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("in_other").alias("d")
                ).first()
            except ValueError as e:
                print(f"dedup: {e}", file=sys.stderr)
                return 2
            result = {"rows": int(counts["n"]),
                      "in_other": int(counts["d"] or 0)}
            if args.out:
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        modes = [
            f for f, v in (("--build-index", args.build_index),
                           ("--append-index", args.append_index),
                           ("--index", args.index),
                           ("--ingest-index", args.ingest_index)) if v
        ]
        if len(modes) > 1:
            print(f"dedup: {' and '.join(modes)} are mutually exclusive",
                  file=sys.stderr)
            return 2
        if (args.labels or args.pairs_out or args.epoch is not None) and not args.ingest_index:
            print("dedup: --labels/--pairs-out/--epoch require --ingest-index",
                  file=sys.stderr)
            return 2
        if args.ingest_index and (args.out or args.corpus):
            # silently skipping a requested --out would leave downstream
            # tooling reading a stale/absent file (same rule as build/append)
            print("dedup: --out/--corpus do not apply to --ingest-index "
                  "(use --pairs-out for the epoch's pairs)", file=sys.stderr)
            return 2
        if (args.build_index or args.append_index) and (args.out or args.corpus):
            # returning 0 while silently skipping a requested --out would
            # leave downstream tooling reading a stale/absent file
            print("dedup: --out/--corpus only apply to --index queries or the "
                  "batch self-join", file=sys.stderr)
            return 2
        if args.corpus and not args.index:
            print("dedup: --corpus requires --index", file=sys.stderr)
            return 2
        if args.lines and modes:
            print(f"dedup: --lines and {modes[0]} are mutually exclusive",
                  file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.src)
        if args.lines:
            out_df = dd.dedup_lines(
                docs, id_col=args.id_col, text_col=args.text_col, sep=args.sep
            )
            result = {"mode": "lines", "docs": out_df.count()}
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        try:
            if args.ingest_index:
                from tikv_data_compare_spark.streaming.dedup_stream import (
                    ingest_batch_into_dedup_index,
                )

                epoch = args.epoch if args.epoch is not None else 0
                applied = ingest_batch_into_dedup_index(
                    docs, args.ingest_index,
                    pairs_out=args.pairs_out or None,
                    epoch_id=epoch,
                    id_col=args.id_col, text_col=args.text_col,
                    algo=args.dedup_algo or "md5i64",
                    labels_path=args.labels or None,
                )
                result = {"ingested": bool(applied), "epoch": epoch,
                          "index": args.ingest_index}
                if args.pairs_out:
                    result["pairs_out"] = f"{args.pairs_out}/epoch={epoch}"
                if args.labels:
                    result["labels"] = args.labels
                print(json.dumps(result))
                return 0
            if args.build_index:
                meta = di.build_dedup_index(
                    docs, args.build_index, id_col=args.id_col,
                    text_col=args.text_col, algo=args.dedup_algo or "md5i64",
                )
                print(json.dumps({"built": args.build_index, **meta}))
                return 0
            if args.append_index:
                n = di.append_to_dedup_index(
                    docs, args.append_index, id_col=args.id_col,
                    text_col=args.text_col,
                )
                print(json.dumps({"appended": n, "index": args.append_index}))
                return 0
            if args.index:
                out_df = di.query_dedup_index(
                    docs, args.index, id_col=args.id_col, text_col=args.text_col
                )
                if args.corpus:
                    # exact-Jaccard verify needs both sides' text; an id
                    # shared between --src and --corpus must refer to the
                    # same document (dropDuplicates keeps one copy).  Pairs
                    # whose indexed doc is NOT in --corpus (e.g. appended
                    # batches) keep a NULL jaccard_c instead of silently
                    # vanishing from the candidate list — a LEFT join back
                    # onto the full pair set, not the verify's inner joins.
                    corpus = spark.read.parquet(args.corpus)
                    both = (
                        corpus.select(args.id_col, args.text_col)
                        .unionByName(docs.select(args.id_col, args.text_col))
                        .dropDuplicates([args.id_col])
                    )
                    pairs = out_df.select(
                        F.col("new_id").alias("doc_a"),
                        F.col("indexed_id").alias("doc_b"),
                    )
                    ver = dd.jaccard_for_pairs(pairs, both, args.id_col, args.text_col)
                    out_df = (
                        pairs.join(ver, ["doc_a", "doc_b"], "left")
                        .select(
                            F.col("doc_a").alias("new_id"),
                            F.col("doc_b").alias("indexed_id"),
                            "jaccard_c",
                        )
                    )
            else:
                out_df = dd.jaccard_pairs(
                    docs, args.id_col, args.text_col, algo=args.dedup_algo or "md5i64"
                )
            result = {"pairs": out_df.count()}
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        except ValueError as e:
            print(f"dedup: {e}", file=sys.stderr)
            return 2

    if args.cmd == "search":
        from tikv_data_compare_spark.operators import text_index as ti
        from tikv_data_compare_spark.operators.text import bm25_topk

        modes = [
            f for f, v in (("--build-index", args.build_index),
                           ("--append-index", args.append_index),
                           ("--index", args.index)) if v
        ]
        if len(modes) > 1:
            print(f"search: {' and '.join(modes)} are mutually exclusive",
                  file=sys.stderr)
            return 2
        if (args.build_index or args.append_index) and (
            args.query or args.queries or args.out
        ):
            print("search: --query/--queries/--out only apply to scoring runs "
                  "(--index or one-shot --src)", file=sys.stderr)
            return 2
        if not (args.build_index or args.append_index or args.index) and not args.src:
            print("search: one-shot scoring needs --src", file=sys.stderr)
            return 2
        try:
            if args.build_index:
                meta = ti.build_text_index(
                    spark.read.parquet(args.src), args.build_index,
                    id_col=args.id_col, text_col=args.text_col,
                )
                print(json.dumps({"built": args.build_index, **meta}))
                return 0
            if args.append_index:
                n = ti.append_to_text_index(
                    spark.read.parquet(args.src), args.append_index,
                    id_col=args.id_col, text_col=args.text_col,
                )
                print(json.dumps({"appended": n, "index": args.append_index}))
                return 0
            if args.query and args.queries:
                print("search: --query and --queries are mutually exclusive",
                      file=sys.stderr)
                return 2
            if args.queries:
                qdf = spark.read.parquet(args.queries)
            elif args.query:
                qdf = spark.createDataFrame(
                    list(enumerate(args.query)), "query_id long, qtext string"
                )
            else:
                print("search: scoring needs --query or --queries", file=sys.stderr)
                return 2
            if args.index:
                out_df = ti.query_text_index(qdf, args.index, k=args.k)
            else:
                out_df = bm25_topk(
                    spark.read.parquet(args.src), qdf,
                    id_col=args.id_col, text_col=args.text_col, k=args.k,
                )
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                print(json.dumps({"out": args.out, "rows": out_df.count()}))
            else:
                # bounded: <= k rows per query
                for row in out_df.toLocalIterator():
                    print(json.dumps(row.asDict()))
            return 0
        except ValueError as e:
            print(f"search: {e}", file=sys.stderr)
            return 2

    if args.cmd == "semdedup":
        from tikv_data_compare_spark.operators.clustering import semantic_dedup

        try:
            k = args.k if args.k == "auto" else int(args.k)
            out_df = semantic_dedup(
                spark.read.parquet(args.src), k=k, n_iter=args.n_iter,
                threshold_c=args.threshold_c,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            kept = out_df.filter("kept = 1").count()
            total = out_df.count()
            result = {"kept": kept, "dropped": total - kept, "total": total}
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        except ValueError as e:
            print(f"semdedup: {e}", file=sys.stderr)
            return 2

    if args.cmd == "hotkeys":
        from tikv_data_compare_spark.operators.skew import hot_keys

        try:
            out_df = hot_keys(
                spark.read.parquet(args.src),
                [c.strip() for c in args.keys.split(",") if c.strip()],
                top_n=args.top_n,
            )
            if args.out:
                out_df.write.mode("overwrite").parquet(args.out)
                print(json.dumps({"out": args.out, "rows": out_df.count()}))
            else:
                for row in out_df.toLocalIterator():  # bounded: top_n rows
                    print(json.dumps(row.asDict()))
            return 0
        except ValueError as e:
            print(f"hotkeys: {e}", file=sys.stderr)
            return 2

    if args.cmd == "bloom":
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators import bloom as bl

        chosen = [
            f for f, v in (("--build-index", args.build_index),
                           ("--append-index", args.append_index),
                           ("--index", args.index)) if v
        ]
        if len(chosen) != 1:
            print(
                "bloom: exactly one of --build-index/--append-index/--index "
                "is required",
                file=sys.stderr,
            )
            return 2
        src = spark.read.parquet(args.src)
        try:
            if args.build_index:
                meta = bl.build_bloom_index(
                    src, args.build_index, args.item_col,
                    m_bits=args.m_bits, k_hashes=args.k_hashes,
                )
                print(json.dumps({"built": args.build_index, **meta}))
            elif args.append_index:
                meta = bl.append_to_bloom_index(
                    src, args.append_index, args.item_col
                )
                print(json.dumps({"appended": args.append_index, **meta}))
            else:
                probed = bl.query_bloom_index(src, args.index, args.item_col)
                # one execution of the probe lineage: write-then-recount
                # from the materialized parquet, or a single two-metric agg
                if args.out:
                    probed.write.mode("overwrite").parquet(args.out)
                    probed = spark.read.parquet(args.out)
                counts = probed.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("might_contain").alias("f"),
                ).first()
                result = {
                    "index": args.index,
                    "rows": int(counts["n"]),
                    "flagged": int(counts["f"] or 0),
                }
                if args.out:
                    result["out"] = args.out
                print(json.dumps(result))
        except ValueError as e:
            print(f"bloom: {e}", file=sys.stderr)
            return 2
        return 0

    if args.cmd == "imagehash":
        from tikv_data_compare_spark.operators import dhash_index as dhi
        from tikv_data_compare_spark.operators.multimodal import (
            dhash_pairs,
            image_dhash,
        )

        if args.pairs_out and not (args.pairs or args.index):
            print(
                "imagehash: --pairs-out requires --pairs or --index",
                file=sys.stderr,
            )
            return 2
        chosen = [
            f for f, v in (("--build-index", args.build_index),
                           ("--append-index", args.append_index),
                           ("--index", args.index)) if v
        ]
        if len(chosen) > 1:
            print(
                f"imagehash: {' and '.join(chosen)} are mutually exclusive",
                file=sys.stderr,
            )
            return 2
        src = spark.read.parquet(args.src)
        hashes = image_dhash(src, id_col=args.id_col, payload_col=args.payload_col)
        if args.build_index:
            meta = dhi.build_dhash_index(
                hashes, args.build_index, id_col=args.id_col,
                n_bands=args.n_bands,
            )
            print(json.dumps({"built": args.build_index, **meta}))
            return 0
        if args.append_index:
            n = dhi.append_to_dhash_index(
                hashes, args.append_index, id_col=args.id_col
            )
            print(json.dumps({"appended": n, "index": args.append_index}))
            return 0
        if args.index:
            pairs = dhi.query_dhash_index(
                hashes, args.index, max_hamming=args.max_hamming,
                id_col=args.id_col,
            )
            result = {"index": args.index}
            if args.pairs_out:
                pairs.write.mode("overwrite").parquet(args.pairs_out)
                result["pairs_out"] = args.pairs_out
                result["pairs"] = spark.read.parquet(args.pairs_out).count()
            else:
                result["pairs"] = pairs.count()
            print(json.dumps(result))
            return 0
        if args.out:
            hashes.write.mode("overwrite").parquet(args.out)
            hashes = spark.read.parquet(args.out)  # hash once, reuse for pairs
        else:
            # the Arrow decode pass feeds two counts and both sides of the
            # pair self-join — persist so images decode once
            hashes = hashes.persist()
        try:
            result = {
                "images": hashes.count(),
                "decoded": hashes.filter("decoded").count(),
            }
            if args.out:
                result["out"] = args.out
            if args.pairs:
                pairs = dhash_pairs(
                    hashes, max_hamming=args.max_hamming, id_col=args.id_col,
                    n_bands=args.n_bands,
                )
                if args.pairs_out:
                    pairs.write.mode("overwrite").parquet(args.pairs_out)
                    result["pairs_out"] = args.pairs_out
                    result["pairs"] = spark.read.parquet(args.pairs_out).count()
                else:
                    result["pairs"] = pairs.count()
        finally:
            if not args.out:
                hashes.unpersist()
        print(json.dumps(result))
        return 0

    if args.cmd == "chunk":
        from tikv_data_compare_spark.operators import text as txo

        docs = spark.read.parquet(args.src)
        try:
            out_df = txo.chunk_text(
                docs, id_col=args.id_col, text_col=args.text_col,
                max_words=args.max_words, overlap=args.overlap,
            )
        except ValueError as e:
            print(f"chunk: {e}", file=sys.stderr)
            return 2
        out = args.out or f"{args.src.rstrip('/')}_chunks"
        out_df.write.mode("overwrite").parquet(out)
        wrote = spark.read.parquet(out)
        print(json.dumps({
            "out": out,
            "chunks": wrote.count(),
            "docs": wrote.select(args.id_col).distinct().count(),
        }))
        return 0

    if args.cmd == "tokenize":
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators import text as txo

        docs = spark.read.parquet(args.src)
        merges = txo.train_bpe_merges(
            docs, text_col=args.text_col,
            n_merges=args.n_merges, vocab_top=args.vocab_top,
        )
        out_df = txo.bpe_token_count(
            docs.select(args.id_col, args.text_col), merges, text_col=args.text_col
        )
        if args.ids:
            out_df = txo.bpe_encode(out_df, merges, text_col=args.text_col)
        out = args.out or f"{args.src.rstrip('/')}_tokens"
        out_df.drop(args.text_col).write.mode("overwrite").parquet(out)
        if args.vocab_out:
            spark.createDataFrame(
                txo.bpe_vocab(merges), "token_id int, token_hex string"
            ).write.mode("overwrite").parquet(args.vocab_out)
        total = spark.read.parquet(out).agg(
            F.sum("n_tokens_subword").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        summary = {
            "out": out, "docs": int(total["n"]),
            "total_tokens": int(total["s"] or 0),
            "n_merges": len(merges), "vocab_size": 256 + len(merges),
            "vocab_out": args.vocab_out or None,
        }
        if args.pack_seq_len > 0:
            seq_out = f"{out}_seqs"
            # out_df already carries token_ids when --ids was given;
            # pack_sequences reuses an existing token_ids column instead of
            # re-running the BPE fold over the corpus
            pack_src = out_df if "token_ids" in out_df.columns else docs
            txo.pack_sequences(
                pack_src, merges, seq_len=args.pack_seq_len,
                n_shards=args.pack_shards,
                id_col=args.id_col, text_col=args.text_col,
            ).write.mode("overwrite").parquet(seq_out)
            summary["seqs_out"] = seq_out
            summary["sequences"] = spark.read.parquet(seq_out).count()
        print(json.dumps(summary))
        return 0

    if args.cmd == "quality":
        from pyspark.sql import functions as QF

        from tikv_data_compare_spark.operators import sampling as sp

        fit_mode = bool(args.seed)
        if fit_mode and not args.model_out:
            print("quality: --seed (fit mode) requires --model-out",
                  file=sys.stderr)
            return 2
        if not fit_mode and not args.model:
            print("quality: pass --seed + --model-out to fit, or --model "
                  "to score", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.src)
        try:
            if fit_mode:
                model = sp.quality_model(
                    docs.select(args.id_col, args.text_col),
                    spark.read.parquet(args.seed),
                    crawl=spark.read.parquet(args.crawl) if args.crawl else None,
                    text_col=args.text_col,
                    n_buckets=args.n_buckets, algo=args.algo,
                )
                model.write.mode("overwrite").parquet(args.model_out)
                meta = model.schema["_w_c"].metadata or {}
                print(json.dumps({
                    "model": args.model_out,
                    "qc_thr_c": int(meta["qc_thr_c"]),
                    "n_buckets": args.n_buckets, "algo": args.algo,
                }))
                return 0
            scored = sp.quality_score_with_model(
                docs.select(args.id_col, args.text_col),
                spark.read.parquet(args.model),
                id_col=args.id_col, text_col=args.text_col,
            )
            row = scored.agg(
                QF.count(QF.lit(1)).alias("n"),
                QF.sum(QF.col("q_keep").cast("long")).alias("kept"),
            ).collect()[0]
            if args.out:
                docs.join(
                    scored.filter(QF.col("q_keep")).select(args.id_col),
                    args.id_col, "left_semi",
                ).write.mode("overwrite").parquet(args.out)
            result = {"n": int(row["n"]), "kept": int(row["kept"] or 0)}
            if args.out:
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        except ValueError as e:
            print(f"quality: {e}", file=sys.stderr)
            return 2

    if args.cmd == "sample":
        from tikv_data_compare_spark.operators import sampling as sp

        docs = spark.read.parquet(args.src)
        try:
            if args.method == "hash":
                out_df = sp.hash_sample(docs, args.text_col, pct=args.pct)
            elif args.method == "stratified":
                out_df = sp.stratified_sample(
                    docs, [args.group_col], k=args.k, content_col=args.text_col,
                    tiebreak_cols=[args.id_col],
                )
            elif args.method == "shard":
                out_df = sp.shard_assignments(
                    docs, args.n_shards, content_col=args.text_col,
                    tiebreak_cols=[args.id_col],
                )
            elif args.method == "mixture":
                weights: dict = {}
                for spec in filter(None, (s.strip() for s in args.weights.split(","))):
                    g, sep, rate = spec.partition("=")
                    # strip: 'web=2500, wiki=...' must not register ' wiki',
                    # which would never match a source and silently drop it
                    g = g.strip()
                    if not sep or not g:
                        raise ValueError(
                            f"--weights entry {spec!r} is not GROUP=RATE_BP[xEPOCHS]"
                        )
                    rate_s, xsep, ep = rate.partition("x")
                    try:
                        weights[g] = (
                            (int(rate_s.strip()), int(ep.strip()))
                            if xsep
                            else int(rate_s.strip())
                        )
                    except ValueError:
                        raise ValueError(
                            f"--weights entry {spec!r} has a non-integer "
                            "rate/epochs"
                        ) from None
                out_df = sp.mixture_sample(
                    docs, weights, group_col=args.group_col,
                    content_col=args.text_col,
                )
            elif args.method == "token-mixture":
                targets: dict = {}
                for spec in filter(None, (s.strip() for s in args.weights.split(","))):
                    g, sep, w = spec.partition("=")
                    g = g.strip()
                    if not sep or not g:
                        raise ValueError(
                            f"--weights entry {spec!r} is not GROUP=SHARE_BP"
                        )
                    try:
                        targets[g] = int(w.strip())
                    except ValueError:
                        raise ValueError(
                            f"--weights entry {spec!r} has a non-integer share"
                        ) from None
                out_df = sp.token_mixture_sample(
                    docs, targets, group_col=args.group_col,
                    content_col=args.text_col,
                )
            elif args.method == "dsir":
                if not args.target:
                    raise ValueError(
                        "--method dsir requires --target (the target-corpus "
                        "parquet the importance weights score against)"
                    )
                out_df = sp.dsir_sample(
                    docs, spark.read.parquet(args.target),
                    tau_c=args.tau_c, id_col=args.id_col,
                    text_col=args.text_col, n_buckets=args.n_buckets,
                    algo=args.dsir_algo,
                )
            elif args.method == "token-budget":
                if args.budget_tokens < 1:
                    raise ValueError(
                        "--method token-budget requires a positive "
                        "--budget-tokens"
                    )
                out_df = sp.token_budget_sample(
                    docs, args.budget_tokens, id_col=args.id_col,
                    content_col=args.text_col,
                    score_col=args.score_col or None,
                )
            elif args.method == "split":
                fracs: dict = {}
                for spec in filter(None, (x.strip() for x in args.fractions.split(","))):
                    name, sep, bp = spec.partition("=")
                    name = name.strip()
                    if not sep or not name:
                        raise ValueError(
                            f"--fractions entry {spec!r} is not NAME=BASIS_POINTS"
                        )
                    try:
                        fracs[name] = int(bp.strip())
                    except ValueError:
                        raise ValueError(
                            f"--fractions entry {spec!r} has a non-integer "
                            "basis-point count"
                        ) from None
                out_df = sp.split_assign(
                    docs, fracs, content_col=args.text_col,
                    group_col=args.split_group_col or None,
                )
            else:  # sqrt-mixture
                out_df = sp.sqrt_mixture_sample(
                    docs, group_col=args.group_col, content_col=args.text_col,
                    epochs_for_full=args.epochs_for_full,
                )
            if args.split_dirs and (args.method != "split" or not args.out):
                raise ValueError(
                    "--split-dirs requires --method split and --out"
                )
            result = {"method": args.method, "rows": out_df.count()}
            if args.out:
                writer = out_df.write.mode("overwrite")
                if args.split_dirs:
                    writer = writer.partitionBy("split")
                writer.parquet(args.out)
                result["out"] = args.out
            print(json.dumps(result))
            return 0
        except ValueError as e:
            print(f"sample: {e}", file=sys.stderr)
            return 2

    if args.cmd == "curate":
        from tikv_data_compare_spark.operators.curate import curate

        if args.lm_train and args.max_lm_nll_c <= 0:
            # exiting 0 without the fluency stage would let the user believe
            # their clean-reference gate ran when it silently didn't
            print("curate: --lm-train requires --max-lm-nll-c > 0 (the fluency "
                  "gate is off without a cap)", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.src)
        probes = spark.read.parquet(args.probes) if args.probes else None
        try:
            kept, attrition = curate(
                docs,
                id_col=args.id_col,
                text_col=args.text_col,
                near_dup_jaccard_c=args.near_dup_jaccard_c,
                max_dup_word_frac_c=args.max_dup_word_frac_c,
                max_top_bigram_frac_c=args.max_top_bigram_frac_c,
                drop_pii=args.drop_pii,
                redact_pii=args.redact_pii,
                probes=probes,
                max_contamination_hits=args.max_contamination_hits,
                decontam_span=args.decontam_span if args.decontam_span != 0 else None,
                decontam_max_fp_df=(
                    args.decontam_max_fp_df if args.decontam_max_fp_df != 0 else None
                ),
                decontam_algo=args.decontam_algo or None,
                self_dedup_span=(
                    args.self_dedup_span if args.self_dedup_span != 0 else None
                ),
                self_dedup_trim_span=(
                    args.self_dedup_trim_span
                    if args.self_dedup_trim_span != 0 else None
                ),
                self_dedup_trim_snap=args.self_dedup_trim_snap,
                keep_langs=args.keep_langs.split(",") if args.keep_langs else None,
                # 0 = off; a NEGATIVE cap passes through so curate()'s own
                # validation rejects it loudly instead of silently disabling
                max_lm_nll_c=args.max_lm_nll_c if args.max_lm_nll_c != 0 else None,
                lm_train=spark.read.parquet(args.lm_train) if args.lm_train else None,
                quality_seed=(
                    spark.read.parquet(args.quality_seed)
                    if args.quality_seed else None
                ),
                quality_crawl=(
                    spark.read.parquet(args.quality_crawl)
                    if args.quality_crawl else None
                ),
                # None = off; the trained boundary applies when only
                # --quality-seed is given
                min_quality_c=args.min_quality_c,
                quality_n_buckets=args.quality_n_buckets,
                quality_algo=args.quality_algo,
                c4_rules=args.c4_rules,
                c4_min_kept_lines=args.c4_min_kept_lines,
                blocked_sources=(
                    args.block_sources.split(",") if args.block_sources else None
                ),
                source_col=args.source_col,
                algo=args.algo,
            )
        except ValueError as e:
            # unknown --keep-langs codes etc.: clean stderr + exit 2 rather
            # than silently curating away the whole corpus
            print(f"curate: {e}", file=sys.stderr)
            return 2
        out = args.out or f"{args.src.rstrip('/')}_curated"
        try:
            kept.write.mode("overwrite").parquet(out)
            for row in attrition.toLocalIterator():
                print(json.dumps(row.asDict()))
            print(json.dumps({"out": out}))
        finally:
            kept.unpersist()
        return 0

    if args.cmd == "ann":
        from tikv_data_compare_spark.operators import similarity as sim

        if args.compact_index:
            from tikv_data_compare_spark.operators.ann_index import compact_index

            try:
                stats = compact_index(
                    spark, args.compact_index,
                    target_files=args.target_files or None,
                )
            except ValueError as e:
                print(f"ann: {e}", file=sys.stderr)
                return 2
            print(json.dumps({"index": args.compact_index, **stats}))
            return 0
        if not args.src:
            print("ann: --src is required (except with --compact-index)",
                  file=sys.stderr)
            return 2
        emb = spark.read.parquet(args.src)
        if args.build_index:
            from tikv_data_compare_spark.operators.ann_index import build_ann_index

            try:
                meta = build_ann_index(
                    emb, args.build_index, n_cells=args.n_cells, m=args.m,
                    k_codes=args.k_codes,
                )
            except ValueError as e:
                print(f"ann: {e}", file=sys.stderr)
                return 2
            print(json.dumps({"index": args.build_index, **meta}))
            return 0
        if args.append_index:
            from tikv_data_compare_spark.operators.ann_index import append_to_index

            try:
                n_new = append_to_index(emb, args.append_index, on_drift=args.on_drift)
            except ValueError as e:
                print(f"ann: {e}", file=sys.stderr)
                return 2
            print(json.dumps({"index": args.append_index, "appended": n_new}))
            return 0
        if args.index:
            from tikv_data_compare_spark.operators.ann_index import (
                load_ann_index,
                topk_index,
            )

            if not args.queries:
                print("ann: --index requires --queries", file=sys.stderr)
                return 2
            try:
                idx = load_ann_index(spark, args.index)
                res = topk_index(
                    idx, spark.read.parquet(args.queries), k=args.k,
                    n_probe=args.n_probe, rerank=args.rerank,
                    emb_for_rerank=emb if args.rerank else None,
                    exclude_self=not args.include_self,
                )
            except ValueError as e:
                print(f"ann: {e}", file=sys.stderr)
                return 2
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                print(json.dumps({"out": args.out, "rows": n, "method": "index"}))
            else:
                for row in res.toLocalIterator():
                    print(json.dumps(row.asDict()))
            return 0
        if args.queries and args.method not in ("ivf", "ivfpq"):
            print("ann: --queries requires --method ivf or ivfpq (the join path)",
                  file=sys.stderr)
            return 2
        try:
            if args.method == "bruteforce":
                res = sim.topk_bruteforce(emb, k=args.k, n_queries=args.n_queries)
            elif args.method == "lsh":
                res = sim.topk_lsh(emb, k=args.k, n_queries=args.n_queries,
                                   n_planes=args.n_planes)
            elif args.method == "pq":
                res = sim.topk_pq(emb, k=args.k, n_queries=args.n_queries, m=args.m,
                                  k_codes=args.k_codes, rerank=args.rerank)
            elif args.method == "ivf" and args.queries:
                res = sim.topk_ivf_join(emb, spark.read.parquet(args.queries), k=args.k,
                                        n_cells=args.n_cells, n_probe=args.n_probe,
                                        exclude_self=not args.include_self)
            elif args.method == "ivf":
                res = sim.topk_ivf(emb, k=args.k, n_queries=args.n_queries,
                                   n_cells=args.n_cells, n_probe=args.n_probe)
            elif args.queries:
                res = sim.topk_ivfpq_join(
                    emb, spark.read.parquet(args.queries), k=args.k,
                    n_cells=args.n_cells, n_probe=args.n_probe, m=args.m,
                    k_codes=args.k_codes, rerank=args.rerank,
                    exclude_self=not args.include_self,
                )
            else:
                res = sim.topk_ivfpq(
                    emb, k=args.k, n_queries=args.n_queries, n_cells=args.n_cells,
                    n_probe=args.n_probe, m=args.m, k_codes=args.k_codes,
                    rerank=args.rerank,
                )
        except ValueError as e:
            # bad geometry (dim % m, k_codes range, collect ceiling, empty
            # corpus) is an operator error: clean stderr + exit 2
            print(f"ann: {e}", file=sys.stderr)
            return 2
        if args.out:
            res.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"out": args.out, "rows": n, "method": args.method}))
        else:
            for row in res.toLocalIterator():
                print(json.dumps(row.asDict()))
        return 0

    keys = args.keys.split(",")

    if args.cmd == "manifest":
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators.checksum import (
            compare_to_manifest,
            save_checksum_manifest,
        )

        if bool(args.save) == bool(args.against):
            print("manifest: pass exactly one of --save or --against", file=sys.stderr)
            return 2
        src = _keyed(spark, args.src, keys, args)
        if args.save:
            if args.range_key:
                # range-aligned buckets: quantile boundaries computed ONCE
                # here and STORED in the manifest, so compares reuse the
                # identical bucketing (drift localizes to contiguous,
                # pushdown-scannable key ranges instead of hash classes)
                from tikv_data_compare_spark.operators.checksum import (
                    range_bucket_boundaries,
                    range_bucket_col,
                )

                try:
                    bounds = range_bucket_boundaries(src.df, args.range_key, args.buckets)
                    bucket = range_bucket_col(args.range_key, bounds)
                except ValueError as e:
                    # non-finite quantiles / bad bucket count: operator
                    # error, same clean stderr + exit 2 as the compare path
                    print(f"manifest: {e}", file=sys.stderr)
                    return 2
                except Exception as e:  # noqa: BLE001 — Py4J surface
                    # a missing or non-numeric --range-key column surfaces
                    # from approxQuantile as AnalysisException/Py4JJavaError;
                    # keep the CLI contract (stderr + rc 2), not a traceback
                    print(
                        f"manifest: --range-key {args.range_key!r} failed: "
                        f"{getattr(e, 'desc', None) or e}",
                        file=sys.stderr,
                    )
                    return 2
                meta = {
                    "n_buckets": args.buckets,
                    "range_key": args.range_key,
                    "range_boundaries": json.dumps(bounds),
                }
            else:
                bucket = F.pmod(
                    F.xxhash64(*[F.col(c) for c in src.keys]), F.lit(args.buckets)
                )
                meta = {"n_buckets": args.buckets}
            n = save_checksum_manifest(src, args.save, bucket, algo=args.algo, meta=meta)
            print(json.dumps({"manifest": args.save, "buckets": n, "algo": args.algo,
                              "range_key": args.range_key or None}))
            return 0
        # compare: rebuild the bucketing FROM THE MANIFEST (range boundaries
        # if stored, hash otherwise) — the reuse contract made automatic
        old = spark.read.parquet(args.against)
        if "range_key" in old.columns:
            from tikv_data_compare_spark.operators.checksum import range_bucket_col

            mrow = old.select("range_key", "range_boundaries").first()
            if mrow is None:
                # a range manifest saved from an EMPTY snapshot has no rows
                # to carry its boundaries — the bucketing cannot be rebuilt
                # (the hash path handles empty manifests; range can't)
                print(
                    "manifest: range-keyed manifest is empty — boundaries "
                    "cannot be recovered; re-save from a non-empty snapshot",
                    file=sys.stderr,
                )
                return 2
            bucket = range_bucket_col(mrow["range_key"], json.loads(mrow["range_boundaries"]))
            # the bucketing is rebuilt ENTIRELY from the stored boundaries —
            # --buckets is irrelevant here, and validating it would fail the
            # documented no-flag compare flow (r8 review); algo is still
            # validated inside compare_to_manifest
            expect = {}
        else:
            bucket = F.pmod(F.xxhash64(*[F.col(c) for c in src.keys]), F.lit(args.buckets))
            expect = {"n_buckets": args.buckets}
        try:
            report = compare_to_manifest(
                src, old, bucket, algo=args.algo, expect_meta=expect
            )
        except ValueError as e:
            # mismatched --buckets/--algo is an operator error, not a crash:
            # same clean stderr + exit 2 as the argument validation above
            print(f"manifest: {e}", file=sys.stderr)
            return 2
        n = 0
        for row in report.toLocalIterator():
            print(json.dumps(row.asDict()))
            n += 1
        print(json.dumps({"drifted_buckets": n}))
        return 0 if n == 0 else 1

    if args.cmd in ("checksum", "diff") or (args.cmd == "scan" and args.dst):
        # source-level API-version handshake before any dual-source command
        # (reference utils/utils.go:13-26 via scan/checksum/diff preambles;
        # dual scan gates the pair BEFORE dumping either side, scan/scan.go:74-86)
        from tikv_data_compare_spark.sources import meta as meta_mod

        try:
            meta_mod.check_handshake(meta_mod.read_meta(args.src), meta_mod.read_meta(args.dst))
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
    if args.cmd == "checksum" and args.algo == "crc64":
        # two clusters + crc64: the reference's own flow — per-region
        # coprocessor triples, no row ever crosses the wire (the scan+
        # Spark path below handles files/dumps and the other algos)
        v = _coprocessor_verdict(args)
        if v is not None:
            print(json.dumps(v, default=str))
            return 0 if v["equal"] else 1

    src = _keyed(spark, args.src, keys, args)

    if args.cmd == "checksum":
        from tikv_data_compare_spark.operators.checksum import checksum_verdict

        dst = _keyed(spark, args.dst, keys, args)
        v = checksum_verdict(src, dst, algo=args.algo)
        print(json.dumps(v, default=str))
        return 0 if v["equal"] else 1

    if args.cmd == "diff":
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators.diff import diff, targeted_diff

        dst = _keyed(spark, args.dst, keys, args)
        tolerances = {}
        for spec in args.tolerance:
            col, sep, eps = spec.partition("=")
            if not sep:
                print(f"diff: --tolerance {spec!r} is not COL=EPS[:REL]",
                      file=sys.stderr)
                return 2
            eps_abs, rel_sep, rel = eps.partition(":")
            try:
                tolerances[col] = (
                    (float(eps_abs), float(rel)) if rel_sep else float(eps_abs)
                )
            except ValueError:
                print(f"diff: --tolerance value {eps!r} is not EPS or EPS:REL",
                      file=sys.stderr)
                return 2
        if tolerances and args.targeted_buckets > 0:
            print("diff: --tolerance cannot combine with --targeted-buckets "
                  "(bucket checksums are exact; sub-eps jitter would flag "
                  "every bucket)", file=sys.stderr)
            return 2
        if tolerances:
            from tikv_data_compare_spark.operators.diff import diff_tolerant

            try:
                findings = diff_tolerant(src, dst, tolerances)
            except ValueError as e:
                print(f"diff: {e}", file=sys.stderr)
                return 2
        elif args.targeted_buckets > 0:
            bucket = F.pmod(
                F.xxhash64(*[F.col(c) for c in src.keys]),
                F.lit(args.targeted_buckets),
            )
            findings = targeted_diff(src, dst, bucket)
        else:
            findings = diff(src, dst)
        n = 0
        for row in findings.toLocalIterator():
            n += 1
            print(json.dumps(row.asDict(), default=str))
        print(f"# {n} findings", file=sys.stderr)
        return 0 if n == 0 else 1

    if args.cmd == "scan":
        from tikv_data_compare_spark.operators.scan import export_hex

        if args.out_dst and not args.dst:
            # silently dropping the flag would look like a successful
            # dual dump that wrote one side
            print("scan: --out-dst requires --dst", file=sys.stderr)
            return 2
        out = args.out or f"{args.src.rstrip('/')}_scan.log.{int(time.time())}"
        export_hex(src, path=out)
        result = {"out": out}
        if args.dst:
            # reference dual scan (scan/scan.go:87-108): one invocation
            # dumps BOTH clusters after the version gate above.  The
            # reference parallelizes with an errgroup; here each export is
            # already a fully parallel Spark job over all cores, so the
            # second dump runs back-to-back rather than contending with
            # the first for the same executor slots.
            dst = _keyed(spark, args.dst, keys, args)
            # '_dst' disambiguates from the src default: same basename
            # pairs (or a re-run within one second) must not collide
            # the two dump directories
            out_dst = args.out_dst or f"{args.dst.rstrip('/')}_scan_dst.log.{int(time.time())}"
            export_hex(dst, path=out_dst)
            result["out_dst"] = out_dst
        print(json.dumps(result))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
