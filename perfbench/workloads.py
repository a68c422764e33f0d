"""The three workloads: their inputs, one op each, and the op's checks.

Each op calls only public functions of the package, each inside a span
named for the module it calls (``Tracer.span``); benchmark-side work runs
in ``glue`` spans, so a traced op's spans cover its wall time.  ``check``
returns the list of problems with one op's output (empty when correct).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass

import gen

GLUE = "glue"
N_BUCKETS = 256


def _digest(keys) -> str:
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(k)
    return h.hexdigest()


def findings_problems(rows, drift: gen.Drift) -> list[str]:
    """Findings must equal the planted drift, per status, by count and by
    key digest."""
    got: dict[str, list] = {s: [] for s in drift.by_status()}
    for r in rows:
        got.setdefault(r["status"], []).append(bytes(r["key"]))
    out = []
    for status, keys in got.items():
        want = drift.by_status().get(status, set())
        if len(keys) != len(want) or _digest(keys) != _digest(want):
            out.append(f"{status}: {len(keys)} findings, {len(want)} planted, digests differ")
    return out


def _save_drift(drift: gen.Drift, path: str) -> None:
    with open(path, "w") as fh:
        json.dump({s: sorted(k.hex() for k in ks) for s, ks in drift.by_status().items()}, fh)


def _load_drift(path: str) -> gen.Drift:
    with open(path) as fh:
        raw = json.load(fh)
    return gen.Drift(**{s: {bytes.fromhex(k) for k in ks} for s, ks in raw.items()})


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in gen.kv_files(path))


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass
class Ctx:
    """What one op sees: the session, the tracer, the inputs, its scratch
    directory, and ``marks`` for times within the op."""

    spark: object
    tracer: object
    inputs: dict
    scratch: str
    marks: dict


class Workload:
    name = ""

    def __init__(self, scale: gen.Scale):
        self.scale = scale

    # base inputs: seed-independent, built once per checkout and scale
    def build(self, spark, base: str) -> None:
        pass

    def needs_build(self, base: str) -> bool:
        return False

    # seed inputs: written once per seed under ``seed_dir``
    def make_inputs(self, base: str, seed_dir: str, seed: int) -> None:
        raise NotImplementedError

    def load_inputs(self, base: str, seed_dir: str) -> dict:
        raise NotImplementedError

    def op(self, ctx: Ctx):
        raise NotImplementedError

    def check(self, ctx: Ctx, out) -> list[str]:
        raise NotImplementedError

    def release(self, out) -> None:
        pass

    def layer_extras(self, ctx: Ctx, out, spans) -> dict:
        """``<module>.<counter>`` values beyond the per-span counters."""
        return {}


class _KvPair(Workload):
    """A src KV table built once per checkout, and a dst that is src with
    the seed's drift planted by ``plant``."""

    plant = None

    def _src(self, base: str) -> str:
        return os.path.join(base, f"{self.name}_src")

    def needs_build(self, base: str) -> bool:
        return not os.path.exists(os.path.join(self._src(base), "_SUCCESS"))

    def make_inputs(self, base, seed_dir, seed):
        drift = self.plant(self._src(base), os.path.join(seed_dir, "dst"), seed)
        _save_drift(drift, os.path.join(seed_dir, "drift.json"))

    def load_inputs(self, base, seed_dir):
        src, dst = self._src(base), os.path.join(seed_dir, "dst")
        return {
            "src": src,
            "dst": dst,
            "drift": _load_drift(os.path.join(seed_dir, "drift.json")),
            "rows": {"src": _rows(src), "dst": _rows(dst)},
            "bytes": {"src": _bytes(src), "dst": _bytes(dst)},
        }


class KvCompare(_KvPair):
    name = "kv_compare"
    plant = staticmethod(gen.contiguous_drift)

    def build(self, spark, base: str) -> None:
        s = self.scale
        typed = gen.lineitem(s.kv_rows, s.kv_orders, s.kv_replicas)
        gen.write_kv(spark, typed, self._src(base), s.kv_files)

    def load_inputs(self, base, seed_dir):
        return {**super().load_inputs(base, seed_dir), "key_span": self.scale.kv_orders * self.scale.kv_replicas}

    def bucket_col(self, key_span: int):
        """256 contiguous key ranges: ``l_orderkey`` (the low 6 bytes of the
        key's first 8, below the sign flip) scaled to [0, 256)."""
        from pyspark.sql import functions as F

        ok = F.conv(F.hex(F.substring("key", 3, 6)), 16, 10).cast("long")
        return F.floor(ok * N_BUCKETS / key_span).cast("long")

    def op(self, ctx):
        from tikv_data_compare_spark.model import Keyed
        from tikv_data_compare_spark.operators.checksum import checksum_verdict
        from tikv_data_compare_spark.operators.diff import targeted_diff

        t0 = time.perf_counter()
        inp, tr = ctx.inputs, ctx.tracer
        with tr.span(GLUE):
            src = Keyed.of(ctx.spark.read.parquet(inp["src"]), keys=("key",))
            dst = Keyed.of(ctx.spark.read.parquet(inp["dst"]), keys=("key",))
            bucket = self.bucket_col(inp["key_span"])
        with tr.span("operators.checksum"):
            verdict = checksum_verdict(src, dst)
        ctx.marks["verdict_s"] = time.perf_counter() - t0
        with tr.span("operators.diff"):
            findings = targeted_diff(src, dst, bucket).collect()
        return {"verdict": verdict, "findings": findings}

    def check(self, ctx, out):
        v, rows = out["verdict"], ctx.inputs["rows"]
        problems = findings_problems(out["findings"], ctx.inputs["drift"])
        if v["equal"]:
            problems.append("checksum verdict says equal; drift was planted")
        for side in ("src", "dst"):
            if v[side]["total_kvs"] != rows[side]:
                problems.append(f"{side} checksum counted {v[side]['total_kvs']} of {rows[side]} kvs")
        return problems

    def layer_extras(self, ctx, out, spans):
        v = out["verdict"]
        return {
            "operators.checksum.input_rows": v["src"]["total_kvs"] + v["dst"]["total_kvs"],
            # targeted_diff's own mismatched-bucket count, from its plan
            "operators.diff.dirty_bucket_ratio": _diff_count(spans, "mismatched_buckets") / N_BUCKETS,
            **_rows_per_finding(spans, len(out["findings"])),
        }


def _diff_count(spans, key: str) -> float:
    return sum(s.counts.get(key, 0.0) for s in spans if s.layer == "operators.diff")


def _rows_per_finding(spans, n_findings: int) -> dict:
    """Rows entering the diff's row-level full-outer join, per finding."""
    return {"operators.diff.rows_per_finding": _diff_count(spans, "join_input_rows") / max(n_findings, 1)}


_CNT = re.compile(rb"cnt:(\d+)\.\s*$")


def dump_problems(path: str, n_rows: int) -> list[str]:
    """The dump's lines, in part-file order, must number 1..n_rows."""
    files = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    expect = 1
    for f in files:
        with open(os.path.join(path, f), "rb") as fh:
            for line in fh:
                m = _CNT.search(line)
                if m is None or int(m.group(1)) != expect:
                    return [f"{os.path.basename(path)}: line {expect} is {line[:60]!r}"]
                expect += 1
    if expect - 1 != n_rows:
        return [f"{os.path.basename(path)}: {expect - 1} lines for {n_rows} rows"]
    return []


class DumpRoundtrip(_KvPair):
    name = "dump_roundtrip"
    plant = staticmethod(gen.scattered_drift)

    def build(self, spark, base):
        s = self.scale
        gen.write_kv(spark, gen.lineitem(s.dump_rows, s.dump_orders), self._src(base), 4)

    def op(self, ctx):
        from tikv_data_compare_spark.model import Keyed
        from tikv_data_compare_spark.operators.diff import diff
        from tikv_data_compare_spark.operators.scan import export_hex
        from tikv_data_compare_spark.sources.scandump import load_scan_dump

        inp, tr, spark = ctx.inputs, ctx.tracer, ctx.spark
        dumps, reloaded = {}, {}
        for side in ("src", "dst"):
            dumps[side] = os.path.join(ctx.scratch, f"dump_{side}")
            with tr.span(GLUE):
                keyed = Keyed.of(spark.read.parquet(inp[side]), keys=("key",))
            with tr.span("operators.scan"):
                export_hex(keyed, path=dumps[side])
        for side in ("src", "dst"):
            with tr.span("sources.scandump"):
                df = load_scan_dump(spark, dumps[side])
            with tr.span(GLUE):
                reloaded[side] = Keyed.of(df.select("key", "value"), keys=("key",))
        with tr.span("operators.diff"):
            findings = diff(reloaded["src"], reloaded["dst"]).collect()
        return {"findings": findings, "dumps": dumps, "reloaded": reloaded}

    def check(self, ctx, out):
        """Findings, dump line numbering, and each reloaded side's checksum
        triple against its source's (one ``compare_checksum`` job covers
        both sides; the sources' triples are computed once per run)."""
        from tikv_data_compare_spark.model import Keyed
        from tikv_data_compare_spark.operators.checksum import compare_checksum

        def triples(src: Keyed, dst: Keyed) -> dict:
            return {r["side"]: (r["checksum"], r["total_kvs"], r["total_bytes"])
                    for r in compare_checksum(src, dst).collect()}

        inp = ctx.inputs
        problems = findings_problems(out["findings"], inp["drift"])
        if "checksums" not in inp:
            inp["checksums"] = triples(
                *(Keyed.of(ctx.spark.read.parquet(inp[side]), keys=("key",)) for side in ("src", "dst"))
            )
        got = triples(out["reloaded"]["src"], out["reloaded"]["dst"])
        for side in ("src", "dst"):
            problems += dump_problems(out["dumps"][side], inp["rows"][side])
            if got.get(side) != inp["checksums"][side]:
                problems.append(f"{side}: reloaded checksum {got.get(side)} != source {inp['checksums'][side]}")
        return problems

    def layer_extras(self, ctx, out, spans):
        return {
            "operators.scan.output_bytes": sum(_bytes(p) for p in out["dumps"].values()),
            **_rows_per_finding(spans, len(out["findings"])),
        }


STAGES = ("exact_dedup", "near_dedup", "quality", "repetition")


def funnel_problems(rows, kept: int, n_docs: int) -> list[str]:
    """The funnel runs the four stages in order from all ``n_docs``; each
    stage's n_out is the next stage's n_in; the last n_out is the kept
    count, which is the sum of the corpus rows' n_docs."""
    order = {s: i for i, s in enumerate(STAGES)}
    funnel = sorted((r for r in rows if r[0] == "funnel"), key=lambda r: order.get(r[1], len(order)))
    corpus_docs = sum(r[2] for r in rows if r[0] == "corpus")
    out = []
    if tuple(r[1] for r in funnel) != STAGES:
        out.append(f"funnel stages {[r[1] for r in funnel]}")
    elif funnel[0][2] != n_docs:
        out.append(f"funnel starts at {funnel[0][2]} docs of {n_docs}")
    for a, b in zip(funnel, funnel[1:]):
        if a[3] != b[2]:
            out.append(f"funnel: {a[1]} n_out {a[3]} != {b[1]} n_in {b[2]}")
    if not funnel or funnel[-1][3] != kept or kept != corpus_docs:
        out.append(f"funnel end {funnel[-1][3] if funnel else None}, kept {kept}, corpus n_docs {corpus_docs}")
    return out


class Curate(Workload):
    name = "curate"
    #: the registered ``curation_pipeline`` query's arguments
    ARGS = {"self_dedup_trim_span": 24, "decontam_max_fp_df": 200}

    def make_inputs(self, base, seed_dir, seed):
        gen.shuffled_documents(gen.documents(self.scale.n_docs), os.path.join(seed_dir, "docs"), seed)

    def load_inputs(self, base, seed_dir):
        docs = os.path.join(seed_dir, "docs")
        return {
            "docs": docs,
            "rows": {"docs": _rows(docs)},
            "bytes": {"docs": _bytes(docs)},
            "expected": self.expected(seed_dir),
        }

    def expected(self, seed_dir: str) -> list[list]:
        import oracle

        if self.scale == gen.FULL:
            pin = oracle.pinned()
            if pin["n_docs"] != self.scale.n_docs:
                raise ValueError(f"curate pin is for {pin['n_docs']} docs; rerun perfbench/oracle.py")
            return pin["rows"]
        # small corpora run the DuckDB oracle live, on the unshuffled corpus
        import pyarrow.parquet as pq

        sf_dir = os.path.join(seed_dir, "oracle")
        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(gen.documents(self.scale.n_docs), os.path.join(sf_dir, "documents.parquet"))
        rows = oracle.curate_rows(sf_dir)
        shutil.rmtree(sf_dir)
        return rows

    def op(self, ctx):
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators.curate import curate

        tr = ctx.tracer
        with tr.span(GLUE):
            docs = ctx.spark.read.parquet(ctx.inputs["docs"])
        with tr.span("operators.curate.build"):
            kept, attrition = curate(docs, **self.ARGS)
            funnel = attrition.select(
                F.lit("funnel").alias("part"), F.col("stage").alias("label"),
                F.col("n_in").alias("n1"), F.col("n_out").alias("n2"), F.col("n_dropped").alias("n3"),
            )
            corpus = (
                kept.select(
                    "lang",
                    F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
                    F.expr("CAST(length(text) AS BIGINT)").alias("n_chars"),
                )
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n1"),
                    F.sum("n_tokens").cast("long").alias("n2"),
                    F.sum("n_chars").cast("long").alias("n3"),
                )
                .select(F.lit("corpus").alias("part"), F.col("lang").alias("label"), "n1", "n2", "n3")
            )
            summary = funnel.unionByName(corpus)
        with tr.span("operators.curate.execute"):
            rows = summary.collect()
        return {"rows": [list(r) for r in rows], "kept": kept}

    def check(self, ctx, out):
        rows = out["rows"]
        problems = funnel_problems(rows, out["kept"].count(), ctx.inputs["rows"]["docs"])
        if sorted(rows) != ctx.inputs["expected"]:
            problems.append("rows differ from the DuckDB oracle's curation_pipeline answer")
        return problems

    def release(self, out):
        out["kept"].unpersist()

    def layer_extras(self, ctx, out, spans):
        kept = sum(r[2] for r in out["rows"] if r[0] == "corpus")
        return {"operators.curate.kept_ratio": kept / ctx.inputs["rows"]["docs"]}


WORKLOADS = {w.name: w for w in (KvCompare, DumpRoundtrip, Curate)}
