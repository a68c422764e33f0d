"""SparkSession construction and per-session tuning.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same logical plans scale to a real cluster (AQE on, shuffle partitions
sized to cores locally — on a 1000-executor cluster these come from the
cluster conf instead).

Resource lifetime.  Many callers may share one session, so no operator
keeps Spark state in a module-level list, and no operator frees anything
it did not create.  Every cache, checkpoint or broadcast an operator makes
follows one of two rules:

- **Call-local**: ``persist()`` inside ``try``, ``unpersist()`` (or
  ``destroy()``) in ``finally``, so nothing outlives the call, also when
  it raises.
- **Owned by the returned frame**: state the lazy result still needs is
  either materialized into it with ``localCheckpoint(eager=True)`` or held
  by the closure of one of its UDFs (a ``sc.broadcast``).  Spark's
  ContextCleaner frees those blocks once the frame is unreachable.

The one documented exception is a frame returned persisted as the
caller's handle (``curate``'s ``kept``); the caller unpersists it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tikv-data-compare-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local CPU-bound scans want more splits than the 128MB default
        # (sf0.1 parquet yields 6 partitions for 32 cores otherwise); on a
        # real cluster leave this at the I/O-friendly default
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark keeps 100 generated classes by default, but one curate() call
        # compiles 175-190 (about 260 distinct over six calls).  At 100
        # entries each warm call evicts its own classes and Janino + HotSpot
        # compile ~170 again; at 2000 it compiles 4-30 and spends ~15% less
        # cpu (4 cores).  kv_compare (48 classes) and dump_roundtrip (80) fit
        # either way.  The conf is static: it can only be set here, where
        # the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ship_package(spark)


def ship_package(spark: SparkSession) -> SparkSession:
    """Ship this package's source to executors via ``addPyFile``.

    UDF/mapInPandas closures that reference module-level helpers (the
    decoders in operators/media_decode.py, the codec in codec.py) are
    cloudpickled BY REFERENCE, so the executor's Python worker must be able
    to ``import tikv_data_compare_spark`` — which is not a given when the
    driver found the package via ``sys.path`` instead of a cluster-wide
    install.  Zipping the package (~0.2 MB of source) and registering it
    with ``addPyFile`` makes every worker self-sufficient on any cluster
    manager, with no pre-install step; idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_tdcs_package_shipped", False):
        return spark
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = pathlib.Path(tempfile.gettempdir()) / f"tikv_data_compare_spark-ship-{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=str(pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    sc.addPyFile(str(zpath))
    sc._tdcs_package_shipped = True
    return spark


def scale_out(df, key: str | None = None):
    """Widen an under-split source so a CPU-heavy map stage can use every core.

    Parquet split planning sizes partitions by BYTES (maxPartitionBytes), so
    a small-but-well-compressed source — e.g. one 7 MB file holding 50k text
    documents — can plan 1-2 input splits and strand a 32-thread map stage on
    2 cores.  That is exactly the wrong shape for the map-side text operators
    (minhash signatures, simhash folds, winnowing), whose per-byte CPU cost
    is ~100× a plain scan's.  When the input has fewer partitions than
    ``defaultParallelism``, hash-repartition it (by ``key`` when given, so
    row placement is a deterministic function of the row — the retry rule of
    SCALE.md §4; plain round-robin would re-deal on task retry).

    On a real cluster reading 100 TB the input has ~1e5 splits, the condition
    is false, and this is a no-op — no shuffle is ever inserted at scale.

    Under AQE, ``DataFrame.rdd`` FINALIZES the adaptive plan, which
    MATERIALIZES every upstream shuffle stage as real jobs — probing a
    join-shaped frame would execute its whole subtree eagerly, and the
    actual query would then run it again.  The probe is only
    safe — and only needed — on shuffle-FREE plans (scans + maps), where
    file splitting alone sets the width; a frame below any shuffle already
    runs at ``spark.sql.shuffle.partitions``/AQE-advisory width, so it is
    returned unchanged without touching ``.rdd``.  Callers that feed a
    CPU-heavy map stage from a small broadcast-join output (whose
    partitioning is the scan's) widen the SCAN before joining instead, as
    the corpus self-match in operators/text and curate() do.
    """
    from pyspark.sql import functions as F

    if df.isStreaming:  # .rdd is undefined for streaming frames; micro-batch
        return df  # parallelism is the source's concern, not this helper's
    if _has_shuffle_ancestor(df):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


#: analyzed-plan node names that imply a shuffle somewhere below — the
#: "do not .rdd-probe" markers.  Plain ``Repartition`` is NOT listed: its
#: shuffle=false form is ``coalesce()``, which plans no exchange (and an
#: under-split coalesced source is exactly what widening exists for); the
#: shuffling form is matched by the regex below.
_SHUFFLE_NODE_TOKENS = (
    "Join",
    "Aggregate",
    "Deduplicate",
    "Distinct",
    "RepartitionByExpression",
    "Window",
    "Sort",
    "Intersect",
    "Except",
)

# node heads after the tree prefix ([+:|- ] drawing chars); plain
# ``Repartition <n>, true`` = repartition(n) (round-robin shuffle) while
# ``..., false`` = coalesce (no exchange — probe-safe)
_SHUFFLE_NODE_RE = re.compile(
    r"^[+:\-|\s']*(?:%s)\b|^[+:\-|\s']*Repartition \d+, true"
    % "|".join(_SHUFFLE_NODE_TOKENS),
    re.MULTILINE,
)


def _has_shuffle_ancestor(df) -> bool:
    """True when the frame's ANALYZED logical plan contains any node that
    plans to a shuffle.  Analysis-only — never optimizes or executes (the
    whole point: ``.rdd`` on such frames runs jobs under AQE).

    Tokens match plan-node HEADS (the first word after the tree-drawing
    prefix of each line), not free substrings, so a relation or column
    name containing 'Join' or 'Sort' does not disable widening.  When the
    JVM plan cannot be inspected for a transient py4j reason the answer is
    True (skip the probe — the safe direction: probing a shuffle-shaped
    frame runs its upstream stages as real jobs); only a frame with no JVM
    plan at all (AttributeError: no ``_jdf``, as in mocks) answers False,
    so the caller probes it."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except AttributeError:  # no JVM plan (mocks): fall back to probing
        return False
    except Exception:  # noqa: BLE001 — transient py4j failure: fail CLOSED
        return True  # (skip the probe; widening is only ever a perf aid)
    return bool(_SHUFFLE_NODE_RE.search(plan))


def enable_runtime_bloom(spark: SparkSession) -> SparkSession:
    """Turn on Catalyst's runtime Bloom-filter join pruning (Spark 3.3+).

    For a selective non-broadcast join, the optimizer builds a Bloom filter
    over the creation side's join keys and pushes a ``might_contain`` probe
    into the other side's scan — at 100 TB this skips most of the fact
    table's rows before the shuffle.  Off by default upstream, so exposed
    as an explicit opt-in; plan shape pinned in tests/test_plans.py."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver harness passes us its own SparkSession; these four are
    runtime-configurable and required for deterministic oracle comparison
    (UTC timestamps, non-ANSI arithmetic so 64-bit hash mixing wraps instead
    of raising) and for scale (AQE).

    It does not size the generated-code cache the way :func:`get_spark`
    does: ``spark.sql.codegen.cache.maxEntries`` is a static conf, and
    ``spark.conf.set`` on it raises ``CANNOT_MODIFY_STATIC_CONFIG``.  A
    session built by the caller therefore keeps Spark's default of 100
    entries, and a warm ``curate`` call recompiles most of its ~190
    classes, unless the caller's own builder sets the conf.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # Spark 4 rejects TIMESTAMP(NANOS) parquet (the events fixture); read the
    # column as raw nanosecond longs instead and convert explicitly.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf removed in some builds; events reader falls back
        pass
    return ship_package(spark)
