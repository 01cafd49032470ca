"""SparkSession factory + testdata loaders.

Configuration notes (scale-first):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching. On a 1000-executor
  cluster these are the difference between a tuned plan and a stalled
  one; on local[32] they keep tiny SF runs from over-partitioning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count
  here; on a real cluster set it to 2-3x total executor cores (AQE
  coalesces down, it never splits up a too-small setting).
- Session timezone pinned to UTC: the reference formats epoch
  timestamps with the process TZ (KissmetricsToDatabase.php:289-291);
  we declare UTC so results are reproducible and oracle-comparable.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast at any SF
# (region=5 rows, nation=25 rows at every scale factor).
BROADCAST_TABLES = frozenset({"region", "nation"})


def get_spark(
    app_name: str = "kissmetrics_to_database_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local test/bench default is ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster pass ``master=None`` with a cluster-provided session config
    and only the SQL confs below apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Defense in depth (ADVICE r02): direct spark.read.parquet
        # calls (compaction paths) on a fresh session must see the
        # same timestamp semantics load_table pins — naive parquet
        # timestamps read as TimestampType UTC instants, never
        # TIMESTAMP_NTZ, and nanos columns as raw longs.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Local-mode driver heap: Spark's 1g default eventually OOMs a
        # long-lived session (the full test suite accumulates ~1.5k
        # stages of cached/checkpointed blocks before the 2M-edge CC
        # test — r6). Applied at JVM launch only, so it must be set by
        # the FIRST session of the process; harmless no-op afterwards
        # and on real clusters, where the deploy sets it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The one memo registry: every result reused across calls (cached
# tables, shared sub-plans, trained artifacts, lakehouse fixtures).
# Keyed by application id — unlike id(spark), which CPython can
# recycle, never reused by a later session (ADVICE r01 #4) — plus
# sf_dir, name and key. Each value is stored with the signature of the
# sf_dir data it was built from.
_MEMO: dict[tuple, tuple[tuple, object]] = {}
_MEMO_COUNTS: Counter[tuple[str, str]] = Counter()


def _memo_entry(
    spark: SparkSession, sf_dir: str, name: str, key: tuple
) -> tuple[tuple, tuple, tuple | None]:
    """The registry key, the data signature of ``sf_dir`` and the
    stored (signature, value) if built from that data. Evicts other
    (stopped) sessions' entries, so cached plans don't pin dead JVMs. A
    stale entry is dropped and a persisted frame in it released: Spark's
    cache matches plans, not file contents."""
    app_id = spark.sparkContext.applicationId
    for other in [k for k in _MEMO if k[0] != app_id]:
        del _MEMO[other]
    k = (app_id, sf_dir, name, key)
    sig = _data_signature(sf_dir)
    entry = _MEMO.get(k)
    if entry is not None and entry[0] != sig:
        del _MEMO[k]
        if isinstance(entry[1], DataFrame):
            entry[1].unpersist()
        entry = None
    return k, sig, entry


def _data_signature(sf_dir: str) -> tuple:
    """(name, st_mtime_ns, st_size) of each ``*.parquet`` directly under
    ``sf_dir`` — about 25 µs for the ten testdata tables on a 4-core
    Xeon. Empty when ``sf_dir`` is not a directory."""
    try:
        with os.scandir(sf_dir) as entries:
            stats = [
                (e.name, e.stat())
                for e in entries
                if e.name.endswith(".parquet")
            ]
    except OSError:
        return ()
    return tuple(sorted((n, st.st_mtime_ns, st.st_size) for n, st in stats))


def memo(spark: SparkSession, sf_dir: str, name: str, build, *key):
    """``build()``, run once per (session, sf_dir data, name, key) and
    served from the registry afterwards. The value keeps whatever
    storage ``build`` gave it (a persisted frame, a parquet path, a
    driver-side list). Counts a hit or a miss under ``name``."""
    k, sig, entry = _memo_entry(spark, sf_dir, name, key)
    if entry is not None:
        _MEMO_COUNTS[name, "hits"] += 1
        return entry[1]
    _MEMO_COUNTS[name, "misses"] += 1
    value = build()
    _MEMO[k] = (sig, value)
    return value


def memo_counts() -> dict[str, dict[str, int]]:
    """Registry hits and misses per entry name, since process start."""
    out: dict[str, dict[str, int]] = {}
    for (name, kind), n in _MEMO_COUNTS.items():
        out.setdefault(name, {"hits": 0, "misses": 0})[kind] = n
    return out


def memo_dir(spark: SparkSession, name: str, *key) -> str:
    """An empty directory for a memo entry's on-disk value, under
    ``<tmpdir>/kmdb_artifacts/<applicationId>/`` so concurrent sessions
    can't cross-read. Whatever an earlier build of the same (name,
    key) left there is removed first."""
    app_id = spark.sparkContext.applicationId
    h = hashlib.md5(repr((name, key)).encode()).hexdigest()[:16]
    path = os.path.join(
        tempfile.gettempdir(), "kmdb_artifacts", app_id, f"{name}_{h}"
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cache_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    rows_per_partition: int = 512,
) -> None:
    """Materialize the testdata tables as a partitioned in-memory
    columnar cache; subsequent ``load_table`` calls serve from it.

    Why: the driver's testdata is one parquet file with ONE row group
    per table, and a row group is Spark's minimum split unit — so
    every cold scan runs as a single task no matter how many cores
    exist. At 100 TB the lake layout would already be many files /
    row groups and this function would be a no-op; on the bench box
    it stands in for that layout by repartitioning the big tables
    once, then serving all queries from the cache (classic warm-cache
    warehouse benchmarking — the bench harness calls this in its
    warm-up phase; correctness runs never do).

    Partition sizing (r13 optimization round, guide §2/§6 — derive
    partitioning from input size, never a constant): partitions =
    clamp(rows / rows_per_partition, 1, cpus). The r12 shape
    (repartition to the core count iff rows ≥ 50k) had both failure
    modes measured this round: documents (5k rows at sf0.1) and
    embeddings (2k) fell under the threshold and served as
    SINGLE-partition caches, serializing every map-heavy text/
    embedding kernel (shingling, HTML segmentation, PassJoin window
    explosion) on a 32-core box — while flooring them at the full
    core count instead swung the other way, inflating every
    small-job-dominated path (writer commits, Lloyd/EM iterations)
    with 32-task scheduling and 32-file fixture layouts (in-bench
    steady at a flat 32: iceberg_update_dml 1.7→4.3 s,
    delta_dml_on_dv_and_mapped 5.7→11.4 s — plans/r13/
    bench_mid_flat32.json). Row-proportional width keeps per-task
    batches large
    enough to amortize task setup AND caps tiny tables below the
    core count; big tables (events, lineitem, orders) still hit the
    cpus cap. Both knobs are data-derived, so the driver's low-core
    bench run and larger SFs scale automatically.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    built_rows: list[int] = []

    def build(t: str) -> DataFrame:
        df = load_table(spark, sf_dir, t)
        n = df.count()
        built_rows.append(n)
        parts = min(cpus, max(1, -(-n // rows_per_partition)))
        if parts > 1:
            df = df.repartition(parts)
        df = df.persist()
        df.count()
        return df

    for t in tables:
        memo(spark, sf_dir, "table", functools.partial(build, t), t)
    total_rows = sum(built_rows)
    if total_rows:
        # Scale-adaptive shuffle width (r14, guide §2.2/§5): under AQE
        # every exchange PLANS this many partitions and coalesces down
        # by observed bytes, so per-task hash/sort state shrinks as the
        # data grows instead of being fixed by the core-count constant.
        # Derived from the observed row total — at sf0.1 (~1.5M rows)
        # this stays at the core count (bench numbers comparable with
        # prior rounds); at sf1.0 (~8.7M rows) exchanges start ~5×
        # wider, which is what stopped edit_distance_pairs' shuffled-
        # hash build from exhausting the 8 GB local JVM's execution
        # memory (SparkOutOfMemoryError at the r14 sf1 pair). A flat
        # 4×cores initial width was measured 2-3× SLOWER across the
        # sf0.1 suite (map-side overhead on every tiny exchange), so
        # the knob must be data-derived, never a constant. Clamped to
        # 8× cores; correctness runs never call cache_tables and keep
        # Spark's plain spark.sql.shuffle.partitions.
        ipn = min(8 * cpus, max(cpus, total_rows // 50_000))
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(ipn),
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    Serves from the warm cache when :func:`cache_tables` has been
    called for this (session, sf_dir data) — otherwise a cold read.

    SIDE EFFECT (ADVICE r3): every call — cache hit or cold —
    re-pins ``spark.sql.session.timeZone`` to UTC on the caller's
    session.  Catalog results are defined in UTC (FIXTURES.md) and
    timestamp FORMATTING reads the live session timezone, so serving
    under a caller-set zone would silently change rendered results.
    Callers that need a different zone for their own queries must set
    it after their last ``load_table`` call.

    The driver's parquet uses nanosecond timestamps (pandas default),
    which Spark's vectorized reader rejects. We read them as raw
    nanos longs (``nanosAsLong``) and cast back to (microsecond)
    timestamps — lossless for this data and identical to what DuckDB
    sees. Footer inspection is driver-side pyarrow (cheap, metadata
    only).
    """
    _, _, cached = _memo_entry(spark, sf_dir, "table", (name,))
    if cached is not None:
        # The cached plan was built under pinned confs, but result
        # FORMATTING still reads the live session timezone — a hostile
        # session flipping spark.sql.session.timeZone after
        # cache_tables() would render cached-table timestamps in its
        # own tz (ADVICE r02). Re-pin on every serve; a conf set is
        # driver-side and cheap.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return cached[1]
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Defensive: queries may run under a caller-provided session
    # (the driver's). Pin the two confs correctness depends on —
    # UTC formatting and nanos-parquet reads — at the one choke
    # point every query passes through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive (isAdjustedToUTC=false) parquet timestamps must read as
    # plain TimestampType UTC instants — the same interpretation
    # DuckDB's naive TIMESTAMP uses — not TIMESTAMP_NTZ, which Spark 4
    # infers by default and which rejects casts to numeric epoch.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for field in _nanos_columns(path):
        # integer division: `/` would round-trip the nanos long
        # through a double, whose 256 ns ulp at epoch magnitude
        # corrupts the microsecond value on ~12% of rows
        df = df.withColumn(
            field,
            F.timestamp_micros(F.expr(f"`{field}` div 1000")),
        )
    return df


def _nanos_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns in a parquet file's footer."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table into a dict keyed by table name."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
