"""SparkSession factory with scale-aware defaults.

Test/bench sessions run local[N]; the same configuration knobs are the
ones that matter on a 1000-executor cluster (AQE, adaptive skew joins,
Arrow batch size for pixel codecs, sane shuffle partitioning).
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()
# generated classes the JVM-wide codegen cache holds (see get_spark)
CODEGEN_CACHE_ENTRIES = 1024


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``raquet_spark`` importable on executors regardless of the
    consumer's working directory or PYTHONPATH, by shipping the package
    as a zip via ``addPyFile`` — the same mechanism used to deploy to a
    real cluster. Idempotent per application.

    The first raquet_spark UDF a worker unpickles imports the package,
    which installs :func:`raquet_spark._cache_zip_directories` there:
    the worker then stops re-reading every zip's directory (this one,
    ``pyspark.zip``, py4j) at the start of each Python task."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    import raquet_spark

    pkg_dir = os.path.dirname(os.path.abspath(raquet_spark.__file__))
    zpath = os.path.join(tempfile.mkdtemp(prefix="raquet_spark_pkg_"), "raquet_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("raquet_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(app)


def get_spark(
    app_name: str = "raquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # SPARK_GRAFT_SHUFFLE_PARTITIONS: a cluster sizes shuffle width to
    # data volume (AQE only COALESCES below the initial number, it
    # never raises it) — the scale probes use this to keep per-task
    # state bounded at x256 synthetic volumes
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session zone so NTZ→TIMESTAMP casts (watermarks,
        # epoch_seconds) are deterministic and DST-free vs DuckDB epoch().
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 10 MB broadcast threshold (r11, measured at sf1): the old
        # 64 MB limit broadcast the 1.5M-row orders table, whose
        # SINGLE-THREADED hash build cost ~2 s per query run — q5 went
        # 2.9 s → 0.8 s once fact-fact joins shuffle and only true
        # dimensions broadcast. Also the right call on a 1000-executor
        # cluster: a 64 MB broadcast per executor is driver+network
        # pressure, while the dim tables this engine broadcasts
        # (region/nation/supplier/customer) stay well under 10 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # prefer shuffled-hash over sort-merge when a side fits in a
        # task (Spark 3.2+ SHJ spills, so this is safe): skips two
        # sorts on every fact-fact join; AQE still re-plans per stats
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Codegen cache sized to hold a whole pass of the heavy lines.
        # Measured working sets (local[4]): a pass of the five curation
        # lines compiles 128-142 classes cold, a convert pass 93. With
        # Spark's default 100-entry LRU they evict each other in order,
        # so every repeat pass recompiles (janino) and re-JITs them:
        # 124-132 per warm curate pass, 31-37 per convert pass. At 1024
        # a warm pass compiles curate 0 and convert 6, and a curate
        # pass loads ~30 classes instead of ~260.
        # A static conf — it must be set before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


# Rows-per-task target for operator-derived shuffle widths. Sized for
# the DEFAULT session's per-slot execution memory (8 GB heap x 0.6
# unified fraction / 32 concurrent tasks ~ 100-150 MB/slot): hash-agg
# and join state expand small serialized rows ~5-10x in memory
# (UnsafeRow padding + map overhead), so 500k rows/task keeps state
# ~25-50 MB — measured: 2M rows/task OOMed the x256 probe's
# partial-distinct stage at 8 g/32 (SCALE_PROBE_r15 first attempts).
AUTO_WIDTH_TARGET_ROWS = 500_000
# Backstop so a mis-estimated row count can't fragment a job into
# millions of empty tasks; 16k partitions covers ~3.2e10 rows/job at
# the target, far past any single operator invocation at 100 TB.
AUTO_WIDTH_CAP = 16_384


def derive_shuffle_width(
    spark: SparkSession,
    n_rows: int,
    target_rows_per_task: int = AUTO_WIDTH_TARGET_ROWS,
    cap: int = AUTO_WIDTH_CAP,
) -> int:
    """Shuffle width for a known shuffled-row volume.

    AQE only COALESCES below ``spark.sql.shuffle.partitions`` — it
    never raises the initial width — so an operator that knows its own
    row volume must size the width itself (SCALE_PROBE_r14: the x256
    connected-components arm OOMs at the default 32-wide session
    because 1.3e8 edge rows land on 32 tasks). The derived width never
    drops below the session default: oversizing is harmless (AQE
    coalesces the small stages back down), undersizing is the OOM.
    """
    import math

    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(base, min(cap, math.ceil(max(n_rows, 1) / target_rows_per_task)))


def estimate_token_rows(
    df,
    text_col: str,
    token_pattern: str,
    lowercase: bool = False,
    sample_rows: int = 2048,
    n_docs: int | None = None,
) -> tuple[int, int]:
    """``(n_docs, est_token_rows)`` for shuffle-width sizing: a full
    doc count (cheap column scan, skipped when the caller already has
    it) times the mean token count of a RANDOM ~``sample_rows`` sample.
    The single calibration point shared by the minhash and substring
    auto-width paths — the token regex is the caller's, everything
    else (sample size, empty-corpus fallback) lives here once.

    The sample is ``df.sample(fraction)``, not ``limit()`` (ADVICE
    r15): a head sample over a corpus clustered by length — the normal
    state after length filtering or sorted ingest — skews the mean and
    undersizes the very shuffle this estimate protects from OOM. The
    estimate is also padded 1.25x: sampling error in the unsafe
    direction (under) costs an OOM, over costs nothing (AQE coalesces
    oversized widths back down)."""
    from pyspark.sql import functions as F

    if n_docs is None:
        n_docs = df.count()
    src = f"lower({text_col})" if lowercase else text_col
    frac = min(1.0, sample_rows / max(int(n_docs), 1))
    sampled = df if frac >= 1.0 else df.sample(fraction=frac, seed=7)
    avg = (
        sampled.select(
            F.expr(
                f"size(regexp_extract_all({src}, '{token_pattern}', 0))"
            ).alias("n")
        )
        .agg(F.avg("n"))
        .first()[0]
        or 0.0
    )
    return int(n_docs), int(n_docs * float(avg) * 1.25)


def materialize_sized_pairs(
    persisted,
    bucketed,
    key_cols: tuple,
    build,
    target_rows_per_task: int = 250_000,
    extra_rows: int = 0,
    cap_rows: int | None = None,
):
    """The shared sized-pair-join recipe of the LSH dedup operators
    (minhash + embedding): count the closed-form pair volume
    Σ k(k−1)/2 over the ``key_cols`` buckets of ``bucketed``, derive
    the join width from PAIRS (AQE coalesces by the tiny bucket-row
    input bytes and cannot see the intra-stage pair blow-up), run
    ``build(join_width)`` inside a scoped width with the result
    eagerly checkpointed (DISK_ONLY once it outgrows the session),
    and release ``persisted`` on the way out. When the derived width
    does not exceed the session default, the scope is skipped
    entirely so small corpora keep the session's exact AQE behavior
    and ``build(None)`` adds no repartition.

    ``extra_rows``: known output rows OUTSIDE the closed-form bucket
    pairs — e.g. the duplicate-collapse star edges, whose volume
    (n − m) dwarfs the rep-pair count on exactly the duplicate-heavy
    corpora the collapse targets. Without it a ~10⁹-row star set would
    take the width≤base branch and checkpoint memory-tier (the heap
    hazard the DISK_ONLY branch exists for).

    ``cap_rows``: the caller's chain-cap (``max_bucket_rows``). The
    closed form must then count what the CAPPED join actually emits —
    k(k−1)/2 for buckets ≤ cap, k−1 chain rows above — or the width
    inherits the uncapped estimate: measured r16, a 5000×256
    near-identical corpus closed-formed 652M pairs (width 2611) while
    the capped output was 2.5M (width = session base); the
    2611-partition numbered repartition turned every downstream scan
    into thousands of micro-tasks and stalled the components round
    loop."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    spark = bucketed.sparkSession
    try:
        if cap_rows is None:
            per_bucket = "CAST(k AS DOUBLE) * (k - 1) / 2"
        else:
            per_bucket = (
                f"CASE WHEN k <= {int(cap_rows)} "
                "THEN CAST(k AS DOUBLE) * (k - 1) / 2 "
                "ELSE CAST(k - 1 AS DOUBLE) END"
            )
        pair_rows = (
            bucketed.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(F.sum(F.expr(per_bucket)).alias("p"))
            .first()["p"]
            or 0.0
        )
        width = derive_shuffle_width(
            spark, int(pair_rows) + int(extra_rows),
            target_rows_per_task=target_rows_per_task,
        )
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if width <= base:
            return build(None).localCheckpoint(eager=True)
        with scoped_shuffle_width(spark, width):
            return build(width).localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
    finally:
        persisted.unpersist()


class scoped_shuffle_width:
    """Context manager: run the enclosed (eagerly materialized) jobs at
    ``width`` shuffle partitions, restoring the session default on
    exit. Only for operator internals that materialize inside the
    scope (count/localCheckpoint/write) — a lazily returned DataFrame
    would be planned AFTER the restore and see the old width. Raising
    the width mid-session is safe for concurrent queries: they plan at
    most with more initial partitions, which AQE coalesces.

    Overlapping scopes (concurrent operator threads on one session —
    session conf is session-global) are coordinated through a locked
    per-session registry: while any scope is active the conf holds the
    MAX of the active widths (oversizing is the harmless direction —
    AQE coalesces back down), and the pre-scope session values are
    saved exactly once by the outermost enter and restored exactly
    once by the last exit. Without this, two interleaved scopes
    restore each other's stale values and leave the session
    permanently widened (ADVICE r15).

    The scope also lowers AQE's advisory partition size to 16 MB:
    the 64 MB default is calibrated for scan-heavy stages, but the
    rows these scopes shuffle (16-byte edge/pair tuples) expand
    ~5-10x into hash-agg/join state, so a 64 MB-serialized coalesced
    partition becomes a ~300-600 MB task — past the default session's
    per-slot execution memory (measured OOM, SCALE_PROBE_r15)."""

    _KEYS = ("spark.sql.shuffle.partitions",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    _LOCK = threading.Lock()
    _ACTIVE: dict = {}  # id(session) -> {id(scope): width}
    _SAVED: dict = {}   # id(session) -> pre-scope conf values

    def __init__(self, spark: SparkSession, width: int):
        self.spark = spark
        self.width = int(width)

    def __enter__(self):
        cls = type(self)
        sid = id(self.spark)
        with cls._LOCK:
            active = cls._ACTIVE.setdefault(sid, {})
            if not active:
                cls._SAVED[sid] = {
                    k: self.spark.conf.get(k, None) for k in self._KEYS
                }
            active[id(self)] = self.width
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(max(active.values()))
            )
            self.spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m"
            )
        return self

    def __exit__(self, *exc):
        cls = type(self)
        sid = id(self.spark)
        with cls._LOCK:
            active = cls._ACTIVE.get(sid, {})
            active.pop(id(self), None)
            if active:
                # another scope is still live: drop to the max of the
                # remaining widths, keep the 16 MB advisory
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(active.values()))
                )
            else:
                cls._ACTIVE.pop(sid, None)
                for k, v in cls._SAVED.pop(sid, {}).items():
                    if v is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, v)
        return False
