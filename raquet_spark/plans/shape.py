"""Plan-shaping helpers: size CPU-heavy Python group stages by WORK.

AQE's partition coalescing costs a shuffle by its BYTES
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``), which is the
right proxy for JVM relational work but the wrong one for
``applyInPandas`` raster stages: compressed tile blobs routinely
deflate 50-100x, so a stage whose real cost is Python pixel decode +
numpy kernels can be coalesced down to one or two tasks on a 32-core
machine (measured: the lanczos halo level build ran as ONE task,
0.9s of a 1.3s query). An explicit numbered repartition
(``REPARTITION_BY_NUM``) is exempt from AQE coalescing, and
``EnsureRequirements`` reuses its hash partitioning for the downstream
``groupBy`` — the plan still carries exactly ONE Exchange, it just
keeps the caller-sized width.

The width itself is sized by the stage's decoded-pixel volume, not a
blanket ``spark.sql.shuffle.partitions``: a blanket pin makes TINY
stages slower (a 16-tile lossy-codec group stage spread over 32 tasks
pays ~10-20 ms of Arrow/pandas per task for microseconds of work —
measured 1.6-1.7x on the sf0.1 lossy queries, and the deep levels of a
pyramid build have 64/16/4/1 parents). Callers pass the decoded pixel
count they are about to process (every raster operator can compute it
from metadata); one task per ~64k pixels (tens of milliseconds of
numpy), capped at the deployment-tuned ``spark.sql.shuffle.partitions``.

That work is NOT far above the per-task floor. Measured with a 1-task
trivial pandas UDF on ``local[4]`` (4-CPU host), a Python task cost
0.25-0.27 cpu-s of worker CPU while every task re-read the zip
directories on the worker path, and costs 0.04-0.05 cpu-s with
:func:`raquet_spark._cache_zip_directories` installed; the JVM side of
such a job is another 0.23-0.38 cpu-s. So a 64k-pixel task still spends
about as much on its floor as on its pixels. The width is left as is:
wider tasks trade wall time for CPU, and retuning them is its own
measured change.

At cluster scale the same sizing is correct: width grows linearly with
raster pixels until the operator saturates the configured shuffle
width, and the work-based floor keeps task counts from exploding on
small inputs regardless of executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# one task per this many decoded pixels: a 256x256 tile of float64
# window-stack kernels runs ~10-30 ms of numpy, about the 40-50 ms of
# worker CPU a Python task costs before any work (module docstring)
PIXELS_PER_TASK = 1 << 16


def pin_group_width(
    df: DataFrame, *keys: str, approx_pixels: int | None = None,
    ordered: bool = False,
) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` at a width pinned against AQE
    byte-based coalescing, sized by ``approx_pixels`` when given.

    Use immediately before ``groupBy(*keys).applyInPandas(...)`` on
    pixel/blob work: the numbered repartition becomes the ONLY exchange
    (the groupBy reuses its hash partitioning), and the width tracks
    the Python-side work instead of the post-compression byte count.

    ``approx_pixels`` is the decoded pixel volume the stage will
    process (group count x pixels per group — an upper bound is fine);
    width = clamp(approx_pixels / PIXELS_PER_TASK, 1,
    spark.sql.shuffle.partitions). Without it, the full configured
    width is used (for stages whose volume is genuinely unknown).

    ``ordered=True`` range-partitions instead (still the one exchange
    the groupBy reuses): partition ``i`` holds keys below partition
    ``i + 1``'s and each task emits its groups in key order, so the
    stage's output is already sorted by ``keys`` — a consumer that
    needs key order reads it without a sort, which would run the
    Python stage once more for its range sample and again for its
    exchange. The range bounds are sampled from ``df`` (one job over
    the stage's input, not its output)."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # some deployments set a non-numeric value (e.g. "auto");
        # fall back to the cluster's default parallelism
        n = df.sparkSession.sparkContext.defaultParallelism
    if approx_pixels is not None:
        n = max(1, min(n, -(-int(approx_pixels) // PIXELS_PER_TASK)))
    if ordered:
        # a numbered width of 1 would plan as SinglePartition; unnumbered,
        # AQE coalesces the range partitions of the (small) stage in order
        return df.repartitionByRange(*keys) if n <= 1 else df.repartitionByRange(n, *keys)
    if n <= 1:
        # one task of work: the groupBy's own exchange (AQE-coalesced
        # to ~1 task) is the same outcome without a second plan node,
        # and the plan keeps its hashpartitioning Exchange shape
        return df
    return df.repartition(n, *keys)
