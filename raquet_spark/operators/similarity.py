"""Similarity search over embedding columns (``array<float>``).

Two paths, as a training-data pipeline needs at 100 TB:

- ``cosine_topk``: brute-force exact top-k — a crossJoin shaped as
  broadcast(queries) × candidates so the big side streams; correct
  baseline and fine when |queries| is small.
- ``ann_lsh``: random-hyperplane LSH — candidates only meet inside a
  bucket (equi-join on the signature), turning O(N·Q) into
  O(sum of bucket products). Multi-probe via ``n_tables`` independent
  tables. Recall is tested against the brute-force baseline.

Pair scoring is JVM-side Column math (zip_with/aggregate). IVF centroid
assignment is the one deliberate exception: an Arrow-batched numpy
matmul against the broadcast centroid matrix (see
``nearest_clusters_udf``) — K×D centroid constants as Catalyst literals
cost more to plan than the batches cost to execute.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Bucket-size target the auto-sized LSH aims for. With ``n_bits`` hash
#: bits a table has ``2^n_bits`` buckets, so expected bucket occupancy is
#: ``n_rows / 2^n_bits``; candidate volume is (query rows x occupancy)
#: per table — holding occupancy ~constant keeps it ~linear in the
#: query side and bounded per bucket. 128 rows/bucket reproduces the
#: width the r04 probe had to hand-tune (n_bits=7 at the 8x corpus) and
#: measured fastest at that scale, while 12-16 tables keep recall
#: pytest-green; a growing corpus trades per-table recall for bounded
#: work — raise ``n_tables`` (cost linear) to buy recall back, never
#: ``n_bits`` down.
TARGET_BUCKET_ROWS = 128

#: broadcast-safe bound on the oversized-bucket heavy-hitter list
#: (rows of (_t, _sig, _bn), ~25 B each → ~100 MB). Hash-like skew
#: keeps the list tiny, but a degenerate mass-duplicate corpus can
#: push it to ~n_rows/max_bucket_rows; past this bound the cap filter
#: joins shuffled instead of broadcasting (ADVICE r12).
OVERSIZED_BC_SAFE_ROWS = 4_000_000


def derive_lsh_bits(
    n_rows: int,
    target_bucket_rows: int = TARGET_BUCKET_ROWS,
    min_bits: int = 4,
    max_bits: int = 24,
) -> int:
    """Signature width that bounds expected bucket size at the target.

    ``n_bits = clamp(ceil(log2(n_rows / target_bucket_rows)))`` — the
    scale-safety rule SCALE_PROBE r04 showed is needed: a fixed n_bits
    goes quadratic once the corpus outgrows its bucket count."""
    if n_rows <= 0:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(max(1.0, n_rows / target_bucket_rows)))))


def max_bits_for_recall(
    threshold: float, n_tables: int, target_recall: float = 0.99
) -> int:
    """Widest LSH signature that keeps multi-table recall at the target.

    Signed-random-projection LSH collides a pair at cosine
    ``threshold`` with per-bit probability p = 1 − arccos(threshold)/π,
    so per-table recall is p^bits and T-table recall
    1 − (1 − p^bits)^T. Solving for bits gives the clamp
    bits ≤ log(1 − (1 − target)^(1/T)) / log(p). The self-sizing
    recall guard (ADVICE r16): a tighter occupancy target must not
    silently trade documented recall — at threshold 0.95 the bound is
    13 bits with 16 tables but only 7 with 8, so the occupancy- and
    recall-derived widths must be min'd, not assumed compatible."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if p <= 0.0:
        return 1
    if p >= 1.0:
        return 64
    r_needed = 1.0 - (1.0 - target_recall) ** (1.0 / max(1, n_tables))
    return max(1, int(math.floor(math.log(r_needed) / math.log(p))))


def derive_dedup_lsh_params(
    n_rows: int,
    threshold: float,
    n_tables: int | None = None,
    target_bucket_rows: int = 16,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(n_bits, n_tables) for the embedding-dedup LSH self-sizing —
    occupancy and recall co-sized (r17 review): the occupancy width
    (:func:`derive_lsh_bits`) is never shrunk below what the corpus
    needs (a narrower fixed width goes quadratic once the corpus
    outgrows its buckets); with ``n_tables=None`` the table count is
    raised to what that width needs for ≥0.99 recall
    (:func:`tables_for_recall` — the linear-cost knob, ≥16, capped at
    ``max_tables``; past the cap the width is trimmed to what the cap
    sustains, the information-theoretic price of recall at loose
    thresholds). An EXPLICIT ``n_tables`` is honored and the width is
    clamped to what it sustains (:func:`max_bits_for_recall`)."""
    occ_bits = derive_lsh_bits(n_rows, target_bucket_rows=target_bucket_rows)
    if n_tables is not None:
        return min(occ_bits, max_bits_for_recall(threshold, n_tables)), n_tables
    t_needed = tables_for_recall(threshold, occ_bits)
    if t_needed <= max_tables:
        return occ_bits, max(16, t_needed)
    return (
        min(occ_bits, max_bits_for_recall(threshold, max_tables)),
        max_tables,
    )


def tables_for_recall(
    threshold: float, n_bits: int, target_recall: float = 0.99
) -> int:
    """Table count that sustains the target recall at a GIVEN signature
    width — the other direction of :func:`max_bits_for_recall`, used
    when the occupancy-derived width must not shrink (the module
    doctrine: a fixed n_bits goes quadratic once the corpus outgrows
    its bucket count, so scale safety raises n_tables, never bits
    down). T = ceil(log(1 − target) / log(1 − p^bits))."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if p >= 1.0:
        return 1
    per_table = p ** n_bits
    if per_table >= target_recall:
        return 1
    if per_table <= 0.0:
        return 1 << 30  # unreachable recall at this width
    return max(1, math.ceil(
        math.log(1.0 - target_recall) / math.log(1.0 - per_table)
    ))


def derive_ivf_clusters(
    n_rows: int, min_clusters: int = 16, max_clusters: int = 65536
) -> int:
    """IVF list count ≈ sqrt(N) (the classic balance point: probe cost
    Q·n_probe·N/K and quantizer cost Q·K meet at K=sqrt(N)), clamped."""
    if n_rows <= 0:
        return min_clusters
    return max(min_clusters, min(max_clusters, math.ceil(math.sqrt(n_rows))))


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(vec_col, vec_col)))


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    order_round: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query row.

    The query side is collected to the driver (it is documented as the
    SMALL side — the exact baseline; the bucketed ANN paths are the
    scale twins) and closure-captured as a (Q × dim) float64 matrix.
    Candidates stream through an Arrow-batched ``mapInPandas``: each
    batch scores against every query in ONE BLAS matmul and emits only
    its per-query partial top-k (≤ k·Q rows per batch), so the final
    row_number window merges (partitions · k · Q) rows instead of
    N·Q — the classic distributed top-k shape. This replaced the r09
    interpreted ``aggregate(zip_with(...))`` per-pair dot inside a
    crossJoin (the module docstring's measured slow path): ann_topk at
    sf0.1 went 1.5 s → the matmul's ~0.2 s.

    ``order_round``: when set, ranking (both the partial top-k and the
    final window) uses ``round(score, order_round)`` as the sort key —
    matching SQL oracles that rank by a rounded score. The emitted
    ``score`` column stays unrounded."""
    import numpy as np

    from pyspark.sql.window import Window

    qrows = queries.select(
        F.col(id_col).cast("long").alias("query_id"), F.col(vec_col).alias("_qv")
    ).collect()
    if not qrows:
        return candidates.sparkSession.createDataFrame(
            pa.table({"query_id": [], "cand_id": [], "score": [], "rn": []}),
            "query_id long, cand_id long, score double, rn int",
        )
    qids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([list(r["_qv"]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))

    def partial_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cn = np.sqrt((C * C).sum(axis=1))
            # exact per-pair op order of the SQL formulation:
            # (dot / qnorm) / cnorm
            S = ((C @ Q.T) / qn[None, :]) / cn[:, None]  # (n, Q)
            key = np.round(S, order_round) if order_round is not None else S
            # With order_round set the FINAL ranking is Spark's
            # F.round (BigDecimal HALF_UP on the double's shortest
            # decimal repr) while this partial-top-k key is np.round
            # (half-to-even on the binary value) — at decimal-.5
            # boundaries they can disagree by one full rounding bucket.
            # Pruning here is only a bandwidth optimization, so widen
            # every kept boundary by two buckets: any row whose
            # Spark-rounded key ties into the top-k survives to the
            # exact window.
            slack = 2.0 * 10.0 ** (-order_round) if order_round is not None else 0.0
            # self-pairs never rank
            key = np.where(cids[:, None] == qids[None, :], -np.inf, key)
            kk = min(k, len(cids))
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                col = key[:, j]
                idx = np.nonzero(np.isfinite(col))[0]
                if len(idx) > kk * 4:
                    # keep everything >= the kth key (minus slack) so
                    # boundary TIES survive for the cand_id tiebreak
                    # (argpartition alone would drop tied rows
                    # arbitrarily)
                    part = idx[np.argpartition(-col[idx], kk - 1)]
                    idx = idx[col[idx] >= col[part[kk - 1]] - slack]
                # top-k by (key desc, cand_id asc)
                full = idx[np.lexsort((cids[idx], -col[idx]))]
                if slack and len(full) > kk:
                    order = full[col[full] >= col[full[kk - 1]] - slack]
                else:
                    order = full[:kk]
                out_q.append(np.full(len(order), qids[j]))
                out_c.append(cids[order])
                out_s.append(S[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "score": np.concatenate(out_s),
                }
            )

    partial = candidates.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(
        partial_topk, schema="query_id long, cand_id long, score double"
    )
    rank_key = (
        F.round(F.col("score"), order_round)
        if order_round is not None
        else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(rank_key.desc(), F.asc("cand_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id", "score", "rn")
    )


def _all_signatures(vec_col: str, n_bits: int, n_tables: int, seed: int, dim: int) -> F.Column:
    """array<bigint> of all table signatures for one row.

    Arrow-batched numpy: one (batch × dim) @ (dim × tables·bits) matmul,
    sign-threshold, bit-pack. This is the same deliberate UDF exception
    as IVF centroid assignment (module docstring): the pure-Column
    alternatives measured far worse — Gaussian-plane literals cost ~4 s
    of Catalyst parse/analysis per call at ANY data size, and
    higher-order-function lambdas execute interpreted per element
    (~3.5 s at sf0.1 for a 2000-row table). The matmul is O(rows ·
    dim · tables·bits) flops with BLAS, constant per row — the scan
    stays distributed, nothing touches the driver."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf("array<bigint>")
    def sigs(vecs: pd.Series) -> pd.Series:
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        bits = (x @ planes) > 0.0  # (n, tables*bits)
        packed = (
            bits.reshape(len(x), n_tables, n_bits) * weights
        ).sum(axis=2)
        return pd.Series(list(packed))

    # nondeterministic marking (the function is pure — seeded planes):
    # the optimizer otherwise pushes the posexplode's implied
    # size(..)>0 filter BELOW a second evaluation of the UDF, running
    # the matmul twice per side (guide §4.4; seen as two
    # ArrowEvalPython nodes per branch in the r17 before-plans)
    return sigs.asNondeterministic()(vec_col)


def ann_lsh(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int | None = None,
    n_tables: int = 4,
    seed: int = 7,
    dim: int = 64,
    n_rows: int | None = None,
    max_bucket_rows: int | None = 8 * TARGET_BUCKET_ROWS,
) -> DataFrame:
    """Approximate top-k: compare only within matching LSH buckets.

    ``dim`` is the embedding dimensionality — an explicit argument
    because Spark array schemas carry no fixed length and inferring it
    would cost a driver-side ``first()`` action per call.

    ``n_bits=None`` (the default) self-sizes from the candidate count —
    :func:`derive_lsh_bits` holds expected bucket occupancy at
    ``TARGET_BUCKET_ROWS`` so candidate volume stays ~linear in the
    corpus instead of going quadratic when a hand-picked width is
    outgrown. Sizing needs the corpus cardinality: pass ``n_rows`` if
    you know it (e.g. from table stats at 100 TB); otherwise one
    ``count()`` job runs — a column-pruned metadata-cheap scan.

    ``max_bucket_rows`` bounds expected candidates per (table, bucket)
    by down-sampling OVERSIZED buckets (sampled size estimate →
    broadcast heavy-hitter list → map-side id-hash threshold), keeping
    pair volume linear in the corpus no matter how skewed the bucket
    distribution gets (SURVEY §6 r12). It engages only when the corpus
    is known (``n_rows`` counted or passed) and ≥ 8× the cap — at
    100 TB pass ``n_rows`` from table stats so the cap is active; tiny
    corpora skip the two extra job floors. ``None`` = exhaustive
    in-bucket comparison. Cost note for the 100 TB entry point: when
    the closed-form worst case ``n_tables*(n_rows//cap+1)`` exceeds
    the broadcast-safe bound (~4M heavy-hitter rows), ONE extra
    ``count()`` job runs to measure the actual oversized-bucket count
    before choosing broadcast vs shuffled filtering — it fires even
    when real skew is hash-like (the common case), so budget one extra
    sampled-scan job per query past ~1e10 rows at the default cap.

    Output schema matches ``cosine_topk`` (query_id, cand_id, score, rn)
    so recall can be measured by joining the two."""
    from pyspark.sql.window import Window

    if n_bits is None:
        if n_rows is None:
            n_rows = candidates.count()
        n_bits = derive_lsh_bits(n_rows)

    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")), "_qv"
    ).withColumnRenamed("_norm", "_qnorm")
    c = with_norm(
        candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv")), "_cv"
    ).withColumnRenamed("_norm", "_cnorm")

    # all table signatures in ONE projection per side, exploded to
    # (_t, _sig) rows → a single equi-join on the bucket key. One scan
    # per side instead of one per table — the same banded-LSH plan shape
    # as MinHash dedup.
    def with_buckets(df: DataFrame, vec: str) -> DataFrame:
        sigs = _all_signatures(vec, n_bits, n_tables, seed, dim)
        return df.withColumn("_sigs", sigs).select(
            "*", F.posexplode("_sigs").alias("_t", "_sig")
        ).drop("_sigs")

    qb_ = with_buckets(q, "_qv")
    cb = with_buckets(c, "_cv")
    # the cap costs ~2 extra job floors (sample scan + broadcast
    # build): engage it only when the corpus is KNOWN to be big enough
    # for oversized buckets to exist and matter (n_rows is available
    # whenever auto-sizing counted, or the caller passed table stats;
    # an unknown-size corpus with an explicit n_bits keeps the
    # exhaustive plan — the bench-scale latency path)
    if max_bucket_rows is not None and (
        n_rows is None or n_rows < 8 * max_bucket_rows
    ):
        max_bucket_rows = None
    if max_bucket_rows is not None:
        # bucket-occupancy cap (SCALE_PROBE r11/r12: pair volume is
        # sum over buckets of queries x candidates, and real bucket
        # sizes are SKEWED — the heavy tail made the probe line grow
        # ~12x on 8x data even though MEAN occupancy is held constant
        # by derive_lsh_bits). Down-sample only the oversized buckets
        # with a deterministic per-id hash threshold: the exceeding
        # list is tiny (heavy hitters only) so it broadcasts, the
        # filter is map-side, and expected per-bucket candidates are
        # bounded, making pair volume ~linear in the corpus. Recall on
        # mega-buckets degrades gracefully — a bucket holding >>target
        # rows is a low-selectivity hash region, and each table is an
        # independent chance to recover the true neighbor. Pass None
        # for exhaustive in-bucket comparison.
        # sizes come from a SAMPLE, not a second full signature pass
        # (measured: the full-pass variant re-ran the Arrow matmul on
        # the whole corpus, +25% e2e when no bucket was oversized).
        # frac puts ~32 expected sample rows on a bucket AT the cap, so
        # heavy hitters are detected reliably while the sample cost
        # stays a few % of the main scan at any corpus size.
        frac = min(1.0, 32.0 / max_bucket_rows)
        oversized = (
            with_buckets(c.sample(frac, seed=seed), "_cv")
            .groupBy("_t", "_sig")
            .agg((F.count(F.lit(1)) / F.lit(frac)).alias("_bn"))
            .where(F.col("_bn") > max_bucket_rows)
        )
        # broadcast guard (ADVICE r12): "heavy hitters only" holds for
        # hash-like skew, but a degenerate corpus (mass-duplicate
        # embeddings) can make the >cap bucket count scale as
        # n_rows/max_bucket_rows — ~10^8 rows at a 10^12 corpus, which
        # would blow the driver during the broadcast build. The worst
        # case is bounded in closed form (every bucket at exactly the
        # cap), so the count() job runs only when that bound says the
        # pathology is even possible; past the safe row count the
        # filter joins shuffled on (_t, _sig) instead.
        worst_over = n_tables * (n_rows // max_bucket_rows + 1)
        if worst_over > OVERSIZED_BC_SAFE_ROWS:
            # persist, not localCheckpoint: checkpoint blocks live only
            # on executors, so losing one between the count() and the
            # join kills the lineage unrecoverably; the DF is tiny
            # relative to the corpus, so recompute-capable caching is
            # the right tradeoff (ADVICE r13)
            from pyspark import StorageLevel

            oversized = oversized.persist(StorageLevel.MEMORY_AND_DISK)
            if oversized.count() > OVERSIZED_BC_SAFE_ROWS:
                # release the cache now rather than leak it for the
                # session lifetime (ADVICE r14): the downstream join
                # recomputes from lineage — the seeded sample pass is
                # deterministic and costs a few % of the main scan
                over_side = oversized.hint("shuffle_hash")
                oversized.unpersist()
            else:
                # ≤ safe rows: pin the counted rows driver-side (the
                # broadcast build would collect them anyway) so the
                # executor cache can be released immediately instead of
                # leaking until session end (ADVICE r14)
                local = oversized.toArrow()
                oversized.unpersist()
                over_side = F.broadcast(
                    oversized.sparkSession.createDataFrame(local)
                )
        else:
            over_side = F.broadcast(oversized)
        cb = (
            cb.join(over_side, ["_t", "_sig"], "left")
            .where(
                F.col("_bn").isNull()
                | (
                    # _t in the hash: drops must be INDEPENDENT across
                    # tables, else a candidate unlucky once is dropped
                    # from every table and the multi-table recall
                    # argument collapses
                    F.pmod(F.xxhash64("cand_id", "_t", F.lit(seed)),
                           F.lit(1_000_000))
                    < F.lit(1_000_000.0) * max_bucket_rows / F.col("_bn")
                )
            )
            .drop("_bn")
        )
    matches = cb.join(qb_, ["_t", "_sig"]).where(
        F.col("query_id") != F.col("cand_id")
    )

    # score map-side BEFORE the dedup shuffle: a pair matching in
    # multiple tables recomputes its dot <=n_tables times, but the
    # shuffle carries only (id, id, score) — vs a distinct() over rows
    # holding both embedding arrays (~16x wider rows; measured 6.8s ->
    # 1.5s at sf0.1). max(score) is exact dedup: duplicates are equal.
    scored = (
        matches.withColumn(
            "score", _dot("_qv", "_cv") / F.col("_qnorm") / F.col("_cnorm")
        )
        .groupBy("query_id", "cand_id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id", "score", "rn")
    )


def _normalized_sample(candidates: DataFrame, vec_col: str, sample_size: int):
    """Bounded driver-side sample as a unit-normalized float64 matrix —
    the shared training prologue of the coarse quantizer and the PQ
    codebooks. ``limit`` caps driver memory at O(sample), never O(N):
    at 100 TB the index trains on a sample while assignment stays
    fully distributed."""
    import numpy as np

    tab = candidates.select(vec_col).limit(sample_size).toArrow()
    col = tab.column(0).combine_chunks()
    # fixed-width embedding lists: one flat values buffer reshaped —
    # a C-level copy instead of 100k python sublists via toPandas/tolist
    # (measured ~7 s → ~0.5 s at the 100k sample cap)
    widths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    flat = col.values.to_numpy(zero_copy_only=False)
    if len(widths) and (widths == widths[0]).all():
        x = flat.astype(np.float64).reshape(len(col), int(widths[0]))
    else:  # ragged (malformed input): fall back to per-row conversion
        x = np.asarray(col.to_pylist(), dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return x


def _nearest_clusters_udf(cent, n: int):
    """Arrow-batched matmul against the (tiny, closure-captured)
    centroid matrix: ids of the ``n`` clusters nearest to each vector.
    Map-only and vectorized — a Catalyst-literal formulation of K×D
    centroid constants costs more to plan/codegen than the whole batch
    costs to execute, so this is the fast path at every scale, not a
    fallback. Centroids are unit vectors, so argmax of the raw dot
    products IS the cosine ranking (the vector's own norm scales all
    similarities equally). Shared by :func:`ann_ivf` and
    :func:`ann_ivf_pq`."""
    import numpy as np

    C = np.asarray(cent, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def topn(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)
        sims = X @ C.T
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :n]
        return pd.Series(list(idx))

    # pure function (closure-captured constant centroids); marked
    # nondeterministic so the join's null-rejecting isnotnull filter
    # is not pushed below a DUPLICATE evaluation of the matmul
    # (guide §4.4 — the r17 ann_ivf before-plan ran it twice on the
    # candidate side)
    return topn.asNondeterministic()


def _kmeans_centroids(
    candidates: DataFrame,
    vec_col: str,
    n_clusters: int,
    n_iter: int,
    seed: int,
    sample_size: int,
    sample: "np.ndarray | None" = None,
) -> list[list[float]]:
    """Coarse-quantizer centroids: numpy Lloyd iterations over the
    bounded sample (see :func:`_normalized_sample`). Pass ``sample``
    to reuse an already-collected matrix."""
    import numpy as np

    x = sample if sample is not None else _normalized_sample(
        candidates, vec_col, sample_size
    )
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    # assignment in float32: half the memory traffic of the (n × K)
    # similarity matrix, and cluster assignment is insensitive to the
    # precision; the mean update stays float64
    xf = x.astype(np.float32)
    for _ in range(n_iter):
        assign = (xf @ cent.T.astype(np.float32)).argmax(axis=1)
        cent = _lloyd_update(x, assign, cent)
    return cent.tolist()


def _lloyd_update(x, assign, cent):
    """One vectorized Lloyd mean-update, unit-normalized. Per-COLUMN
    bincount(weights=...) beats both the per-centroid masking loop (K
    passes over the sample) and np.add.at (unbuffered scatter — ~4x
    slower than d bincounts at d=64, measured; it was the ann_ivf x64
    probe regression in SCALE_PROBE r9 vs r7)."""
    import numpy as np

    k, d = cent.shape
    sums = np.empty((k, d))
    for col in range(d):
        sums[:, col] = np.bincount(assign, weights=x[:, col], minlength=k)
    counts = np.bincount(assign, minlength=k)
    nz = counts > 0
    mu = sums[nz] / counts[nz, None]
    out = cent.copy()
    out[nz] = mu / np.maximum(
        np.linalg.norm(mu, axis=1, keepdims=True), 1e-12
    )
    return out


def ann_ivf(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int | None = None,
    n_probe: int = 3,
    n_iter: int = 5,
    seed: int = 7,
    sample_size: int = 100_000,
    centroids: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: spherical k-means coarse quantizer, then
    each query scans only its ``n_probe`` nearest inverted lists.

    ``n_clusters=None`` self-sizes to ~sqrt(N) via
    :func:`derive_ivf_clusters` (pass ``n_rows`` to skip the sizing
    ``count()`` job), so inverted-list length keeps shrinking as the
    corpus grows instead of a fixed K degenerating to a near-full scan.

    Scale shape: centroid training is sample-bounded on the driver;
    cluster assignment is a codegen'd argmax over broadcast centroid
    literals (no Python, no shuffle); the probe is an equi-join on
    cluster id — O(N·n_probe/n_clusters) comparisons instead of O(N·Q).
    Output schema matches ``cosine_topk`` for recall measurement.

    Pass ``centroids`` (from :func:`_kmeans_centroids`) to reuse a
    trained quantizer across queries — index build is a once-per-corpus
    offline step at scale, not a per-query cost."""
    from pyspark.sql.window import Window

    if centroids is not None:
        cent = centroids
    else:
        if n_clusters is None:
            if n_rows is None:
                n_rows = candidates.count()
            n_clusters = derive_ivf_clusters(n_rows)
        cent = _kmeans_centroids(
            candidates, vec_col, n_clusters, n_iter, seed, sample_size
        )

    def nearest_clusters_udf(n: int):
        return _nearest_clusters_udf(cent, n)

    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")), "_qv"
    ).withColumnRenamed("_norm", "_qnorm")
    c = with_norm(
        candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv")), "_cv"
    ).withColumnRenamed("_norm", "_cnorm")

    c = c.withColumn("_cid", nearest_clusters_udf(1)("_cv")[0])
    # materialize the probe list in a Project before exploding: a
    # Generate may not hold a nondeterministic child expression
    q = (
        q.withColumn("_cids", nearest_clusters_udf(n_probe)("_qv"))
        .withColumn("_cid", F.explode("_cids"))
        .drop("_cids")
    )

    scored = (
        c.join(q, "_cid")
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn("score", _dot("_qv", "_cv") / F.col("_qnorm") / F.col("_cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id", "score", "rn")
    )


def _pq_codebooks(
    candidates: DataFrame,
    vec_col: str,
    cent: list[list[float]],
    m_sub: int,
    ks: int,
    n_iter: int,
    seed: int,
    sample_size: int,
    sample: "np.ndarray | None" = None,
) -> list:
    """Per-subspace residual codebooks (Jégou et al., product
    quantization): sample-bounded driver training, like the coarse
    quantizer. Residuals are taken against the assigned UNIT centroid
    on unit-normalized vectors, so the asymmetric score reconstructs
    the cosine directly. Pass ``sample`` (the already-collected
    normalized matrix) to skip a second collection job.

    Assignment uses argmax(sub·cbᵀ − ‖cb‖²/2) in float32 — equivalent
    to the squared-L2 argmin (the row-norm term is constant per row)
    without materializing the three (n × ks) float64 terms, which was
    the training bottleneck."""
    import numpy as np

    x = sample if sample is not None else _normalized_sample(
        candidates, vec_col, sample_size
    )
    C = np.asarray(cent, dtype=np.float64)
    res = x - C[(x @ C.T).argmax(axis=1)]
    d = x.shape[1]
    if d % m_sub:
        raise ValueError(f"m_sub={m_sub} must divide the dimension {d}")
    dsub = d // m_sub
    rng = np.random.RandomState(seed + 1)
    books = np.zeros((m_sub, ks, dsub))
    for m in range(m_sub):
        sub = res[:, m * dsub : (m + 1) * dsub]
        k_eff = min(ks, len(sub))
        cb = sub[rng.choice(len(sub), size=k_eff, replace=False)]
        subf = sub.astype(np.float32)
        for _ in range(n_iter):
            cbf = cb.astype(np.float32)
            assign = (
                subf @ cbf.T - 0.5 * (cbf * cbf).sum(axis=1)
            ).argmax(axis=1)
            # vectorized update: per-column bincount (see _lloyd_update
            # — np.add.at's unbuffered scatter is the slow path)
            sums = np.empty_like(cb)
            for col in range(cb.shape[1]):
                sums[:, col] = np.bincount(
                    assign, weights=sub[:, col], minlength=k_eff
                )
            counts = np.bincount(assign, minlength=k_eff)
            nz = counts > 0
            cb[nz] = sums[nz] / counts[nz, None]
        # pad unused slots by CYCLING trained rows, never zeros: encode's
        # argmin runs over all ks rows, and an all-zero row would win for
        # vectors far from every trained codeword, scoring 0 in the ADC
        # sum and quietly degrading shortlist recall on tiny corpora. A
        # cycled duplicate scores identically to its source row.
        books[m] = cb[np.arange(ks) % k_eff]
    return books.tolist()


def ann_ivf_pq(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int | None = None,
    n_probe: int = 3,
    n_iter: int = 5,
    seed: int = 7,
    sample_size: int = 100_000,
    m_sub: int = 8,
    ks: int = 256,
    rerank: int = 8,
    n_rows: int | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """IVF-ADC+R approximate top-k: coarse quantizer + product-quantized
    residual codes + exact re-ranking (the public Jégou et al. recipe).

    This is :func:`ann_ivf`'s 100 TB memory shape: the probe join
    carries only ``(cand_id, cluster, m_sub bytes)`` per candidate —
    memory ∝ N·m_sub instead of N·dim·8 — and full vectors are fetched
    (an equi-join on ``cand_id``) ONLY for the ``rerank·k`` PQ-shortlist
    rows per query (default 8k: the shortlist is where PQ loses recall,
    and widening it is cheap next to the probe scan). The asymmetric score is
    ``dot(q̂, centroid) + Σ_m dot(q̂_m, codebook_m[code_m])`` — the
    cosine of the reconstructed candidate — computed as one batched
    numpy gather+einsum per Arrow batch; the exact re-rank then restores
    true-cosine ordering inside the shortlist, so an identical twin
    ranks first with score exactly 1.0 whenever the shortlist recalls
    it. Output schema matches :func:`cosine_topk`."""
    import numpy as np
    from pyspark.sql.window import Window

    if not 1 <= ks <= 256:
        raise ValueError(
            f"ks={ks}: PQ codes are stored as one uint8 per subspace, "
            "so at most 256 codewords (larger indices would silently "
            "wrap modulo 256)"
        )
    sample = None
    if centroids is None and codebooks is None:
        # one collection job feeds both training passes
        sample = _normalized_sample(candidates, vec_col, sample_size)
    if centroids is None:
        if n_clusters is None:
            if n_rows is None:
                n_rows = candidates.count()
            n_clusters = derive_ivf_clusters(n_rows)
        centroids = _kmeans_centroids(
            candidates, vec_col, n_clusters, n_iter, seed, sample_size,
            sample=sample,
        )
    if codebooks is None:
        codebooks = _pq_codebooks(
            candidates, vec_col, centroids, m_sub, ks, n_iter, seed,
            sample_size, sample=sample,
        )
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)  # (m_sub, ks, dsub)
    msub, _ks, dsub = B.shape

    @F.pandas_udf("struct<cid: int, code: binary>")
    def encode(v: pd.Series) -> pd.DataFrame:
        X = np.asarray(v.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        cid = (Xn @ C.T).argmax(axis=1)
        res = (Xn - C[cid]).reshape(len(X), msub, dsub)
        codes = np.empty((len(X), msub), dtype=np.uint8)
        for m in range(msub):
            # argmin ||r - cb||^2 == argmax(r·cb - ||cb||^2/2): skip the
            # per-row norm term and the 3-array d2 materialization
            codes[:, m] = (
                res[:, m] @ B[m].T - 0.5 * (B[m] * B[m]).sum(axis=1)
            ).argmax(axis=1)
        return pd.DataFrame(
            {"cid": cid.astype("int32"), "code": [c.tobytes() for c in codes]}
        )

    @F.pandas_udf("double")
    def adc_score(qv: pd.Series, cid: pd.Series, code: pd.Series) -> pd.Series:
        # bulk Arrow->numpy: one C-level pass (tolist / joined buffer),
        # not a per-row python loop — measured 7-15x on 10k-row batches
        X = np.asarray(qv.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        cids = cid.to_numpy(dtype=np.int64)
        codes = np.frombuffer(b"".join(code), dtype=np.uint8).reshape(
            len(code), msub
        )
        dot_c = np.einsum("bd,bd->b", Xn, C[cids])
        qr = Xn.reshape(len(X), msub, dsub)
        cw = B[np.arange(msub)[None, :], codes.astype(np.int64)]  # (b, m, dsub)
        return pd.Series(dot_c + np.einsum("bmd,bmd->b", qr, cw))

    def nearest_clusters_udf(n: int):
        return _nearest_clusters_udf(centroids, n)

    # inverted index: ids + codes only — full vectors stay behind.
    # encode is pure (closure-captured centroids/codebooks) but marked
    # nondeterministic so the two GetStructField reads and the join's
    # null-rejecting isnotnull(_cid) filter cannot duplicate the PQ
    # matmul (guide §4.4 — same fix as _all_signatures/_nearest_clusters)
    enc = candidates.select(
        F.col(id_col).alias("cand_id"),
        encode.asNondeterministic()(F.col(vec_col)).alias("e"),
    ).select("cand_id", F.col("e.cid").alias("_cid"), F.col("e.code").alias("_code"))

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    # Project-then-explode: see ann_ivf — Generate cannot hold the
    # nondeterministic-marked UDF directly
    probes = (
        q.withColumn("_cids", nearest_clusters_udf(n_probe)("_qv"))
        .withColumn("_cid", F.explode("_cids"))
        .drop("_cids")
    )

    shortlist_n = max(k * rerank, k)
    w_approx = Window.partitionBy("query_id").orderBy(
        F.desc("_approx"), F.asc("cand_id")
    )
    shortlist = (
        enc.join(probes, "_cid")
        .where(F.col("query_id") != F.col("cand_id"))
        .withColumn("_approx", adc_score("_qv", "_cid", "_code"))
        .withColumn("_arn", F.row_number().over(w_approx))
        .where(F.col("_arn") <= shortlist_n)
        .select("query_id", "cand_id", "_qv")
    )

    # exact re-rank: fetch true vectors for the shortlist only
    cvec = with_norm(
        candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv")),
        "_cv",
    ).withColumnRenamed("_norm", "_cnorm")
    rer = with_norm(shortlist, "_qv").withColumnRenamed("_norm", "_qnorm")
    scored = rer.join(cvec, "cand_id").withColumn(
        "score", _dot("_qv", "_cv") / F.col("_qnorm") / F.col("_cnorm")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "cand_id", "score", "rn")
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> float:
    """|approx ∩ exact| / |exact| over (query_id, cand_id) pairs."""
    e = exact.select("query_id", "cand_id")
    hits = e.join(approx.select("query_id", "cand_id"), ["query_id", "cand_id"]).count()
    total = e.count()
    return hits / total if total else math.nan


def save_ann_index(
    spark,
    path: str,
    centroids: list[list[float]],
    codebooks: list | None = None,
    meta: dict | None = None,
) -> None:
    """Persist a trained ANN index (coarse-quantizer centroids +
    optional PQ codebooks) as one parquet — the offline-train /
    online-query split a 100 TB deployment runs: the index trains ONCE
    on a bounded sample (``_kmeans_centroids`` / ``_pq_codebooks``) and
    every later query job loads it and passes ``centroids=`` /
    ``codebooks=`` to :func:`ann_ivf` / :func:`ann_ivf_pq`, skipping
    both training scans entirely."""
    import json

    rows = [("meta", -1, -1, None, json.dumps(meta or {}, sort_keys=True))]
    rows += [
        ("centroid", i, -1, [float(v) for v in c], None)
        for i, c in enumerate(centroids)
    ]
    for m, book in enumerate(codebooks or []):
        rows += [
            ("codebook", m, k, [float(v) for v in cw], None)
            for k, cw in enumerate(book)
        ]
    kind, i, j, vec, extra = zip(*rows)
    df = spark.createDataFrame(
        pa.table({"kind": kind, "i": i, "j": j, "vec": vec, "extra": extra}),
        "kind string, i int, j int, vec array<double>, extra string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ann_index(spark, path: str):
    """(centroids, codebooks | None, meta) from :func:`save_ann_index`.
    Driver-side by design: the index is O(K·dim + m·ks·dsub) floats."""
    import json

    rows = spark.read.parquet(path).collect()
    cent = sorted(
        ((r["i"], r["vec"]) for r in rows if r["kind"] == "centroid")
    )
    centroids = [list(v) for _, v in cent]
    cb_rows = [r for r in rows if r["kind"] == "codebook"]
    codebooks = None
    if cb_rows:
        n_m = max(r["i"] for r in cb_rows) + 1
        n_k = max(r["j"] for r in cb_rows) + 1
        codebooks = [[None] * n_k for _ in range(n_m)]
        for r in cb_rows:
            codebooks[r["i"]][r["j"]] = list(r["vec"])
    meta_rows = [r for r in rows if r["kind"] == "meta"]
    meta = json.loads(meta_rows[0]["extra"]) if meta_rows else {}
    return centroids, codebooks, meta
