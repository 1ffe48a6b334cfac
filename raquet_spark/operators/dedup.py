"""Deduplication operators — DataFrame API.

Same algorithms as the oracle-checked SQL templates in
raquet_spark/queries.py (single logic source: the Spark-dialect
expression builders), exposed programmatically over arbitrary
DataFrames/columns. All candidate generation is equi-join shaped
(band/bucket keys), never all-pairs — the property that matters at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.functions import dialect as dl

MINHASH_PARAMS = [
    (1664525, 1013904223), (22695477, 1), (1103515245, 12345), (214013, 2531011),
    (134775813, 1), (69069, 0), (1103515245, 54321), (22695477, 7777),
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct content hash.

    ``id_col`` is the row identity and must be NON-NULL: ``min()``
    skips NULLs and NULL join keys never match, so a group whose ids
    are all NULL would vanish (same contract as every pair generator
    in this module — ids are join/window keys throughout).

    Winner selection is a groupBy + semi-join, NOT
    ``row_number().over(partitionBy(hash))`` (r16): a window pins
    every copy of a hot content hash (license boilerplate repeats
    10⁸-10⁹ times at 100 TB) into ONE task's sort, while
    ``groupBy(hash).agg(min(id))`` partial-aggregates map-side — the
    hot key shrinks to one row per map task — and the winner
    semi-join is AQE-skew-splittable. Same rule the substring-dedup
    first-occurrence pass follows (textops.py).

    NULL text forms one group like any other (r17, ADVICE): the hash
    key coalesces to '' — a value md5 (32 hex chars) can never emit —
    because the semi-join's null-rejecting equality would otherwise
    silently drop every NULL-text row, where the pre-r16 window kept
    one representative."""
    h = df.withColumn("_h", F.coalesce(F.md5(F.col(text_col)), F.lit("")))
    winners = h.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return (
        h.join(winners, ["_h", id_col], "left_semi")
        # exact-duplicate ROWS can share the winning (hash, id) — keep
        # one; dropDuplicates is a hash agg (First), partial map-side,
        # unlike the window's per-key sort
        .dropDuplicates(["_h"])
        .drop("_h")
    )


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "toks") -> DataFrame:
    return df.withColumn(
        out_col, F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    params: list[tuple[int, int]] = MINHASH_PARAMS,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, m0..m{k-1}) MinHash signature over word n-gram shingles.

    ``hash_fn``: the shingle base hash. ``"md5"`` (default) is the only
    hash both Spark and DuckDB compute identically, so it is what the
    dual-dialect oracle gate pins; ``"xxhash64"`` is the 100 TB
    production path — JVM-native, no hex→decimal conversion, ~20%
    faster end-to-end on the x8 probe corpus with the same LSH recall
    characteristics (different hash → different, equally-valid random
    permutation family; planted near-dups are still found, pinned in
    tests)."""
    d = "spark"
    tok = tokenize(df.select(id_col, text_col), text_col)
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    parts = " , ' ', ".join(el(f"i + {k}") for k in range(shingle)).split(" , ")
    sh_expr = f"concat({', '.join(parts)})"
    shingles = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - {shingle - 1}", d), "i", sh_expr, d
    )
    sh = tok.where(F.expr(f"{dl.arr_size('toks', d)} >= {shingle}")).select(
        id_col, F.explode(F.expr(shingles)).alias("shingle")
    )
    if hash_fn == "xxhash64":
        h_expr = "pmod(xxhash64(shingle), 2147483647)"
    elif hash_fn == "md5":
        h_expr = dl.md5_int("shingle", d)
    else:
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    hashed = sh.select(id_col, F.expr(h_expr).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % 2147483647).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def banded_signatures(
    signatures: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """(id, band, key) rows: the signature split into bands of
    ``rows_per_band`` hashes, each band folded to one join key — the
    unit the LSH equi-join (and the streaming band index) works on."""
    sig_cols = [c for c in signatures.columns if c != id_col]
    n_bands = len(sig_cols) // rows_per_band
    bands = F.array(*[
        F.concat_ws(":", *[F.col(sig_cols[b * rows_per_band + r]).cast("string")
                           for r in range(rows_per_band)])
        for b in range(n_bands)
    ])
    return signatures.select(
        F.col(id_col), F.posexplode(bands).alias("band", "key")
    )


def collapse_identical_signatures(
    signatures: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(rep_map, reps, star)``: one representative row (minimum id)
    per DISTINCT full signature, plus ``(id_a=rep, id_b=member)`` star
    edges for every non-representative member. ``rep_map`` is the
    shared groupBy both outputs derive from — callers that consume
    reps/star more than once persist it (persisting the parent after
    derivation still caches: Spark keys the cache on the logical
    plan).

    The exact-duplicate collapse of the LSH pair join: exact duplicates
    have IDENTICAL signatures, so a group of k copies would otherwise
    emit k(k−1)/2 candidate pairs — the one remaining unbounded-work
    path in the dedup family (VERDICT r15 #1; the x256 all-duplicate
    probe corpus grows pair volume 16x on 4x docs). Replacing the
    group with its representative + k−1 star edges is EXACT for every
    component-shaped consumer (connected components / keep-min /
    cluster sizes): sig(x) = sig(rep(x)) means x and rep(x) share all
    band keys, so x,y share a band key iff rep(x),rep(y) do — the
    transitive closure over (rep pairs ∪ star) equals the closure over
    the full pair set. Only the per-pair LISTING changes (k−1 star
    rows instead of all within-group pairs; one rep-rep row instead of
    |G1|×|G2| cross-group rows).

    Shapes: the groupBy partial-aggregates map-side (a 10⁹-copy
    boilerplate group shrinks to one row per map task); the join-back
    is AQE-skew-splittable; both outputs are linear in the input."""
    sig_cols = [c for c in signatures.columns if c != id_col]
    rep_map = signatures.groupBy(*sig_cols).agg(
        F.min(id_col).alias("_rep")
    )
    star = (
        signatures.join(rep_map, sig_cols)
        .where(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    reps = rep_map.select(F.col("_rep").alias(id_col), *sig_cols)
    return rep_map, reps, star


def chain_capped_buckets(
    exploded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_rows: int,
    carry_cols: list[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """``(under, chain)``: split an exploded (id, bucket) table at the
    occupancy cap — rows in buckets ≤ cap pass through for the exact
    self-join; buckets over the cap emit id-rank-ADJACENT chain pairs
    (k−1 rows per bucket) instead, each carrying the previous row's
    ``carry_cols`` as ``_prev_<col>`` for a downstream per-edge verify.
    The shared chain-cap of every banded pair generator (minhash
    bands, simhash chunks, pHash segments, embedding LSH buckets):
    connectivity-preserving (every over-cap member keeps a candidate
    edge and the bucket stays one component), lossy only for the
    complete pairwise listing, and the hot bucket costs one
    O(k log k) sorted task instead of O(k²) join output.

    The occupancy COUNT is a groupBy + semi/anti join against the
    over-cap key list, NOT ``count().over(Window.partitionBy(bucket))``
    (r17, VERDICT r16 #4): the window shuffled EVERY banded row —
    including the ~99% in under-cap buckets — and landed the hot
    bucket's full row set in one task before the cap even engaged,
    contradicting the same skew rule :func:`exact_dedup` states. The
    groupBy partial-aggregates map-side (the hot key shrinks to one
    row per map task), the over-cap key list is heavy-hitters-only —
    at most n_rows/cap keys, so AQE broadcasts the semi/anti joins at
    runtime — and under-cap rows now reach the pair join with NO extra
    shuffle at all. The ``row_number`` window survives only on the
    over-cap SLICE, where the per-bucket sort is intrinsic to chaining
    (documented O(k log k) single-task trade)."""
    from pyspark.sql.window import Window

    bc = list(bucket_cols)
    over_keys = (
        exploded.groupBy(*bc)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .where(F.col("_bn") > max_bucket_rows)
        .select(*bc)
    )
    under = exploded.join(over_keys, bc, "left_anti")
    over = exploded.join(over_keys, bc, "left_semi").withColumn(
        "_rn", F.row_number().over(Window.partitionBy(*bc).orderBy(id_col))
    )
    nxt = over.select(
        *bucket_cols,
        (F.col("_rn") + 1).alias("_rn"),
        F.col(id_col).alias("_prev"),
        *[F.col(c).alias(f"_prev_{c}") for c in carry_cols],
    )
    # ascending id order makes _prev < id on every chain edge
    chain = over.join(nxt, [*bucket_cols, "_rn"]).select(
        F.col("_prev").alias("id_a"),
        F.col(id_col).alias("id_b"),
        *[F.col(f"_prev_{c}") for c in carry_cols],
        *[F.col(c) for c in carry_cols],
    )
    return under, chain


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 2,
    join_width: int | None = None,
    collapse_identical: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from banded signatures via per-band
    group joins (explode to (band, key) then self-join on the key).

    ``join_width``: numbered repartition on (band, key) before the
    self-join. AQE coalesces the join stage by its shuffle-INPUT bytes
    (the banded rows — tiny), but the pair blow-up happens INSIDE the
    stage where AQE cannot see it, so on duplicate-heavy corpora the
    coalesced stage OOMs on join-output state (SCALE_PROBE_r15's first
    x256 attempt: initial width 128, AQE coalesced to 35, each task
    then built ~19M pairs). A numbered repartition is exempt from AQE
    coalescing and both self-join sides reuse the ONE exchange.

    ``collapse_identical=True``: run the band self-join over one
    representative per DISTINCT signature and emit (rep, member) star
    edges for the collapsed duplicates
    (:func:`collapse_identical_signatures`) — pair volume becomes
    linear in exact duplicates instead of quadratic, and the
    transitive closure (components / keep-min) is unchanged. Use for
    cluster-shaped consumers; keep False when the caller needs the
    complete pairwise listing.

    ``max_bucket_rows``: bound the NEAR-identical residual. Collapse
    handles byte-exact duplicates; a mega-bucket can still arise from
    distinct-signature docs sharing a band key (10⁷ lightly-edited
    boilerplate docs → ~10¹⁴ pairs at 100 TB — the "completes the
    sizing math, then does quadratic work" case, VERDICT r15). Buckets
    over the cap emit id-rank-ADJACENT CHAIN pairs (k−1 rows) instead
    of the k(k−1)/2 self-join — the fingerprint_containment cap
    pattern: every over-cap member stays a candidate and the bucket
    stays one connected component, so cluster-shaped consumers lose
    nothing, while a downstream pairwise verify sees chain neighbors
    only (a true near-clique scores high on every chain edge; a
    low-similarity hash coincidence falls below threshold and
    correctly fragments). The chain's rank window sorts one hot
    bucket in one task — O(k log k) once, not O(k²) join output.
    Lossy for the complete pairwise LISTING; exact-by-construction
    for connectivity. Opt-in, like ``collapse_identical``."""
    if collapse_identical:
        _, reps, star = collapse_identical_signatures(signatures, id_col)
        rep_pairs = lsh_candidate_pairs(
            reps, id_col, rows_per_band, join_width,
            max_bucket_rows=max_bucket_rows,
        )
        # disjoint by construction (star id_b is never any group's
        # rep; rep_pairs are rep-rep) — no distinct needed on the union
        return rep_pairs.unionByName(star)
    banded = banded_signatures(signatures, id_col, rows_per_band)
    if join_width:
        banded = banded.repartition(join_width, "band", "key")
    chain = None
    if max_bucket_rows is not None:
        banded, chain = chain_capped_buckets(
            banded, ["band", "key"], id_col, max_bucket_rows
        )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if chain is not None:
        cand = cand.unionByName(chain)
    return cand.distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    auto_width: bool = False,
    n_docs: int | None = None,
    target_rows_per_task: int = 250_000,
    collapse_identical: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """LSH candidate pairs over MinHash signatures.

    ``auto_width=True`` is the large-corpus path: the shuffled volumes
    here are known in closed form (the signature agg carries ~one row
    per token, the band self-join one row per doc×band), so the
    operator derives its own shuffle width from a doc count plus a
    bounded token-length sample instead of relying on the caller
    exporting SPARK_GRAFT_SHUFFLE_PARTITIONS (SCALE_PROBE_r14). The
    widened result is materialized (localCheckpoint) inside the scope —
    callers that need a lazy composable plan keep the default.

    ``collapse_identical=True`` (see :func:`lsh_candidate_pairs`)
    bounds pair volume on duplicate-heavy corpora: exact copies
    collapse to one representative + star edges BEFORE the band
    self-join, so a k-copy group costs k−1 output rows instead of
    k(k−1)/2 — exact for components/keep-min consumers (the CLI dedup
    funnel turns it on). The closed-form pair sizing then counts REP
    buckets, whose occupancies no longer grow with duplication.
    ``max_bucket_rows`` (see :func:`lsh_candidate_pairs`) chains
    over-cap NEAR-identical buckets — the connectivity-preserving
    bound on the residual collapse cannot touch."""
    sigs = minhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    if not auto_width:
        return lsh_candidate_pairs(
            sigs, id_col, collapse_identical=collapse_identical,
            max_bucket_rows=max_bucket_rows,
        )
    from raquet_spark.session import (
        derive_shuffle_width,
        estimate_token_rows,
        scoped_shuffle_width,
    )

    spark = df.sparkSession
    n_docs, token_rows = estimate_token_rows(
        df, text_col, "[a-z0-9]+", lowercase=True, n_docs=n_docs
    )
    # stage 1: the signature aggregation shuffles ~one row per token —
    # a sample-estimated volume is enough (its per-task state is
    # bounded by distinct docs, and AQE's byte-based coalescing is
    # honest here). persist (not localCheckpoint) so the bucket count
    # and the join reuse one materialization AND the blocks can be
    # released before the memory-hungry pair join runs.
    from pyspark import StorageLevel

    width_sig = derive_shuffle_width(spark, token_rows)
    sigs_m = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    with scoped_shuffle_width(spark, width_sig):
        sigs_m.count()
    # stage 2: the band self-join's output is the CLOSED-FORM pair
    # volume sum_buckets k*(k-1)/2, and it is the number that matters:
    # on a duplicate-heavy corpus the join output dwarfs its input, so
    # the width must come from pairs, not banded rows. The shared
    # recipe (session.materialize_sized_pairs) counts it from the
    # materialized signatures, scopes the join, checkpoints DISK_ONLY
    # past the session width, and releases the signature cache.
    from raquet_spark.session import materialize_sized_pairs

    if collapse_identical:
        # collapse BEFORE sizing: the rep buckets are what the join
        # actually shuffles, and the star edges are linear add-ons.
        # rep_map feeds both reps (sizing count + join, 2 scans) and
        # star — persist it so the groupBy over the full signature set
        # runs once.
        rep_map, reps, star = collapse_identical_signatures(sigs_m, id_col)
        rep_map.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # star volume (n − m) dominates rep pairs on exactly the
            # corpora this path targets — include it in the sizing so
            # a huge star set takes the wide/DISK_ONLY branch (both
            # counts scan persisted inputs, so they are cheap)
            star_rows = sigs_m.count() - rep_map.count()
            return materialize_sized_pairs(
                sigs_m,
                banded_signatures(reps, id_col),
                ("band", "key"),
                lambda w: lsh_candidate_pairs(
                    reps, id_col, join_width=w,
                    max_bucket_rows=max_bucket_rows,
                ).unionByName(star),
                target_rows_per_task=target_rows_per_task,
                extra_rows=star_rows,
                cap_rows=max_bucket_rows,
            )
        finally:
            rep_map.unpersist()

    return materialize_sized_pairs(
        sigs_m,
        banded_signatures(sigs_m, id_col),
        ("band", "key"),
        lambda w: lsh_candidate_pairs(
            sigs_m, id_col, join_width=w, max_bucket_rows=max_bucket_rows
        ),
        target_rows_per_task=target_rows_per_task,
        cap_rows=max_bucket_rows,
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 48
) -> DataFrame:
    """(id, simhash) where simhash is the ``bits``-wide sign-sum hash of
    the token hash set — computed in one codegen'd projection (array
    aggregation), no token explode."""
    d = "spark"
    tok = tokenize(df.select(id_col, text_col), text_col)
    hashes = dl.arr_transform("toks", "t", dl.md5_int("t", d, hex_chars=12), d)
    bit_sums = (
        f"transform(sequence(0, {bits - 1}), j -> "
        f"aggregate(hs, 0, (acc, h) -> acc + CASE WHEN (shiftright(h, j) & 1) = 1 "
        f"THEN 1 ELSE -1 END))"
    )
    sim = (
        "aggregate(zip_with(bsums, sequence(0, {b}), (s, j) -> "
        "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    ).format(b=bits - 1)
    return (
        tok.withColumn("hs", F.expr(hashes))
        .withColumn("bsums", F.expr(bit_sums))
        .select(id_col, F.expr(sim).alias("simhash"))
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
    collapse_identical: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Pairs at hamming <= ``max_hamming`` via pigeonhole chunk blocking:
    with (max_hamming + 1) chunks, any qualifying pair shares at least
    one exact chunk — candidates come from chunk equi-joins.

    ``max_bucket_rows`` (r16, the minhash chain-cap applied to the
    chunk join): chunk buckets over the cap emit id-rank-adjacent
    chain candidates (k−1 rows) instead of the k(k−1)/2 self-join;
    the hamming verify still filters every chain edge, so a true
    near-clique stays one component while a low-similarity chunk
    coincidence correctly fragments. Connectivity-preserving,
    lossy for the complete pairwise listing; opt-in.

    ``collapse_identical=True``: the family-wide r16 duplicate-collapse
    (see :func:`collapse_identical_signatures`) applied to the simhash
    signature — a k-copy exact-duplicate group (identical simhash)
    emits k−1 (rep, member, hamming=0) star edges instead of k(k−1)/2
    chunk-join pairs; cross-group candidates come from the rep-only
    chunk join. Exact for component-shaped consumers (identical
    simhash ⇒ identical chunks ⇒ identical collision sets); the
    per-pair LISTING sparsifies, so keep False when the complete
    pairwise output is the product."""
    n_chunks = max_hamming + 1
    cw = bits // n_chunks
    sigs = simhash_signatures(df, text_col, id_col, bits)
    if collapse_identical:
        _, reps, star = collapse_identical_signatures(sigs, id_col)
        star = star.withColumn("hamming", F.lit(0).cast("int"))
        return _simhash_chunk_pairs(
            reps, id_col, n_chunks, cw, max_hamming, max_bucket_rows
        ).unionByName(star)
    return _simhash_chunk_pairs(
        sigs, id_col, n_chunks, cw, max_hamming, max_bucket_rows
    )


def _simhash_chunk_pairs(
    sigs: DataFrame,
    id_col: str,
    n_chunks: int,
    cw: int,
    max_hamming: int,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    chunks = sigs.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.expr(f"shiftright(simhash, {cw * i}) & {(1 << cw) - 1}")
            for i in range(n_chunks)
        ])).alias("chunk_idx", "chunk"),
    )
    chain = None
    if max_bucket_rows is not None:
        chunks, chain = chain_capped_buckets(
            chunks, ["chunk_idx", "chunk"], id_col, max_bucket_rows,
            carry_cols=["simhash"],
        )
        chain = chain.select(
            "id_a", "id_b",
            F.expr("bit_count(_prev_simhash ^ simhash)").alias("hamming"),
        )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
    )
    if chain is not None:
        cand = cand.unionByName(chain)
    return cand.where(F.col("hamming") <= max_hamming).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_col: str | None = None,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Character n-gram Jaccard over pairs sharing ``bucket_col``
    (blocking key; None = single bucket — only for small inputs)."""
    d = "spark"
    grams = dl.arr_distinct(
        dl.arr_transform(
            dl.seq(1, f"length(lower({text_col})) - {n - 1}", d), "i",
            f"substr(lower({text_col}), i, {n})", d,
        ),
        d,
    )
    cols = [id_col, F.expr(grams).alias("grams")]
    if bucket_col:
        cols.insert(1, F.col(bucket_col).alias("_bucket"))
    g = df.where(F.length(text_col) >= n).select(*cols)
    a, b = g.alias("a"), g.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_col:
        cond = (F.col("a._bucket") == F.col("b._bucket")) & cond
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _components_driver_side(
    e: DataFrame, small_graph_edges: int
) -> DataFrame | None:
    """Bounded driver-side union-find fast path for
    :func:`connected_components` (r17, guide §1.2/§2.4): one pointer-
    jumping round costs ~10 AQE stage-jobs (3 joins + a groupBy + the
    checkpoint + the convergence count, each a driver round-trip), so
    a TINY graph pays ~25 scheduler floors for microseconds of actual
    work — the measured 1.5-2.5 s on the bench's planted pair graphs.
    When the (checkpointed, both-orientations) edge list holds at most
    ``small_graph_edges`` rows AND its ids fit a ~64 MB driver budget,
    collect it — the same bounded-collect class as the BPE merge rows
    — and label components with path-compressed union-find; label =
    min member, identical to the loop's fixed point. Returns None when the graph is over either cap
    (caller runs the distributed loop — the 100 TB path, unchanged).

    The cap probe also sums id bytes for string ids in the SAME single
    aggregation job (ADVICE r17), so a 200k-edge list of kilobyte URLs
    (the 'few MB' assumption broken) falls back to the distributed
    loop instead of pressuring driver memory. The probe is the first
    action over the lazily checkpointed edge list, so it also stores
    the checkpoint's blocks: the edge plan runs once, and the collect
    that follows reads those blocks with no shuffle stage. Deliberately
    NOT ``limit(cap+1)``-bounded: a global limit funnels up to cap+1
    rows through ONE task before counting — measured 1.4 s slower on
    the bench graphs (r18)."""
    from pyspark.sql.types import StringType

    fields = e.schema.fields
    sz_cols = [
        F.sum(F.octet_length(f.name)).alias(f"_b{i}")
        for i, f in enumerate(fields)
        if isinstance(f.dataType, StringType)
    ]
    probe = e.agg(F.count(F.lit(1)).alias("_n"), *sz_cols).first()
    n_edges = probe["_n"]
    id_bytes = sum(probe[i + 1] or 0 for i in range(len(sz_cols)))
    if n_edges > small_graph_edges or id_bytes > 64 * (1 << 20):
        return None
    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    mins: dict = {}
    for n in parent:
        r = find(n)
        m = mins.get(r)
        if m is None or n < m:
            mins[r] = n
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    # nullable True: the loop path's labels come out of joins with
    # nullable fields — keep the two paths schema-identical
    ftype = e.schema.fields[0].dataType
    schema = StructType([
        StructField("node", ftype, True),
        StructField("component", ftype, True),
    ])
    nodes = list(parent)
    # through Arrow: the plan leaf is a LocalRelation on the JVM, so
    # executing the labels starts no Python worker (a list of rows
    # would plan a LogicalRDD over a pickled Python RDD)
    labels = pa.table(
        {"node": nodes, "component": [mins[find(n)] for n in nodes]}
    )
    return e.sparkSession.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    auto_width: bool = False,
    target_rows_per_task: int | None = None,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """Cluster near-duplicate pairs: (node, component) where component
    is the minimum node id reachable through the pair graph.

    Min-label propagation with pointer jumping: each round every node
    takes the min of its own label and its neighbors' labels, then
    follows its new label one more hop (label-of-label), so label
    distance to the component minimum halves per round — O(log
    diameter) rounds, not O(diameter). Rounds are pure join+groupBy
    (shuffle keyed by node id, map-side combinable); lineage is
    truncated per round with localCheckpoint so plans stay O(1).
    Near-dup graphs have tiny diameters (a dup cluster is near-clique),
    so this typically converges in one working round plus one
    verification round; the early-exit check stops as soon as a round
    changes nothing.

    ``auto_width=True``: every round's joins/aggs shuffle edge volume,
    and AQE never RAISES the initial shuffle width — SCALE_PROBE_r14
    demonstrated the default 32-wide session OOMing at 1.3e8 edges.
    The operator already materializes the edge list, so it sizes its
    own shuffle from the measured edge count
    (:func:`raquet_spark.session.derive_shuffle_width`) instead of
    relying on the caller exporting SPARK_GRAFT_SHUFFLE_PARTITIONS.
    Every job in here materializes inside the widened scope, so the
    session default is restored before control returns. Default False
    (ADVICE r15, matching the sibling operators' convention): the
    sizing count executes the caller's edges plan one extra time,
    which is the wrong trade for lazy/expensive pair plans — the
    production funnels (CLI, probe, pipeline demo) feed MATERIALIZED
    pairs and opt in explicitly.

    ``small_graph_edges`` (r17): the (distinct, both-orientation) edge
    list is a lazy local checkpoint, materialized by the first action
    over it — the fast path's cap probe, else the loop's first round.
    A graph at or under this many edge ROWS is labeled driver-side by
    union-find instead of the join loop — the loop costs ~10 AQE
    stage-jobs PER ROUND regardless of data volume, which is pure
    scheduler floor on a toy graph (measured: the bench pair graphs
    spent 20+ of their 25 jobs there). The cap bounds the
    collect at a few MB; pass 0 to force the distributed loop. Labels
    are identical by construction (component = min reachable node —
    the loop's fixed point and union-find's min-member are the same
    function).
    """
    from raquet_spark.session import derive_shuffle_width, scoped_shuffle_width

    # both orientations from ONE pass over the (possibly expensive) edge
    # plan — a union of two selects would execute that plan twice.
    raw = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    spark = edges.sparkSession
    if auto_width:
        # width from a COUNT of the input, not a materialization of the
        # exploded rows: checkpointing 2x the edge volume just to count
        # it added ~GBs of resident storage that heap-OOMed the x256
        # probe arm at the default 8 g session (SCALE_PROBE_r15). The
        # count is one cheap scan when `edges` is already materialized
        # (the auto_width minhash/LSH outputs are localCheckpoints);
        # for a lazy input it costs one extra edge-plan pass — at
        # scale, pass materialized pairs.
        kw = {}
        if target_rows_per_task is not None:
            kw["target_rows_per_task"] = target_rows_per_task
        width = derive_shuffle_width(spark, 2 * edges.count(), **kw)
    else:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if width <= base:
        # nothing to widen: skip the scope entirely so small graphs
        # keep the session's exact AQE behavior (the scope's 16 MB
        # advisory would otherwise re-shape tiny stages for no benefit)
        import contextlib

        width_scope = contextlib.nullcontext()
    else:
        width_scope = scoped_shuffle_width(spark, width)
    # DISK_ONLY for the big edge checkpoint once the derived width says
    # the graph outgrew the session (width > base): a memory-tier
    # checkpoint of 10^8+ edge rows saturates a bounded executor heap
    # and every round re-reads it anyway (sequential local-disk scans
    # are cheap next to the round's shuffle). Small graphs keep the
    # default memory tier. Measured: the x256 probe arm heap-OOMed
    # with MEMORY_AND_DISK resident blocks at the default 8 g session.
    from pyspark import StorageLevel

    big = width > base
    e_level = StorageLevel.DISK_ONLY if big else None
    with width_scope:
        # lazy: the first action over `e` (the fast path's cap probe,
        # else the loop's first round) stores the blocks, so no job
        # runs for the checkpoint alone
        e = raw.distinct().localCheckpoint(eager=False, storageLevel=e_level)
        small = (_components_driver_side(e, small_graph_edges)
                 if small_graph_edges > 0 else None)
        if small is not None:
            return small
        labels = (
            e.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=False)
        )
        for _ in range(max_iter):
            nbr_min = (
                e.join(labels, e["b"] == labels["node"])
                .groupBy("a")
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = labels.join(
                nbr_min, labels["node"] == nbr_min["a"], "left"
            ).select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("c1"),
                F.col("component").alias("c0"),
            )
            # pointer jump: a node's new label is itself a node — adopt
            # that node's label too, halving the remaining hop distance.
            # One pass carries a changed flag, so the convergence check
            # is a count on the checkpointed result — no extra join
            # against old labels.
            hop = stepped.select(F.col("node").alias("p"), F.col("c1").alias("pc"))
            jumped = (
                stepped.join(hop, stepped["c1"] == hop["p"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("c1"), F.coalesce(F.col("pc"), F.col("c1"))
                    ).alias("component"),
                    (
                        F.least(F.col("c1"), F.coalesce(F.col("pc"), F.col("c1")))
                        < F.col("c0")
                    ).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = jumped.where("_changed").limit(1).count()
            labels = jumped.drop("_changed")
            if changed == 0:
                break
    return labels


def keep_cluster_min(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    auto_width: bool = False,
) -> DataFrame:
    """Near-dup pruning policy shared by the CLI, the pipeline example
    and the scale probe: cluster the candidate ``pairs`` with
    :func:`connected_components` and keep each cluster's minimum-id row
    (non-clustered rows pass through untouched) — one anti-join against
    the cluster losers.

    ``auto_width`` forwards to :func:`connected_components`, whose
    sizing count executes the ``pairs`` plan once — opt in with
    MATERIALIZED pairs (the ``auto_width`` LSH outputs are
    localCheckpoints); the False default (ADVICE r15) keeps a lazy
    pairs plan from being executed twice."""
    comp = connected_components(pairs, src, dst, auto_width=auto_width)
    losers = comp.where(F.col("node") != F.col("component")).selectExpr(
        f"node AS {id_col}"
    )
    return df.join(losers, id_col, "left_anti")


def embedding_dedup_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bits: int | None = None,
    n_tables: int | None = None,
    seed: int = 7,
    dim: int = 64,
    n_rows: int | None = None,
    auto_width: bool = False,
    target_rows_per_task: int = 250_000,
    collapse_identical: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs at scale: LSH-bucketed candidates,
    exact cosine verify — the 100 TB replacement for the all-pairs
    :func:`embedding_dedup_pairs` (which is safe only while a blocking
    bucket stays O(10^4)).

    ``collapse_identical=True``: the embedding analogue of the minhash
    signature collapse (r16). BYTE-IDENTICAL embeddings (the exact-dup
    documents of a duplicate-heavy corpus) share every LSH bucket in
    every table and verify at cosine exactly 1.0, so a k-copy group
    would emit k(k−1)/2 verified pairs. Collapsing each identical
    group to its min-id representative + (rep, member, cos_sim=1.0)
    star edges makes pair volume linear in duplication while leaving
    the transitive closure — what components/keep-min consume —
    unchanged (cos_sim 1.0 passes any threshold ≤ 1, so star edges
    always qualify). Cross-group candidates are listed once per rep
    pair with their true cosine.

    ``max_bucket_rows`` (r16, the minhash chain-cap applied to the
    (table, signature) bucket join): over-cap buckets emit
    id-rank-adjacent chain CANDIDATES (k−1 rows) instead of the
    k(k−1)/2 self-join; the exact cosine verify still runs on every
    chain edge, so zero false positives are preserved and a true
    near-dup bucket stays one component while a projection-coincidence
    bucket correctly fragments at the threshold. Opt-in.

    ``auto_width=True`` applies the same sizing rule as
    :func:`minhash_dedup_pairs`: the bucket join's output volume is
    the closed-form Σ k(k−1)/2 over bucket occupancies (counted from
    the materialized signatures), so the join runs at a NUMBERED
    repartition width derived from the PAIR volume (AQE coalesces by
    the tiny signature-input bytes and cannot see the intra-stage
    blow-up on duplicate-heavy corpora), and the verified pairs
    materialize inside the scope (DISK_ONLY once they outgrow the
    session). Default keeps the lazy composable plan — and laziness
    is the RIGHT default whenever the caller filters the pairs
    afterwards: Catalyst pushes such predicates INTO the bucket join
    and cosine verify (measured ~15x on the probe's planted-pair
    filter), which eager materialization forfeits. Use
    ``auto_width=True`` only when the COMPLETE verified pair set is
    consumed (cluster-then-keep over the whole corpus).

    Plan: one Arrow-matmul signature pass (shared with ann_lsh), one
    posexplode, one self equi-join on (table, signature) bucket — so
    candidate volume is bounded by bucket sizes (2^n_bits buckets per
    table), never N². Signed-random-projection LSH collides vectors
    with high cosine with probability (1 - θ/π)^n_bits per table, so at
    θ ≈ 0.95-cosine recall stays high with a handful of tables
    (recall-gated vs the exact all-pairs in pytest). Approximate by
    construction: an escaped pair is one that matched in NO table.
    ``n_tables=None`` (default) self-sizes the (bits, tables) PAIR:
    bits from occupancy (``derive_lsh_bits``, 16-row dedup target —
    never shrunk, the module doctrine is that a narrower width goes
    quadratic once the corpus outgrows its buckets) and tables from
    the closed-form recall bound at that width
    (``tables_for_recall``, ≥0.99 at the threshold; 16 tables at the
    r16-probed 128k/13-bit point, growing to ~37 at 20 bits/10⁷
    rows — table count is the linear-cost knob recall is bought
    with, capped at 64). An EXPLICIT ``n_tables`` is honored and the
    self-sized width is then clamped to what that table count
    sustains (``max_bits_for_recall``) — occupancy may exceed the
    target, so pair ``max_bucket_rows`` with explicit small table
    counts on duplicate-heavy corpora (ADVICE r16 + review r17).

    ``n_bits=None`` self-sizes from the corpus count (one ``count()``
    job unless ``n_rows`` is passed) via
    :func:`~raquet_spark.operators.similarity.derive_lsh_bits`, keeping
    expected bucket occupancy constant as the corpus grows."""
    from raquet_spark.operators.similarity import (
        _all_signatures,
        _dot,
        derive_dedup_lsh_params,
        with_norm,
    )

    if collapse_identical:
        from pyspark import StorageLevel

        rep_map, reps, star = collapse_identical_signatures(
            df.select(id_col, vec_col), id_col
        )
        star = star.withColumn("cos_sim", F.lit(1.0))
        if auto_width:
            # the eager path scans rep_map from three consumers (star,
            # rep signatures, rep norms) — materialize the groupBy once
            # (persisting the parent after derivation still caches:
            # Spark keys the cache on the logical plan)
            rep_map.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            inner = embedding_dedup_pairs_lsh(
                reps, vec_col, id_col, threshold, n_bits, n_tables, seed,
                dim, n_rows=None, auto_width=auto_width,
                target_rows_per_task=target_rows_per_task,
                max_bucket_rows=max_bucket_rows,
            )
            out = inner.unionByName(star)
            if auto_width:
                # complete-pair-set contract: hand back a materialized
                # result like the non-collapse eager path does (star is
                # linear in the corpus — DISK_ONLY keeps a 10^9-doc
                # star set off the heap)
                out = out.localCheckpoint(
                    eager=True, storageLevel=StorageLevel.DISK_ONLY
                )
            return out
        finally:
            if auto_width:
                rep_map.unpersist()

    if n_bits is None:
        if n_rows is None:
            n_rows = df.count()
        # DEDUP-tuned occupancy (r16): the ANN default (128-row
        # buckets) exists to keep top-k candidates per query; dedup at
        # high thresholds can afford 8x smaller buckets because the
        # per-bit collision probability is high (θ(0.95) = 0.318 rad →
        # 1 − θ/π ≈ 0.90/bit) and the table count buys the 3 extra
        # bits back: at n = 128k (bits 10 → 13), per-table recall
        # 0.35 → 0.25 and 16-table recall stays ≥ 0.99 while expected
        # candidate volume drops ~8x (probe-measured 1.67e8 → ~2e7
        # pairs; the perturbed x64 arm's recall is measured at 1.0).
        # Recall/occupancy co-sizing (r17, ADVICE + review): the
        # occupancy width is NEVER shrunk (a narrower fixed width goes
        # quadratic once the corpus outgrows its buckets — the module
        # doctrine); with n_tables=None the table count is raised to
        # what the width needs for >=0.99 recall, explicit n_tables
        # instead clamps the width (derive_dedup_lsh_params).
        n_bits, n_tables = derive_dedup_lsh_params(
            n_rows, threshold, n_tables
        )
    elif n_tables is None:
        # explicit width: the r16-probed default table count
        n_tables = 16

    # materialize the signature array in a Project, then explode: the
    # UDF is nondeterministic-marked (single-evaluation guarantee,
    # similarity._all_signatures) and a Generate may not hold a
    # nondeterministic child
    sigs = df.select(
        F.col(id_col),
        _all_signatures(vec_col, n_bits, n_tables, seed, dim).alias("_sigs"),
    ).select(id_col, F.posexplode("_sigs").alias("_t", "_sig"))
    v = with_norm(df.select(F.col(id_col), F.col(vec_col).alias("_v")), "_v")

    def _pairs(sigs_src: DataFrame, join_width: int | None = None) -> DataFrame:
        if join_width:
            sigs_src = sigs_src.repartition(join_width, "_t", "_sig")
        chain = None
        if max_bucket_rows is not None:
            sigs_src, chain = chain_capped_buckets(
                sigs_src, ["_t", "_sig"], id_col, max_bucket_rows
            )
        a, b = sigs_src.alias("a"), sigs_src.alias("b")
        # candidate ids FIRST, deduped on narrow (id, id) rows:
        # clustered corpora collide the same pair in many tables, and
        # the exact cosine must run once per unique pair, not once per
        # collision
        cand = (
            a.join(
                b,
                (F.col("a._t") == F.col("b._t"))
                & (F.col("a._sig") == F.col("b._sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
        )
        if chain is not None:
            cand = cand.unionByName(chain)
        cand = cand.distinct()
        va = v.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_norm").alias("_na"),
        )
        vb = v.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_norm").alias("_nb"),
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn(
                "cos_sim", _dot("_va", "_vb") / F.col("_na") / F.col("_nb")
            )
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )

    if not auto_width:
        return _pairs(sigs)

    from pyspark import StorageLevel

    from raquet_spark.session import materialize_sized_pairs

    # persist BOTH eager-path inputs: the signatures (scanned by the
    # occupancy count and the join) and the narrow norm projection
    # (scanned by the two verify sides) — without the latter an
    # expensive caller plan would re-execute 2x inside one eager call
    sigs_m = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return materialize_sized_pairs(
            sigs_m,
            sigs_m,
            ("_t", "_sig"),
            lambda w: _pairs(sigs_m, join_width=w),
            target_rows_per_task=target_rows_per_task,
            cap_rows=max_bucket_rows,
        )
    finally:
        v.unpersist()


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs within a blocking bucket.

    Scale note: all-pairs within a bucket — safe only while a bucket
    stays O(10^4); :func:`embedding_dedup_pairs_lsh` is the unbounded-
    scale path."""
    from raquet_spark.operators.similarity import _dot, with_norm

    cols = [F.col(id_col), F.col(vec_col).alias("_v")]
    if bucket_col:
        cols.append(F.col(bucket_col).alias("_bucket"))
    g = with_norm(df.select(*cols), "_v")
    a, b = g.alias("a"), g.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if bucket_col:
        cond = (F.col("a._bucket") == F.col("b._bucket")) & cond
    return (
        a.join(b, cond)
        .withColumn("cos_sim", _dot("a._v", "b._v") / F.col("a._norm") / F.col("b._norm"))
        .where(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cos_sim",
        )
    )
