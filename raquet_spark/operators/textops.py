"""Text analysis operators — DataFrame API (language-ID, quality
scoring, token counting, fingerprinting). All pure Column expressions
(JVM-side regex + higher-order functions); same logic as the
oracle-checked SQL templates in raquet_spark/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.functions import dialect as dl

#: per-language stopword vote lists — the single definition shared by
#: the Column operators here, the streaming cleaning flags, and the
#: dual-dialect SQL templates in queries.py
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}
_STOPWORDS = STOPWORDS  # queries.py's historical import name


def _toks(text_col: str) -> str:
    return f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish (letters / digits / symbol)
    sub-token count."""
    ws = f"size(regexp_extract_all({text_col}, '[^ ]+', 0))"
    bpe = f"size(regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))"
    return df.withColumn("ws_tokens", F.expr(ws)).withColumn("bpe_tokens", F.expr(bpe))


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language heuristic; adds ``pred_lang``."""
    d = "spark"
    out = df.withColumn("_toks", F.expr(_toks(text_col)))
    score_cols = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        c = F.expr(dl.arr_size(dl.arr_filter("_toks", "t", f"t IN ({lst})", d), d))
        out = out.withColumn(f"_score_{lang}", c)
        score_cols.append(f"_score_{lang}")
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(F.col(f"_score_{lang}") == best, F.lit(lang))
    return out.withColumn("pred_lang", pred).drop("_toks", *score_cols)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a combined
    [0, 1] quality score (heuristic: enough words, sane word length,
    moderate punctuation, some stopwords)."""
    d = "spark"
    out = df.withColumn("_toks", F.expr(_toks(text_col)))
    n_words = F.size("_toks")
    n_chars = F.length(text_col)
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_stop = F.expr(dl.arr_size(dl.arr_filter("_toks", "t", f"t IN ({stop_list})", d), d))
    punct = (n_chars - F.length(F.regexp_replace(text_col, r"[.,;:!?]", ""))) / F.greatest(
        n_chars, F.lit(1)
    )
    awl = n_chars.cast("double") / F.greatest(n_words, F.lit(1))
    out = (
        out.withColumn("n_words", n_words)
        .withColumn("avg_word_len", awl)
        .withColumn("punct_ratio", punct)
        .withColumn("stopword_ratio", n_stop / F.greatest(n_words, F.lit(1)))
    )
    score = (
        F.when(F.col("n_words") >= 10, 0.25).otherwise(F.col("n_words") / 40.0)
        + F.when(F.col("avg_word_len").between(3.0, 12.0), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.25).otherwise(0.0)
        + F.least(F.col("stopword_ratio") * 2.5, F.lit(0.25))
    )
    return out.withColumn("quality_score", score).drop("_toks")


def with_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints: k-gram rolling hashes, min per
    window; adds ``fingerprints`` (distinct array) for containment/
    near-dup detection."""
    d = "spark"
    hashes = dl.arr_transform(
        dl.seq(1, f"length({text_col}) - {k - 1}", d), "i",
        dl.md5_int(f"substr({text_col}, i, {k})", d), d,
    )
    wins = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('_h', d)} - {window - 1}", d), "j",
        dl.arr_min(dl.arr_slice("_h", "j", window, d), d), d,
    )
    return (
        df.where(F.length(text_col) >= k + window - 1)
        .withColumn("_h", F.expr(hashes))
        .withColumn("fingerprints", F.expr(f"array_distinct({wins})"))
        .drop("_h")
    )


def fingerprint_containment(
    df: DataFrame, id_col: str = "doc_id", fp_col: str = "fingerprints",
    threshold: float = 0.5,
    max_docs_per_fingerprint: int | None = 256,
) -> DataFrame:
    """Pairs whose fingerprint overlap / min-size >= threshold, via an
    inverted index (explode → group by fingerprint → pair counts) — the
    scalable shape for containment search.

    A fingerprint shared by k docs contributes k² candidate rows to the
    self-join, and boilerplate shingles (headers, license blurbs) are
    exactly the skewed case — so fingerprints on more than
    ``max_docs_per_fingerprint`` docs switch from the all-pairs join to
    a doc_id-ordered CHAIN (k−1 adjacent pairs). That bounds candidate
    volume linearly while keeping genuinely duplicated mega-clusters
    discoverable: 300 byte-identical docs share every fingerprint in
    the same doc order, so the chain pairs overlap on ALL of them
    (containment 1.0) and connected-components still recovers the full
    cluster — whereas pairs glued only by a boilerplate shingle share
    just that shingle and fall below the threshold. For mixed over-cap
    fingerprints the overlap (and containment) can undercount — this is
    a candidate-generation cap, not an exact count. Pass ``None`` to
    disable and go fully quadratic."""
    inv = df.select(id_col, F.explode(fp_col).alias("fp"))
    if max_docs_per_fingerprint is not None:
        from pyspark.sql.window import Window

        # one extra shuffle on fp (same key as the join) — count and
        # rank ride one window over the already-partitioned index
        wfp = Window.partitionBy("fp")
        inv = inv.withColumn("_df", F.count("*").over(wfp)).withColumn(
            "_rn", F.row_number().over(wfp.orderBy(id_col))
        )
        under = inv.where(F.col("_df") <= max_docs_per_fingerprint)
        over = inv.where(F.col("_df") > max_docs_per_fingerprint)
        a, b = under.alias("a"), under.alias("b")
        full_pairs = a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        o1, o2 = over.alias("o1"), over.alias("o2")
        chain_pairs = o1.join(
            o2,
            (F.col("o1.fp") == F.col("o2.fp"))
            & (F.col("o2._rn") == F.col("o1._rn") + 1),
        ).select(
            F.col(f"o1.{id_col}").alias("id_a"),
            F.col(f"o2.{id_col}").alias("id_b"),
        )
        pair_counts = (
            full_pairs.unionByName(chain_pairs)
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("overlap"))
        )
    else:
        a, b = inv.alias("a"), inv.alias("b")
        pair_counts = (
            a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count("*").alias("overlap"))
        )
    sizes = df.select(F.col(id_col), F.size(fp_col).alias("n_fp"))
    return (
        pair_counts.join(sizes.withColumnRenamed(id_col, "id_a")
                         .withColumnRenamed("n_fp", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_fp", "n_b"), "id_b")
        .withColumn("containment", F.col("overlap") / F.least("n_a", "n_b"))
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "overlap", "containment")
    )


def bpe_word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the input BPE training actually
    needs (pair statistics are weighted by word frequency, so the huge
    token stream collapses to the small distinct-word table first; one
    explode + one groupBy)."""
    return (
        df.select(F.explode(F.expr(_toks(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    checkpoint_every: int = 8,
    batch_size: int = 8,
    max_batch_size: int = 4096,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Distributed BPE vocabulary training (the public Sennrich et al.
    recipe): words split into symbol sequences, then iterations of
    (count adjacent symbol pairs weighted by word freq → merge the most
    frequent pair everywhere) until ``n_merges`` merges are learned.

    Scale shape: the corpus collapses to the DISTINCT-WORD table up
    front (one shuffle) — afterwards every iteration is one explode +
    one groupBy over that small table plus a map-only Arrow pass
    applying the merges; lineage is truncated with localCheckpoint every
    ``checkpoint_every`` merges. Ties break lexicographically so the
    result is deterministic and matches the pure-python reference
    implementation in tests.

    ``batch_size`` is a *sequential-exact* batched acceleration: each
    Spark round counts adjacent pairs AND adjacent triples in one job,
    then the driver accepts candidates down the sorted pair list while
    it can PROVE sequential BPE would pick them next. The proof uses two
    facts: (1) merging a pair never changes the count of a pair sharing
    no symbol with it, and (2) any pair a merge of (a,b) creates — (x,
    a+b), (a+b, y), or chains through other accepted merges — occurs at
    most as often as some adjacent triple containing (a,b), so the
    collected triple counts upper-bound every not-yet-countable
    newcomer. Acceptance stops (conservatively, correctness never
    depends on it) when the next candidate shares a symbol with an
    accepted merge, when a projected newcomer's bound reaches the
    candidate's count, or when uncollected grams (below the collected
    cutoff) could. The accepted prefix therefore equals what ``
    batch_size=1`` — one driver action per merge, the Sennrich loop —
    would produce, on ANY corpus; with distinct counts (real corpora)
    a round typically accepts many merges, cutting the driver's
    critical path toward ~batch_size×.

    ``batch_size`` ADAPTS between rounds (``batch_size`` is the
    starting width, ``max_batch_size`` the cap): a round that accepts
    its full budget — the proof never fired, only the budget stopped
    it — doubles the next round's width, and a round that accepts
    under a quarter halves it (floored at the start value). Early
    training is collision-dense (every pair shares one of a few dozen
    characters) so rounds stay narrow, but a 32k-merge production
    vocabulary spends almost all its rounds in the late regime where
    counts are distinct and symbols diverse — there the width grows
    geometrically and rounds ≪ merges. The collect ``limit`` scales
    with the width (16 grams per accepted merge keeps the triple
    bounds visible). For corpora where even adaptive batching is too
    slow, the standard recipe is training on a fixed-size word-table
    sample (frequencies, not documents), which this function accepts
    unchanged. ``stats`` (optional dict) records ``rounds`` and
    ``final_batch_size`` so tests can assert batching engaged."""
    from collections.abc import Iterator

    import pandas as pd

    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    words = bpe_word_table(df, text_col)
    # split keeps trailing empties under Spark's limit=-1 default — drop
    seqs = words.select(
        F.expr("filter(split(word, '(?!^)'), x -> x != '')").alias("syms"),
        "freq",
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str]] = []
    next_checkpoint = checkpoint_every
    rounds = 0
    cur_batch = batch_size
    while len(merges) < n_merges:
        rounds += 1
        limit = max(64, cur_batch * 16)
        # pairs as (a, b, NULL), triples as (a, b, c) — one explode, one
        # groupBy, one top-`limit` collect: a single action per round
        grams = (
            seqs.select(
                F.explode(
                    F.expr(
                        "concat("
                        " transform(slice(syms, 1, size(syms) - 1),"
                        "  (s, i) -> struct(s AS a, syms[i + 1] AS b,"
                        "              CAST(NULL AS STRING) AS c)),"
                        " transform(slice(syms, 1, greatest(size(syms) - 2, 0)),"
                        "  (s, i) -> struct(s AS a, syms[i + 1] AS b,"
                        "              syms[i + 2] AS c)))"
                    )
                ).alias("g"),
                "freq",
            )
            .groupBy("g.a", "g.b", "g.c")
            .agg(F.sum("freq").alias("n"))
            .where(F.col("n") >= 2)
        )
        rows = (
            grams.orderBy(F.desc("n"), "a", "b", F.col("c").asc_nulls_first())
            .limit(limit)
            .collect()
        )
        pair_rows = [r for r in rows if r["c"] is None]
        triple_rows = [r for r in rows if r["c"] is not None]
        if not pair_rows:
            break
        # grams below the collected cutoff are invisible; a candidate at
        # or under the cutoff can't rule out a hidden triple bound
        cutoff = rows[-1]["n"] if len(rows) == limit else 0
        used: set[str] = set()
        batch: list[tuple[str, str]] = []
        bounds: list[int] = []
        room = min(cur_batch, n_merges - len(merges))
        for row in pair_rows:
            a, b, nq = row["a"], row["b"], row["n"]
            if batch:
                if (
                    a in used
                    or b in used  # count may have decreased — order unproven
                    or cutoff >= nq  # hidden triple could bound-tie
                    or any(bn >= nq for bn in bounds)  # projected newcomer
                ):
                    break
            batch.append((a, b))
            used.update((a, b, a + b))
            for t in triple_rows:
                if (t["a"] == a and t["b"] == b) or (t["b"] == a and t["c"] == b):
                    bounds.append(t["n"])
            if len(batch) >= room:
                break
        merges.extend(batch)
        # adapt: full budget and no proof break => widen; mostly-broken
        # rounds narrow back toward the starting width. batch_size=1 is
        # the strict Sennrich loop and never adapts (tests rely on it).
        if batch_size > 1:
            if len(batch) >= room and room == cur_batch:
                cur_batch = min(cur_batch * 2, max_batch_size)
            elif len(batch) * 4 <= cur_batch:
                cur_batch = max(batch_size, cur_batch // 2)
        batch_now = list(batch)

        def apply_merges(
            batches: Iterator[pd.DataFrame], _merges=batch_now
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    s = list(syms)
                    for a, b in _merges:
                        i = 0
                        merged = []
                        while i < len(s):
                            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                                merged.append(a + b)
                                i += 2
                            else:
                                merged.append(s[i])
                                i += 1
                        s = merged
                    out.append(s)
                yield pd.DataFrame({"syms": out, "freq": pdf["freq"]})

        seqs = seqs.mapInPandas(apply_merges, schema="syms array<string>, freq bigint")
        if len(merges) >= next_checkpoint:
            seqs = seqs.localCheckpoint(eager=True)
            next_checkpoint = len(merges) + checkpoint_every
    if stats is not None:
        stats["rounds"] = rounds
        stats["final_batch_size"] = cur_batch
    return merges


def with_clean_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only cleaning signals mirroring the batch funnel gate
    (queries.pipeline_clean_counts) EXACTLY — same stopword votes, same
    round(·, 6) ratio thresholds (the funnel reads the ``n_chars``
    column, which equals ``length(text)``): ``content_hash`` (md5),
    ``is_en`` and ``passes_quality``. Pure projections — safe in
    Structured Streaming and pipelined into the scan by Catalyst; the
    token array is materialized once and reused by every signal.
    Equivalence with the funnel is pytest-pinned per source."""
    toks = _toks(text_col)
    scores = {
        lang: (
            f"size(filter(_ctoks, t -> t IN "
            f"({', '.join(repr(w) for w in STOPWORDS[lang])})))"
        )
        for lang in STOPWORDS
    }
    en = scores["en"]
    is_en = (
        f"CASE WHEN {en} >= {scores['es']} AND {en} >= {scores['de']} "
        f"AND {en} >= {scores['fr']} AND {en} > 0 THEN 1 ELSE 0 END"
    )
    stop_list = ", ".join(repr(w) for w in STOPWORDS["en"])
    nw = "greatest(size(_ctoks), 1)"
    quality = f"""CASE WHEN size(_ctoks) >= 10 AND size(_ctoks) <= 100000
      AND round(CAST(length({text_col}) AS DOUBLE) / {nw}, 6)
          BETWEEN 2.0 AND 12.0
      AND round(CAST(size(filter(_ctoks, t -> t rlike '[a-z]')) AS DOUBLE)
          / {nw}, 6) >= 0.8
      AND size(filter(_ctoks, t -> t IN ({stop_list}))) >= 1
      AND round(CAST(size(array_distinct(_ctoks)) AS DOUBLE) / {nw}, 6) >= 0.1
      THEN 1 ELSE 0 END"""
    return (
        df.withColumn("_ctoks", F.expr(toks))
        .withColumn("content_hash", F.expr(f"md5({text_col})"))
        .withColumn("is_en", F.expr(is_en))
        .withColumn("passes_quality", F.expr(quality))
        .drop("_ctoks")
    )


def bpe_segment(
    df: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Apply a trained BPE merge list: ``(word, ...)`` → adds ``tokens
    array<string>`` (the Sennrich apply step).

    One in-order pass over the merge list per word is exact: a merge can
    only create adjacencies involving its own new symbol, and any merge
    referencing that symbol was necessarily learned later, so rank-
    priority application and in-order application coincide. Scale shape:
    run this on the DISTINCT-WORD table (see :func:`bpe_word_table`) and
    join token counts back to occurrences — cost is O(vocab × merges)
    in a map-only Arrow pass, never O(corpus × merges)."""
    from collections.abc import Iterator

    import pandas as pd

    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    merge_list = [tuple(m) for m in merges]

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = []
            for word in pdf[word_col]:
                s = [ch for ch in word]
                for a, b in merge_list:
                    if a not in s or b not in s:
                        continue
                    i, m = 0, []
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                            m.append(a + b)
                            i += 2
                        else:
                            m.append(s[i])
                            i += 1
                    s = m
                toks.append(s)
            pdf = pdf.copy()
            pdf["tokens"] = toks
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(apply, schema=f"{fields}, tokens array<string>")


def hashed_embeddings(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Feature-hashed document vectors (the public hashing-trick /
    Weinberger et al. recipe): token → hash bucket in [0, dim), weight =
    term frequency, L2-normalized — a cheap deterministic embedding that
    feeds the ANN / embedding-dedup operators without any model. One
    explode + ONE wide groupBy: the dense count vector assembles as
    ``dim`` conditional SUM aggregates (map-side combined — the shuffle
    carries one 64-wide row per doc per map task), then array() packs
    the columns. This replaced the r10-profiled double-shuffle +
    map_from_entries + per-element map-lookup assembly, which executed
    interpreted O(dim · map-size) lookups per row: 21 s → 4 s
    materializing 320k vectors (the x64 probe corpus).

    ``hash_fn``: ``"md5"`` (default — the only hash both engines of the
    dual-dialect oracles compute identically) or ``"xxhash64"`` (the
    JVM-native production hash, same minhash precedent as
    ``minhash_signatures(hash_fn=...)``; r17 A/B at sf0.1: the
    bucket-hash stage runs ~40% faster, 0.65 s → 0.36 s median-of-5,
    because hex-md5 + conv costs ~2x a native 64-bit hash per token).
    Any uniform hash is a valid hashing-trick bucket assignment; use
    md5 only where an SQL oracle must reproduce the buckets.

    ``carry_cols`` (r17): doc-constant columns (a label, a source key)
    carried through the wide groupBy, so a caller that needs them next
    to the vector pays no re-attach join — the classifier gate
    previously ran TWO id-joins (labels into train, source into the
    final rollup) that this removes (guide §2.4: remove shuffles
    outright). They ride as extra GROUP BY keys, not ``first()``
    aggregates (r18): a string ``first()`` puts a StringType field in
    the aggregation buffer, which UnsafeRow cannot mutate in place, so
    the ENTIRE wide agg fell off HashAggregate onto SortAggregate —
    paying a full sort of the exploded token stream on both sides of
    the exchange (VERDICT r17 #4). Group-key strings are fine (keys
    are not mutated), and doc-constant carries make the groups
    identical to grouping by ``id_col`` alone. A carry column that is
    NOT doc-constant splits the doc into multiple rows instead of
    picking an arbitrary value — a louder failure than ``first()``'s
    silent nondeterminism (ADVICE r17)."""
    wtab = _hashed_counts(
        df, dim, text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        carry_cols=carry_cols,
    )
    return _normalize_counts(wtab, dim, id_col=id_col, carry_cols=carry_cols)


def _hashed_counts(
    df: DataFrame,
    dim: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    carry_cols: tuple[str, ...] = (),
    keep_tokenless: bool = False,
) -> DataFrame:
    """The UN-normalized bucket-count table behind
    :func:`hashed_embeddings`: one row per doc, columns ``(id, *carry,
    c0..c{dim-1})`` where ``c_i`` is the token count hashed into bucket
    ``i``. Split out (r18) so a caller that derives several vector
    variants from one corpus (the classifier gate's mirror twins) can
    pay the tokenize + explode + wide-agg exactly once.

    ``keep_tokenless``: with the default inner explode a doc whose text
    yields zero tokens produces NO row (matching the historical
    behavior); ``True`` keeps an all-zero count row for it instead
    (``explode_outer`` with a null-guarded bucket). Docs with NULL text
    never produce a row in either mode."""
    if hash_fn == "xxhash64":
        bucket = f"pmod(xxhash64(tok), {dim})"
    else:
        bucket = dl.md5_int("tok", "spark") + f" % {dim}"
    carry = list(carry_cols)
    explode = F.explode_outer if keep_tokenless else F.explode
    src = df.where(F.col(text_col).isNotNull()) if keep_tokenless else df
    longf = src.select(
        F.col(id_col), *[F.col(c) for c in carry],
        explode(F.expr(_toks(text_col))).alias("tok"),
    ).selectExpr(
        id_col, *carry,
        # a null token (the explode_outer placeholder for an empty
        # array) must count into NO bucket; xxhash64(NULL) is NOT null
        f"IF(tok IS NULL, NULL, {bucket}) AS bucket"
        if keep_tokenless else f"{bucket} AS bucket",
    )
    aggs = [
        F.sum(
            F.when(F.col("bucket") == i, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias(f"c{i}")
        for i in range(dim)
    ]
    return longf.groupBy(id_col, *carry).agg(*aggs)


def _normalize_counts(
    wtab: DataFrame,
    dim: int,
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """L2-normalize a :func:`_hashed_counts` table into ``(id, *carry,
    embedding)``, WITHOUT higher-order functions. The previous shape
    (norm ``aggregate`` inlined inside the ``transform`` lambda) re-ran
    the dim-element aggregate for EVERY element — lambda bodies are
    interpreted, with no codegen and no common-subexpression
    elimination, so that was O(dim^2) interpreted ops per row
    (measured: 2.4 s of a 3.0 s featurize at sf0.1, 10k rows x 64).
    Hoisting the norm into its own projection is NOT enough:
    CollapseProject re-inlines a single-use alias straight back into
    the lambda. Explicit per-element expressions fix it structurally —
    ``_n`` is referenced dim times (CollapseProject's cost check keeps
    multi-use non-cheap aliases in their own Project), and the whole
    projection is lambda-free so it whole-stage-codegens. Float math
    is order-identical to the old fold (left-assoc sum of squares =
    the aggregate's left fold; same sqrt/greatest/divide/cast), so
    embeddings are bit-identical."""
    carry = list(carry_cols)
    sq = " + ".join(f"c{i} * c{i}" for i in range(dim))
    emb = (
        "array("
        + ", ".join(f"CAST(c{i} / _n AS FLOAT)" for i in range(dim))
        + ")"
    )
    return (
        wtab.selectExpr(
            id_col, *carry,
            *[f"c{i}" for i in range(dim)],
            f"greatest(sqrt({sq}), 1e-12) AS _n",
        )
        .selectExpr(id_col, *carry, f"{emb} AS embedding")
    )


def _w_literal(weights) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in weights) + ")"


def _margin_expr(weights, vec_col: str) -> str:
    """w·x with the (tiny) weight vector folded in as an array literal —
    map-only, no join, no UDF. The fold stays a higher-order function
    BY MEASUREMENT (r18): an expanded 64-term ``CAST(v[i] AS DOUBLE) *
    w_i`` sum was tried and ran ~4x SLOWER (0.44 s → 1.9 s per 1M rows
    at dim 64) — per-element ``GetArrayItem`` chains cost more than one
    fold over the array, even though the fold's lambda is interpreted.
    (The classifier featurize's normalize is the opposite case and IS
    expanded: its inputs are plain agg columns, not array elements, and
    its old shape nested the norm fold INSIDE the transform lambda —
    O(dim^2) — see _normalize_counts.)"""
    return (
        f"aggregate(zip_with({vec_col}, {_w_literal(weights)}, "
        "(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)"
    )


#: driver budget of the local gradient-descent fast path: a dense
#: feature matrix of at most this many bytes (n·dim·8) is collected once
#: and fitted by :func:`_fit_local` instead of n_iter distributed jobs
LOCAL_FIT_BYTES = 64 * 1024 * 1024


def _arrow_xy(table, vec_col: str, y_col: str, dim: int):
    """Dense float64 ``(X, y)`` from an Arrow table whose ``vec_col``
    holds ``dim``-long lists: the flat list buffer reshaped, no
    per-row Python objects."""
    import numpy as np

    flat = table.column(vec_col).combine_chunks().flatten()
    if len(flat) != table.num_rows * dim:
        raise ValueError(
            f"{vec_col}: {len(flat)} values for {table.num_rows} rows of dim {dim}"
        )
    X = np.asarray(flat.to_numpy(zero_copy_only=False), dtype="f8")
    y = np.asarray(table.column(y_col).to_numpy(), dtype="f8")
    return X.reshape(table.num_rows, dim), y


def _fit_local(X, y, n_iter: int, lr: float) -> list[float]:
    """Full-batch logistic-regression gradient descent on the driver —
    the update rule and iteration count of the distributed loop in
    :func:`train_quality_classifier`, over one dense ``(n, dim)``
    matrix."""
    import numpy as np

    n, dim = X.shape
    if n == 0:
        raise ValueError("empty training set")
    w = np.zeros(dim)
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - lr * (X.T @ (p - y)) / n
    return [float(v) for v in w]


def train_quality_classifier(
    feats: DataFrame,
    labels: DataFrame | None,
    dim: int = 64,
    n_iter: int = 8,
    lr: float = 4.0,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    y_col: str = "y",
) -> list[float]:
    """Model-based quality filtering, the classifier-filter recipe of
    public pipelines (fastText-style linear scorer over hashed bag-of-
    words; e.g. the DCLM / FineWeb-Edu filtering step): full-batch
    logistic regression by gradient descent over the hashed features
    (:func:`hashed_embeddings`).

    100 TB shape: the feature table stays distributed and is scanned
    ONCE per iteration — an Arrow-batched ``mapInPandas`` computes the
    per-partition partial gradient as ONE matmul (X.T @ (sigmoid(Xw) -
    y)), so each iteration is a single map-only job with NO shuffle
    that collects one dim-length row per partition batch; the driver
    holds O(dim). (The r09 shape — literal-folded margin + posexplode +
    groupBy(pos) — replanned Catalyst and ran a shuffle every
    iteration: 8.85 s at sf0.1 for 8 iterations. The matmul form is the
    same treeAggregate pattern MLlib's LBFGS/GD uses.)
    Deterministic given a fixed partitioning: full-batch, no
    sampling.

    ``labels=None`` (r17): the label column already sits on ``feats``
    (``y_col``) — skip the id join entirely, one shuffle less. The
    join path remains for callers whose labels live in a separate
    table.

    Small inputs (r18): when the dense feature matrix fits
    :data:`LOCAL_FIT_BYTES` (n·dim·8 bytes), the iterations run
    locally (:func:`_fit_local`) on one Arrow collect instead of n_iter
    scheduled jobs — identical update rule and iteration count,
    deterministic, distributed loop unchanged above the cap."""
    import numpy as np
    import pandas as pd

    joined = feats if labels is None else feats.join(labels, id_col)
    df = joined.select(vec_col, y_col).persist()
    try:
        n = df.count()  # materializes the cache; gradient scale
        if n == 0:
            raise ValueError("empty training set")
        # Driver fast path (r18, the dedup_components small-graph
        # precedent): below the budget the n_iter sequential Spark jobs
        # are pure scheduling overhead. Only float summation ORDER
        # differs from the loop below (one matmul vs per-partition
        # partials), which the planted-margin safety (min |margin| ≥
        # 0.24 at n_iter=4) dwarfs. The distributed loop is the 100 TB
        # path and stays bit-for-bit as before; the cap is on the exact
        # bytes the driver would hold.
        if n * dim * 8 <= LOCAL_FIT_BYTES:
            X, y = _arrow_xy(df.toArrow(), vec_col, y_col, dim)
            return _fit_local(X, y, n_iter, lr)
        # 8 sequential scans: per-task overhead dominates when the
        # cached table is small, so coalesce to ~200k rows/task (reads
        # cached blocks, no recompute); at real scale parts >= current
        # partitioning and this is a no-op
        import math

        parts = max(8, math.ceil(n / 200_000))
        if parts < df.rdd.getNumPartitions():
            df = df.coalesce(parts)
        w = np.zeros(dim)
        for _ in range(n_iter):
            wb = w.copy()

            def part_grad(batches, wb=wb):
                g = np.zeros(dim)
                seen = False
                for pdf in batches:
                    if not len(pdf):
                        continue
                    seen = True
                    X = np.array(pdf[vec_col].tolist(), dtype="f8")
                    y = pdf[y_col].to_numpy(dtype="f8")
                    p = 1.0 / (1.0 + np.exp(-(X @ wb)))
                    g += X.T @ (p - y)
                if seen:
                    yield pd.DataFrame({"g": [g.tolist()]})

            rows = df.mapInPandas(part_grad, schema="g array<double>").collect()
            g = np.sum([np.asarray(r["g"]) for r in rows], axis=0) / n
            w = w - lr * g
        return [float(v) for v in w]
    finally:
        df.unpersist()


def score_quality_classifier(
    feats: DataFrame,
    weights: list[float],
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, score, label_pred): the trained linear scorer applied
    map-only — at 100 TB this is a pure projection over the feature
    scan, the exact shape a production quality filter runs at.

    The margin (an ``aggregate(zip_with(...))`` over ``dim`` elements,
    executed interpreted per row) is evaluated ONCE and ``label_pred``
    derived from the result column in a second projection — the r17
    fix for the prior shape, which inlined the same aggregate
    expression twice (score + predicate) and paid 2x the per-row
    higher-order-function cost (guide §4: reuse expensive expression
    results instead of re-evaluating).

    ``keep_cols``: extra columns carried through the projection (e.g.
    a grouping key the caller aggregates on next) — saves the id join
    that re-attaching them would cost."""
    m = _margin_expr(weights, vec_col)
    keep = list(keep_cols)
    return feats.selectExpr(id_col, *keep, f"{m} AS score").selectExpr(
        id_col, *keep, "score", "CAST(score > 0.0D AS INT) AS label_pred"
    )


def _occurrence_scratch_dir(spark) -> str | None:
    """Cluster-usable scratch dir for the occurrence spill, or None.

    ``spark.raquet_spark.scratch_dir`` (any Hadoop-FS path) wins; a
    local master may use a driver tempdir (executors share the
    machine); a non-local master without the conf returns None — the
    caller must fall back to executor-storage checkpointing, because
    a driver-local path is not executor-visible (review r17). Tempdir
    scratch registers an atexit sweep as a backstop; auto_width
    callers delete it eagerly once the spans are materialized."""
    base = spark.conf.get("spark.raquet_spark.scratch_dir", None)
    if base:
        import uuid

        return f"{base.rstrip('/')}/rq_substr_occ_{uuid.uuid4().hex[:12]}"
    if not spark.sparkContext.master.startswith("local"):
        return None
    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="rq_substr_occ_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    return scratch


def _remove_scratch(spark, path: str) -> None:
    """Delete a scratch dir through the Hadoop FS API (works for
    file:// tempdirs and for conf-provided HDFS/S3 paths alike)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception:
        pass  # best-effort: the atexit sweep / FS lifecycle backstops


def substring_dedup_spans(
    df: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    auto_width: bool = False,
    checkpoint_occurrences: bool | None = None,
    occurrence_storage: str = "parquet",
    _scratch_sink: list | None = None,
) -> DataFrame:
    """Exact-substring dedup spans — the public Lee et al.
    ("Deduplicating Training Data Makes Language Models Better")
    recipe, re-expressed relationally instead of via suffix arrays:

    whitespace tokens → every length-``window`` shingle → ``xxhash64``
    → every occurrence EXCEPT the corpus-wide first (ordered by
    (doc, start) for determinism) marks its token range as duplicated →
    per-doc interval merge (gaps-and-islands over window functions) →
    one row per merged span: ``(doc_id, span_start, span_end)`` with
    token positions, end exclusive.

    Scale shape: everything is JVM-side (transform/slice/xxhash64 —
    no Python UDFs); the wide shuffle is on the 8-byte shingle hash
    (volume = tokens × 8B, NOT tokens × window), and the interval
    merge shuffles each doc's duplicate starts once. The
    first-occurrence pass is deliberately an aggregation + join, NOT
    ``row_number().over(partitionBy(h))``: a window pins every
    occurrence of a hot shingle (license boilerplate can repeat
    10⁸-10⁹ times at 100 TB) into ONE task's sort, while
    ``groupBy(h).agg(min(struct(id, start)))`` combines map-side
    (partial aggregation shrinks the hot key to one row per map
    task) and the join-back is AQE-skew-splittable. Suffix arrays
    find variable-length duplicates; fixed-``window`` shingles find
    every duplicate run of ≥ ``window`` tokens (the standard
    distributed approximation — runs shorter than ``window`` are
    deliberately out of scope).

    ``auto_width=True``: size the shingle-hash shuffle from a doc
    count plus a bounded token-length sample (shuffled rows ≈ total
    tokens; AQE never raises the initial width — SCALE_PROBE_r14) and
    materialize the spans inside the widened scope. Default keeps the
    plan lazy/composable at the session width.

    ``checkpoint_occurrences``: materialize the exploded (id, start,
    hash) occurrence rows ONCE (DISK_ONLY) instead of recomputing the
    shingle+hash subtree for both of its consumers (the
    first-occurrence aggregation and the join-back). The r16 stage
    decomposition of the x256 probe arm located the family's residual
    superlinearity HERE, not in the span windows (occ stage 26.9s →
    121.4s on 4x tokens — disk-bandwidth-bound explode+hash — while
    the window merge went 10.0s → 12.3s, sublinear): recomputing that
    subtree twice is what the lazy plan pays. Measured end-to-end at
    x256: ~157s materialized-once vs 219s lazy (−28%); break-even at
    x64. Defaults to the auto_width value — large corpora opt in with
    it, small/lazy plans keep zero materialization.

    ``occurrence_storage``: how the materialized occurrence rows are
    held. ``"parquet"`` (default, r17) writes them once to a columnar
    scratch dir and scans it from both consumers — the (long, int,
    long) rows compress heavily columnar, probe-measured faster than
    the ``"local"`` java-serialized DISK_ONLY localCheckpoint at both
    x64 (78.8 → 43.5 s) and x256 (96.9 → 82.8 s). On a multi-node
    cluster a driver-local tempdir is NOT executor-visible, so the
    scratch base must come from ``spark.raquet_spark.scratch_dir``
    (any Hadoop-FS path: HDFS/S3/shared NFS); with no such conf on a
    non-local master the operator falls back to ``"local"``
    automatically rather than silently losing rows (review r17). The
    auto_width branches delete the scratch as soon as the spans are
    materialized; lazy explicit callers keep it until interpreter
    exit."""
    from pyspark.sql.window import Window

    if auto_width:
        from raquet_spark.session import (
            derive_shuffle_width,
            estimate_token_rows,
            scoped_shuffle_width,
        )

        from pyspark import StorageLevel

        spark = df.sparkSession
        _, token_rows = estimate_token_rows(
            df, text_col, "[^ \\\\t\\\\n]+"
        )
        width = derive_shuffle_width(spark, token_rows)
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if width <= base:
            # nothing to widen: keep the session's exact AQE behavior
            # and the default (memory-tier) checkpoint for small corpora
            # — but still honor an EXPLICIT checkpoint_occurrences from
            # the caller (r17, ADVICE: only None means "follow
            # auto_width"; this branch used to drop an explicit True)
            sink: list = []
            out = substring_dedup_spans(
                df, window, text_col, id_col, auto_width=False,
                checkpoint_occurrences=bool(checkpoint_occurrences),
                occurrence_storage=occurrence_storage,
                _scratch_sink=sink,
            ).localCheckpoint(eager=True)
            for s in sink:  # spans materialized: scratch is dead
                _remove_scratch(spark, s)
            return out
        # past the session width the span set is big by construction —
        # checkpoint DISK_ONLY like materialize_sized_pairs does, so the
        # resident blocks can't crowd a bounded executor heap the way
        # the r15 probe measured on the components path (ADVICE r15)
        with scoped_shuffle_width(spark, width):
            sink = []
            out = substring_dedup_spans(
                df, window, text_col, id_col, auto_width=False,
                # tri-state default: None means "follow auto_width" —
                # an explicit False from the caller is honored
                checkpoint_occurrences=(
                    True if checkpoint_occurrences is None
                    else checkpoint_occurrences
                ),
                occurrence_storage=occurrence_storage,
                _scratch_sink=sink,
            ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        for s in sink:  # spans materialized: scratch is dead
            _remove_scratch(spark, s)
        return out

    shingled = df.selectExpr(
        id_col,
        f"regexp_extract_all({text_col}, '[^ \\\\t\\\\n]+', 0) AS t",
    ).selectExpr(
        id_col,
        # sequence(0, n) DESCENDS when n < 0 — docs shorter than the
        # window must produce an EMPTY shingle array, not slice(t, 0, …)
        f"""
        CASE WHEN size(t) >= {window} THEN transform(
          sequence(0, size(t) - {window}),
          i -> xxhash64(concat_ws(' ', slice(t, i + 1, {window})))
        ) ELSE array() END AS hs
        """,
    )
    occ = shingled.selectExpr(id_col, "posexplode(hs) AS (start, h)")
    if checkpoint_occurrences:
        spark = df.sparkSession
        storage = occurrence_storage
        scratch = None
        if storage == "parquet":
            scratch = _occurrence_scratch_dir(spark)
            if scratch is None:
                # non-local master with no cluster-visible scratch
                # conf: a driver tempdir would be invisible to
                # executors and silently lose rows — fall back to the
                # executor-storage checkpoint (review r17)
                storage = "local"
        if storage == "parquet":
            # columnar scratch spill — the DEFAULT (r17, VERDICT r16
            # #5): the occurrence rows are (long, int, long) and
            # compress heavily columnar, so writing them once as
            # parquet and scanning twice beats the java-serialized
            # DISK_ONLY checkpoint blocks (probe-measured on the x-way
            # duplicated sf0.1 corpus: x64 78.8 -> 43.5 s, x256
            # 96.9 -> 82.8 s end-to-end; SURVEY §6)
            occ.write.mode("overwrite").parquet(f"{scratch}/occ.parquet")
            occ = spark.read.parquet(f"{scratch}/occ.parquet")
            if _scratch_sink is not None:
                # an auto_width caller materializes the spans and
                # deletes the scratch immediately after
                _scratch_sink.append(scratch)
        else:
            from pyspark import StorageLevel

            occ = occ.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
    # Corpus-wide first occurrence per shingle, ordered by (doc, start)
    # for determinism. min(struct(..)) compares lexicographically and
    # partial-aggregates map-side — skew-safe where a row_number window
    # over partitionBy(h) is not (see docstring).
    first = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("start").alias("s")))
        .alias("f")
    )
    dup = (
        occ.join(first, "h")
        .where(
            (F.col(id_col) != F.col("f.i")) | (F.col("start") != F.col("f.s"))
        )
        .select(id_col, "start")
    )
    prev_w = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_w = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        dup.withColumn("prev_end", F.max(F.col("start") + window).over(prev_w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("start") > F.col("prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("is_new").over(run_w))
        .groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(window)).alias("span_end"),
        )
        .drop("island")
    )
    return spans


def substring_dedup_prune(
    df: DataFrame,
    window: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    auto_width: bool = False,
) -> DataFrame:
    """Apply :func:`substring_dedup_spans` cut-lists: rebuild each
    document's text with duplicated token ranges removed (the first
    corpus-wide occurrence keeps its text intact). Output schema is
    exactly ``(id_col, text_col, dup_tokens, clean_text)`` — other
    input columns are dropped; join back on ``id_col`` to recover
    them."""
    spans = substring_dedup_spans(df, window, text_col, id_col,
                                  auto_width=auto_width)
    per_doc = spans.groupBy(id_col).agg(
        F.expr(
            "array_sort(collect_list(struct(span_start AS s, span_end AS e)))"
        ).alias("cuts")
    )
    return (
        df.join(per_doc, id_col, "left")
        .selectExpr(
            "*",
            f"regexp_extract_all({text_col}, '[^ \\\\t\\\\n]+', 0) AS _t",
        )
        .selectExpr(
            id_col,
            text_col,
            """
            CASE WHEN cuts IS NULL THEN 0
                 ELSE aggregate(cuts, 0, (acc, c) -> acc + c.e - c.s)
            END AS dup_tokens
            """,
            f"""
            CASE WHEN cuts IS NULL THEN {text_col} ELSE concat_ws(
              ' ',
              filter(
                transform(_t, (tok, i) ->
                  IF(exists(cuts, c -> i >= c.s AND i < c.e), NULL, tok)),
                x -> x IS NOT NULL)
            ) END AS clean_text
            """,
        )
    )


def sequence_pack(
    df: DataFrame,
    max_len: int = 2048,
    shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing for training-batch assembly:
    assign every document to a (shard, bin) so each bin's token total
    approximates ``max_len`` without splitting documents.

    This is the *linear packing* approximation: docs are sharded by
    ``doc_id % shards`` (so the running sums parallelize — a global
    ORDER BY window would serialize 100 TB through one partition),
    and within a shard the bin is ``(cumsum - n_tokens) / max_len``
    over doc-id order. Bins fill past ``max_len`` by at most one
    document's tokens (the classic bound); true first-fit-decreasing
    buys ~2-5% utilization for a sequential pass and is deliberately
    not used. Output: one row per doc with shard, bin, n_tokens."""
    from pyspark.sql.window import Window

    toks = df.selectExpr(
        id_col,
        f"pmod({id_col}, {shards}) AS shard",
        # same token definition as substring_dedup_spans: newline/tab
        # separated text must not count as one giant token
        f"size(regexp_extract_all({text_col}, '[^ \\\\t\\\\n]+', 0)) AS n_tokens",
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.withColumn("cum", F.sum("n_tokens").over(w)).selectExpr(
        id_col,
        "shard",
        f"CAST(FLOOR((cum - n_tokens) / {max_len}.0) AS BIGINT) AS bin",
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# HTML boilerplate strip (E48) and URL canonicalization + per-domain
# quota (E49) — the two standard web-crawl curation stages upstream of
# the C4 funnel (public jusText/C4 and CommonCrawl recipes). Both are
# pure JVM-side regexp/array projections; the expression builders below
# are the single logic source shared with the dual-dialect oracle
# templates in queries.py.
# ---------------------------------------------------------------------------

#: block-level elements whose CONTENT is boilerplate (removed whole);
#: everything else keeps its text and loses only the tags
HTML_BLOCK_TAGS = ("script", "style", "nav", "aside", "header", "footer")

#: decoded after tag removal; &amp; deliberately LAST so literal
#: '&amp;lt;' decodes once (to '&lt;'), matching html.unescape's
#: single-pass contract. &copy; maps to ASCII '(c)' so the SQL literal
#: stays encoding-agnostic across dialects.
HTML_ENTITY_SQL = (
    ("&lt;", "'<'"), ("&gt;", "'>'"), ("&quot;", "chr(34)"),
    ("&#39;", "chr(39)"), ("&nbsp;", "' '"), ("&copy;", "'(c)'"),
    ("&amp;", "'&'"),
)


def html_strip_expr(src: str, d: str = "spark") -> str:
    """Dual-dialect SQL expression: HTML → main text. Order matters:
    comments, then block elements (their content would otherwise leak
    into the text once the tags are gone), then remaining tags, then
    entities, then whitespace collapse. All regexp_replace/replace —
    map-only, whole-stage-codegen-able, no UDF."""

    def rr(s: str, pat: str, rep: str = " ") -> str:
        p = pat.replace("\\", "\\\\") if d == "spark" else pat
        g = "" if d == "spark" else ", 'g'"
        return f"regexp_replace({s}, '{p}', '{rep}'{g})"

    # (?s): real crawled HTML has multi-line script/style/comment
    # blocks, and neither Java regex nor RE2 lets '.' cross newlines
    # by default — without dotall the block passes silently no-op and
    # the generic tag strip leaks raw JS/CSS into the "clean" text
    e = rr(src, "(?s)<!--.*?-->")
    for t in HTML_BLOCK_TAGS:
        e = rr(e, f"(?si)<{t}[^>]*>.*?</{t}>")
    e = rr(e, "<[^>]+>")
    for ent, rep in HTML_ENTITY_SQL:
        e = f"replace({e}, '{ent}', {rep})"
    collapsed = rr(e, "[ \\t\\r\\n]+")
    return f"trim({collapsed})"


def html_extract(
    df: DataFrame, html_col: str = "html", out_col: str = "clean_text"
) -> DataFrame:
    """Boilerplate-strip an HTML column to main text (jusText/C4-class
    regex pipeline — tags, script/style/nav/aside/header/footer blocks,
    comments, common entities, whitespace). One projection: at 100 TB
    this pipelines into the scan with zero shuffle, feeding the E40
    cleaning funnel."""
    return df.withColumn(out_col, F.expr(html_strip_expr(html_col, "spark")))


#: query params dropped by canonicalization (tracking/session noise —
#: the CommonCrawl/SURT-style list, prefix-matched)
URL_TRACKING_PREFIXES = (
    "utm_", "fbclid=", "gclid=", "msclkid=", "mc_eid=", "ref_src=",
)


def url_canonical_steps(url: str = "url", d: str = "spark") -> list:
    """Ordered (column, dual-dialect SQL expr) steps from a raw URL to
    ``canonical_url`` + ``domain``; later steps reference earlier
    columns, so consumers apply them as a withColumn chain (operator)
    or chained CTEs (oracle template). Rules: lowercase scheme+host,
    strip ``www.`` and default ports, empty path → ``/``, drop the
    fragment, drop tracking params, sort surviving params. ``domain``
    is the last two host labels (quota key)."""

    def rx(s: str, pat: str, grp: int) -> str:
        p = pat.replace("\\", "\\\\") if d == "spark" else pat
        return f"regexp_extract({s}, '{p}', {grp})"

    def rr(s: str, pat: str, rep: str = "") -> str:
        p = pat.replace("\\", "\\\\") if d == "spark" else pat
        g = "" if d == "spark" else ", 'g'"
        return f"regexp_replace({s}, '{p}', '{rep}'{g})"

    sort_fn = "array_sort" if d == "spark" else "list_sort"
    sw = "startswith" if d == "spark" else "starts_with"
    keep = " AND ".join(
        f"NOT {sw}(p, '{pre}')" for pre in URL_TRACKING_PREFIXES
    )
    parts = dl.arr_filter(
        dl.split_re("_q", "&", d), "p", f"p <> '' AND {keep}", d
    )
    return [
        ("_scheme", f"lower({rx(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)})"),
        ("_host0",
         rr(f"lower({rx(url, '^[^:/?#]+://([^/?#]*)', 1)})", "^www\\.")),
        # strip only the SCHEME'S OWN default port: http://h:443 is a
        # genuinely distinct origin from https://h and must not merge
        ("_host",
         "CASE WHEN _scheme = 'http' THEN "
         + rr("_host0", ":80$")
         + " WHEN _scheme = 'https' THEN "
         + rr("_host0", ":443$")
         + " ELSE _host0 END"),
        ("_path0", rx(url, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)),
        ("_path", "CASE WHEN _path0 = '' THEN '/' ELSE _path0 END"),
        # anchor before any '#': a '?' inside the fragment (SPA
        # routes like /app#/search?q=x) is NOT a query string
        ("_q", rx(url, "^[^#]*[?]([^#]*)", 1)),
        ("_qkeep", dl.arr_join(f"{sort_fn}({parts})", "&", d)),
        ("canonical_url",
         "_scheme || '://' || _host || _path || "
         "CASE WHEN _qkeep = '' THEN '' ELSE '?' || _qkeep END"),
        # last two host labels, ignoring any RETAINED non-default port
        # (quota is per registered domain; the port stays in the
        # canonical URL but doesn't split the quota key)
        ("domain", rx("_host", "([a-z0-9-]+[.][a-z0-9]+)(:[0-9]+)?$", 1)),
    ]


def url_canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append ``canonical_url`` + ``domain`` to a URL column — one
    map-only projection (the steps chain collapses into a single
    codegen stage; no shuffle)."""
    out = df
    for name, expr in url_canonical_steps(url_col, "spark"):
        out = out.withColumn(name, F.expr(expr))
    return out.drop(
        "_scheme", "_host0", "_host", "_path0", "_path", "_q", "_qkeep"
    )


def domain_quota(
    df: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: int = 64,
) -> DataFrame:
    """Keep at most ``max_per_domain`` docs per registered domain (the
    ``min(doc_id)``-first deterministic policy — no rand()). Two-phase
    salted top-K: a single ``row_number() OVER (PARTITION BY domain)``
    would sort a hot domain (a 10^8-page site at 100 TB) in ONE task;
    phase one ranks within (domain, id%salt) so no task ever sorts more
    than a salt-slice, phase two ranks the surviving ≤ salt×K rows per
    domain. Both phases keep the K smallest ids, so the result equals
    the single-window definition exactly (pytest-pinned vs the oracle
    template's plain window)."""
    from pyspark.sql.window import Window

    c = url_canonicalize(df, url_col)
    w1 = Window.partitionBy(
        "domain", F.pmod(F.col(id_col), F.lit(salt))
    ).orderBy(id_col)
    pre = (
        c.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= max_per_domain)
        .drop("_r1")
    )
    w2 = Window.partitionBy("domain").orderBy(id_col)
    return (
        pre.withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") <= max_per_domain)
        .drop("_r2")
    )
