"""DataFrame-API dedup/text operators; cross-checked against the
oracle-checked SQL templates where both exist."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raquet_spark.operators.dedup import (
    embedding_dedup_pairs,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
    simhash_signatures,
)
from raquet_spark.operators.textops import (
    fingerprint_containment,
    with_fingerprints,
    with_language_id,
    with_quality_score,
    with_token_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from raquet_spark.queries import load_table

    docs = load_table(spark, SF_DIR, "documents").cache()
    yield docs
    # a cached Dataset outlives the module otherwise: later modules'
    # plans of the same table then read the InMemoryRelation
    docs.unpersist()


def test_exact_dedup(spark, docs):
    dup = docs.union(docs.limit(10))  # inject 10 duplicates
    out = exact_dedup(dup)
    assert out.count() == docs.count()


def test_minhash_pairs_match_sql_registry(spark, docs):
    """DataFrame API == oracle-checked SQL template output."""
    import __spark_entry__ as m

    api = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs).collect()
    }
    sql = {
        (r["doc_a"], r["doc_b"])
        for r in m.queries()["dedup_minhash"](spark, SF_DIR).collect()
    }
    assert api == sql


def test_simhash_pairs_match_sql_registry(spark, docs):
    import __spark_entry__ as m

    api = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup_pairs(docs).collect()
    }
    sql = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in m.queries()["dedup_simhash"](spark, SF_DIR).collect()
    }
    assert api == sql


def test_minhash_identical_texts_collide(spark, docs):
    sigs = minhash_signatures(docs.union(docs.limit(1)))
    first_id = docs.limit(1).collect()[0]["doc_id"]
    rows = sigs.where(F.col("doc_id") == first_id).collect()
    assert len(rows) == 1  # grouped

    # two different docs with same text → identical signature
    a = docs.limit(1).select(F.lit(1).alias("doc_id"), "text")
    b = docs.limit(1).select(F.lit(2).alias("doc_id"), "text")
    two = minhash_signatures(a.union(b)).collect()
    s1 = [r for r in two if r["doc_id"] == 1][0]
    s2 = [r for r in two if r["doc_id"] == 2][0]
    assert [s1[f"m{i}"] for i in range(8)] == [s2[f"m{i}"] for i in range(8)]


def test_minhash_xxhash64_production_hash(spark, docs):
    """The 100 TB hash option (r14): hash_fn='xxhash64' swaps the
    oracle-pinned md5 base hash for the JVM-native one. Different hash
    = a different (equally valid) random permutation family, so the
    candidate SET may differ — the pin is LSH behavior: identical
    texts always collide, planted near-identical twins are found, and
    the plan stays UDF-free."""
    from pyspark.sql import functions as FF

    # identical text under a different id -> signature identical
    a = docs.limit(1).select(FF.lit(1).alias("doc_id"), "text")
    b = docs.limit(1).select(FF.lit(2).alias("doc_id"), "text")
    two = minhash_signatures(a.union(b), hash_fn="xxhash64").collect()
    s1 = [r for r in two if r["doc_id"] == 1][0]
    s2 = [r for r in two if r["doc_id"] == 2][0]
    assert [s1[f"m{i}"] for i in range(8)] == [s2[f"m{i}"] for i in range(8)]

    # planted exact copies of every 7th doc are all recovered as pairs
    copies = docs.where("doc_id % 7 = 0").withColumn(
        "doc_id", FF.col("doc_id") + FF.lit(10_000_000)
    )
    pairs = minhash_dedup_pairs(
        docs.unionByName(copies), hash_fn="xxhash64"
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {
        (r["doc_id"], r["doc_id"] + 10_000_000)
        for r in docs.where("doc_id % 7 = 0").select("doc_id").collect()
    }
    assert want <= got

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_fn"):
        minhash_signatures(docs, hash_fn="sha1")


def test_ngram_and_embedding_pairs(spark, docs):
    nj = ngram_jaccard_pairs(docs, bucket_col="source", threshold=0.2)
    assert nj.count() > 0
    r = nj.collect()[0]
    assert 0.2 <= r["jaccard"] <= 1.0

    from raquet_spark.queries import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    ep = embedding_dedup_pairs(emb, bucket_col="label", threshold=0.5)
    for row in ep.limit(5).collect():
        assert row["cos_sim"] >= 0.5


def test_text_features(spark, docs):
    out = with_token_counts(docs)
    r = out.where(F.col("doc_id") == docs.first()["doc_id"]).collect()[0]
    assert r["ws_tokens"] == len(r["text"].split())

    lang = with_language_id(docs)
    assert set(r["pred_lang"] for r in lang.select("pred_lang").distinct().collect()) <= {
        "en", "es", "de", "fr", "unknown"
    }

    q = with_quality_score(docs)
    vals = [r["quality_score"] for r in q.select("quality_score").collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprints(spark, docs):
    fp = with_fingerprints(docs)
    assert fp.count() == docs.where(F.length("text") >= 11).count()
    # identical docs → containment 1.0
    a = docs.limit(1).select(F.lit(101).alias("doc_id"), "text")
    b = docs.limit(1).select(F.lit(102).alias("doc_id"), "text")
    pairs = fingerprint_containment(with_fingerprints(a.union(b)))
    row = pairs.collect()[0]
    assert (row["id_a"], row["id_b"]) == (101, 102)
    assert row["containment"] == pytest.approx(1.0)


def test_fingerprint_boilerplate_cutoff(spark):
    """A shingle shared by every doc (planted boilerplate) would glue
    O(N²) candidate pairs; over the cap it degrades to a doc_id chain
    (k−1 candidates) whose boilerplate-only pairs fall below the
    containment threshold — while a corpus under the cutoff is
    returned unchanged."""
    import pandas as pd

    common = 999_999
    rows = [
        # 40 unrelated docs glued only by the boilerplate shingle
        {"doc_id": i, "fingerprints": [common, 1000 + i, 2000 + i, 3000 + i]}
        for i in range(40)
    ]
    # one real near-dup pair sharing 3 private shingles
    rows.append({"doc_id": 100, "fingerprints": [common, 1, 2, 3]})
    rows.append({"doc_id": 101, "fingerprints": [common, 1, 2, 3, 4]})
    df = spark.createDataFrame(pd.DataFrame(rows))

    capped = fingerprint_containment(df, max_docs_per_fingerprint=10)
    got = {(r["id_a"], r["id_b"]): r for r in capped.collect()}
    # boilerplate chain pairs: overlap 1 of min-4 shingles -> filtered
    assert set(got) == {(100, 101)}
    # overlap: private shingles {1,2,3} plus the common one (100 and
    # 101 happen to be chain-adjacent in its doc_id order)
    assert got[(100, 101)]["overlap"] == 4
    assert got[(100, 101)]["containment"] == pytest.approx(1.0)

    # without the cap every common-shingle pair (containment 1/4)
    # becomes a candidate: quadratic at a threshold that admits them
    uncapped = fingerprint_containment(
        df, threshold=0.2, max_docs_per_fingerprint=None
    )
    assert uncapped.count() == 42 * 41 // 2

    small = df.where(F.col("doc_id") >= 100)
    a = fingerprint_containment(small, max_docs_per_fingerprint=256).collect()
    b = fingerprint_containment(small, max_docs_per_fingerprint=None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_fingerprint_mega_cluster_survives_cap(spark):
    """A duplicate cluster LARGER than the cap must stay discoverable:
    identical docs share every fingerprint in the same doc order, so
    the chain pairs carry full overlap (containment 1.0) and connect
    the whole cluster with k−1 candidates instead of k²."""
    import pandas as pd

    from raquet_spark.operators.dedup import connected_components

    n = 40
    rows = [{"doc_id": i, "fingerprints": [11, 22, 33, 44]} for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = fingerprint_containment(df, max_docs_per_fingerprint=10)
    got = pairs.collect()
    assert len(got) == n - 1  # chain, not 40*39/2
    assert all(r["containment"] == pytest.approx(1.0) for r in got)
    comp = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    assert comp.select("component").distinct().count() == 1


def test_collapse_identical_component_equivalence(spark, docs):
    """collapse_identical=True is an EXACT sparsification for every
    component-shaped consumer: on a corpus mixing exact duplicates
    (planted copies) AND perturbed near-duplicates (suffix-appended
    copies that share most shingles but have different signatures),
    the transitive closure over (rep pairs ∪ star edges) must equal
    the closure over the full pairwise listing — identical component
    assignment per node, no recall loss (VERDICT r15 #1)."""
    from raquet_spark.operators.dedup import connected_components

    base = docs.limit(60).select("doc_id", "text")
    exact_copies = base.where("doc_id % 3 = 0").select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    # perturbed: append one token — most shingles survive, signature
    # usually differs, so these exercise the rep-rep band join path
    near_copies = base.where("doc_id % 4 = 1").select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
    )
    corpus = base.unionByName(exact_copies).unionByName(near_copies)

    full = minhash_dedup_pairs(corpus)
    collapsed = minhash_dedup_pairs(corpus, collapse_identical=True)

    def comp_map(pairs):
        return {
            r["node"]: r["component"]
            for r in connected_components(pairs, "id_a", "id_b").collect()
        }

    full_map, coll_map = comp_map(full), comp_map(collapsed)
    assert full_map == coll_map
    assert len({v for v in full_map.values()}) > 1  # non-trivial corpus
    # the sparsification actually sparsifies: exact-duplicate groups
    # contribute star rows, never the quadratic within-group listing
    assert collapsed.count() <= full.count()
    # every id_a < id_b invariant holds on the union too
    assert collapsed.where("id_a >= id_b").count() == 0


def test_collapse_identical_linear_on_all_duplicate_corpus(spark, docs):
    """The x256-probe shape at unit scale: k exact copies of each doc.
    The full listing grows as k², the collapsed listing as k — pin the
    closed form: n_docs*(k-1) star edges + the k=1 rep pair count."""
    base = docs.limit(20).select("doc_id", "text")
    k = 5
    corpus = base.selectExpr(
        "explode(sequence(0, {0})) AS _c".format(k - 1),
        "doc_id", "text",
    ).select(
        (F.col("doc_id") + F.col("_c") * 1_000_000).alias("doc_id"), "text"
    )
    # group algebra: with base signature-group sizes g_i (Σg_i = n
    # signed docs, m distinct signatures), the collapsed listing is
    # Σ(k·g_i − 1) star + rep-pairs = k·n − m + P_rep, so the growth
    # over the k=1 listing (n − m + P_rep) is EXACTLY (k−1)·n — linear
    # in copies, with the rep-pair term cancelling.
    n_signed = minhash_signatures(base).count()
    collapsed_k1 = minhash_dedup_pairs(base, collapse_identical=True).count()
    collapsed = minhash_dedup_pairs(corpus, collapse_identical=True)
    assert collapsed.count() == collapsed_k1 + (k - 1) * n_signed
    # auto_width path takes the same collapse branch (sizing over rep
    # buckets) and must produce the identical pair set
    auto = minhash_dedup_pairs(
        corpus, auto_width=True, collapse_identical=True
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, collapsed.collect())
    )


def test_lsh_mega_bucket_chain_cap(spark):
    """max_bucket_rows (r16): a mega-bucket of DISTINCT-signature docs
    sharing one band key (the near-identical boilerplate residual the
    collapse cannot touch) must emit k−1 id-adjacent chain pairs, not
    k(k−1)/2 — while staying one connected component. Signatures are
    crafted directly: band 0 (m0:m1) identical for all 200 docs, every
    other band unique per doc."""
    from raquet_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    k = 200
    sigs = spark.range(k).selectExpr(
        "id AS doc_id",
        "CAST(1 AS INT) AS m0", "CAST(1 AS INT) AS m1",
        "CAST(id AS INT) AS m2", "CAST(id + 7 AS INT) AS m3",
        "CAST(id * 3 AS INT) AS m4", "CAST(id * 5 AS INT) AS m5",
        "CAST(id * 11 AS INT) AS m6", "CAST(id * 13 AS INT) AS m7",
    )
    full = lsh_candidate_pairs(sigs)
    assert full.count() == k * (k - 1) // 2
    capped = lsh_candidate_pairs(sigs, max_bucket_rows=10)
    rows = capped.collect()
    assert len(rows) == k - 1  # chain, not quadratic
    assert all(r["id_a"] < r["id_b"] for r in rows)
    comp = connected_components(
        capped.select("id_a", "id_b"), "id_a", "id_b"
    )
    assert comp.select("component").distinct().count() == 1
    # under-cap buckets keep the exact self-join listing: with a cap
    # above the bucket size the output equals the full listing
    assert lsh_candidate_pairs(
        sigs, max_bucket_rows=k + 1
    ).count() == k * (k - 1) // 2
    # composes with the collapse: identical copies of each signature
    # become star edges, the shared band still chains the reps
    copies = sigs.selectExpr(
        "doc_id + 1000000 AS doc_id",
        *[f"m{i}" for i in range(8)],
    )
    both = lsh_candidate_pairs(
        sigs.unionByName(copies), collapse_identical=True,
        max_bucket_rows=10,
    )
    assert both.count() == (k - 1) + k  # rep chain + k star edges
    comp2 = connected_components(
        both.select("id_a", "id_b"), "id_a", "id_b"
    )
    assert comp2.select("component").distinct().count() == 1


def test_chain_cap_family_wide(spark):
    """max_bucket_rows on the simhash, pHash and embedding-LSH
    generators (r16): near-identical over-cap buckets chain instead of
    self-joining, the per-pair verify still runs on chain edges, and
    the cluster stays one component."""
    from raquet_spark.operators.dedup import (
        connected_components,
        embedding_dedup_pairs_lsh,
    )
    from raquet_spark.operators.multimodal import phash_dedup_pairs

    def comps(pairs):
        return (
            connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
            .select("component").distinct().count()
        )

    # simhash: two simhashes at hamming 1 — every pair qualifies, so
    # the uncapped listing is quadratic and the capped one chains
    k = 100
    from raquet_spark.operators.dedup import _simhash_chunk_pairs

    sigs = spark.range(k).selectExpr(
        "id AS doc_id",
        "CAST(5 AS BIGINT) | shiftleft(CAST(id % 2 AS BIGINT), 40)"
        " AS simhash",
    )
    full = _simhash_chunk_pairs(sigs, "doc_id", 4, 12, 3)
    assert full.count() == k * (k - 1) // 2
    capped = _simhash_chunk_pairs(sigs, "doc_id", 4, 12, 3, 10)
    assert capped.count() < k * (k - 1) // 8
    assert capped.where("hamming > 3").count() == 0
    assert comps(capped) == 1

    # pHash: same shape through the public API
    hashes = spark.range(k).selectExpr(
        "id AS media_id",
        "CAST(99 AS BIGINT) | shiftleft(CAST(id % 2 AS BIGINT), 50)"
        " AS phash",
    )
    pfull = phash_dedup_pairs(hashes, max_distance=2, n_bands=4)
    assert pfull.count() == k * (k - 1) // 2
    pcap = phash_dedup_pairs(
        hashes, max_distance=2, n_bands=4, max_bucket_rows=10
    )
    assert pcap.count() < k * (k - 1) // 8
    assert comps(pcap) == 1

    # embedding LSH: k near-identical vectors (cosine ~1, identical
    # buckets in every table) — chains dedupe to exactly k-1 pairs
    emb = spark.range(k).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 16), x -> CAST(x AS DOUBLE) * (1.0 +"
        " CAST(id AS DOUBLE) * 1e-9)) AS embedding",
    )
    ecap = embedding_dedup_pairs_lsh(
        emb, threshold=0.99, n_bits=4, n_tables=6, dim=16,
        max_bucket_rows=10,
    )
    assert ecap.count() == k - 1
    assert ecap.where("cos_sim < 0.99").count() == 0
    assert comps(ecap) == 1


@pytest.mark.slow
def test_simhash_collapse_identical_equivalence(spark, docs):
    """Simhash collapse: identical-simhash groups become rep + star
    (hamming 0) with the same component closure as the full chunk-join
    listing (the family-wide r16 duplicate collapse)."""
    from raquet_spark.operators.dedup import connected_components

    base = docs.limit(40).select("doc_id", "text")
    k = 3
    corpus = base.selectExpr(
        f"explode(sequence(0, {k - 1})) AS _c", "doc_id", "text"
    ).select(
        (F.col("doc_id") + F.col("_c") * 1_000_000).alias("doc_id"), "text"
    )
    full = simhash_dedup_pairs(corpus)
    coll = simhash_dedup_pairs(corpus, collapse_identical=True)

    def comp_map(pairs):
        return {
            r["node"]: r["component"]
            for r in connected_components(
                pairs.select("id_a", "id_b"), "id_a", "id_b"
            ).collect()
        }

    assert comp_map(full) == comp_map(coll)
    assert coll.count() <= full.count()
    assert coll.where("id_a >= id_b").count() == 0


@pytest.mark.slow
def test_embedding_collapse_identical_equivalence(spark):
    """Embedding analogue of the signature collapse (r16): byte-exact
    duplicate vectors collapse to rep + star edges (cos_sim exactly
    1.0) with the SAME component assignment as the full listing, and
    pair volume linear in duplication (k·n − m over the vector
    groups)."""
    from raquet_spark.operators.dedup import (
        connected_components,
        embedding_dedup_pairs_lsh,
    )
    from raquet_spark.queries import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).limit(40)
    k = 4
    corpus = emb.selectExpr(
        f"explode(sequence(0, {k - 1})) AS _c", "vec_id", "embedding"
    ).select(
        (F.col("vec_id") + F.col("_c") * 1_000_000).alias("vec_id"),
        "embedding",
    )
    kw = dict(vec_col="embedding", id_col="vec_id", threshold=0.95,
              n_bits=4, n_tables=8, dim=64)
    full = embedding_dedup_pairs_lsh(corpus, **kw)
    coll = embedding_dedup_pairs_lsh(corpus, collapse_identical=True, **kw)

    def comp_map(pairs):
        return {
            r["node"]: r["component"]
            for r in connected_components(
                pairs.select("id_a", "id_b"), "id_a", "id_b"
            ).collect()
        }

    assert comp_map(full) == comp_map(coll)
    # star edges carry the exact cosine of byte-identical vectors
    star = coll.where("id_b >= 1000000").where("id_a = id_b % 1000000")
    assert star.count() > 0
    assert star.where("cos_sim != 1.0").count() == 0
    # linear closed form: k·n − m star rows + the k=1 rep listing
    n = emb.count()
    m = emb.select("embedding").distinct().count()
    rep_k1 = embedding_dedup_pairs_lsh(
        emb, collapse_identical=True, **kw
    ).count()
    assert coll.count() == rep_k1 + (k - 1) * n
    # auto_width collapse path returns the identical pair set
    auto = embedding_dedup_pairs_lsh(
        corpus, collapse_identical=True, auto_width=True, **kw
    )
    assert sorted((r["id_a"], r["id_b"]) for r in auto.collect()) == sorted(
        (r["id_a"], r["id_b"]) for r in coll.collect()
    )


def test_connected_components(spark):
    from raquet_spark.operators.dedup import connected_components

    # two chains and one isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        ["id_a", "id_b"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_embedding_lsh_recall_vs_exact(spark):
    """The LSH-bucketed embedding dedup (the 100 TB path) must recover
    nearly all of the exact all-pairs result at the query threshold."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import (
        embedding_dedup_pairs,
        embedding_dedup_pairs_lsh,
    )
    from raquet_spark.queries import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_dedup_pairs(emb, threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_dedup_pairs_lsh(
            emb, threshold=0.8, n_bits=6, n_tables=16, dim=64
        ).collect()
    }
    # no false positives (every LSH pair passes the exact cosine filter)
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} over {len(exact)} pairs"


def test_bpe_train_matches_reference_implementation(spark):
    """Distributed BPE merges equal a pure-python Sennrich-style
    reference on the same corpus (deterministic lexicographic ties)."""
    import pandas as pd

    from raquet_spark.operators.textops import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low new wide lower newer",
    ] * 3
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = bpe_train(df, n_merges=12)

    # pure-python reference
    from collections import Counter

    import re

    words = Counter(re.findall(r"[a-z0-9]+", " ".join(texts).lower()))
    vocab = {tuple(w): c for w, c in words.items()}
    want = []
    for _ in range(12):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        best = max(pc.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in "\x00".join(kv[0])]))
        # deterministic tie-break: highest count, then lexicographically
        top_n = max(pc.values())
        cands = sorted([p for p, n in pc.items() if n == top_n])
        best = cands[0]
        if pc[best] < 2:
            break
        want.append(best)
        a, b = best
        new_vocab = {}
        for syms, c in vocab.items():
            s = list(syms)
            i, merged = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + c
        vocab = new_vocab
    assert got == [(a, b) for a, b in want], (got, want)


def test_bpe_batched_rounds_collapse_without_diverging(spark):
    """On a corpus with distinct pair counts and no cross-pair triples,
    one Spark round safely accepts the whole merge budget — the driver
    critical path shrinks ~batch_size× — and the result still equals
    the strictly sequential (batch_size=1) trainer."""
    import pandas as pd

    from raquet_spark.operators.textops import bpe_train

    words = [
        ("ab", 50), ("cd", 41), ("ef", 33), ("gh", 27),
        ("ij", 22), ("kl", 18), ("mn", 15), ("op", 13),
    ]
    texts = [" ".join([w] * c) for w, c in words]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))

    stats: dict = {}
    got = bpe_train(df, n_merges=8, batch_size=8, stats=stats)
    assert got == [tuple(w) for w, _ in words]
    assert stats["rounds"] == 1, stats  # batched: one round, not eight

    seq_stats: dict = {}
    seq = bpe_train(df, n_merges=8, batch_size=1, stats=seq_stats)
    assert seq == got
    assert seq_stats["rounds"] == 8


def test_bpe_segment_matches_reference_apply(spark):
    """The distributed apply pass segments words exactly as a pure-
    python rank-priority BPE tokenizer, including unseen compounds and
    out-of-vocab characters."""
    import pandas as pd

    from raquet_spark.operators.textops import bpe_segment, bpe_train

    texts = ["ababab abc abd", "cdcd cde abcd", "ab cd ababcd"] * 4
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    merges = bpe_train(df, n_merges=8)
    assert merges  # corpus trains at least one merge

    def ref_segment(word: str) -> list[str]:
        s = list(word)
        for a, b in merges:
            i, m = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    m.append(a + b)
                    i += 2
                else:
                    m.append(s[i])
                    i += 1
            s = m
        return s

    words = ["ababab", "abcd", "cde", "dcba", "xyz", "a", "abababab"]
    wdf = spark.createDataFrame(pd.DataFrame({"word": words}))
    got = {r["word"]: list(r["tokens"]) for r in bpe_segment(wdf, merges).collect()}
    assert got == {w: ref_segment(w) for w in words}


def test_hashed_embeddings_feed_ann(spark):
    """Feature-hashed doc vectors are unit-norm, deterministic, and
    chain into the ANN operators: duplicate texts land at cosine 1."""
    import numpy as np
    import pandas as pd

    from raquet_spark.operators.similarity import cosine_topk
    from raquet_spark.operators.textops import hashed_embeddings

    texts = [f"alpha beta gamma doc {i} with shared words" for i in range(10)]
    texts.append(texts[0])  # exact duplicate of doc 0 under id 10
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    emb = hashed_embeddings(df, dim=32)
    rows = {r["doc_id"]: np.array(r["embedding"]) for r in emb.collect()}
    assert len(rows) == 11
    for v in rows.values():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5
    np.testing.assert_allclose(rows[0], rows[10], rtol=1e-6)

    q = emb.where("doc_id = 10").selectExpr("doc_id AS vec_id", "embedding")
    c = emb.where("doc_id < 10").selectExpr("doc_id AS vec_id", "embedding")
    top = cosine_topk(c, q, k=1).first()
    assert top["cand_id"] == 0 and abs(top["score"] - 1.0) < 1e-6


def test_clean_flags_equal_batch_funnel(spark):
    """with_clean_flags (the streaming gate) must classify exactly like
    the dual-dialect batch funnel: rebuilding the funnel's per-source
    counts from the flags reproduces pipeline_clean_counts verbatim."""
    from raquet_spark.operators.textops import with_clean_flags
    from raquet_spark.queries import _SQL_QUERIES, load_table, register_views

    SF = "/root/testdata/sf0.001"
    register_views(spark, SF)
    funnel = {
        r["source"]: (r["n_docs"], r["n_en"], r["n_quality"], r["n_kept"])
        for r in spark.sql(_SQL_QUERIES["pipeline_clean_counts"]("spark")).collect()
    }

    docs = load_table(spark, SF, "documents")
    flagged = with_clean_flags(docs).cache()
    kept_hashes = {
        r["content_hash"]
        for r in flagged.where("is_en = 1 AND passes_quality = 1")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper"))
        .collect()
    }
    keepers = {
        r["doc_id"]
        for r in flagged.where("is_en = 1 AND passes_quality = 1")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .collect()
    }
    rebuilt = {}
    for r in (
        flagged.withColumn(
            "kept", F.col("doc_id").isin(list(keepers)).cast("int")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_en").alias("n_en"),
            F.sum(F.col("is_en") * F.col("passes_quality")).alias("n_quality"),
            F.sum(F.expr("CASE WHEN is_en = 1 AND passes_quality = 1 AND kept = 1 THEN 1 ELSE 0 END")).alias("n_kept"),
        )
        .collect()
    ):
        rebuilt[r["source"]] = (r["n_docs"], r["n_en"], r["n_quality"], r["n_kept"])
    assert rebuilt == funnel
    assert len(kept_hashes) == sum(v[3] for v in funnel.values())


def test_bpe_adaptive_batching_rounds_far_below_merges(spark):
    """On a distinct-count, symbol-disjoint corpus (the late-training
    regime a 32k-vocab run spends nearly all its rounds in) the
    adaptive width doubles every full round, so merges accrue
    geometrically per driver round - while remaining sequential-exact
    (merge order == descending frequency, all pairs disjoint). The
    tokenizer's [a-z0-9] alphabet allows 18 disjoint character pairs;
    the >=512-merge rounds-per-merge measurement lives in
    scripts/scale_probe.py where symbols can grow past characters."""
    import pandas as pd

    from raquet_spark.operators.textops import bpe_train

    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    n = 16
    words = [(alphabet[2 * i] + alphabet[2 * i + 1], n + 2 - i) for i in range(n)]
    texts = [" ".join([w] * f) for w, f in words]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    stats: dict = {}
    merges = bpe_train(df, n_merges=n, batch_size=2, stats=stats)
    assert merges == [(w[0], w[1]) for w, _f in words]
    # widths 2,4,8,2 -> 4 rounds for 16 merges (vs 8 at fixed width 2)
    assert stats["rounds"] <= 5, stats
    assert stats["final_batch_size"] > 2, stats


def test_substring_dedup_spans_and_prune(spark):
    """Exact-substring dedup (Lee et al. recipe, relational form):
    corpus-wide first occurrence exempt, overlapping windows merge to
    one span, cut-lists rebuild clean text, non-duplicated docs pass
    through untouched."""
    import pandas as pd

    from raquet_spark.operators.textops import (
        substring_dedup_prune,
        substring_dedup_spans,
    )

    words = lambda a, b: " ".join(f"w{i}" for i in range(a, b))  # noqa: E731
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            words(0, 40),                                        # original
            "x0 x1 x2 " + words(5, 30) + " y0 y1",               # copies w5..w29
            words(100, 140),                                     # unrelated
            words(0, 40),                                        # full copy
        ],
    }))
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dedup_spans(docs, window=20).collect()
    }
    # doc 2: w5..w29 sit at positions 3..27 -> one merged span [3, 28)
    # doc 4: fully duplicated -> [0, 40); docs 1/3 emit nothing
    assert spans == {(2, 3, 28), (4, 0, 40)}

    # occurrence materialization (the large-corpus single-pass path,
    # r16) is a pure execution strategy — identical spans
    ckpt = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dedup_spans(
            docs, window=20, checkpoint_occurrences=True
        ).collect()
    }
    assert ckpt == spans

    out = {r["doc_id"]: r for r in substring_dedup_prune(docs, window=20).collect()}
    assert out[1]["dup_tokens"] == 0 and out[3]["dup_tokens"] == 0
    assert out[1]["clean_text"] == words(0, 40)
    assert out[2]["dup_tokens"] == 25
    assert out[2]["clean_text"] == "x0 x1 x2 y0 y1"
    assert out[4]["dup_tokens"] == 40 and out[4]["clean_text"] == ""


def test_substring_dedup_no_python_udf(spark):
    """The span finder must stay JVM-side: shingle hashing rides
    transform/slice/xxhash64, not a Python UDF."""
    import pandas as pd

    from raquet_spark.operators.textops import substring_dedup_spans
    from raquet_spark.plans.inspect import executed_plan

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c"]})
    )
    plan = executed_plan(substring_dedup_spans(docs, window=2))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_dedup_no_window_over_shingle_hash(spark):
    """Skew gate: the first-occurrence pass must be an aggregation +
    join, never a Window partitioned by the shingle hash — a hot
    shingle (boilerplate repeated 10^8+ times at 100 TB) would pin a
    multi-GB sort into one task. Window operators may only partition
    by the doc id (the interval merge)."""
    import pandas as pd

    from raquet_spark.operators.textops import substring_dedup_spans
    from raquet_spark.plans.inspect import executed_plan

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c d"]})
    )
    plan = executed_plan(substring_dedup_spans(docs, window=2))
    import re

    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec != "h", plan


def test_substring_dedup_hot_shingle(spark):
    """Hot-key correctness: one shingle occurring 10^4 times among
    uniform data still yields exactly one exempt first occurrence
    (min (doc_id, start) corpus-wide) and every other occurrence
    marked duplicated."""
    import pandas as pd

    from raquet_spark.operators.textops import substring_dedup_spans

    hot = " ".join(f"h{i}" for i in range(4))  # one window-4 shingle
    n = 10_000
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(n)),
        "text": [hot + f" u{k}a u{k}b u{k}c u{k}d" for k in range(n)],
    }))
    spans = substring_dedup_spans(docs, window=4).collect()
    # every doc except doc 0 (first occurrence at (0, 0)) has the hot
    # shingle span [0, 4); the u-suffixed tails are all unique
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in spans}
    assert got == {(d, 0, 4) for d in range(1, n)}


def test_sequence_pack_invariants(spark):
    """Linear packing: every doc lands in exactly one (shard, bin),
    bins fill to at most max_len + the largest document (the linear
    bound), and bin ids are dense per shard from 0."""
    import pandas as pd

    from raquet_spark.operators.textops import sequence_pack

    rng_texts = [" ".join(f"t{i}_{j}" for j in range(5 + (i * 7) % 40))
                 for i in range(60)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(60), "text": rng_texts})
    )
    out = sequence_pack(docs, max_len=50, shards=4).collect()
    assert len(out) == 60 and len({r["doc_id"] for r in out}) == 60
    max_doc = max(r["n_tokens"] for r in out)
    fills: dict = {}
    for r in out:
        fills[(r["shard"], r["bin"])] = fills.get((r["shard"], r["bin"]), 0) + r["n_tokens"]
    assert all(v <= 50 + max_doc for v in fills.values()), fills
    for shard in {r["shard"] for r in out}:
        bins = sorted({r["bin"] for r in out if r["shard"] == shard})
        assert bins == list(range(len(bins))), (shard, bins)


def test_substring_dedup_short_docs(spark):
    """Docs shorter than the window emit no shingles (Spark's
    sequence(0, n) DESCENDS for n < 0 — regression for the guard)."""
    import pandas as pd

    from raquet_spark.operators.textops import substring_dedup_spans

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b", "a b", " ".join(f"w{i}" for i in range(30))],
    }))
    assert substring_dedup_spans(docs, window=20).count() == 0


def test_pipeline_demo_end_to_end(spark):
    """The composed training-data pipeline (clean → substring dedup →
    minhash dedup → quality → pack → split) runs on sf0.001 with
    monotonically non-increasing survivor counts and a ~90/10 split."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples", "pipeline_demo.py",
    )
    spec = importlib.util.spec_from_file_location("pipeline_demo", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    c = mod.run_pipeline(spark, "/root/testdata/sf0.001")
    assert c["raw"] >= c["after_clean"] >= c["after_substring_dedup"]
    assert c["after_substring_dedup"] >= c["after_minhash_dedup"]
    assert c["after_minhash_dedup"] >= c["after_quality"] > 0
    assert c["train"] + c["val"] == c["after_quality"]
    assert c["bins"] > 0 and c["train"] > c["val"]


def test_quality_classifier_train_and_score(spark):
    """Distributed full-batch logistic regression (the model-based
    quality-filter recipe): on a planted mirror-pair corpus the trained
    scorer separates positives from negatives EXACTLY, weights peak on
    the sentinel buckets with opposite signs, and training is
    deterministic across runs."""
    import hashlib

    from pyspark.sql import functions as F

    from raquet_spark.operators.textops import (
        hashed_embeddings,
        score_quality_classifier,
        train_quality_classifier,
    )
    from raquet_spark.queries import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pos = docs.selectExpr(
        "doc_id", "concat(text, ' qsentinelgood qsentinelgood "
        "qsentinelgood qsentinelgood') AS text", "CAST(1.0 AS DOUBLE) AS y",
    )
    neg = docs.selectExpr(
        "doc_id + 1000000 AS doc_id",
        "concat(text, ' qsentinelbad qsentinelbad qsentinelbad "
        "qsentinelbad') AS text", "CAST(0.0 AS DOUBLE) AS y",
    )
    corpus = pos.unionByName(neg)
    feats = hashed_embeddings(corpus, dim=64)
    labels = corpus.select("doc_id", "y")
    w1 = train_quality_classifier(feats, labels, dim=64, n_iter=6, lr=4.0)
    w2 = train_quality_classifier(feats, labels, dim=64, n_iter=6, lr=4.0)
    assert w1 == w2  # full-batch GD is deterministic

    bg = int(hashlib.md5(b"qsentinelgood").hexdigest()[:7], 16) % 64
    bb = int(hashlib.md5(b"qsentinelbad").hexdigest()[:7], 16) % 64
    assert w1[bg] > 0 > w1[bb]
    assert w1[bg] == max(w1) and w1[bb] == min(w1)

    scored = score_quality_classifier(feats, w1)
    joined = scored.join(labels, "doc_id")
    n_bad = joined.where(
        F.col("label_pred").cast("double") != F.col("y")
    ).count()
    assert n_bad == 0  # exact separation on the planted pair corpus


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_quality_classifier_filter_local_and_over_cap_agree(spark, monkeypatch):
    """The classifier query fits on the driver from one Arrow collect
    under ``LOCAL_FIT_BYTES`` and runs the distributed GD above it.
    Both give the same per-source tally, and neither leaves a persisted
    RDD (a cached Dataset's blocks are one) behind. A budget of 0 also
    sends ``train_quality_classifier`` down its distributed loop, so
    the local fit never runs on that path."""
    from raquet_spark.operators import textops
    from raquet_spark.queries import load_table, quality_classifier_filter_spark

    fits = []
    fit_local = textops._fit_local

    def spy(*args):
        fits.append(args[0].shape)
        return fit_local(*args)

    monkeypatch.setattr(textops, "_fit_local", spy)
    before = _persisted_rdds(spark)

    def tally() -> list[tuple]:
        out = quality_classifier_filter_spark(spark, SF_DIR)
        assert _persisted_rdds(spark) <= before
        return sorted(tuple(r) for r in out.collect())

    local = tally()
    assert fits == [(1000, 64)]  # 2 twins x 500 documents, one fit
    monkeypatch.setattr(textops, "LOCAL_FIT_BYTES", 0)
    fits.clear()
    over_cap = tally()
    assert fits == []
    # the planted twins are separated exactly: every document is
    # predicted once positive and once negative
    per_source = load_table(spark, SF_DIR, "documents").groupBy("source").count()
    want = sorted((s, lab, n) for s, n in per_source.collect() for lab in (0, 1))
    assert local == over_cap == want


def test_quality_classifier_per_iteration_plan(spark):
    """Each GD iteration is a single scan: the margin/gradient job over
    the cached features contains no Python UDF and no per-doc join —
    the gradient arrives through partially-aggregated SUMs."""
    from raquet_spark.operators.textops import _margin_expr

    from pyspark.sql import functions as F

    df = spark.range(100).selectExpr(
        "id AS doc_id",
        "transform(sequence(0, 63), i -> CAST(rand(42) AS FLOAT)) AS embedding",
        "CAST(id % 2 AS DOUBLE) AS y",
    )
    m = _margin_expr([0.01] * 64, "embedding")
    p = f"(1.0D / (1.0D + exp(-({m}))))"
    agg = (
        df.selectExpr(
            f"transform(embedding, x -> CAST(x AS DOUBLE) * ({p} - y)) AS c"
        )
        .selectExpr("posexplode(c) AS (pos, gv)")
        .groupBy("pos")
        .agg(F.sum("gv").alias("g"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "HashAggregate" in plan


def test_html_extract_hand_fixtures(spark):
    """Boilerplate strip vs hand-written expectations: block content
    (script/style/nav/aside/header/footer) removed entirely, other
    tags drop but keep text, comments gone, entities decoded once,
    whitespace collapsed."""
    from raquet_spark.operators.textops import html_extract

    cases = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<script>var x = '<p>not text</p>';</script>after", "after"),
        ("<STYLE>h1 { color: red }</STYLE>kept", "kept"),
        ("<nav><a href='/x'>menu</a></nav><div>body text</div>",
         "body text"),
        ("<!-- secret --><span>visible</span>", "visible"),
        ("a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s &nbsp;end",
         "a & b <tag> \"q\" 's end"),
        # &amp;lt; decodes ONCE (to '&lt;'), html.unescape's contract
        ("x &amp;lt; y", "x &lt; y"),
        ("<header>chrome</header><p>line1</p>\n\n<p>line2</p>"
         "<footer>foot</footer>", "line1 line2"),
        ("no markup at all", "no markup at all"),
        # multi-line blocks: '.' does not cross newlines in Java/RE2,
        # so the block patterns carry (?s) — without it the raw JS/CSS
        # would leak into the "clean" text (r15 review finding)
        ("<script>\nvar x = 1;\ntrack();\n</script>kept tail",
         "kept tail"),
        ("<STYLE>\nh1 {\n color: red;\n}\n</STYLE>body", "body"),
        ("<!-- multi\nline\ncomment -->seen", "seen"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, html string"
    )
    got = {r["i"]: r["clean_text"]
           for r in html_extract(df).select("i", "clean_text").collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_html_extract_map_only_plan(spark):
    """The strip is a pure projection: no shuffle, no Python UDF."""
    from raquet_spark.operators.textops import html_extract

    df = html_extract(
        spark.createDataFrame([(1, "<p>x</p>")], "i long, html string")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_canonicalize_hand_fixtures(spark):
    from raquet_spark.operators.textops import url_canonicalize

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=a&z=2&a=1#frag",
         "https://example.com/Path/?a=1&z=2", "example.com"),
        ("http://news.site-3.org:80", "http://news.site-3.org/",
         "site-3.org"),
        ("https://example.com/x?gclid=1&fbclid=2&utm_medium=m",
         "https://example.com/x", "example.com"),
        ("https://sub.deep.example.co/a/b?b=1&a=2",
         "https://sub.deep.example.co/a/b?a=2&b=1", "example.co"),
        # '?' INSIDE the fragment is not a query (SPA routes) — the
        # whole fragment drops (r15 review finding)
        ("https://app.example.com/app#/search?q=x",
         "https://app.example.com/app", "example.com"),
        # only the scheme's OWN default port strips: http on 443 is a
        # genuinely distinct origin and must survive
        ("http://example.com:443/x", "http://example.com:443/x",
         "example.com"),
        ("https://example.com:80/x", "https://example.com:80/x",
         "example.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "i long, url string"
    )
    got = {r["i"]: (r["canonical_url"], r["domain"])
           for r in url_canonicalize(df).collect()}
    for i, (_, cu, dom) in enumerate(cases):
        assert got[i] == (cu, dom), f"case {i}: {got[i]}"


def test_domain_quota_matches_plain_window(spark):
    """The salted two-phase top-K equals the single-window definition
    (keep the K smallest doc_ids per domain), including a hot domain
    larger than the salt width."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from raquet_spark.operators.textops import domain_quota, url_canonicalize

    rows = [(i, f"https://hot.example.com/p/{i}") for i in range(300)]
    rows += [(1000 + i, f"https://cold{i % 5}.org/x") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, url string")

    kept = domain_quota(df, 3, salt=8)
    got = {(r["domain"], r["doc_id"]) for r in kept.collect()}

    w = Window.partitionBy("domain").orderBy("doc_id")
    want = {
        (r["domain"], r["doc_id"])
        for r in url_canonicalize(df)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .collect()
    }
    assert got == want
    assert len([1 for d, _ in got if d == "example.com"]) == 3


def test_exact_dedup_null_text(spark):
    """NULL text must form one kept group, not vanish (r17, ADVICE:
    md5(NULL) is NULL and the winner semi-join's null-rejecting
    equality dropped every NULL-text row)."""
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["a", "a", None, None, "b"],
    }))
    out = exact_dedup(docs)
    got = {(r["doc_id"], r["text"]) for r in out.collect()}
    assert got == {(1, "a"), (3, None), (5, "b")}


def test_substring_dedup_auto_width_honors_explicit_checkpoint(spark):
    """auto_width=True with derived width <= session base must still
    forward an EXPLICIT checkpoint_occurrences=True (r17, ADVICE: the
    narrow branch used to silently drop it) — identical spans either
    way, and the call must actually take the checkpointed path."""
    import pandas as pd

    from raquet_spark.operators.textops import substring_dedup_spans

    words = lambda a, b: " ".join(f"w{i}" for i in range(a, b))  # noqa: E731
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": [words(0, 40), words(0, 40)],
    }))
    expect = {(2, 0, 40)}
    for ck in (True, False, None):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in substring_dedup_spans(
                docs, window=20, auto_width=True,
                checkpoint_occurrences=ck,
            ).collect()
        }
        assert got == expect, f"checkpoint_occurrences={ck}"


def test_max_bits_for_recall_clamps_self_sizing(spark):
    """The LSH self-sizing must honor the closed-form recall bound for
    the ACTUAL (threshold, n_tables) (r17, ADVICE: the dedup-tuned
    16-row occupancy was measured with 16 tables; 8 tables at that
    width drop per-pair recall to ~0.90)."""
    from raquet_spark.operators.similarity import max_bits_for_recall

    # threshold 0.95: p/bit ~0.899 -> 13 bits at 16 tables, 7 at 8
    assert max_bits_for_recall(0.95, 16) == 13
    assert max_bits_for_recall(0.95, 8) == 7
    # looser threshold -> lower p -> fewer bits sustainable
    assert max_bits_for_recall(0.8, 16) < max_bits_for_recall(0.95, 16)
    # recall math: the returned width actually meets the target
    import math
    for thr, t in [(0.95, 16), (0.95, 8), (0.9, 4), (0.99, 2)]:
        bits = max_bits_for_recall(thr, t)
        p = 1.0 - math.acos(thr) / math.pi
        assert 1.0 - (1.0 - p ** bits) ** t >= 0.99

    # co-sizing (review r17): the occupancy width is NEVER shrunk when
    # tables are free to grow — at 10^7 rows the clamp alone would cap
    # bits at 13 and reintroduce unbounded buckets; the pair sizing
    # keeps 20 bits and raises tables instead
    from raquet_spark.operators.similarity import (
        derive_dedup_lsh_params,
        derive_lsh_bits,
        tables_for_recall,
    )

    bits, tables = derive_dedup_lsh_params(10**7, 0.95)
    assert bits == derive_lsh_bits(10**7, target_bucket_rows=16) == 20
    assert 16 <= tables <= 64
    p = 1.0 - math.acos(0.95) / math.pi
    assert 1.0 - (1.0 - p ** bits) ** tables >= 0.99
    # at 10^9 rows the pre-existing 24-bit global clamp binds (16M
    # buckets/table; occupancy then bounded by corpus/2^24 ~ 60) and
    # the table count still sustains recall at that width
    b2, t2 = derive_dedup_lsh_params(10**9, 0.95)
    assert b2 == 24 and t2 <= 64
    assert 1.0 - (1.0 - p ** b2) ** t2 >= 0.99
    # explicit n_tables: honored, width clamped to what it sustains
    bits8, tables8 = derive_dedup_lsh_params(10**7, 0.95, n_tables=8)
    assert tables8 == 8 and bits8 == 7
    # loose threshold past the table cap: width trimmed at the cap
    bl, tl = derive_dedup_lsh_params(10**9, 0.8)
    assert tl == 64
    assert 1.0 - (1.0 - (1.0 - math.acos(0.8) / math.pi) ** bl) ** tl >= 0.99
    assert tables_for_recall(0.95, 13) <= 16  # the r16-probed point


def test_components_driver_fast_path_matches_loop(spark, next_job_id):
    """r17: graphs at or under ``small_graph_edges`` are labeled by a
    bounded driver-side union-find instead of the pointer-jumping join
    loop (~10 AQE stage-jobs per round — pure scheduler floor on a toy
    graph). The two paths must be row-identical — same nodes, same
    min-reachable component labels — on a graph mixing random edges,
    self-loops, multi-edges and a long chain (the diameter case the
    loop's pointer jumping exists for), for integer AND string ids."""
    import random

    from raquet_spark.operators.dedup import connected_components

    random.seed(7)
    edges = [(random.randrange(300), random.randrange(300))
             for _ in range(400)]
    edges += [(i, i) for i in range(5)]            # self-loops
    edges += [(1, 2)] * 3                          # multi-edges
    edges += [(i, i + 1) for i in range(500, 540)]  # chain
    df = spark.createDataFrame(edges, "id_a LONG, id_b LONG")

    def rows(out):
        return sorted((r["node"], r["component"]) for r in out.collect())

    fast = rows(connected_components(df))
    slow = rows(connected_components(df, small_graph_edges=0))
    assert fast == slow

    sdf = df.selectExpr("CAST(id_a AS STRING) id_a",
                        "CAST(id_b AS STRING) id_b")
    assert rows(connected_components(sdf)) == rows(
        connected_components(sdf, small_graph_edges=0)
    )

    # same schema, nullable flags included, for both id types
    for d in (df, sdf):
        assert connected_components(d).schema == connected_components(
            d, small_graph_edges=0
        ).schema
    # an empty edge list: the same empty result on both paths
    empty = df.limit(0)
    fast_e = connected_components(empty)
    slow_e = connected_components(empty, small_graph_edges=0)
    assert rows(fast_e) == rows(slow_e) == []
    assert fast_e.schema == slow_e.schema
    # the fast path's labels enter the plan through Arrow: a JVM
    # LocalRelation, not a LogicalRDD over a pickled Python RDD
    from raquet_spark.plans.inspect import optimized_plan

    for out in (connected_components(df), fast_e):
        plan = optimized_plan(out)
        assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan

    # the cap probe is the first action over the lazily checkpointed
    # edge list: the edge plan runs once, and the collect after the
    # probe reads the stored blocks (one stage, no shuffle stage)
    sc = spark.sparkContext
    scans = sc.accumulator(0)

    @F.udf("long")
    def scanned(x):
        scans.add(1)
        return x

    counted = df.withColumn("id_a", scanned("id_a"))
    first_job = next_job_id()
    labels = connected_components(counted)
    collect_job = next_job_id() - 1
    assert collect_job > first_job
    assert len(sc.statusTracker().getJobInfo(collect_job).stageIds) == 1
    assert scans.value == len(edges)
    assert rows(labels) == fast
