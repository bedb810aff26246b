"""Dedup + similarity operators: controlled near-dup corpora, LSH recall
vs exact baselines, structural invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawl_fetcher_lite_spark.operators.dedup import (
    embedding_neardup_pairs,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    verify_jaccard,
    with_simhash,
)
from commoncrawl_fetcher_lite_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

BASE = (
    "spark shuffles partition data across executors while catalyst optimizes "
    "logical plans into physical stages that pipeline narrow transformations"
).split()


@pytest.fixture(scope="module")
def neardup_docs(spark):
    """20 doc families; each family = base text + variants with 0-2 token
    edits (high jaccard) + unrelated docs (low jaccard)."""
    rows = []
    doc_id = 0
    for fam in range(20):
        words = [f"{w}{fam}" for w in BASE]
        rows.append((doc_id, " ".join(words)))
        doc_id += 1
        v = list(words)
        v[3] = "EDITED"
        rows.append((doc_id, " ".join(v)))  # 1-edit near-dup
        doc_id += 1
        v2 = list(words)
        v2[0], v2[10] = "X", "Y"
        rows.append((doc_id, " ".join(v2)))  # 2-edit near-dup
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_exact(spark, neardup_docs):
    pairs = ngram_jaccard_pairs(neardup_docs, threshold=0.5).collect()
    # every family contributes its (base, 1-edit) and (base, 2-edit) pairs
    # above 0.5 (the edit-vs-edit pair lands below); cross-family pairs
    # share no shingles
    assert len(pairs) == 20 * 2
    for r in pairs:
        assert r["doc_a"] // 3 == r["doc_b"] // 3  # same family only


def test_minhash_lsh_finds_all_high_jaccard(spark, neardup_docs):
    """LSH candidates must contain every true pair with J>=0.5 (b=16,r=4 →
    miss probability ~2e-4/pair), and verify_jaccard must reproduce the
    exact pair set."""
    truth = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(neardup_docs, threshold=0.5).collect()
    }
    cand = minhash_lsh_candidates(neardup_docs, bands=32, num_perm=64)
    verified = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in verify_jaccard(cand, neardup_docs, threshold=0.5).collect()
    }
    assert verified == truth


def test_simhash_neardup(spark, neardup_docs):
    pairs = simhash_neardup_pairs(neardup_docs, max_hamming=6).collect()
    assert len(pairs) > 0
    # verify reported hamming by recomputing from signatures
    sig = {r["id"]: r["simhash"] for r in with_simhash(neardup_docs).collect()}
    for r in pairs:
        d = bin((sig[r["id_a"]] ^ sig[r["id_b"]]) & ((1 << 64) - 1)).count("1")
        assert d == r["hamming"] and d <= 6
        assert r["id_a"] // 3 == r["id_b"] // 3  # only family pairs this close


def test_simhash_deterministic(spark, neardup_docs):
    a = {tuple(r) for r in with_simhash(neardup_docs).collect()}
    b = {tuple(r) for r in with_simhash(neardup_docs).collect()}
    assert a == b


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


def test_embedding_neardup_pairs(spark, emb):
    out = embedding_neardup_pairs(
        emb.withColumnRenamed("v", "embedding"), threshold=0.4
    )
    rows = out.collect()
    assert all(r["id_a"] < r["id_b"] and r["cos_sim"] >= 0.4 for r in rows)


def test_lsh_neardup_pairs_recall_and_subset(spark, emb):
    """LSH-bucketed near-dup pairs: every emitted pair is a true pair
    (exact cosine verify makes precision 1.0 by construction), recall vs
    the O(n²) baseline meets the 1-(1-p^b)^r analysis (~0.97 predicted at
    cos 0.4, b=3, r=12), and reruns are deterministic."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import lsh_neardup_pairs

    exact = embedding_neardup_pairs(
        emb.withColumnRenamed("v", "embedding"), threshold=0.4
    )
    approx = lsh_neardup_pairs(emb, threshold=0.4, n_planes=3, n_rotations=12)
    e = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in exact.collect()}
    a = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in approx.collect()}
    assert set(a) <= set(e), "LSH emitted a pair the exact baseline rejects"
    recall = len(a) / len(e)
    assert recall >= 0.85, f"LSH near-dup recall too low: {recall}"
    for k, v in a.items():
        assert abs(v - e[k]) < 1e-9
    rerun = {(r["id_a"], r["id_b"]) for r in
             lsh_neardup_pairs(emb, threshold=0.4, n_planes=3, n_rotations=12).collect()}
    assert rerun == set(a)


def test_lsh_neardup_high_threshold_regime(spark):
    """The operator's real 100 TB regime: planted c>=0.95 near-dup pairs in
    a random background, swept at threshold 0.9 with n_planes=8 (where a
    rotation keeps ~27% of true pairs but ~0.4% of the background). All
    planted pairs must surface; nothing else crosses the exact verify."""
    import numpy as np

    from commoncrawl_fetcher_lite_spark.operators.similarity import lsh_neardup_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    jitter = base + 0.12 * rng.normal(size=base.shape)  # cos ~ 0.97
    vecs = np.concatenate([base, jitter])  # id i dups id i+60
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    out = lsh_neardup_pairs(emb, threshold=0.9, n_planes=8, n_rotations=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 60) for i in range(60)}
    # exact-cosine ground truth at 0.9 (a few jitters may fall below)
    true_planted = {
        (i, i + 60)
        for i in range(60)
        if float(
            vecs[i] @ vecs[i + 60]
            / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[i + 60]))
        )
        >= 0.9
    }
    assert len(true_planted) >= 50  # the construction worked
    recall = len(got & true_planted) / len(true_planted)
    assert recall >= 0.9, f"high-threshold recall too low: {recall}"
    for a, b in got - planted:  # any extra pair must truly be >= 0.9
        c = float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
        assert c >= 0.9 - 1e-6


def test_lsh_ann_recall(spark, emb):
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = brute_force_topk(q, emb, k=5)
    approx = lsh_topk(q, emb, k=5, n_planes=4, n_rotations=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # approx scores must agree with exact where they overlap
    es = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in es:
            assert abs(r["cos_sim"] - es[key]) < 1e-9


def test_short_docs_do_not_crash_shingles(spark):
    """Docs with fewer than n tokens must yield empty shingle sets, not a
    descending-sequence slice() crash (sequence(1,0) → slice start 0)."""
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""), (4, None),
         (5, "three words here"), (6, "spark shuffles partition data now")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, threshold=0.1).collect()
    assert pairs == []  # no shared 3-grams; the point is it doesn't throw
    cand = minhash_lsh_candidates(df).collect()
    assert cand == []
    # simhash path also survives short/empty/null docs
    sig = {r["id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert set(sig) == {1, 2, 3, 4, 5, 6}


def test_simhash_max_hamming_validation(spark, neardup_docs):
    with pytest.raises(ValueError):
        simhash_neardup_pairs(neardup_docs, max_hamming=64)
    with pytest.raises(ValueError):
        simhash_neardup_pairs(neardup_docs, max_hamming=-1)


def test_simhash_pigeonhole_recall_vs_allpairs(spark, neardup_docs):
    """Chunk-bucketed pairs must equal brute-force all-pairs hamming pairs
    (pigeonhole guarantee with max_hamming+1 chunks)."""
    sig = {r["id"]: r["simhash"] for r in with_simhash(neardup_docs).collect()}
    ids = sorted(sig)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1")
            if d <= 8:
                truth.add((a, b, d))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_neardup_pairs(neardup_docs, max_hamming=8).collect()
    }
    assert got == truth


def test_decontaminate(spark):
    """Docs sharing >= min_overlap n-grams with the benchmark flag as
    contaminated; counts are distinct-overlap counts; clean docs flag 0."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),  # 3 overlapping 3-grams
            (2, "quick brown fox somewhere else entirely"),  # 1 overlap
            (3, "completely different text with no overlap at all"),
            (4, "hi"),  # too short for any shingle
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(docs, bench, n=3, min_overlap=2).collect()
    }
    assert out[1] == (3, True)
    assert out[2] == (1, False)  # below min_overlap
    assert out[3] == (0, False)
    assert out[4] == (0, False)


def test_dedup_clusters_connected_components(spark):
    """Transitive closure over near-dup pairs: a chain a-b-c collapses to
    one cluster even though (a,c) is not a pair; disjoint pairs stay
    separate; docs in no pair become singletons."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8)],  # chain 1-2-3; star 7-9-8
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 7, 8, 9)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, docs=docs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7, 9: 7}

    # long chain exercises multi-round convergence (diameter 6)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(chain).collect()
    }
    assert got == {i: 10 for i in range(10, 17)}


def test_ivf_ann_recall_and_determinism(spark, emb):
    """IVF-flat: recall vs brute force at n_probe=4/16 cells; overlapping
    scores exact; repeated runs identical (deterministic quantizer)."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivf_topk

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = brute_force_topk(q, emb, k=5)
    approx = ivf_topk(q, emb, k=5, n_cells=16, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    es = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in es:
            assert abs(r["cos_sim"] - es[key]) < 1e-9
    again = {(r["query_id"], r["neighbor_id"]) for r in ivf_topk(
        q, emb, k=5, n_cells=16, n_probe=4
    ).collect()}
    assert again == a


def test_ivf_kmeans_quantizer_balances_skewed_corpus(spark):
    """ADVICE/VERDICT r3: the lowid quantizer skews cells when the lowest
    ids all sit in one tight cluster; seeded k-means balances them. Corpus:
    4 tight clusters x 50 vectors, ids ordered so the 4 LOWEST ids are all
    cluster-0 members — lowid centroids then miss 3 clusters entirely."""
    import numpy as np

    from commoncrawl_fetcher_lite_spark.operators.similarity import (
        _kmeans_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    dim, per = 8, 50
    centers = np.eye(4, dim) * 10.0
    rows = []
    # ids 0..3 -> cluster 0 (poisons lowid); rest interleaved
    vid = 0
    for c in range(4):
        for i in range(per):
            v = centers[c] + rng.normal(0, 0.05, dim)
            rows.append((vid if c == 0 else 4 + (c - 1) * per + i, c, v.tolist()))
            if c == 0:
                vid += 1
    # reassign ids deterministically: cluster0 -> 0..49, others follow
    rows = [(i, c, v) for i, (_, c, v) in enumerate(sorted(rows, key=lambda r: (r[1] != 0, r[1], r[0])))]
    corpus = spark.createDataFrame(
        [(i, v) for i, _, v in rows], "vec_id long, v array<double>"
    )
    truth = {i: c for i, c, _ in rows}

    C = _kmeans_centroids(corpus, "vec_id", "v", n_cells=4, seed=42)
    C2 = _kmeans_centroids(corpus, "vec_id", "v", n_cells=4, seed=42)
    assert np.array_equal(C, C2), "k-means centroids not deterministic"

    X = np.array([v for _, _, v in rows])
    Xn = X / np.sqrt((X * X).sum(axis=1, keepdims=True))
    assign = np.argmax(np.round(Xn @ C.T, 6), axis=1)
    sizes = np.bincount(assign, minlength=4)
    assert sizes.max() <= 1.5 * per, f"k-means cells skewed: {sizes}"
    assert (sizes > 0).all(), f"empty k-means cell: {sizes}"
    # sanity: lowid centroids (ids 0..3, all cluster 0) DO skew — the
    # contrast that motivates the kmeans quantizer
    Clow = X[:4]
    low_assign = np.argmax(np.round(Xn @ Clow.T, 6), axis=1)
    # every non-cluster-0 vector lands on SOME cluster-0 centroid; the
    # within-cluster-0 split is arbitrary but 3 clusters' mass collapses
    # onto cells whose centroid doesn't represent them
    mis = sum(1 for i, a in enumerate(low_assign) if truth[i] != 0)
    assert mis == 150  # all 150 non-c0 vectors assigned to c0 centroids

    # end-to-end: kmeans-quantized IVF still finds true neighbors
    q = corpus.where(F.col("vec_id").isin([0, 60, 110, 160])).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = brute_force_topk(q, corpus, k=3)
    approx = ivf_topk(
        q, corpus, k=3, n_cells=4, n_probe=1, quantizer="kmeans"
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9, "kmeans IVF recall collapsed"


def test_ivf_lowid_quantizer_offset_ids(spark):
    """ADVICE r3: ids far from 0 must still yield n_cells centroids (the
    old `id < n_cells` filter produced an empty matrix and crashed)."""
    import numpy as np

    from commoncrawl_fetcher_lite_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(1000 + i, rng.normal(0, 1, 8).tolist()) for i in range(40)],
        "vec_id long, v array<double>",
    )
    q = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    out = ivf_topk(q, corpus, k=2, n_cells=8, n_probe=8)
    assert out.count() == 6  # 3 queries x k=2 — no empty-centroid crash


def test_dedup_clusters_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_iter must FAIL, not return
    partially-propagated (wrong) labels (ADVICE r3)."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=1).collect()
    # and with enough rounds the same chain converges to min-label 0
    ok = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(chain).collect()}
    assert ok == {i: 0 for i in range(13)}


def test_dedup_clusters_pointer_doubling_deep_chain(spark):
    """Pointer doubling makes convergence O(log diameter): a 300-edge path
    (diameter 300 — plain propagation would need 300 rounds) must converge
    within the default max_iter=25 and label every node 0."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(301)}


# ------------------------------------------------------------- ivfpq


def _pq_emb(spark, n=120, dim=16, n_clusters=6, seed=11):
    """Clustered vectors: cluster centers far apart, members tight, so
    true neighbors share a coarse cell and PQ codes separate clusters."""
    import random

    rng = random.Random(seed)
    centers = [[rng.uniform(-1, 1) * 10 for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_ivfpq_separates_clusters(spark):
    """PQ's guarantee at this geometry is CLUSTER-level: quantization
    collapses within-cluster distances (same-cluster members share codes,
    ADC ties break by id), so the assertion is that every returned
    neighbor belongs to the query's cluster — not exact-top-k recall,
    which PQ does not promise without a refinement stage."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivfpq_topk

    emb = _pq_emb(spark)
    q = emb.where("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    out = ivfpq_topk(q, emb, k=5, n_cells=12, n_probe=4, m=4, n_codes=16)
    rows = out.collect()
    assert len(rows) == 30  # 6 queries x k=5
    assert all(r.neighbor_id % 6 == r.query_id % 6 for r in rows)


def test_ivfpq_deterministic_and_ranked(spark):
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivfpq_topk

    emb = _pq_emb(spark)
    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    a = sorted(map(tuple, ivfpq_topk(q, emb, k=3, n_cells=8, n_probe=3, m=4).collect()))
    b = sorted(
        map(
            tuple,
            ivfpq_topk(
                q.repartition(3), emb.repartition(7), k=3, n_cells=8, n_probe=3, m=4
            ).collect(),
        )
    )
    assert a == b
    ranks = {}
    for r in a:
        ranks.setdefault(r[0], []).append(r[3])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_ivfpq_rejects_indivisible_dim(spark):
    from commoncrawl_fetcher_lite_spark.operators.similarity import ivfpq_topk

    emb = _pq_emb(spark, dim=10)
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    with pytest.raises(ValueError):
        ivfpq_topk(q, emb, m=4)


# ------------------------------------------------- incremental near-dedup


def test_incremental_neardup_matches_batch_and_state(spark, neardup_docs):
    """Split the family corpus: originals (doc_id%3==0) are the ingested
    corpus, variants arrive as the new batch. Every variant must be
    flagged with dup_of = its family's original (the MIN matching id);
    the two variants of one family also match each other, but the
    original still wins the canonical-partner min."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
        lsh_bucket_frame,
    )

    corpus = neardup_docs.where("doc_id % 3 = 0")
    batch = neardup_docs.where("doc_id % 3 != 0")
    state = lsh_bucket_frame(corpus, bands=32, num_perm=64)
    dups, new_buckets = incremental_neardup(
        batch, state, corpus, bands=32, num_perm=64, threshold=0.5
    )
    got = {r["doc_id"]: r["dup_of"] for r in dups.collect()}
    # every batch doc is a near-dup of its family original (id = fam*3)
    assert got == {i: (i // 3) * 3 for i in range(60) if i % 3 != 0}
    # returned buckets cover every batch doc, ready to append to state
    assert new_buckets.select("id").distinct().count() == 40


def test_incremental_neardup_empty_state_is_self_dedup(spark, neardup_docs):
    """state=None: only internal batch pairs count, and the canonical
    partner is the earlier batch doc."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
    )

    dups, _ = incremental_neardup(
        neardup_docs, None, None, bands=32, num_perm=64, threshold=0.5
    )
    got = {r["doc_id"]: r["dup_of"] for r in dups.collect()}
    # each family's original (fam*3) is clean; both variants dup it —
    # the two variants differ from EACH OTHER by 3 token positions
    # (J≈0.46 < 0.5), so the original is their only partner
    assert got == {
        fam * 3 + v: fam * 3 for fam in range(20) for v in (1, 2)
    }


def test_incremental_neardup_state_roundtrips_snapshot_store(
    spark, neardup_docs, tmp_path
):
    """The bucket state survives a SnapshotStore append commit: batch 1's
    buckets are committed, read back at the next iteration, and batch 2
    dedups against the STORED frame — the crawl-loop wiring."""
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import (
        SnapshotStore,
    )
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
    )

    store = SnapshotStore(str(tmp_path / "dedup_state"), spark)
    b1 = neardup_docs.where("doc_id % 3 = 0")
    b2 = neardup_docs.where("doc_id % 3 = 1")
    d1, buckets1 = incremental_neardup(
        b1, None, None, bands=32, num_perm=64
    )
    assert d1.count() == 0  # originals are mutually unrelated
    store.commit(appends={"lsh_buckets": buckets1})
    state = store.read("lsh_buckets")
    d2, _ = incremental_neardup(
        b2, state, b1, bands=32, num_perm=64, threshold=0.5
    )
    got = {r["doc_id"]: (r["dup_of"], r["jaccard"]) for r in d2.collect()}
    assert set(got) == {fam * 3 + 1 for fam in range(20)}
    for doc_id, (dup_of, j) in got.items():
        assert dup_of == doc_id - 1 and j >= 0.5


def test_incremental_neardup_requires_corpus_docs_with_state(
    spark, neardup_docs
):
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
        lsh_bucket_frame,
    )

    corpus = neardup_docs.where("doc_id % 3 = 0")
    state = lsh_bucket_frame(corpus)
    with pytest.raises(ValueError, match="corpus_docs"):
        incremental_neardup(neardup_docs, state, None)


def test_contamination_report_fractions(spark):
    """Graded overlap: a doc equal to the benchmark reports frac 1.0, a
    half-overlapping doc ~0.5, a disjoint doc 0.0, and a too-short doc
    reports n_shingles 0 / frac 0.0."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        contamination_report,
    )

    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, bench_text),                       # exact copy
            (2, "alpha beta gamma delta nope more words here"),  # partial
            (3, "totally different content in every way"),       # clean
            (4, "tiny doc"),                                     # no 3-grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["overlap_frac"])
        for r in contamination_report(docs, bench).collect()
    }
    assert got[1] == (4, 4, 1.0)
    assert got[2][1] == 2 and 0 < got[2][2] < 1  # 'alpha beta gamma', 'beta gamma delta'
    assert got[3] == (4, 0, 0.0)
    assert got[4] == (0, 0, 0.0)
