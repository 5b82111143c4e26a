"""IVF approximate top-k: probing all lists must equal brute force
exactly; partial probes trade recall for the expected n_probe/n_lists
scan fraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clarite_python_spark.operators.similarity import cosine_topk, ivf_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _hits(df):
    return {(r["query_id"], r["vec_id"]) for r in df.collect()}


def test_full_probe_equals_brute(emb, queries):
    brute = _hits(cosine_topk(emb, queries, k=10))
    ivf = _hits(ivf_topk(emb, queries, k=10, n_lists=8, n_probe=8))
    assert ivf == brute


def test_partial_probe_recall(emb, queries):
    brute = _hits(cosine_topk(emb, queries, k=10))
    ivf = _hits(ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4))
    # note: partial-probe results are NOT a subset of brute top-k — ranks
    # vacated by unprobed true hits are filled from the probed lists;
    # recall of the true top-k is the contract
    recall = len(ivf & brute) / len(brute)
    # seeded quantizer => deterministic; half the lists probed
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_ivf_scores_match_brute_on_shared_hits(emb, queries):
    brute = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 9)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 9)
        for r in ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4).collect()
    }
    for key, v in ivf.items():
        if key in brute:
            assert v == brute[key]


def test_label_centroids_matches_numpy(spark):
    import numpy as np

    from clarite_python_spark.operators.similarity import label_centroids

    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 4).astype("float32")
    labels = rng.randint(0, 3, 30)
    rows = [(int(l), v.tolist()) for l, v in zip(labels, vecs)]
    df = spark.createDataFrame(rows, "label: int, embedding: array<float>")
    got = {(r["label"], r["pos"]): (r["centroid"], r["n"]) for r in label_centroids(df).collect()}
    for lab in range(3):
        want = vecs[labels == lab].mean(axis=0)
        n = int((labels == lab).sum())
        for pos in range(4):
            c, cn = got[(lab, pos)]
            assert cn == n
            assert abs(c - want[pos]) < 1e-6

def test_lsh_multi_beats_single_table_recall(emb, queries):
    """OR-amplification: the union of candidates across independent
    plane sets must recover (weakly) more of the true top-k than any
    single table, and a superset of band 0's candidates specifically
    (band 0 IS the seed-42 single table)."""
    from clarite_python_spark.operators.similarity import lsh_topk, lsh_topk_multi

    brute = _hits(cosine_topk(emb, queries, k=10))
    single = _hits(lsh_topk(emb, queries, k=10, n_planes=4, seed=42))
    multi = _hits(lsh_topk_multi(emb, queries, k=10, n_planes=4, n_bands=8, seed=42))
    r_single = len(single & brute) / len(brute)
    r_multi = len(multi & brute) / len(brute)
    assert r_multi >= r_single
    assert r_multi >= 0.5, f"multi-band recall {r_multi:.2f} below floor"


def test_lsh_multi_scores_match_brute_on_shared_hits(emb, queries):
    from clarite_python_spark.operators.similarity import lsh_topk_multi

    brute = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 9)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    multi = {
        (r["query_id"], r["vec_id"]): round(r["cosine"], 9)
        for r in lsh_topk_multi(emb, queries, k=10, n_planes=4, n_bands=8).collect()
    }
    for key, v in multi.items():
        if key in brute:
            assert v == brute[key]
    # multi-band collisions must NOT duplicate a candidate in the top-k
    ranks = {}
    for r in lsh_topk_multi(emb, queries, k=10, n_planes=4, n_bands=8).collect():
        assert (r["query_id"], r["vec_id"]) not in ranks
        ranks[(r["query_id"], r["vec_id"])] = r["rank"]


def test_lsh_multi_validation(emb, queries):
    from clarite_python_spark.operators.similarity import lsh_topk_multi

    with pytest.raises(ValueError, match="n_bands"):
        lsh_topk_multi(emb, queries, n_bands=0)


def test_ann_recall_lsh_multi_measures_amplification(emb):
    """ann_recall(method='lsh_multi') must report a strictly higher
    recall than the single-table config on the same query sample (the
    measured case for OR-amplification; the gate-corpus numbers are
    pinned in BASELINE.md)."""
    from clarite_python_spark.operators.similarity import ann_recall

    single = ann_recall(emb, method="lsh", n_planes=4).collect()[0]
    multi = ann_recall(emb, method="lsh_multi", n_planes=4, n_bands=8).collect()[0]
    assert multi["recall"] >= single["recall"]
    assert multi["n_hits"] >= single["n_hits"]


def test_tune_ivf_probe_finds_measured_minimum(emb):
    """tune_ivf_probe must return the smallest probe budget whose
    MEASURED recall@10 clears the target, and the budget below it (if
    any) must miss the target — the 'auto-tuned probe' contract."""
    from clarite_python_spark.operators.similarity import ann_recall, tune_ivf_probe

    n_probe, recall = tune_ivf_probe(emb, recall_target=0.9, n_lists=8)
    assert 1 <= n_probe <= 8 and recall >= 0.9
    if n_probe > 1:
        below = ann_recall(
            emb, method="ivf", n_lists=8, n_probe=n_probe - 1
        ).collect()[0]
        assert float(below["recall"]) < 0.9
    with pytest.raises(ValueError, match="recall_target"):
        tune_ivf_probe(emb, recall_target=0.0)


def test_ivf_topk_recall_target_matches_tuned_budget(emb, queries):
    from clarite_python_spark.operators.similarity import ivf_topk, tune_ivf_probe

    n_probe, _ = tune_ivf_probe(emb, recall_target=0.9, n_lists=8)
    auto = _hits(ivf_topk(emb, queries, k=10, n_lists=8, recall_target=0.9))
    manual = _hits(ivf_topk(emb, queries, k=10, n_lists=8, n_probe=n_probe))
    assert auto == manual


def test_ivf_topk_rejects_wrong_dim(emb, queries):
    """A caller-supplied ``dim`` that disagrees with the vectors is bad
    input: ``ValueError``, not an assertion."""
    dim = len(emb.first()["embedding"])
    with pytest.raises(ValueError, match="dim"):
        ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4, dim=dim + 1)
