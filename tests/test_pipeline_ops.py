"""Dedup / similarity / textstats / multimodal operators on planted
fixtures (the driver-table parity for these is covered by
scripts/check_entry.py against DuckDB at sf0.01)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                     # exact dup of 0
        (2, base + " extra", "en"),          # near dup of 0
        (3, "totally different words here about other topics", "en"),
        (4, "the quick brown fox and the lazy dog of the town", "en"),
        (5, "der hund und die katze ist da", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    got = dedup.exact_duplicate_groups(docs).collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 2 and got[0]["keep_id"] == 0


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got  # exact dup: jaccard 1.0
    assert (0, 2) in got and (1, 2) in got  # near dup
    assert all(a < b for a, b in got)


def test_minhash_bands_candidates(docs):
    got = dedup.minhash_band_pairs(docs).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 3) not in pairs and (0, 4) not in pairs


def test_simhash_close_for_near_dups(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert sh[0] == sh[1]
    ham = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham <= ham_far


def test_lang_id(docs):
    got = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert got[4] == "en"
    assert got[5] == "de"
    assert got[0] == "und"  # no markers at all


def test_quality_and_counts(docs):
    q = textstats.quality_score(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 10
    assert 0 < q.loc[0, "quality"] <= 1
    fp = textstats.doc_fingerprints(docs).toPandas()
    assert fp["fp"].str.len().eq(32).all()


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    m = rng.standard_normal((300, 16)).astype(np.float32)
    m[7] = m[3] * 1.001 + 0.001  # planted near-dup
    rows = [(int(i), [float(x) for x in m[i]]) for i in range(300)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache(), m


def test_bruteforce_cosine_topk(emb):
    df, m = emb
    q = [float(x) for x in m[3]]
    got = similarity.cosine_topk(df, q, k=5, exclude_ids=[3]).toPandas()
    # oracle in numpy float64
    mm = m.astype(np.float64)
    qq = np.asarray(q)
    cos = (mm @ qq) / (np.linalg.norm(mm, axis=1) * np.linalg.norm(qq))
    cos[3] = -np.inf
    want = np.argsort(-cos, kind="stable")[:5]
    assert got["vec_id"].iloc[0] == 7  # planted neighbor first
    assert list(got["vec_id"]) == [int(i) for i in want]


def test_ivf_full_probe_equals_bruteforce(emb):
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.IVFIndex.build(df, n_clusters=6, sample_cap=300)
    got = idx.search(q, k=6, n_probe=6).toPandas()
    want = similarity.cosine_topk(df, q, k=6).toPandas()
    assert list(got["vec_id"]) == list(want["vec_id"])


def test_ivf_pruned_probe_recall(emb):
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.IVFIndex.build(df, n_clusters=6, sample_cap=300)
    got = idx.search(q, k=5, n_probe=2).toPandas()
    assert 3 in set(got["vec_id"])  # query vector's own id found
    assert 7 in set(got["vec_id"])  # planted neighbor found


def test_lsh_finds_planted_neighbor(emb):
    df, m = emb
    q = [float(x) for x in m[3]]
    lsh = similarity.CosineLSH.build(df, num_tables=6, hash_bits=6)
    got = lsh.search(df, q, k=5).toPandas()
    assert 3 in set(got["vec_id"]) and 7 in set(got["vec_id"])


def test_cosine_topk_batch_matches_single(emb):
    """Batched brute-force oracle ≡ the single-query exact path for
    every query in the batch (ids and rounded scores)."""
    df, m = emb
    qs = [[float(x) for x in m[3]], [float(x) for x in m[10]], [float(x) for x in m[200]]]
    got = similarity.cosine_topk_batch(df, qs, k=5).toPandas()
    for qi, q in enumerate(qs):
        want = similarity.cosine_topk(df, q, k=5).toPandas()
        g = got[got["qid"] == qi].sort_values("rank")
        assert g["vec_id"].tolist() == want["vec_id"].tolist()
        assert np.allclose(g["cos"].values, want["cos"].values)


def test_manhattan_l1_topk(emb):
    """L1-nearest top-k (F5: the reference's Manhattan metric option)
    matches a float64 numpy oracle, ascending distance, id-asc ties."""
    df, m = emb
    q = [float(x) for x in m[3]]
    got = similarity.l1_topk(df, q, k=5, exclude_ids=[3]).toPandas()
    mm = m.astype(np.float64)
    d = np.abs(mm - np.asarray(q)).sum(1)
    order = [int(i) for i in np.lexsort((np.arange(len(m)), d)) if i != 3][:5]
    assert got["vec_id"].tolist() == order
    assert np.allclose(got["l1"].values, np.round(d[order], 6))


def test_embedding_neardup_pairs(emb):
    df, _ = emb
    got = dedup.embedding_neardup_pairs(df, threshold=0.99).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == {(3, 7)}


def test_embedding_neardup_matches_bruteforce(emb):
    """Banded LSH candidates + exact verify must equal the exact
    all-pairs answer under the recall-proof config (2 bits x 40 tables:
    miss prob ~3e-10 per pair at t=0.45 — passed explicitly; the
    selective production default would legitimately miss at this low a
    threshold)."""
    df, m = emb
    mm = m.astype(np.float64)
    nm = mm / np.linalg.norm(mm, axis=1, keepdims=True)
    cos = nm @ nm.T
    n = len(m)
    want = {(i, j) for i in range(n) for j in range(i + 1, n) if cos[i, j] >= 0.45}
    got = dedup.embedding_neardup_pairs(
        df, threshold=0.45, num_tables=40, hash_bits=2
    ).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == want


def test_embedding_neardup_no_cartesian(emb):
    """The near-dup plan must stay equi-join-shaped — a cartesian or
    nested-loop join is the O(n²)-shuffle anti-pattern at 100 TB."""
    from semantic_search_engine_spark.plans import audit

    df, _ = emb
    plan = audit.physical_plan(dedup.embedding_neardup_pairs(df, threshold=0.45))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_plumbing(spark):
    rows = [(i, "image" if i % 2 == 0 else "video", bytes([i]) * (50 + i)) for i in range(20)]
    assets = spark.createDataFrame(rows, "asset_id long, kind string, payload binary")
    feats = multimodal.extract_features(assets).cache()
    pdf = feats.toPandas()
    assert len(pdf) == 20
    assert pdf["feature"].map(len).eq(multimodal.FEATURE_DIM).all()
    assert (pdf[pdf["kind"] == "image"]["n_frames"] == 1).all()
    # determinism: same payload → same feature
    pdf2 = multimodal.extract_features(assets).toPandas().sort_values("asset_id")
    a = np.stack(pdf.sort_values("asset_id")["feature"].map(np.asarray))
    b = np.stack(pdf2["feature"].map(np.asarray))
    assert (a == b).all()
    frames = multimodal.frame_sample(feats, every_n=4).toPandas()
    assert (frames.groupby("asset_id").size() >= 1).all()
    rz = multimodal.resize_meta(feats, max_side=128).toPandas()
    assert (rz[["out_w", "out_h"]].max(axis=1) <= 128).all()
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"x", "image")


def test_ngram_jaccard_hot_shingle_guard(spark):
    """max_shingle_df drops join-skew shingles (shared by more docs than
    the cap): pairs connected ONLY through the hot shingle disappear,
    genuinely-similar pairs survive."""
    hot = "common boiler plate"
    rows = [(i, f"{hot} unique{i} filler{i} words{i}") for i in range(40)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.14).toPandas()
    hot_pairs = {(a, b) for a, b in zip(uncapped["id_a"], uncapped["id_b"]) if b < 100}
    assert hot_pairs  # the hot shingle creates O(40^2) skew pairs
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.14, max_shingle_df=10).toPandas()
    got = set(zip(capped["id_a"], capped["id_b"]))
    assert (100, 101) in got          # real near-dup survives
    assert not {p for p in got if p[1] < 100}  # skew pairs dropped


def test_pq_fullprobe_equals_bruteforce(emb):
    """ADC over the full list + exact rerank == brute force (the PQ
    analog of ann_ivf_fullprobe)."""
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.PQIndex.build(df, n_segments=4, n_codes=8, sample_cap=300)
    got = idx.search(df, q, k=6).toPandas()
    want = similarity.cosine_topk(df, q, k=6).toPandas()
    assert list(got["vec_id"]) == list(want["vec_id"])
    assert np.allclose(got["cos"], want["cos"])


def test_pq_adc_shortlist_recall(emb):
    """Pruned ADC shortlist (40 of 300) keeps the planted neighbor and
    most of the true top-5."""
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.PQIndex.build(df, n_segments=4, n_codes=8, sample_cap=300)
    got = idx.search(df, q, k=5, shortlist=40).toPandas()
    ids = set(got["vec_id"])
    assert 3 in ids and 7 in ids
    want = set(similarity.cosine_topk(df, q, k=5).toPandas()["vec_id"])
    assert len(ids & want) / 5 >= 0.6


def test_ann_build_refuses_empty_training_input(spark, emb):
    """An empty embeddings frame, an n_rows below 1 and a sample with no
    rows each raise a ValueError that names the cause, for all three
    trained indexes."""
    df, _ = emb
    empty = df.limit(0)
    builds = (
        lambda e, **kw: similarity.IVFIndex.build(e, n_clusters=2, **kw),
        lambda e, **kw: similarity.PQIndex.build(e, n_segments=4, n_codes=2, **kw),
        lambda e, **kw: similarity.IVFPQIndex.build(
            e, n_clusters=2, n_segments=4, n_codes=2, **kw
        ),
    )
    for build in builds:
        with pytest.raises(ValueError, match="embeddings frame is empty"):
            build(empty)
        with pytest.raises(ValueError, match="n_rows < 1"):
            build(df, n_rows=0)
    with pytest.raises(ValueError, match="empty training sample"):
        similarity._collect_sample(empty.select("embedding"), "embedding", 10)


def test_ivf_search_batch_matches_single(emb):
    """One-job batched IVF serving returns exactly the per-query answers."""
    df, m = emb
    idx = similarity.IVFIndex.build(df, n_clusters=6, sample_cap=300)
    queries = [[float(x) for x in m[i]] for i in (3, 10, 20)]
    batch = idx.search_batch(queries, k=5, n_probe=3).toPandas()
    for qi, q in enumerate(queries):
        single = idx.search(q, k=5, n_probe=3).toPandas()
        got = batch[batch["qid"] == qi].sort_values("rank")
        assert list(got["vec_id"]) == list(single["vec_id"])
        assert np.allclose(got["cos"].to_numpy(), single["cos"].to_numpy())


def test_ivf_save_load_partition_pruned(emb, tmp_path_factory, spark):
    """Persisted IVF probes read ONLY the probed bucket directories —
    partition pruning visible in the scan's plan."""
    from semantic_search_engine_spark.plans import audit

    df, m = emb
    d = str(tmp_path_factory.mktemp("ivf_store"))
    idx = similarity.IVFIndex.build(df, n_clusters=6, sample_cap=300)
    idx.save(d)
    loaded = similarity.IVFIndex.load(spark, d)
    q = [float(x) for x in m[3]]
    a = idx.search(q, k=5, n_probe=3).toPandas()
    b = loaded.search(q, k=5, n_probe=3).toPandas()
    assert list(a["vec_id"]) == list(b["vec_id"])
    assert np.allclose(a["cos"], b["cos"])
    plan = audit.physical_plan(loaded.assigned.filter(F.col("bucket").isin([1, 2])))
    assert "PartitionFilters" in plan and "bucket" in plan


def test_ivfpq_fullprobe_equals_bruteforce(emb):
    """IVF-PQ with full probe + full-shortlist exact rerank == brute
    force (the reference's third engine, machinery-exercising config)."""
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.IVFPQIndex.build(df, n_clusters=6, n_segments=4, n_codes=8, sample_cap=300)
    got = idx.search(df, q, k=6, n_probe=6).toPandas()
    want = similarity.cosine_topk(df, q, k=6).toPandas()
    assert list(got["vec_id"]) == list(want["vec_id"])
    assert np.allclose(got["cos"], want["cos"])


def test_ivfpq_pruned_finds_planted_neighbor(emb):
    df, m = emb
    q = [float(x) for x in m[3]]
    idx = similarity.IVFPQIndex.build(df, n_clusters=6, n_segments=4, n_codes=8, sample_cap=300)
    got = idx.search(df, q, k=5, n_probe=2, shortlist=40).toPandas()
    ids = set(got["vec_id"])
    assert 3 in ids and 7 in ids
