"""Round-4 additions: driver-local IVF probe, tie-exact batched brute
force, pruning-dial guards, size-tiered LSH defaults, and the
generations-log legacy-record safety refusal."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.fixtures.vectors import (
    generate_query_vectors,
    generate_vectors,
)
from semantic_search_engine_spark.operators import dedup, similarity


# ---------------------------------------------------------- batched brute force

def test_cosine_topk_batch_tie_exact_across_k_boundary(spark):
    """30 identical vectors tie at the rounded k boundary inside ONE
    Arrow batch; the per-batch selection must keep every boundary tie
    (the old fixed +5 margin could evict a tie member) so the final
    window's (cos desc, id asc) rows equal the exact single-query
    answer."""
    dim = 8
    tie = [1.0] + [0.0] * (dim - 1)
    rows = [(i, [float(x) for x in tie]) for i in range(30)]
    rng = np.random.default_rng(7)
    for i in range(30, 60):
        v = rng.standard_normal(dim)
        v[0] = -abs(v[0])  # keep cosines to the query below the tie run
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    q = tie
    got = (
        similarity.cosine_topk_batch(emb, [q], k=10)
        .orderBy("rank")
        .collect()
    )
    want = similarity.cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in want
    ]
    assert [r["vec_id"] for r in got] == list(range(10))  # id-asc tie-break


# ---------------------------------------------------------- local IVF probe

def test_local_ivf_probe_equals_spark_search(spark, tmp_path_factory):
    """LocalIVFProbe over the saved bucket-partitioned index must return
    EXACTLY IVFIndex.search's rows (same probe set, same rounding, same
    tie-break) — for several queries, probe widths, and k."""
    emb = generate_vectors(spark, 3000, dim=16, neardup_every=100).cache()
    emb.count()
    ivf = similarity.IVFIndex.build(emb, n_clusters=8, sample_cap=2000)
    path = str(tmp_path_factory.mktemp("ivf_local"))
    ivf.save(path)
    probe = similarity.LocalIVFProbe(path)
    queries = generate_query_vectors(5, dim=16)
    for n_probe in (1, 3, 8):
        for k in (3, 10):
            for q in queries:
                want = [
                    (r["vec_id"], r["cos"])
                    for r in ivf.search(q, k=k, n_probe=n_probe).collect()
                ]
                got = probe.search(q, k=k, n_probe=n_probe)
                assert got == want, (n_probe, k)
    # cached re-probe is identical (LRU path)
    q = queries[0]
    assert probe.search(q, k=10, n_probe=3) == probe.search(q, k=10, n_probe=3)
    ivf.assigned.unpersist()
    emb.unpersist()


# ---------------------------------------------------------- pruning-dial guard

def test_keep_boundary_ties_rejects_inflated_theta(spark, tmp_path_factory):
    from semantic_search_engine_spark.fixtures.webtext import generate_webtext
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_wand

    d = str(tmp_path_factory.mktemp("idx_guard"))
    build_index(generate_webtext(spark, 300), d)
    reader = IndexReader(spark, d)
    with pytest.raises(ValueError, match="theta_factor"):
        search_index_wand(
            reader,
            [{"qid": 0, "query": "the", "k": 5}],
            theta_factor=1.3,
            keep_boundary_ties=True,
        )


# ---------------------------------------------------------- size-tiered LSH

def test_auto_hash_bits_tiers():
    assert dedup.auto_hash_bits(100) == 4          # clamped floor
    assert dedup.auto_hash_bits(64 * 2**10) == 10
    assert dedup.auto_hash_bits(64 * 2**20) == 20
    assert dedup.auto_hash_bits(10**12) == 24      # clamped ceiling


def test_neardup_candidate_volume_scales_linearly(spark):
    """With hash_bits=None the bucket count grows with n, so the banded
    join's candidate volume grows ~linearly — NOT quadratically — with
    corpus size. Measured on two corpus sizes 4x apart: quadratic
    growth would be 16x; the auto tier adds ~2 bits (4x more buckets),
    so the observed ratio must stay well under quadratic."""

    def n_candidates(n: int) -> int:
        emb = generate_vectors(spark, n, dim=16)
        bits = dedup.auto_hash_bits(n)
        lsh = similarity.CosineLSH.build(emb, num_tables=4, hash_bits=bits, seed=1)
        a = lsh.hashed.select(F.col("vid").alias("id_a"), "table", "bucket")
        b = lsh.hashed.select(F.col("vid").alias("id_b"), "table", "bucket")
        c = (
            a.join(b, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        lsh.hashed.unpersist()
        return c

    c1, c4 = n_candidates(1000), n_candidates(4000)
    assert c1 > 0
    assert c4 / c1 < 8, (c1, c4)  # quadratic would be ~16x


def test_neardup_low_threshold_selective_config_warns(spark):
    emb = generate_vectors(spark, 200, dim=16)
    with pytest.warns(UserWarning, match="misses"):
        dedup.embedding_neardup_pairs(
            emb, threshold=0.45, num_tables=8, hash_bits=8
        )
    # recall-proof config at the same threshold: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.embedding_neardup_pairs(
            emb, threshold=0.45, num_tables=40, hash_bits=2
        )


def test_miss_probability_formula():
    # t=0.95: p ~ 0.8989; 8x8 -> ~1.4% miss (the documented production point)
    m = dedup.neardup_miss_probability(0.95, num_tables=8, hash_bits=8)
    assert 0.005 < m < 0.03
    assert dedup.neardup_miss_probability(0.45, num_tables=40, hash_bits=2) < 1e-8


# ---------------------------------------------------------- generations log

def test_legacy_incomplete_generation_refuses_new_allocation(spark, tmp_path_factory):
    """A pre-ceiling (old-layout) generation record that never committed
    its shards has an unknowable reserved docid range — allocating a new
    generation past it could hand out colliding docids when the crashed
    ingest later resumes. ingest_generation must refuse."""
    from semantic_search_engine_spark.fixtures.webtext import generate_webtext
    from semantic_search_engine_spark.operators.build import build_index, ingest_generation
    from semantic_search_engine_spark.sources import index_store

    d = str(tmp_path_factory.mktemp("idx_legacy"))
    build_index(generate_webtext(spark, 300), d, num_shards=2)
    # simulate a crashed old-layout tagged ingest: record without
    # docid_ceiling, no shards ever committed
    index_store.append_generation(
        d, {"shard_base": 100, "docid_base": 10_000, "num_shards": 2, "tag": "crashed-v0"}
    )
    with pytest.raises(ValueError, match="pre-ceiling"):
        ingest_generation(
            generate_webtext(spark, 200, start=300), d, num_shards=2, tag="new-ingest"
        )


# ---------------------------------------------------------- reference scorer

def test_reference_score_semantics():
    from semantic_search_engine_spark.operators.evaluation import reference_score

    k, n = 5, 1000
    rank = {10: 0, 11: 1, 12: 2, 13: 3, 14: 15, 15: 16, 16: 999}
    assert reference_score([10, 11, 12, 13, 14], rank, k, n) == 0.0     # all <= 3k
    assert reference_score([10, 11, 12, 13, 15], rank, k, n) == -16.0   # 16 > 3k -> -rank
    assert reference_score([10, 11, 12, 13, 16], rank, k, n) == -999.0
    assert reference_score([10, 11, 12, 13, 777], rank, k, n) == -n     # missing
    assert reference_score([10, 10, 11, 12, 13], rank, k, n) == -n * k  # duplicate
    assert reference_score([10, 11, 12], rank, k, n) == -n * k          # short list


def test_exact_ranks_match_numpy(spark):
    from semantic_search_engine_spark.operators.evaluation import exact_ranks

    emb = generate_vectors(spark, 500, dim=16).cache()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    m = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    queries = generate_query_vectors(3, dim=16)
    qn = np.asarray(queries, dtype=np.float64)
    qn = qn / np.linalg.norm(qn, axis=1, keepdims=True)
    cos = mn @ qn.T
    targets = {}
    want = {}
    for qi in range(3):
        order = np.lexsort((pdf["vec_id"].to_numpy(), -cos[:, qi]))
        # mix of head, mid, tail positions
        picks = [int(pdf["vec_id"].iloc[order[p]]) for p in (0, 3, 17, 250, 499)]
        targets[qi] = picks
        want[qi] = {picks[i]: p for i, p in enumerate((0, 3, 17, 250, 499))}
    got = exact_ranks(emb, queries, targets)
    assert got == want
    emb.unpersist()


def test_reference_score_zero_for_exact_serving(spark):
    """Full-probe IVF (== brute force) must score 0 — the reference's
    'perfect' — for every query, wiring scorer + rank job + serving."""
    from semantic_search_engine_spark.operators.evaluation import reference_scores_for_results

    n, k = 1500, 5
    emb = generate_vectors(spark, n, dim=16).cache()
    emb.count()
    ivf = similarity.IVFIndex.build(emb, n_clusters=6, sample_cap=1000)
    queries = generate_query_vectors(4, dim=16)
    rows = ivf.search_batch(queries, k=k, n_probe=6).collect()
    results = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        results.setdefault(int(r["qid"]), []).append(int(r["vec_id"]))
    scores = reference_scores_for_results(emb, queries, results, k=k, n=n)
    assert scores == {0: 0.0, 1: 0.0, 2: 0.0, 3: 0.0}
    ivf.assigned.unpersist()
    emb.unpersist()


# ---------------------------------------------------------- real BMP/PPM decode

def test_bmp_roundtrip_golden():
    """encode → decode recovers the exact pixel array (bottom-up and
    top-down, odd width exercising 4-byte row padding), and the header
    golden bytes match the BMP spec fields."""
    from semantic_search_engine_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)  # w=3 → 9-byte rows pad to 12
    for top_down in (False, True):
        payload = mm.encode_bmp(px, top_down=top_down)
        assert payload[:2] == b"BM"
        import struct
        assert struct.unpack_from("<I", payload, 10)[0] == 54      # data offset
        assert struct.unpack_from("<i", payload, 18)[0] == 3       # width
        assert abs(struct.unpack_from("<i", payload, 22)[0]) == 5  # height
        assert struct.unpack_from("<H", payload, 28)[0] == 24      # bpp
        assert len(payload) == 54 + 5 * 12
        back = mm.decode_bmp_pixels(payload)
        assert (back == px).all(), top_down

    # handcrafted 1x2 golden: red then green pixel, bottom-up single row
    gold = mm.encode_bmp(np.array([[[255, 0, 0], [0, 255, 0]]], dtype=np.uint8))
    # row stored BGR with 2 pad bytes: FF red -> 00 00 FF, green -> 00 FF 00
    assert gold[54:62] == bytes([0, 0, 255, 0, 255, 0, 0, 0])


def test_ppm_decode():
    from semantic_search_engine_spark.operators import multimodal as mm

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert (mm.decode_ppm_pixels(payload) == px).all()
    gray = np.array([[7, 9], [11, 13]], dtype=np.uint8)
    pgm = b"P5 2 2 255 " + gray.tobytes()
    back = mm.decode_ppm_pixels(pgm)
    assert (back == gray[:, :, None]).all()


def test_real_decode_feature_is_grid_mean():
    """real_decode's feature must equal independently computed 4×4
    block means of the grayscale image, /255 — genuine pixel math, not
    a hash."""
    from semantic_search_engine_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (10, 13, 3), dtype=np.uint8)
    w, h, n_frames, feat = mm.real_decode(mm.encode_bmp(px), "image")
    assert (w, h, n_frames) == (13, 10, 1)
    g = px.astype(np.float64).mean(axis=2)
    want = []
    for rows in np.array_split(g, 4, axis=0):
        for blk in np.array_split(rows, 4, axis=1):
            want.append(blk.mean() / 255.0)
    assert np.allclose(feat, np.array(want, dtype=np.float32))
    with pytest.raises(NotImplementedError):
        mm.real_decode(b"\x89PNG....", "image")
    with pytest.raises(NotImplementedError):
        mm.real_decode(b"BM" + b"\x00" * 60, "audio")


def test_bmp_pipeline_entry_deterministic(spark):
    """The real-decode Spark pipeline end-to-end on the sf0.001 tables:
    deterministic rows, widths/heights matching the synthesizer's
    (seed, id) recipe, repeat-identical."""
    import __spark_entry__ as entry
    from semantic_search_engine_spark.operators import multimodal as mm

    sf = "/root/testdata/sf0.001"
    a = entry.q_multimodal_bmp_topk(spark, sf).collect()
    b = entry.q_multimodal_bmp_topk(spark, sf).collect()
    assert a == b and len(a) == 10
    for r in a:
        i = int(r["asset_id"])
        assert r["width"] == 8 + i % 9 and r["height"] == 8 + (i // 7) % 9
    # spot-check one row's cosine against pure-NumPy recompute
    def feat_of(i):
        rng = np.random.default_rng([42, i])
        w, h = 8 + i % 9, 8 + (i // 7) % 9
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        return mm.real_decode(mm.encode_bmp(px), "image")[3].astype(np.float64)

    q = feat_of(0)
    i = int(a[0]["asset_id"])
    f = feat_of(i)
    cos = float(np.round((f @ q) / (np.linalg.norm(f) * np.linalg.norm(q)), 6))
    assert abs(cos - a[0]["cos"]) < 2e-6


# ---------------------------------------------------------- distributed idf

def test_wand_distributed_idf_identical(spark, tmp_path_factory):
    """The broadcast-join idf path (terms⋈dictionary⋈postings, idf
    rebuilt per kernel group) must produce rows identical to the
    exhaustive path, whose idf is a driver-collected dictionary lookup,
    including OOV and mixed-known-term queries."""
    from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        search_index_exhaustive,
        search_index_wand,
    )

    d = str(tmp_path_factory.mktemp("idx_didf"))
    build_index(generate_webtext(spark, 2000), d)
    reader = IndexReader(spark, d)
    queries = generate_queries(n_queries=40)  # includes the OOV query
    queries.append({"qid": 900, "query": "zzznope the", "k": 7})  # mixed OOV+known

    def rows(search):
        return sorted(
            (r["qid"], r["rank"], r["docid"], round(r["score"], 9))
            for r in search(reader, queries).collect()
        )

    assert rows(search_index_wand) == rows(search_index_exhaustive)


def test_wand_distributed_idf_wide_batch(spark, tmp_path_factory):
    """A batch of 1500 queries with ~3000 distinct terms (many tail or
    OOV) — past the vectorized-kernel switch — matches the exhaustive
    path row for row."""
    from semantic_search_engine_spark.fixtures.webtext import generate_webtext, vocab
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        search_index_exhaustive,
        search_index_wand,
    )

    d = str(tmp_path_factory.mktemp("idx_wide"))
    build_index(generate_webtext(spark, 1000), d)
    reader = IndexReader(spark, d)
    v = vocab()
    rng = np.random.default_rng(5)
    queries = []
    for qid in range(1500):  # ~3000 distinct terms incl many tail/OOV
        t1 = str(v[int(rng.integers(0, len(v)))])
        t2 = f"neverseen{qid}" if qid % 3 == 0 else str(v[int(rng.integers(0, len(v)))])
        queries.append({"qid": qid, "query": f"{t1} {t2}", "k": 5})

    want = sorted(
        (r["qid"], r["rank"], r["docid"], round(r["score"], 9))
        for r in search_index_exhaustive(reader, queries).collect()
    )
    got = sorted(
        (r["qid"], r["rank"], r["docid"], round(r["score"], 9))
        for r in search_index_wand(reader, queries).collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------- local text probe

def test_local_index_probe_equals_wand(spark, tmp_path_factory):
    """LocalIndexProbe (driver-side pyarrow reads + shared scoring
    kernel) must return exactly the distributed exact paths' rows for
    the full reference query set, including the OOV query, and again
    from a warm (and a deliberately tiny, evicting) term cache."""
    from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        LocalIndexProbe,
        search_index_wand,
    )

    d = str(tmp_path_factory.mktemp("idx_localtext"))
    build_index(generate_webtext(spark, 1500), d)
    reader = IndexReader(spark, d)
    queries = generate_queries(n_queries=30)  # + trailing OOV query
    want_rows = search_index_wand(reader, queries).collect()
    want: dict[int, list] = {}
    for r in sorted(want_rows, key=lambda r: (r["qid"], r["rank"])):
        want.setdefault(int(r["qid"]), []).append((r["rank"], r["docid"], r["score"]))

    for probe in (LocalIndexProbe(d), LocalIndexProbe(d, cache_terms=3)):
        for q in queries:
            got = probe.search(q["query"], k=q["k"])
            assert got == want.get(int(q["qid"]), []), q
        # warm-cache pass must be identical
        q0 = queries[0]
        assert probe.search(q0["query"], k=q0["k"]) == want.get(int(q0["qid"]), [])


# ---------------------------------------------------------- phrase search

def test_phrase_match_semantics(spark):
    """Adjacency-exact: order matters, gaps break the phrase, repeats
    handled, short docs guarded (Spark sequence() would step backward)."""
    from semantic_search_engine_spark.functions.tokenizer import tokens_col
    from semantic_search_engine_spark.operators.topk import phrase_match_expr

    rows = [
        (0, "alpha beta gamma"),        # match
        (1, "beta alpha gamma"),        # wrong order
        (2, "alpha gamma beta"),        # not adjacent
        (3, "x alpha beta"),            # match at end
        (4, "alpha"),                   # shorter than phrase
        (5, ""),                        # empty
        (6, "alpha alpha beta"),        # match with repeated first word
        (7, "beta x alpha y " * 100 + "alpha beta"),  # only the last window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in df.filter(
            phrase_match_expr(tokens_col(F.col("text")), ["alpha", "beta"])
        ).collect()
    }
    assert got == {0, 3, 6, 7}
    # 3-word phrase with a repeated word
    got3 = {
        r["doc_id"]
        for r in df.filter(
            phrase_match_expr(tokens_col(F.col("text")), ["alpha", "alpha", "beta"])
        ).collect()
    }
    assert got3 == {6}


def test_search_phrase_scores_and_filters(spark):
    """Survivors are exactly the adjacency matches; scores equal the
    conjunctive BM25 of the same docs (the phrase filter must not
    change scoring)."""
    from semantic_search_engine_spark.operators.postings import (
        corpus_stats,
        doc_freq,
        scored_postings,
        term_frequencies,
    )
    from semantic_search_engine_spark.operators.topk import search_conjunctive, search_phrase

    rows = [
        (0, "merge group work merge group"),
        (1, "group merge things"),          # both terms, wrong order
        (2, "merge other group"),           # both terms, not adjacent
        (3, "merge group"),
        (4, "unrelated words entirely"),
        (5, "the merge group convened a merge"),
    ]
    docs = spark.createDataFrame(rows, "docid long, text string")
    stats = corpus_stats(docs)
    postings = term_frequencies(docs)
    scored = scored_postings(postings, doc_freq(postings), stats)
    got = search_phrase(scored, docs, "merge group", k=10).collect()
    assert {r["docid"] for r in got} == {0, 3, 5}
    conj = {r["docid"]: r["score"] for r in search_conjunctive(scored, "merge group", k=10).collect()}
    for r in got:
        assert r["score"] == conj[r["docid"]]
