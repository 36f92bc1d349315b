"""Round-6 additions: mega-batch phrase serving (broadcast plan +
distributed idf), proximity-boost ranking semantics, the wide-miss
sort+searchsorted term load in LocalIndexProbe, and the batch-duration
cache cap in LocalIVFProbe.search_batch."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.fixtures.vectors import (
    generate_query_vectors,
    generate_vectors,
)
from semantic_search_engine_spark.fixtures.webtext import generate_webtext


@pytest.fixture(scope="module")
def pos_index6(spark, tmp_path_factory):
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.sources import index_store

    d = str(tmp_path_factory.mktemp("posidx6"))
    docs = generate_webtext(spark, 600).cache()
    stats = build_index(docs, d, num_shards=5, store_positions=True)
    docs_df = (
        index_store.read_docmap(spark, d).select("docid", "url")
        .join(docs.select("url", "text"), "url")
        .select("docid", "text")
        .cache()
    )
    docs_df.count()
    docs.unpersist()
    yield d, stats, docs_df
    docs_df.unpersist()


# ------------------------------------------------- mega-batch phrase plan

def test_phrase_mega_batch_identity(spark, pos_index6):
    """A 1000-phrase batch through the broadcast-join term plan (the
    mega-batch path) must return rows IDENTICAL to the driver-local
    probe, which reads idf from the dictionary on the driver: same
    conjunctive OOV voiding, same per-query gap overrides, same
    (score desc, docid asc) ranking."""
    import pandas as pd

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        LocalIndexProbe,
        search_index_phrase,
    )

    d, _, docs_df = pos_index6
    texts = [r["text"] for r in docs_df.orderBy("docid").limit(200).collect()]
    queries = []
    qid = 0
    for i, t in enumerate(texts):
        toks = tokenize(t)
        for j in range(5):  # 5 phrases per doc -> 1000 total
            s = (i * 7 + j * 13) % max(len(toks) - 3, 1)
            q = {"qid": qid, "query": " ".join(toks[s : s + 2]), "k": 5}
            if qid % 11 == 0:
                q["gap"] = 3  # mix proximity into the batch
            if qid % 97 == 0:
                q["query"] = "zzzunseen " + q["query"]  # OOV voids the query
            queries.append(q)
            qid += 1
    assert len(queries) == 1000
    reader = IndexReader(spark, d)
    distributed = (
        search_index_phrase(reader, queries)
        .orderBy("qid", "rank")
        .toPandas()
    )
    probe = LocalIndexProbe(d)
    local = pd.DataFrame(
        [
            (q["qid"], *hit)
            for q in queries
            for hit in probe.search_phrase(q["query"], k=q["k"], max_gap=q.get("gap", 1))
        ],
        columns=["qid", "rank", "docid", "score"],
    ).astype({"qid": "int32", "rank": "int32", "docid": "int64", "score": "float64"})
    assert len(local) > 1000  # the batch really matched things
    assert local.columns.tolist() == distributed.columns.tolist()
    assert local.reset_index(drop=True).equals(distributed.reset_index(drop=True))
    # OOV-voided queries emitted nothing on either path
    voided = {q["qid"] for q in queries if q["query"].startswith("zzzunseen ")}
    assert voided and not (set(local["qid"]) & voided)


# ------------------------------------------------- proximity-boost ranking

@pytest.fixture(scope="module")
def boost_index(spark, tmp_path_factory):
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.sources import index_store

    rows = [
        ("d0", "alpha beta pad0 pad1 pad2 pad3"),          # slack 0
        ("d1", "alpha mid beta pad1 pad2 pad3"),            # slack 1
        ("d2", "alpha mid mid2 beta pad2 pad3"),            # slack 2
        ("d3", "pad0 alpha mid mid2 beta pad9 alpha beta"),  # chains slack 2 AND 0 -> min 0
        ("d4", "pad0 pad1 pad2 pad3 pad4 pad5"),            # no match
    ]
    d = str(tmp_path_factory.mktemp("boostidx"))
    docs = spark.createDataFrame(rows, "url string, text string")
    build_index(docs, d, num_shards=2, store_positions=True)
    docmap = {
        r["url"]: int(r["docid"])
        for r in index_store.read_docmap(spark, d).collect()
    }
    return d, docmap


def test_proximity_boost_semantics(spark, boost_index):
    """proximity_boost adds EXACTLY boost * Sigma idf / (1 + min_slack)
    on top of the unboosted BM25 score, with min_slack the doc's
    tightest valid ordered chain — 0 for d0 (adjacent), 1 for d1,
    2 for d2, 0 for d3 (its second, adjacent occurrence wins). The
    match set is unchanged."""
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        LocalIndexProbe,
        search_index_phrase,
    )

    d, docmap = boost_index
    reader = IndexReader(spark, d)
    q = [{"qid": 0, "query": "alpha beta", "k": 10}]
    plain = {
        int(r["docid"]): float(r["score"])
        for r in search_index_phrase(reader, q, max_gap=3).collect()
    }
    boosted = {
        int(r["docid"]): float(r["score"])
        for r in search_index_phrase(reader, q, max_gap=3, proximity_boost=0.5).collect()
    }
    assert set(plain) == set(boosted) == {docmap[u] for u in ("d0", "d1", "d2", "d3")}
    probe = LocalIndexProbe(d)
    loaded = probe._load_terms(["alpha", "beta"])
    idf_sum = sum(v[0] for v in loaded.values())
    slack = {docmap["d0"]: 0, docmap["d1"]: 1, docmap["d2"]: 2, docmap["d3"]: 0}
    for docid, s in plain.items():
        want = s + 0.5 * (idf_sum / (1.0 + slack[docid]))
        assert boosted[docid] == pytest.approx(want, abs=1e-12), docid
    # local probe: identical rows to the distributed path with boost on
    got = probe.search_phrase("alpha beta", k=10, max_gap=3, proximity_boost=0.5)
    want_rows = sorted(boosted.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(dd, round(s, 9)) for _, dd, s in got] == [
        (dd, round(s, 9)) for dd, s in want_rows
    ]
    # gap==1 with boost: constant full bonus (slack identically 0)
    plain1 = {
        int(r["docid"]): float(r["score"])
        for r in search_index_phrase(reader, q).collect()
    }
    boosted1 = {
        int(r["docid"]): float(r["score"])
        for r in search_index_phrase(reader, q, proximity_boost=0.5).collect()
    }
    assert set(plain1) == set(boosted1) == {docmap["d0"], docmap["d3"]}
    for docid, s in plain1.items():
        assert boosted1[docid] == pytest.approx(s + 0.5 * idf_sum, abs=1e-12)


def test_chain_survivors_slack_unit():
    """DP unit pin: max-start propagation per end key, min over final
    keys per doc. One doc, three words, two valid chains with slacks
    2 and 0 -> min_slack 0; a doc whose only chain has slack 2 -> 2."""
    from semantic_search_engine_spark.operators.query import _chain_survivors

    # doc 5: w1@[0,10], w2@[2,11], w3@[4,12] -> chains 0-2-4 (slack 2),
    # 10-11-12 (slack 0). doc 9: w1@[3], w2@[5], w3@[7] -> slack 2 only.
    def entry(positions_by_doc):
        docids = np.array(sorted(positions_by_doc), dtype=np.int64)
        tfs = np.array([len(positions_by_doc[d]) for d in docids], dtype=np.int64)
        dls = np.full(docids.size, 20, dtype=np.int64)
        pos = np.concatenate([np.asarray(positions_by_doc[d], dtype=np.int64) for d in docids])
        rs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
        return (docids, tfs, dls, pos, rs)

    data = {
        "w1": entry({5: [0, 10], 9: [3]}),
        "w2": entry({5: [2, 11], 9: [5]}),
        "w3": entry({5: [4, 12], 9: [7]}),
    }
    cands = np.array([5, 9], dtype=np.int64)
    hits, slack = _chain_survivors(cands, ["w1", "w2", "w3"], data, max_gap=3, with_slack=True)
    assert hits.tolist() == [5, 9]
    assert slack.tolist() == [0, 2]
    # plain (no slack) path agrees on the match set
    assert _chain_survivors(cands, ["w1", "w2", "w3"], data, max_gap=3).tolist() == [5, 9]
    # gap too tight for doc 9 (gaps of 2 need max_gap >= 2)
    hits1, slack1 = _chain_survivors(
        cands, ["w1", "w2", "w3"], data, max_gap=1, with_slack=True
    )
    assert hits1.tolist() == [5] and slack1.tolist() == [0]


def test_chain_survivors_slack_fuzz():
    """Randomized pin of the slack DP against brute force: for random
    per-doc position sets and gaps, min_slack must equal the explicit
    minimum over ALL valid ordered chains, and the survivor set must
    equal the plain (no-slack) chain filter."""
    from itertools import product

    from semantic_search_engine_spark.operators.query import _chain_survivors

    rng = np.random.default_rng(20260817)
    for trial in range(60):
        L = int(rng.integers(2, 5))
        max_gap = int(rng.integers(1, 5))
        words = [f"w{j}" for j in range(L)]
        n_docs = int(rng.integers(1, 6))
        docids = np.sort(rng.choice(1000, size=n_docs, replace=False)).astype(np.int64)
        pos_by = {w: {} for w in words}
        for d in docids:
            for w in words:
                cnt = int(rng.integers(1, 5))
                pos_by[w][int(d)] = np.sort(
                    rng.choice(40, size=cnt, replace=False)
                ).astype(np.int64)
        data = {}
        for w in words:
            tfs = np.array([len(pos_by[w][int(d)]) for d in docids], dtype=np.int64)
            pos = np.concatenate([pos_by[w][int(d)] for d in docids])
            rs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            data[w] = (docids, tfs, np.full(n_docs, 50, dtype=np.int64), pos, rs)

        def brute(d):
            best = None
            for chain in product(*[pos_by[w][int(d)] for w in words]):
                if all(1 <= chain[j + 1] - chain[j] <= max_gap for j in range(L - 1)):
                    sl = int(chain[-1] - chain[0] - (L - 1))
                    best = sl if best is None else min(best, sl)
            return best

        want = {int(d): brute(d) for d in docids}
        want_hits = sorted(d for d, s in want.items() if s is not None)
        hits, slack = _chain_survivors(docids, words, data, max_gap, with_slack=True)
        assert hits.tolist() == want_hits, trial
        assert [want[int(d)] for d in hits] == slack.tolist(), trial
        plain = _chain_survivors(docids, words, data, max_gap)
        assert plain.tolist() == want_hits, trial


def test_window_survivors_fuzz():
    """Randomized pin of the unordered minimal-cover sweep against
    brute force: min_span must equal the explicit minimum over every
    one-occurrence-per-word selection, and the survivor set must be
    the docs with min_span <= max_span."""
    from itertools import product

    from semantic_search_engine_spark.operators.query import _window_survivors

    rng = np.random.default_rng(20260818)
    for trial in range(60):
        L = int(rng.integers(1, 5))
        max_span = int(rng.integers(L - 1, L + 8))
        words = [f"w{j}" for j in range(L)]
        n_docs = int(rng.integers(1, 6))
        docids = np.sort(rng.choice(1000, size=n_docs, replace=False)).astype(np.int64)
        pos_by = {w: {} for w in words}
        for d in docids:
            for w in words:
                cnt = int(rng.integers(1, 5))
                pos_by[w][int(d)] = np.sort(
                    rng.choice(40, size=cnt, replace=False)
                ).astype(np.int64)
        data = {}
        for w in words:
            tfs = np.array([len(pos_by[w][int(d)]) for d in docids], dtype=np.int64)
            pos = np.concatenate([pos_by[w][int(d)] for d in docids])
            rs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            data[w] = (docids, tfs, np.full(n_docs, 50, dtype=np.int64), pos, rs)

        def brute_span(d):
            return min(
                max(sel) - min(sel)
                for sel in product(*[pos_by[w][int(d)] for w in words])
            )

        spans = {int(d): brute_span(d) for d in docids}
        want_hits = sorted(d for d, s in spans.items() if s <= max_span)
        hits, slack = _window_survivors(docids, words, data, max_span, with_slack=True)
        assert hits.tolist() == want_hits, trial
        assert [spans[int(d)] - (L - 1) for d in hits] == slack.tolist(), trial
        assert _window_survivors(docids, words, data, max_span).tolist() == want_hits


def test_unordered_near_end_to_end(spark, pos_index6):
    """unordered NEAR through every surface: word order must not
    matter, the ordered chain filter's misses must be recovered, the
    local probe must match the distributed rows, and one batch must
    mix phrase / ordered / unordered queries."""
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        LocalIndexProbe,
        search_index_phrase,
    )

    rows = [
        ("d0", "alpha beta pad0 pad1 pad2 pad3"),
        ("d1", "beta pad0 alpha pad1 pad2 pad3"),  # reverse order, span 2
        ("d2", "alpha pad0 pad1 pad2 pad3 beta"),  # span 5
        ("d3", "pad0 pad1 pad2 pad3 pad4 pad5"),
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="ssse_near_")
    docs = spark.createDataFrame(rows, "url string, text string")
    build_index(docs, d, num_shards=2, store_positions=True)
    reader = IndexReader(spark, d)

    def hit_docids(res):
        from semantic_search_engine_spark.sources.index_store import read_docmap

        dm = {int(r["docid"]): r["url"] for r in read_docmap(spark, d).collect()}
        return sorted(dm[int(r["docid"])] for r in res.collect())

    # unordered window span<=3: d0 (span 1) and d1 (span 2); the
    # ORDERED chain at gap 3 sees only d0 ("beta ... alpha" is reversed)
    un = search_index_phrase(
        reader, [{"qid": 0, "query": "alpha beta", "k": 10}], max_gap=3, unordered=True
    )
    assert hit_docids(un) == ["d0", "d1"]
    od = search_index_phrase(
        reader, [{"qid": 0, "query": "alpha beta", "k": 10}], max_gap=3
    )
    assert hit_docids(od) == ["d0"]
    # word order irrelevant when unordered
    un_rev = search_index_phrase(
        reader, [{"qid": 0, "query": "beta alpha", "k": 10}], max_gap=3, unordered=True
    )
    assert hit_docids(un_rev) == ["d0", "d1"]
    # span 5 window catches d2 too
    un5 = search_index_phrase(
        reader, [{"qid": 0, "query": "alpha beta", "k": 10}], max_gap=5, unordered=True
    )
    assert hit_docids(un5) == ["d0", "d1", "d2"]
    # local probe identity (with and without boost)
    probe = LocalIndexProbe(d)
    for boost in (0.0, 0.7):
        want = [
            (int(r["rank"]), int(r["docid"]), round(float(r["score"]), 9))
            for r in search_index_phrase(
                reader, [{"qid": 0, "query": "alpha beta", "k": 10}],
                max_gap=3, unordered=True, proximity_boost=boost,
            ).orderBy("rank").collect()
        ]
        got = [
            (r, dd, round(s, 9))
            for r, dd, s in probe.search_phrase(
                "alpha beta", k=10, max_gap=3, proximity_boost=boost, unordered=True
            )
        ]
        assert got == want, boost
    # mixed batch: phrase, ordered slop, unordered window per query
    mixed = search_index_phrase(
        reader,
        [
            {"qid": 0, "query": "alpha beta", "k": 10},                      # phrase
            {"qid": 1, "query": "alpha beta", "k": 10, "gap": 3},            # ordered
            {"qid": 2, "query": "alpha beta", "k": 10, "gap": 3, "unordered": True},
        ],
    ).toPandas()
    per_qid = mixed.groupby("qid")["docid"].nunique().to_dict()
    assert per_qid == {0: 1, 1: 1, 2: 2}


# ------------------------------------------------- wide-miss term load

def test_local_index_probe_wide_miss_identity(spark, pos_index6):
    """Loading the ENTIRE dictionary in one miss set (the
    sort+searchsorted path at width) must leave the probe serving
    byte-identical rows to a fresh per-query probe."""
    import pyarrow.parquet as pq

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    d, _, docs_df = pos_index6
    all_terms = sorted(
        set(pq.read_table(f"{d}/dictionary", columns=["term"]).column("term").to_pylist())
    )
    assert len(all_terms) >= 500  # the load is genuinely wide
    wide = LocalIndexProbe(d, cache_terms=len(all_terms) + 10)
    wide._load_terms(all_terms + ["zzz_oov_1", "zzz_oov_2"])
    fresh = LocalIndexProbe(d)
    texts = [r["text"] for r in docs_df.orderBy("docid").limit(10).collect()]
    for i, t in enumerate(texts):
        toks = tokenize(t)
        query = " ".join(toks[(i * 3) % max(len(toks) - 4, 1):][:3])
        assert wide.search(query, k=10) == fresh.search(query, k=10), query
    assert wide.search("zzz_oov_1 zzz_oov_2", k=5) == []


# ------------------------------------------------- local text batch probe

def test_local_index_probe_batch_equals_single(spark, pos_index6):
    """LocalIndexProbe.search_batch (chunked union preload, raised cap
    for the batch) must return exactly the per-query search rows even
    when the batch's term union exceeds cache_terms, and the cache must
    shrink back to the cap afterwards."""
    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    d, _, docs_df = pos_index6
    texts = [r["text"] for r in docs_df.orderBy("docid").limit(30).collect()]
    queries = []
    for i, t in enumerate(texts):
        toks = tokenize(t)
        s = (i * 5) % max(len(toks) - 4, 1)
        queries.append(" ".join(toks[s : s + 3]))
    queries.append("zzz_oov only_oov_terms")
    small = LocalIndexProbe(d, cache_terms=8)  # union >> 8 terms
    got = small.search_batch(queries, k=10)
    fresh = LocalIndexProbe(d)
    want = [fresh.search(q, k=10) for q in queries]
    assert got == want
    assert len(small._cache) <= 8 and small._cache_cap == 8  # restored
    assert small.search_batch([], k=10) == []  # empty batch, no error


# ------------------------------------------------- repetition signals

def test_repetition_stats_semantics(spark):
    """repetition_stats must equal a brute-force Counter reference on
    handcrafted docs (heavy repetition, all-distinct, single-token,
    empty), and its plan must have ZERO shuffles (per-doc signals are
    embarrassingly parallel)."""
    from collections import Counter

    from semantic_search_engine_spark.operators.textstats import repetition_stats

    rows = [
        (0, "spam spam spam spam spam"),          # one bigram repeated 4x
        (1, "a b c d e f"),                        # all distinct
        (2, "x y x y x y z"),                      # mixed: 'x y' 3x, 'y x' 2x
        (3, "solo"),                               # < 2 tokens -> 0 ngrams
        (4, ""),                                   # empty
        (5, "p q p q"),                            # 'p q' 2x, 'q p' 1x
        # a long page: per-row cost must stay linear in its length
        (6, " ".join(np.random.default_rng(6).choice(["u", "v", "w", "x", "y"], 400))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        int(r["doc_id"]): (int(r["n_ngrams"]), float(r["top_ngram_frac"]), float(r["dup_ngram_frac"]))
        for r in repetition_stats(docs).collect()
    }
    for did, text in rows:
        toks = text.split()
        grams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        if not grams:
            assert got[did] == (0, 0.0, 0.0), did
            continue
        c = Counter(grams)
        m = len(grams)
        want = (
            m,
            round(max(c.values()) / m, 6),
            round(sum(v for v in c.values() if v > 1) / m, 6),
        )
        assert got[did] == want, (did, got[did], want)
    from semantic_search_engine_spark.plans import audit

    plan = audit.physical_plan(repetition_stats(docs))
    assert "Exchange" not in plan  # zero shuffles: scan -> project only


def test_bpe_token_counts_semantics(spark):
    """The BPE-span count must match hand-counted pre-tokenization
    spans: letter runs, digit runs, single other non-space chars."""
    from semantic_search_engine_spark.operators.textstats import bpe_token_counts

    rows = [
        (0, "don't stop"),        # spans: don + ' + t + stop = 4; tokenizer: don,t,stop = 3
        (1, "a 2nd-gen model!"),  # spans: a,2,nd,-,gen,model,! = 7; tokenizer: a,2nd,gen,model = 4
        (2, "abc123"),            # spans: abc + 123 = 2; tokenizer: abc123 = 1
        (3, ""),                  # 0 spans
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        int(r["doc_id"]): (int(r["n_tokens"]), int(r["n_bpe_tokens"]))
        for r in bpe_token_counts(docs).collect()
    }
    assert got[0] == (3, 4)
    assert got[1] == (4, 7)
    assert got[2] == (1, 2)
    assert got[3][1] == 0


def test_filter_funnel_repetition_stage(spark):
    """filter_funnel(max_top_ngram_frac=...) drops the boilerplate doc
    between quality and unique, keeps the v1 4-column schema when the
    param is None, and the 5-stage plan is still a single pass (no
    joins, one source)."""
    from semantic_search_engine_spark.operators.textstats import filter_funnel
    from semantic_search_engine_spark.plans import audit

    # both docs pass lang=en + quality; the spam doc is pure repetition
    good = "the quick brown fox jumps over the lazy dog and runs far away today " * 3
    spam = "the best offer the best offer the best offer the best offer the best offer"
    docs = spark.createDataFrame(
        [(0, good), (1, spam), (2, good)], "doc_id long, text string"
    )
    v1 = filter_funnel(docs, quality_threshold=0.0, lang="en").collect()[0]
    assert set(v1.asDict()) == {"n_total", "n_lang", "n_quality", "n_unique"}
    v2 = filter_funnel(
        docs, quality_threshold=0.0, lang="en", max_top_ngram_frac=0.2
    ).collect()[0]
    assert (v2["n_total"], v2["n_lang"], v2["n_quality"]) == (3, 3, 3)
    assert v2["n_repetition"] == 2  # spam doc's top bigram frac >> 0.2
    assert v2["n_unique"] == 1  # the two good docs are exact duplicates
    plan = audit.physical_plan(
        filter_funnel(docs, quality_threshold=0.0, lang="en", max_top_ngram_frac=0.2)
    )
    assert "Join" not in plan


def test_connected_components_semantics(spark):
    """Min-label propagation must return the exact transitive closure:
    a 4-chain, an isolated pair, a triangle, and an 11-node path (more
    rounds than a naive 2-3-iteration guess) all labeled by their min
    node id; empty edge set -> empty result."""
    from semantic_search_engine_spark.operators.dedup import connected_components

    edges = (
        [(1, 2), (2, 3), (3, 4)]
        + [(10, 11)]
        + [(20, 21), (21, 22), (20, 22)]
        + [(i, i + 1) for i in range(30, 40)]  # path 30..40
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        int(r["node"]): int(r["component"])
        for r in connected_components(df).collect()
    }
    want = {n: 1 for n in (1, 2, 3, 4)}
    want |= {n: 10 for n in (10, 11)}
    want |= {n: 20 for n in (20, 21, 22)}
    want |= {n: 30 for n in range(30, 41)}
    assert got == want
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_star_components_fuzz_and_depth(spark):
    """algorithm='star' must label exactly like the default min-label
    propagation on random graphs, and must converge on a 120-link
    chain within rounds where label propagation provably cannot
    (O(log d) vs O(d))."""
    from semantic_search_engine_spark.operators.dedup import connected_components

    rng = np.random.default_rng(20260819)
    for trial in range(4):
        n = int(rng.integers(10, 40))
        n_edges = int(rng.integers(5, 50))
        nodes = rng.choice(500, size=n, replace=False)
        edges = [
            (int(nodes[rng.integers(n)]), int(nodes[rng.integers(n)]))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = {
            int(r["node"]): int(r["component"])
            for r in connected_components(df, algorithm="label").collect()
        }
        got = {
            int(r["node"]): int(r["component"])
            for r in connected_components(df, algorithm="star").collect()
        }
        assert got == want, trial
    # depth: a 120-link chain needs ~120 label rounds but only O(log)
    # star rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    got = {
        int(r["node"]): int(r["component"])
        for r in connected_components(chain, algorithm="star", max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(121)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, algorithm="label", max_iter=12)


def test_unigram_logprob_semantics(spark):
    """unigram_logprob must equal the brute-force corpus-unigram LM on
    handcrafted docs: rare tokens drag the mean down, the empty doc
    keeps a (0, 0.0) row."""
    import math
    from collections import Counter

    from semantic_search_engine_spark.operators.textstats import unigram_logprob

    rows = [
        (0, "the the the the"),
        (1, "the the rareword"),
        (2, "onlyonce"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = {d: t.split() for d, t in rows}
    corpus = [w for ws in toks.values() for w in ws]
    c, total = Counter(corpus), len(corpus)
    got = {
        int(r["doc_id"]): (int(r["n_tokens"]), float(r["mean_logprob"]))
        for r in unigram_logprob(docs).collect()
    }
    for d, ws in toks.items():
        if not ws:
            assert got[d] == (0, 0.0), d
            continue
        want = round(sum(math.log(c[w] / total) for w in ws) / len(ws), 6)
        assert got[d][0] == len(ws) and got[d][1] == pytest.approx(want, abs=1e-9), d
    # common-token doc scores higher (closer to 0) than the rare-token doc
    assert got[0][1] > got[1][1] > got[2][1]


# ------------------------------------------------- local PQ probe

def test_local_pq_probe_equals_distributed_adc(spark, tmp_path):
    """PQIndex.save/load must round-trip (identical search rows), and
    LocalPQProbe's ADC top-k must match the distributed adc_scores
    ordering bit-exactly (same lookup tables, same fold order)."""
    from semantic_search_engine_spark.operators import similarity

    emb = generate_vectors(spark, 1500, dim=16).cache()
    emb.count()
    pq = similarity.PQIndex.build(emb, n_segments=4, n_codes=8, sample_cap=600)
    d = str(tmp_path / "pq6")
    pq.save(d)
    loaded = similarity.PQIndex.load(spark, d)
    q = generate_query_vectors(3, dim=16)
    for qv in q:
        a = pq.search(emb, qv, k=10).collect()
        b = loaded.search(emb, qv, k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
    probe = similarity.LocalPQProbe(d)
    for qv in q:
        want = [
            (int(r[0]), float(r[1]))
            for r in pq.adc_scores(qv)
            .orderBy(F.desc("adc"), F.asc("vec_id"))
            .limit(10)
            .collect()
        ]
        got = probe.search(qv, k=10)
        assert got == want  # bit-exact: same tables, same fold order
    emb.unpersist()


def test_local_ivfpq_probe_equals_distributed_adc(spark, tmp_path):
    """IVFPQIndex.save/load must round-trip, and LocalIVFPQProbe's
    bucket-probed ADC top-k must match the distributed
    adc_scores(n_probe) ordering bit-exactly — including with a
    bucket cache smaller than the probe set."""
    from semantic_search_engine_spark.operators import similarity

    emb = generate_vectors(spark, 1500, dim=16).cache()
    emb.count()
    ivfpq = similarity.IVFPQIndex.build(
        emb, n_clusters=8, n_segments=4, n_codes=8, sample_cap=600
    )
    d = str(tmp_path / "ivfpq6")
    ivfpq.save(d)
    loaded = similarity.IVFPQIndex.load(spark, d)
    qs = generate_query_vectors(3, dim=16)
    for qv in qs:
        a = ivfpq.search(emb, qv, k=10, n_probe=3).collect()
        b = loaded.search(emb, qv, k=10, n_probe=3).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for cache in (256, 2):  # plenty and starved
        probe = similarity.LocalIVFPQProbe(d, cache_buckets=cache)
        for qv in qs:
            want = [
                (int(r[0]), float(r[1]))
                for r in loaded.adc_scores(qv, n_probe=3)
                .orderBy(F.desc("adc"), F.asc("vec_id"))
                .limit(10)
                .collect()
            ]
            assert probe.search(qv, k=10, n_probe=3) == want, cache
    # batched = per-query, with the union preloaded through a starved cache
    small = similarity.LocalIVFPQProbe(d, cache_buckets=2)
    got = small.search_batch(qs, k=10, n_probe=3)
    fresh = similarity.LocalIVFPQProbe(d)
    assert got == [fresh.search(qv, k=10, n_probe=3) for qv in qs]
    assert len(small._cache) <= 2 and small._cache_cap == 2
    emb.unpersist()


# ------------------------------------------------- IVF batch cache cap

def test_ivf_search_batch_survives_small_cache(spark, tmp_path):
    """A batch whose probe union exceeds cache_buckets must still
    return exactly the per-query rows (the cap is raised for the
    batch's duration) and the cache must shrink back to the cap
    afterwards."""
    from semantic_search_engine_spark.operators import similarity

    emb = generate_vectors(spark, 2000, dim=16).cache()
    emb.count()
    ivf = similarity.IVFIndex.build(emb, n_clusters=16, sample_cap=800)
    d = str(tmp_path / "ivf6")
    ivf.save(d)
    emb.unpersist()
    queries = generate_query_vectors(12, dim=16)
    small = similarity.LocalIVFProbe(d, cache_buckets=4)
    got = small.search_batch(queries, k=5, n_probe=8)  # union >> 4 buckets
    fresh = similarity.LocalIVFProbe(d)
    want = [fresh.search(q, k=5, n_probe=8) for q in queries]
    assert got == want
    assert len(small._cache) <= 4
    assert small._cache_cap == 4  # restored
