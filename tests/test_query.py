"""Degenerate query batches on the index-backed serving paths.

A batch whose terms are all out of vocabulary, or one that mixes OOV,
empty and known queries, must return exactly the known queries' rows
with the result schema: through WAND at 1, 8 and 600 queries (one
exact kernel at every width; each width passes a different value of
the ignored ``vectorized`` keyword) and through the phrase path. The reference is
``LocalIndexProbe``, which reads idf from the dictionary on the driver
and answers [] for an OOV or empty query.

The approximate WAND mode (``theta_factor != 1``) may drop true top-k
docs, but what it returns must still be a well-formed, exactly scored
ranking; that contract is checked against ``search_index_exhaustive``."""

import pytest

from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext, vocab
from semantic_search_engine_spark.functions.tokenizer import tokenize
from semantic_search_engine_spark.operators.build import build_index
from semantic_search_engine_spark.operators.query import (
    IndexReader,
    LocalIndexProbe,
    search_index_exhaustive,
    search_index_phrase,
    search_index_wand,
)

RESULT = "struct<qid:int,rank:int,docid:bigint,score:double>"
BATCHES = [(1, None), (8, False), (600, True)]  # (batch width, vectorized keyword)


def _oov(i: int) -> str:
    return f"zzqoov{i} xxqnope{i}"


@pytest.fixture(scope="module")
def edge_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edgeidx"))
    docs = generate_webtext(spark, 400)
    build_index(docs, d, num_shards=4, store_positions=True)
    texts = [r["text"] for r in docs.orderBy("url").limit(60).collect()]
    return d, texts


def _mixed(known: list[str], n: int) -> list[dict]:
    """n queries cycling known / OOV / empty-string."""
    kinds = [lambda i: known[i % len(known)], _oov, lambda i: ""]
    return [{"qid": i, "query": kinds[i % 3](i // 3), "k": 4 + i % 3} for i in range(n)]


def _rows(df) -> list[tuple]:
    assert df.schema.simpleString() == RESULT
    return sorted(tuple(r) for r in df.collect())


def _want(queries: list[dict], search) -> list[tuple]:
    return sorted((q["qid"], *hit) for q in queries for hit in search(q["query"], q["k"]))


@pytest.mark.parametrize("n, vectorized", BATCHES)
def test_wand_all_oov_batch_is_empty(spark, edge_index, n, vectorized):
    reader = IndexReader(spark, edge_index[0])
    queries = [{"qid": i, "query": _oov(i), "k": 5} for i in range(n)]
    assert _rows(search_index_wand(reader, queries, vectorized=vectorized)) == []


@pytest.mark.parametrize("n, vectorized", BATCHES)
def test_wand_mixed_oov_empty_known_batch(spark, edge_index, n, vectorized):
    d, _ = edge_index
    known = [q["query"] for q in generate_queries(n_queries=n) if not q["query"].startswith("zzz")]
    queries = _mixed(known, n)
    got = _rows(search_index_wand(IndexReader(spark, d), queries, vectorized=vectorized))
    probe = LocalIndexProbe(d)
    assert got == _want(queries, probe.search)
    assert got and {r[0] for r in got} <= {q["qid"] for q in queries if q["qid"] % 3 == 0}


def test_phrase_all_oov_batch_is_empty(spark, edge_index):
    """Also with ``emit_windows``: an all-OOV and an all-empty batch keep
    the window columns of the non-empty result."""
    reader = IndexReader(spark, edge_index[0])
    queries = [{"qid": i, "query": _oov(i), "k": 5} for i in range(8)]
    assert _rows(search_index_phrase(reader, queries)) == []
    for batch in (queries, [{"qid": 0, "query": "", "k": 5}]):
        df = search_index_phrase(reader, batch, emit_windows=True)
        assert df.schema.simpleString() == RESULT[:-1] + ",win_start:bigint,win_end:bigint>"
        assert df.count() == 0


def test_phrase_mixed_oov_empty_known_batch(spark, edge_index):
    """Known phrases are cut from indexed pages; a phrase with one OOV
    word among known ones is voided like an all-OOV one."""
    d, texts = edge_index
    known = []
    for i, t in enumerate(texts):
        toks = tokenize(t)
        s = (i * 7) % max(len(toks) - 2, 1)
        known.append(" ".join(toks[s : s + 2]))
    queries = _mixed(known, 3 * len(known))
    voided = {"qid": len(queries), "query": known[0] + " zzqunseen", "k": 5}
    queries.append(voided)
    got = _rows(search_index_phrase(IndexReader(spark, d), queries))
    probe = LocalIndexProbe(d)
    assert got == _want(queries, probe.search_phrase)
    assert got and {r[0] for r in got} <= {q["qid"] for q in queries[:-1] if q["qid"] % 3 == 0}


@pytest.mark.parametrize("theta_factor", [1.1, 1.5])
def test_wand_approximate_contract(spark, edge_index, theta_factor):
    """Each query returns at most k rows ranked 1..n with non-increasing
    scores, and every returned score is the doc's exhaustive score at
    1e-9 (candidates are exact-scored, only the block cut is loosened;
    an excluded doc has no exhaustive score, so returning one fails).
    The batch mixes single- and multi-term, OOV and MUST_NOT queries;
    ``theta_factor=1.0`` on it equals the exhaustive top-k."""
    reader = IndexReader(spark, edge_index[0])
    queries = generate_queries(n_queries=40)  # ends with an OOV query
    for q in queries[1:-1:3]:
        # a query's own term (multi-term queries) or the head term:
        # either excludes docs the query would otherwise rank
        words = q["query"].split()
        q["exclude"] = words[-1] if len(words) > 1 else vocab()[0]
    queries[5]["exclude"] = "zzqnotaword"
    assert {len(q["query"].split()) for q in queries} >= {1, 2}

    def ranked(df):
        return sorted((r["qid"], r["rank"], r["docid"], round(r["score"], 9)) for r in df.collect())

    full = search_index_exhaustive(reader, [dict(q, k=10**6) for q in queries]).collect()
    exact_score = {(r["qid"], r["docid"]): r["score"] for r in full}
    want = ranked(search_index_exhaustive(reader, queries))
    assert ranked(search_index_wand(reader, queries, theta_factor=1.0)) == want

    got = search_index_wand(reader, queries, theta_factor=theta_factor).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    k_of = {q["qid"]: q["k"] for q in queries}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert len(rs) <= k_of[qid]
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(a["score"] >= b["score"] for a, b in zip(rs, rs[1:]))
        for r in rs:
            assert abs(r["score"] - exact_score[(qid, r["docid"])]) <= 1e-9
    assert queries[-1]["qid"] not in by_q  # OOV
