"""Degenerate query batches on the index-backed serving paths.

A batch whose terms are all out of vocabulary, or one that mixes OOV,
empty and known queries, must return exactly the known queries' rows
with the result schema: through WAND's loop kernel (8 queries), its
vectorized kernel (≥512 queries) and the phrase path. The reference is
``LocalIndexProbe``, which reads idf from the dictionary on the driver
and answers [] for an OOV or empty query."""

import pytest

from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext
from semantic_search_engine_spark.functions.tokenizer import tokenize
from semantic_search_engine_spark.operators.build import build_index
from semantic_search_engine_spark.operators.query import (
    IndexReader,
    LocalIndexProbe,
    search_index_phrase,
    search_index_wand,
)

RESULT = "struct<qid:int,rank:int,docid:bigint,score:double>"
KERNELS = [(8, False), (600, True)]  # (batch width, vectorized)


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


@pytest.mark.parametrize("n, vectorized", KERNELS)
def test_wand_all_oov_batch_is_empty(spark, edge_index, n, vectorized):
    reader = IndexReader(spark, edge_index[0])
    queries = [{"qid": i, "query": _oov(i), "k": 5} for i in range(n)]
    assert _rows(search_index_wand(reader, queries, vectorized=vectorized)) == []


@pytest.mark.parametrize("n, vectorized", KERNELS)
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
