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
ranking; that contract is checked against ``search_index_exhaustive``.

``LocalIndexProbe`` reads postings files and keeps them resident. Its
rows are checked against the distributed paths on a postings file split
into 4 row groups, on one whose rows are out of order, on a compaction
of generations that were not docid-adjacent, under a 1-byte resident
bound, and when a phrase reuses terms a plain search loaded. A probe
that outlives a finalize must answer from the version it opened or
raise ``StaleIndexError``."""

import glob
import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext, vocab
from semantic_search_engine_spark.functions.tokenizer import tokenize
from semantic_search_engine_spark.operators import query
from semantic_search_engine_spark.operators.build import (
    _live_generations,
    build_index,
    compact_generations,
    finalize_index,
    ingest_generation,
)
from semantic_search_engine_spark.operators.query import (
    IndexReader,
    LocalIndexProbe,
    StaleIndexError,
    search_index_exhaustive,
    search_index_phrase,
    search_index_qld,
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


# ------------------------------------------------------- LocalIndexProbe reads
def _copy_index(edge_index, tmp_path) -> str:
    d = str(tmp_path / "idx")
    shutil.copytree(edge_index[0], d)
    return d


def _rewrite_postings_file(d: str, n_row_groups: int, reverse: bool = False) -> str:
    """Rewrite the first postings file into ``n_row_groups`` row groups,
    with the same rows in the same order (or reversed)."""
    path = sorted(glob.glob(f"{d}/postings/shard=*/*.parquet"))[0]
    t = pq.read_table(path)
    if reverse:
        t = t.take(list(range(t.num_rows - 1, -1, -1)))
    pq.write_table(t, path, row_group_size=-(-t.num_rows // n_row_groups))
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    assert pq.ParquetFile(path).metadata.num_row_groups == n_row_groups
    return path


def _ranked(df, extra=()) -> dict[int, list[tuple]]:
    out: dict = {}
    for r in sorted(df.collect(), key=lambda r: (r["qid"], r["rank"])):
        row = (r["rank"], r["docid"], r["score"]) + tuple(r[c] for c in extra)
        out.setdefault(r["qid"], []).append(row)
    return out


def _assert_rows(got: list[tuple], want: list[tuple]) -> None:
    """Same ranks, docids and extra columns; scores at 1e-9."""
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2] and g[3:] == w[3:] and abs(g[2] - w[2]) <= 1e-9, (got, want)


def _phrases(texts: list[str]) -> list[str]:
    out = []
    for i, t in enumerate(texts[:20]):
        toks = tokenize(t)
        s = (i * 5) % max(len(toks) - 3, 1)
        out.append(" ".join(toks[s : s + 2 + i % 2]))
    return out


def test_probe_reads_multi_row_group_postings(spark, edge_index, tmp_path):
    """A postings file of 4 row groups serves the same rows as the
    distributed paths, and each postings file is read once."""
    d = _copy_index(edge_index, tmp_path)
    path = _rewrite_postings_file(d, 4)
    reader = IndexReader(spark, d)
    queries = generate_queries(n_queries=30)
    phrases = [{"qid": i, "query": p, "k": 10} for i, p in enumerate(_phrases(edge_index[1]))]

    n_files = len(glob.glob(f"{d}/postings/shard=*/*.parquet"))
    probe = LocalIndexProbe(d)
    probe.search(pq.read_table(path, columns=["term"]).column("term")[10].as_py())
    assert (probe.fragments_read, probe.term_hits, probe.term_misses) == (n_files, 0, 1)

    bm25 = _ranked(search_index_exhaustive(reader, queries))
    qld = _ranked(search_index_qld(reader, queries))
    windows = _ranked(search_index_phrase(reader, phrases, emit_windows=True),
                      ("win_start", "win_end"))
    for q in queries:
        _assert_rows(probe.search(q["query"], k=q["k"]), bm25.get(q["qid"], []))
    for q in queries:
        _assert_rows(probe.search_qld(q["query"], k=q["k"]), qld.get(q["qid"], []))
    for p in phrases:
        got = probe.search_phrase(p["query"], k=10, return_window=True)
        _assert_rows(got, windows.get(p["qid"], []))
    assert sum(windows.values(), []) and probe.fragments_read == n_files
    assert probe.term_hits > 0 and probe.resident_bytes > 0


def test_probe_sorts_an_unsorted_fragment(spark, edge_index, tmp_path):
    """A postings file whose rows are not in (term, first_docid) order is
    sorted on read: rows equal the distributed exhaustive path's."""
    d = _copy_index(edge_index, tmp_path)
    _rewrite_postings_file(d, 1, reverse=True)
    queries = generate_queries(n_queries=20)
    want = _ranked(search_index_exhaustive(IndexReader(spark, d), queries))
    probe = LocalIndexProbe(d)
    for q in queries:
        _assert_rows(probe.search(q["query"], k=q["k"]), want.get(q["qid"], []))


def test_probe_resident_byte_bound(edge_index, monkeypatch):
    """With the resident bound at 1 byte, at most one fragment stays
    resident, evicted ones are read again, and rows do not change."""
    d, texts = edge_index
    queries = [q["query"] for q in generate_queries(n_queries=20)]
    phrases = _phrases(texts)
    free = LocalIndexProbe(d)
    want = [free.search(q) for q in queries] + [free.search_phrase(p) for p in phrases]
    monkeypatch.setattr(query, "PROBE_RESIDENT_BYTES", 1)
    probe = LocalIndexProbe(d)
    got = []
    for q in queries:
        got.append(probe.search(q))
        assert sum(f.terms is not None for f in probe._frags) <= 1
    got += [probe.search_phrase(p) for p in phrases]
    assert got == want
    assert probe.fragments_read > len(probe._frags) == free.fragments_read
    assert probe.resident_bytes == sum(f.nbytes for f in probe._frags if f.terms is not None)


def test_probe_positions_upgrade(spark, edge_index):
    """Terms loaded by ``search`` without positions serve a later phrase
    with the rows of a fresh probe and of the distributed path, without
    reading any fragment again."""
    d, texts = edge_index
    phrases = _phrases(texts)
    probe = LocalIndexProbe(d)
    for p in phrases:
        probe.search(p)
    assert all(v is None or v[4] is None for v in probe._cache.values())
    read = probe.fragments_read
    fresh = LocalIndexProbe(d)
    reader = IndexReader(spark, d)
    for i, p in enumerate(phrases):
        got = probe.search_phrase(p, k=10)
        assert got == fresh.search_phrase(p, k=10)
        _assert_rows(got, _ranked(search_index_phrase(reader, [{"qid": i, "query": p, "k": 10}]))
                     .get(i, []))
    assert probe.fragments_read == read


def _rewrite(spark, d: str) -> None:
    """Ingest a generation of new pages and finalize: every dictionary
    and postings file of ``d`` is replaced."""
    ingest_generation(generate_webtext(spark, 80, start=400), d, num_shards=1,
                      finalize=False, store_positions=True)
    finalize_index(spark, d)


def test_probe_opened_then_rewritten_raises(spark, edge_index, tmp_path):
    """open → ingest + finalize → search: the probe holds nothing of its
    version, so it raises a clear error; a new probe sees the new one."""
    d = _copy_index(edge_index, tmp_path)
    q = generate_queries(n_queries=1)[0]["query"]
    probe = LocalIndexProbe(d)
    _rewrite(spark, d)
    with pytest.raises(StaleIndexError, match=re.escape(d) + ".*open a new LocalIndexProbe"):
        probe.search(q)
    assert LocalIndexProbe(d).search(q)


def test_probe_searched_then_rewritten_keeps_its_version(spark, edge_index, tmp_path, monkeypatch):
    """open → search → ingest + finalize → search: the probe answers from
    the version it opened, or raises where it must read a replaced file —
    never rows of the new version."""
    d = _copy_index(edge_index, tmp_path)
    queries = [q["query"] for q in generate_queries(n_queries=12)]
    probe = LocalIndexProbe(d)
    before = [probe.search(q) for q in queries]
    monkeypatch.setattr(query, "PROBE_RESIDENT_BYTES", 1)
    small = LocalIndexProbe(d)  # keeps one fragment resident
    small.search(queries[0])
    head = str(vocab()[0])
    assert head not in tokenize(queries[0])
    _rewrite(spark, d)
    assert [LocalIndexProbe(d).search(q) for q in queries] != before
    assert [probe.search(q) for q in queries] == before
    with pytest.raises(StaleIndexError, match=re.escape(d)):
        small.search(head)


def test_probe_serves_a_compaction_of_non_adjacent_generations(spark, tmp_path):
    """Compaction merges the smallest generations of a size class, which
    need not be docid-adjacent: of generations of 40, 45 and 41 pages,
    tier_k=2 merges the first and the third. The merged shard's run of a
    term then spans the second generation's docids, and the probe must
    still decode each term's postings in docid order."""
    d = str(tmp_path / "idx")
    start = 0
    for n in (40, 45, 41):
        ingest_generation(generate_webtext(spark, n, start=start), d, num_shards=1,
                          finalize=False, store_positions=True)
        start += n
    assert compact_generations(spark, d, tier_k=2) == 1
    assert sorted(int(g["n_docs"]) for g in _live_generations(spark, d)) == [45, 81]
    finalize_index(spark, d)

    reader = IndexReader(spark, d)
    queries = generate_queries(n_queries=30)
    texts = [r["text"] for r in generate_webtext(spark, 60).orderBy("url").collect()]
    phrases = [{"qid": i, "query": p, "k": 10} for i, p in enumerate(_phrases(texts))]
    bm25 = _ranked(search_index_exhaustive(reader, queries))
    windows = _ranked(search_index_phrase(reader, phrases, emit_windows=True),
                      ("win_start", "win_end"))
    probe = LocalIndexProbe(d)
    for q in queries:
        _assert_rows(probe.search(q["query"], k=q["k"]), bm25.get(q["qid"], []))
    for p in phrases:
        got = probe.search_phrase(p["query"], k=10, return_window=True)
        _assert_rows(got, windows.get(p["qid"], []))
    assert sum(windows.values(), [])
