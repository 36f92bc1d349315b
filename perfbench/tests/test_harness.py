"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.harness import (  # noqa: E402
    Span,
    TermLru,
    Tracer,
    beyond,
    covered,
    fingerprint,
    percentile,
    quartiles,
    read_event_log,
    replay_lru,
    self_times,
    spread,
    summarize,
)


# ---------------------------------------------------------------- percentiles
def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_and_refuses_thin_tails():
    xs = [float(i) for i in range(1000)]
    out = summarize(xs, 99)
    assert out["n"] == 1000 and out["beyond"] == 10
    assert out["p50"] == 499.0 and out["p99"] == 989.0
    assert beyond(200, 95) == 10
    with pytest.raises(ValueError, match="10 samples beyond"):
        summarize(xs[:999], 99)
    with pytest.raises(ValueError):
        summarize(xs[:199], 95)


def test_quartiles_and_spread_match_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q = statistics.quantiles(xs, n=4)
    assert quartiles(xs) == tuple(q)
    assert spread(xs) == pytest.approx((q[2] - q[0]) / q[1])


# ---------------------------------------------------------------------- spans
def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (1.5, 2.5)]) == 3
    assert covered([(0, 5), (1, 2)]) == 5


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op.cycle", None, 1, 0.0, 10.0),
        Span(1, "build.ingest_generation", 0, 1, 1.0, 4.0),
        Span(2, "build.finalize_index", 0, 1, 3.0, 6.0),  # overlaps span 1
        Span(3, "query.LocalIndexProbe", 0, 1, 8.0, 9.0),
        Span(4, "build.inner", 2, 1, 4.0, 5.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover [1, 6] and [8, 9]
    assert st[1] == pytest.approx(3)
    assert st[2] == pytest.approx(2)
    assert st[4] == pytest.approx(1)


def test_tracer_links_parents_and_shares_op_ids(tmp_path):
    t = Tracer(enabled=True)
    with t.span("op.cycle"):
        with t.span("build.ingest_generation"):
            pass
        with t.span("build.finalize_index"):
            pass
    with t.span("query.search", jobs=False):
        pass
    a, b, c, d = t.spans
    assert (a.parent, b.parent, c.parent, d.parent) == (None, a.id, a.id, None)
    assert a.op == b.op == c.op != d.op
    assert all(s.end >= s.start for s in t.spans)
    assert set(t.layer_self_s()) == {"op", "build", "query"}
    path = tmp_path / "spans.jsonl"
    t.write(str(path), {1: {"jobs": 2}})
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["parent"] for r in rows] == [None, 0, 0, None]
    assert rows[1]["jobs"] == 2 and "jobs" not in rows[0]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op.cycle") as s:
        assert s is None
    assert t.spans == []


# ------------------------------------------------------------------ LRU replay
def test_replay_counts_hits_misses_and_eviction():
    known = {"a", "b", "c", "d"}
    reqs = [
        (["a", "b"], False, known),  # 2 misses
        (["a"], False, known),  # hit
        (["c"], False, known),  # miss; cache a b c (cap 3)
        (["d"], False, known),  # miss; evicts b (a was touched more recently)
        (["b"], False, known),  # miss again; evicts a
        (["a", "zz"], False, known),  # a misses, OOV zz misses; cache b a zz
        (["zz"], True, known),  # OOV is cached as such: a hit even with positions
        (["a"], True, known),  # cached without positions: a miss
        None,  # fresh probe
        (["a"], False, known),
    ]
    assert replay_lru(reqs, cap=3) == [
        (0, 2), (1, 0), (0, 1), (0, 1), (0, 1), (0, 2), (1, 0), (0, 1), (0, 1)]


def _fake_probe(terms: list[str], cap: int):
    """A LocalIndexProbe over in-memory postings and dictionary tables."""
    from semantic_search_engine_spark.operators.codec import encode_posting_list, varint_encode
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    rows = []
    for i, t in enumerate(terms):
        docids = np.arange(i, i + 5, dtype=np.int64)
        (blk,) = encode_posting_list(docids, np.ones(5), np.full(5, 10))
        blk.update(term=t, positions_bin=varint_encode(np.arange(5, dtype=np.uint64)))
        rows.append(blk)
    post = pa.Table.from_pylist(rows)
    dic = pa.table({"term": terms, "idf": [1.0 + i for i in range(len(terms))]})
    probe = LocalIndexProbe.__new__(LocalIndexProbe)
    probe._post, probe._dict, probe._ds = ds.dataset(post), ds.dataset(dic), ds
    probe._cache, probe._cache_cap = OrderedDict(), cap
    return probe


def test_replay_matches_the_probe_lru():
    """The replay keeps the same entries, in the same order, in the same
    state as the probe's own cache, call for call."""
    known = [f"t{i}" for i in range(40)]
    probe = _fake_probe(known, cap=12)
    lru = TermLru(12)
    rng = random.Random(5)
    vocab = known + [f"oov{i}" for i in range(10)]
    for _ in range(300):
        terms = sorted(set(rng.sample(vocab, rng.randint(1, 4))))
        positions = rng.random() < 0.3
        before = OrderedDict(probe._cache)
        hits, misses = lru.request(terms, positions, set(known))
        probe._load_terms(terms, positions=positions)
        want_miss = sum(1 for t in terms if t not in before or (
            positions and before[t] is not None and before[t][4] is None))
        assert (hits, misses) == (len(terms) - want_miss, want_miss)
        state = {t: "oov" if v is None else ("plain" if v[4] is None else "pos")
                 for t, v in probe._cache.items()}
        assert list(lru.cache.items()) == list(state.items())


# ----------------------------------------------------------------- fingerprint
def test_fingerprint_is_stable_and_sensitive():
    a = {"docs": [("u1", "x")], "seed": 1}
    assert fingerprint(a) == fingerprint({"seed": 1, "docs": [["u1", "x"]]})
    assert fingerprint(a) != fingerprint({"docs": [("u1", "y")], "seed": 1})


# ------------------------------------------------------------------- event log
def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250}},
    ]
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    d.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (tmp_path / "eventlog_v2_app" / "appstatus_app").write_text("")
    got = read_event_log(str(tmp_path))
    assert got["span-3"] == {"jobs": 1, "executor_run_s": 2.0, "input_bytes": 100,
                             "shuffle_write_bytes": 40}
    assert got["-"]["jobs"] == 1 and got["-"]["executor_run_s"] == 0.25


# ------------------------------------------------------------ oracle compare
def test_same_ranking_treats_last_bit_differences_as_ties():
    from perfbench.oracle import same_ranking

    # the engine scores 245 and 303 identically and ranks by docid; the
    # oracle's sum differs in the last bit and already ranks by docid
    got = [(102, 7.28), (245, 4.541242204896909), (303, 4.541242204896909)]
    want = [(102, 7.28), (245, 4.541242204896909), (303, 4.54124220489691)]
    assert same_ranking(got, want)
    assert not same_ranking(got, [(102, 7.28), (303, 4.54124220489691), (245, 4.5412422)])
    assert not same_ranking(got[:2], want)
    assert not same_ranking([(102, 7.28)], [(102, 7.29)])
    # the engine ranks by its exact score: a last-bit higher score may
    # come first whatever its docid
    assert same_ranking([(102, 7.28), (303, 4.54124220489691), (245, 4.541242204896909)], want)


def test_same_ranking_keeps_the_engines_order():
    from perfbench.oracle import same_ranking

    want = [(7, 3.5), (2, 2.25), (9, 1.0)]
    assert same_ranking(want, want)
    # the right top-k with a distinct-score pair swapped
    assert not same_ranking([(2, 2.25), (7, 3.5), (9, 1.0)], want)
    # exactly equal scores must rank by docid ascending
    tied = [(2, 2.25), (7, 2.25)]
    assert same_ranking(tied, tied)
    assert not same_ranking([(7, 2.25), (2, 2.25)], tied)


def test_same_ranking_accepts_any_tie_cut_by_k():
    from perfbench.oracle import same_ranking

    # a 1-term query (ingest, seed 107): two pages (tf 2, dl 92 and tf 3,
    # dl 152) score the same in exact arithmetic; the engine's float sum
    # puts docid 163 three ulps above 97, DuckDB's the other way round
    top = [(208, 1.9789881532931024), (203, 1.8828729129712707), (192, 1.8282308937314757),
           (142, 1.722035249562563)]
    got = top + [(163, 1.6434205968651419)]
    want = top + [(97, 1.6434205968651414), (163, 1.6434205968651414)]  # k=5 and its tie
    assert same_ranking(got, want, 5)
    assert same_ranking(top + [(97, 1.6434205968651414)], want, 5)
    assert not same_ranking(got, want)  # without k, want is a plain top list
    assert not same_ranking(top + [(5, 1.6434205968651419)], want, 5)  # not in the tie
    assert not same_ranking(got + [(97, 1.6434205968651414)], want, 5)  # more than k
    assert not same_ranking(top[:3] + got[4:] + [top[3]], want, 5)


def test_oracle_returns_the_tie_cut_by_k():
    import pandas as pd

    from perfbench.oracle import bm25_topk

    docs = pd.DataFrame({"docid": [1, 2, 3], "text": ["a b", "c a", "d e"]})
    [hits] = bm25_topk(docs, [("a", 1)])
    assert [d for d, _ in hits] == [1, 2] and hits[0][1] == hits[1][1]
    [hits] = bm25_topk(docs, [("a b", 1)])
    assert [d for d, _ in hits] == [1]


# ------------------------------------------------------------------ inputs
def test_inputs_are_a_pure_function_of_the_seed():
    from perfbench.inputs import make_inputs
    from perfbench.workload import WORKLOADS

    a = make_inputs("ingest", WORKLOADS["ingest"], 3, 2)
    b = make_inputs("ingest", WORKLOADS["ingest"], 3, 2)
    c = make_inputs("ingest", WORKLOADS["ingest"], 4, 2)
    assert a.fingerprint == b.fingerprint != c.fingerprint
    assert a.rounds[1].phrases == b.rounds[1].phrases
    assert [len(rd.batch) for rd in a.rounds] == [160, 160]
    assert [len(b) for b in a.rounds[0].batches] == [50, 1024]
    assert [k for k, _ in a.rounds[0].stream if k not in ("single", "phrase")] == [
        "narrow", "wide"]


# ---------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_the_emitted_metrics():
    import re

    from perfbench.workload import END_TO_END, PER_LAYER, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ------------------------------------------------------------------ repeat
def _rec(seed, fp, value, trace=0):
    return {"workload": "serve", "seed": seed, "trace": trace, "rc": 0, "fingerprint": fp,
            "detail": {"e2e": {"query_p75_ms": value}},
            "result": {"metrics": {} if trace else {"query_p75_ms": {"value": value}}}}


def test_compare_refuses_different_inputs_and_pairs_traced_runs(capsys):
    from perfbench.repeat import compare

    a = [_rec(1, "x", 1.0), _rec(2, "y", 2.0)]
    assert compare(a, [_rec(1, "x", 1.5, trace=1), _rec(2, "y", 2.5, trace=1)], {}) == 0
    assert "query_p75_ms" in capsys.readouterr().out
    assert compare(a, [_rec(1, "x", 1.5), _rec(2, "z", 2.5)], {}) == 2
    assert "refusing" in capsys.readouterr().out
