"""Plan-shape assertions: the flagship query paths must keep the
physical plan we designed (pushdown, broadcast, distributed top-k)."""

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.fixtures.webtext import generate_webtext
from semantic_search_engine_spark.operators.build import build_index
from semantic_search_engine_spark.operators.docids import mint_docids
from semantic_search_engine_spark.operators.postings import (
    corpus_stats,
    doc_freq,
    scored_postings,
    term_frequencies,
)
from semantic_search_engine_spark.operators.query import IndexReader
from semantic_search_engine_spark.operators.topk import search, search_phrase
from semantic_search_engine_spark.plans import audit


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pidx"))
    docs = generate_webtext(spark, 300)
    build_index(docs, d, num_shards=4)
    return d


def test_postings_scan_pushes_term_filter(spark, small_index):
    reader = IndexReader(spark, small_index)
    df = reader.postings().filter(F.col("term").isin(["bababa", "cecece"]))
    assert audit.has_pushed_filter(df, "In(term")


def test_exhaustive_topk_is_take_ordered(spark):
    docs = mint_docids(generate_webtext(spark, 300), num_buckets=4)
    stats = corpus_stats(docs)
    postings = term_frequencies(docs)
    scored = scored_postings(postings, doc_freq(postings), stats)
    res = search(scored, "bababa cecece", 5)
    assert audit.is_take_ordered(res)
    assert audit.has_broadcast_join(res)  # df-table join stays broadcast
    # map-side partial agg before the shuffle (SPIMI-style combine)
    assert "partial_sum" in audit.physical_plan(res)
    res.collect()  # finalize AQE → codegen stages become visible
    assert audit.codegen_stage_count(res) >= 2


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("megaidx"))
    build_index(generate_webtext(spark, 200), d, num_shards=3, store_positions=True)
    return d


def test_phrase_mega_batch_plan_is_broadcast(spark, pos_index):
    """The phrase plan must carry the batch's term set as BROADCAST
    joins (terms⋈dictionary for idf, then term_idf⋈postings as the scan
    filter) — no shuffle join of the tiny term side, no cartesian
    product anywhere."""
    from semantic_search_engine_spark.operators.query import search_index_phrase

    reader = IndexReader(spark, pos_index)
    queries = [
        {"qid": 0, "query": "bababa cecece", "k": 5},
        {"qid": 1, "query": "dadada bababa", "k": 5, "gap": 3},
    ]
    df = search_index_phrase(reader, queries)
    plan = audit.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    df.collect()  # the plan executes


def test_wide_batch_terms_arrive_by_broadcast_join(spark, pos_index):
    """At 1,200 distinct terms neither WAND nor phrase may filter the
    postings with an ``In``/``InSet`` literal on ``term`` (PySpark
    builds one per element, one py4j call each): the term set is a
    LocalTableScan relation that reaches the scan through
    BroadcastHashJoins on ``term``."""
    import re

    from semantic_search_engine_spark.fixtures.webtext import vocab
    from semantic_search_engine_spark.operators.query import (
        search_index_phrase,
        search_index_wand,
    )

    v = vocab()
    queries = [{"qid": i, "query": f"{v[2 * i]} {v[2 * i + 1]}", "k": 5} for i in range(600)]
    assert len({t for q in queries for t in q["query"].split()}) >= 1000
    reader = IndexReader(spark, pos_index)
    for search in (search_index_wand, search_index_phrase):
        plan = audit.physical_plan(search(reader, queries))
        assert not re.search(r"term#\d+ (INSET|IN \()|\bIn(Set)?\(term", plan), search.__name__
        assert len(re.findall(r"BroadcastHashJoin \[term#\d+\]", plan)) >= 2, search.__name__
        assert re.search(r"LocalTableScan \[term#\d+\]", plan), search.__name__


def test_filter_funnel_is_single_pass(spark):
    """The cleaning funnel claims one scan→project→agg — no joins, no
    second read of the corpus (the per-doc columns are computed inline,
    not joined from separate per-column DataFrames)."""
    from semantic_search_engine_spark.operators.textstats import filter_funnel

    docs = generate_webtext(spark, 200).select("url", "text")
    plan = audit.physical_plan(filter_funnel(docs, id_col="url"))
    assert "Join" not in plan
    assert plan.count("Range") == 1  # the generator source appears once


def test_phrase_verify_stays_above_candidate_join(spark):
    """The tokenize+adjacency predicate must evaluate ONLY on joined
    candidate rows. Catalyst pushes deterministic single-side filters
    below joins, which would re-tokenize the whole corpus per phrase
    query — search_phrase pins the filter above the join with a
    non-splittable both-sides CASE expression; this asserts the pin
    holds (the plan tree prints parent-first, so filter-above-join
    means the adjacency marker appears before the join line)."""
    docs = mint_docids(generate_webtext(spark, 300), num_buckets=4)
    stats = corpus_stats(docs)
    postings = term_frequencies(docs)
    scored = scored_postings(postings, doc_freq(postings), stats)
    res = search_phrase(scored, docs.select("docid", "text"), "bababa cecece", 5)
    lines = audit.physical_plan(res).splitlines()
    # join strategy is AQE's choice (broadcast for small candidate
    # sets, shuffle for stop-word-scale ones) — the invariant under
    # audit is WHERE the adjacency predicate evaluates, not which
    # join operator runs
    join_at = [
        i for i, ln in enumerate(lines)
        if ("Join [docid" in ln or "Join docid" in ln or "HashJoin [docid" in ln
            or "SortMergeJoin [docid" in ln)
    ]
    adj_at = [i for i, ln in enumerate(lines) if "exists(" in ln]
    assert join_at and adj_at  # candidate join present; adjacency survived
    # filter at/above the candidate join (Catalyst may fold it into the
    # join condition — same guarantee); never pushed into the scan below
    assert min(adj_at) <= min(join_at)
    assert all(i <= min(join_at) for i in adj_at)


def test_lambdas_read_only_their_own_variables(spark, tmp_path):
    """No higher-order-function lambda in the text-statistics or
    text-phrase expressions, or in the driver's newline view of the
    corpus, reads an outer expression (Spark would re-evaluate it once
    per array element); the old index-scan n-gram form is flagged, so
    the lint can fail."""
    import __spark_entry__ as entry

    from semantic_search_engine_spark.functions.tokenizer import tokens_col
    from semantic_search_engine_spark.operators import textstats as ts
    from semantic_search_engine_spark.operators.topk import phrase_match_expr

    docs = spark.createDataFrame(
        [(0, "a b a b\nx\nx 4111 1111 1111 1111 DE89370400440532013000")],
        "doc_id long, text string",
    )
    text = F.col("text")
    outputs = {
        "repetition_stats": ts.repetition_stats(docs),
        "top_ngram_frac_col": docs.select(ts.top_ngram_frac_col(text, 3)),
        "line_stats": ts.line_stats(docs),
        "ngram_counts": ts.ngram_counts(docs, n=3),
        "decontaminate": ts.decontaminate(docs, docs, n=2),
        "boilerplate_stats": ts.boilerplate_stats(docs),
        "cc_luhn_stats": ts.cc_luhn_stats(docs),
        "iban_stats": ts.iban_stats(docs, registry=True),
        "pii_stats": ts.pii_stats(docs, patterns=ts.PII_PATTERNS_V2),
        "gopher_rules": ts.gopher_rules(docs),
        "lang_id": ts.lang_id(docs),
        "filter_funnel": ts.filter_funnel(docs, max_top_ngram_frac=0.5),
        "phrase_match_expr": docs.filter(phrase_match_expr(tokens_col(text), ["a", "b"])),
    }
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    outputs["_docs_with_lines"] = entry._docs_with_lines(spark, str(tmp_path))
    for name, df in outputs.items():
        assert audit.lambda_outer_refs(df) == [], name

    ts_ = tokens_col(text)
    old = docs.select(
        F.transform(F.sequence(F.lit(1), F.size(ts_)), lambda i: F.element_at(ts_, i))
    )
    (flagged,) = audit.lambda_outer_refs(old)
    assert flagged.startswith("filter(split(lower(text")
