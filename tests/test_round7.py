"""Round-7 additions: gap-independent proximity-boost chain filter
(sparse-table range max), vectorized mega-batch WAND kernel, line-level
dedup signals, tiered LSM compaction, the events_windowed driver entry,
the Gopher funnel stage, Luhn/mod-97 checksum masking, deterministic
perplexity-bucket sampling, and boolean MUST_NOT retrieval."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.fixtures.webtext import generate_queries, generate_webtext


# ------------------------------------------------- interval max / big gaps

def test_interval_max_fuzz():
    """_interval_max must equal the explicit per-interval max (and -1 on
    empty intervals) for random arrays and random interval sets."""
    from semantic_search_engine_spark.operators.query import _interval_max

    rng = np.random.default_rng(20260819)
    for _ in range(80):
        n = int(rng.integers(1, 200))
        vals = rng.integers(0, 10_000, size=n).astype(np.int64)
        m = int(rng.integers(1, 50))
        lo = rng.integers(0, n + 1, size=m).astype(np.int64)
        hi = np.minimum(lo + rng.integers(0, n + 1, size=m), n).astype(np.int64)
        got = _interval_max(vals, lo, hi)
        want = [int(vals[a:b].max()) if b > a else -1 for a, b in zip(lo, hi)]
        assert got.tolist() == want
    # all-empty and empty-vals edges
    assert _interval_max(np.empty(0, np.int64), np.array([0]), np.array([0])).tolist() == [-1]
    assert _interval_max(
        np.array([7], np.int64), np.array([0, 1]), np.array([0, 1])
    ).tolist() == [-1, -1]


def test_chain_survivors_slack_large_gap_fuzz():
    """The boosted chain filter at LARGE gaps (up to 60): the windowed
    range-max path must still equal brute-force chain enumeration —
    the config where the old per-gap-offset probe paid O(max_gap)
    passes and the sparse table pays O(log)."""
    from itertools import product

    from semantic_search_engine_spark.operators.query import _chain_survivors

    rng = np.random.default_rng(20260820)
    for trial in range(30):
        L = int(rng.integers(2, 4))
        max_gap = int(rng.integers(20, 61))
        words = [f"w{j}" for j in range(L)]
        n_docs = int(rng.integers(1, 5))
        docids = np.sort(rng.choice(1000, size=n_docs, replace=False)).astype(np.int64)
        pos_by = {w: {} for w in words}
        for d in docids:
            for w in words:
                cnt = int(rng.integers(1, 4))
                pos_by[w][int(d)] = np.sort(
                    rng.choice(200, size=cnt, replace=False)
                ).astype(np.int64)
        data = {}
        for w in words:
            tfs = np.array([len(pos_by[w][int(d)]) for d in docids], dtype=np.int64)
            pos = np.concatenate([pos_by[w][int(d)] for d in docids])
            rs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            data[w] = (docids, tfs, np.full(n_docs, 250, dtype=np.int64), pos, rs)

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


# ------------------------------------------------- line-level dedup signals

def test_line_stats_semantics(spark):
    """line_stats must equal a brute-force Counter reference on
    handcrafted docs (dup lines, all-distinct, empty lines, empty doc),
    and its plan must have ZERO shuffles (per-doc signal)."""
    from collections import Counter

    from semantic_search_engine_spark.operators.textstats import line_stats
    from semantic_search_engine_spark.plans import audit

    rows = [
        (0, "nav bar\ncontent one\nnav bar\nfooter\nnav bar"),  # 'nav bar' x3
        (1, "alpha\nbeta\ngamma"),                              # all distinct
        (2, "x\n\n\nx"),                                        # empties excluded; 'x' x2
        (3, ""),                                                # no lines
        (4, "only"),                                            # one line
        (5, "aa\nbbbb\naa\nbbbb"),                              # all duplicated
        # a long page: 150 lines drawn from 60, so most lines repeat
        (6, "\n".join(f"line {i * 7 % 60}" for i in range(150))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        int(r["doc_id"]): (
            int(r["n_lines"]), float(r["dup_line_frac"]), float(r["dup_char_frac"])
        )
        for r in line_stats(docs).collect()
    }
    for did, text in rows:
        lines = [l for l in text.split("\n") if l != ""]
        if not lines:
            assert got[did] == (0, 0.0, 0.0), did
            continue
        c = Counter(lines)
        m = len(lines)
        dup = sum(v for v in c.values() if v > 1)
        tot_ch = sum(len(l) for l in lines)
        dup_ch = sum(len(l) * v for l, v in c.items() if v > 1)
        want = (m, round(dup / m, 6), round(dup_ch / tot_ch, 6))
        assert got[did] == want, (did, got[did], want)
    plan = audit.physical_plan(line_stats(docs))
    assert "Exchange" not in plan  # zero shuffles: scan -> project only


# ------------------------------------------------- vectorized mega-batch WAND

@pytest.fixture(scope="module")
def wand_index7(spark, tmp_path_factory):
    from semantic_search_engine_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("widx7"))
    build_index(generate_webtext(spark, 2000), d, num_shards=6)
    return d


def test_wand_vectorized_identical(spark, wand_index7, monkeypatch):
    """The exact WAND kernel must equal the exhaustive path (driver-
    collected idf) at 1e-9 across OOV, mixed-OOV, single-term, and
    varying-k queries; under the boundary-tie contract it must return
    those rows plus only rows tying their query's k-th score; and its
    rows must not depend on the score matrix's chunk width."""
    from semantic_search_engine_spark.operators import query
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        search_index_exhaustive,
        search_index_wand,
    )

    reader = IndexReader(spark, wand_index7)
    queries = generate_queries(n_queries=120)  # includes the OOV query
    queries.append({"qid": 900, "query": "zzznope bababa", "k": 7})

    def rows(**kw):
        return sorted(
            (r["qid"], r["rank"], r["docid"], r["score"])
            for r in search_index_wand(reader, queries, **kw).collect()
        )

    want = rows()
    rounded = lambda rs: [(q, r, d, round(s, 9)) for q, r, d, s in rs]
    exhaustive = sorted(
        (r["qid"], r["rank"], r["docid"], r["score"])
        for r in search_index_exhaustive(reader, queries).collect()
    )
    assert rounded(want) == rounded(exhaustive)
    # boundary-tie contract: every plain row survives with its score,
    # and every extra row ties its query's k-th score (rank() numbers
    # tied rows alike, so ranks are not compared)
    plain = {(q, d, s) for q, _, d, s in want}
    tied = {(q, d, s) for q, _, d, s in rows(keep_boundary_ties=True)}
    assert plain <= tied
    k_of = {q["qid"]: q["k"] for q in queries}
    kth = {q: s for q, r, _, s in want if r == k_of[q]}
    assert all(s == kth[q] for q, _, s in tied - plain)
    # chunk invariance: a tiny absolute cell budget forces the kernel
    # to shrink its (queries x docs) chunk per shard group; per-query
    # rows of the matrix are independent, so results must not move at all.
    monkeypatch.setattr(query, "WAND_VEC_CELL_BUDGET", 2000)
    assert rows() == want


def test_wand_vectorized_auto_threshold(spark, wand_index7):
    """The ``vectorized`` keyword is accepted and ignored: every value
    gives the same rows (one exact kernel at every width), and the
    approximate ``theta_factor`` mode still runs, with or without it."""
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_wand

    reader = IndexReader(spark, wand_index7)
    queries = generate_queries(n_queries=30)

    def rows(**kw):
        return sorted(
            (r["qid"], r["rank"], r["docid"], r["score"])
            for r in search_index_wand(reader, queries, **kw).collect()
        )

    auto = rows()
    assert rows(vectorized=False) == auto
    assert rows(vectorized=True) == auto
    assert rows(theta_factor=1.5, vectorized=True) == rows(theta_factor=1.5)


# ------------------------------------------------- tiered LSM compaction

def _served_rows(spark, d, queries):
    """Tie-complete (qid, url, score) set — internal docids differ
    between independently built indexes, so identity is checked on the
    external key."""
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_wand
    from semantic_search_engine_spark.sources import index_store

    res = search_index_wand(IndexReader(spark, d), queries, keep_boundary_ties=True)
    dm = index_store.read_docmap(spark, d).select("docid", "url")
    return sorted(
        (r["qid"], r["url"], round(r["score"], 9))
        for r in res.join(dm, "docid").collect()
    )


def test_compaction_serves_identical(spark, tmp_path_factory):
    """N micro-batch ingests (finalize=False) + tiered compaction +
    one finalize must serve rank-identical to a single full build —
    WAND and indexed-phrase alike (positions streams survive the
    merge) — with live generations bounded and retired shard dirs
    gone."""
    from semantic_search_engine_spark.operators.build import (
        _live_generations,
        build_index,
        compact_generations,
        finalize_index,
        ingest_generation,
    )
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_phrase
    from semantic_search_engine_spark.sources import index_store

    docs = generate_webtext(spark, 1200).cache()
    docs.count()
    d_full = str(tmp_path_factory.mktemp("cmp_full"))
    build_index(docs, d_full, num_shards=4, store_positions=True)
    d_inc = str(tmp_path_factory.mktemp("cmp_inc"))
    n_gens = 6
    for i in range(n_gens):
        part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(n_gens)) == i)
        ingest_generation(
            part, d_inc, num_shards=2, finalize=False, store_positions=True
        )
    merges = compact_generations(spark, d_inc, tier_k=2)
    assert merges >= 2  # tiers actually cascaded
    live = _live_generations(spark, d_inc)
    assert len(live) <= 3  # 6 equal gens at tier_k=2 collapse hard
    finalize_index(spark, d_inc)

    # the on-disk segment/docmap dirs are exactly the live manifest's
    m = index_store.read_manifest(spark, d_inc)
    live_shards = {r["shard"] for r in m.select("shard").distinct().collect()}
    import os

    for sub in ("segments", "docmap"):
        on_disk = {
            int(nm.split("=")[1])
            for nm in os.listdir(os.path.join(d_inc, sub))
            if nm.startswith("shard=")
        }
        assert on_disk <= live_shards, sub

    queries = generate_queries(n_queries=25)
    assert _served_rows(spark, d_inc, queries) == _served_rows(spark, d_full, queries)

    # phrase serving from merged positions streams
    from semantic_search_engine_spark.functions.tokenizer import tokenize

    sample = docs.orderBy("url").limit(3).collect()
    phr = [
        {"qid": i, "query": " ".join(tokenize(r["text"])[2:4]), "k": 5}
        for i, r in enumerate(sample)
    ]

    def phrase_rows(d):
        res = search_index_phrase(
            IndexReader(spark, d), phr, keep_boundary_ties=True
        )
        dm = index_store.read_docmap(spark, d).select("docid", "url")
        return sorted(
            (r["qid"], r["url"], round(r["score"], 9))
            for r in res.join(dm, "docid").collect()
        )

    got, want = phrase_rows(d_inc), phrase_rows(d_full)
    assert got == want and len(got) > 0
    docs.unpersist()


def test_compaction_crash_replay_and_ingest_after(spark, tmp_path):
    """Crash/replay contracts around the compaction commit: (1) manifest
    rows from an UNcommitted compaction attempt are invisible; (2) a
    tagged replay of a compacted-away generation is recognized as
    complete (no rebuild); (3) a fresh ingest AFTER compaction
    allocates past the merged ranges and serves; (4) rebuilding into a
    retired range fails loudly."""
    from semantic_search_engine_spark.operators.build import (
        build_segments,
        compact_generations,
        finalize_index,
        ingest_generation,
    )
    from semantic_search_engine_spark.sources import index_store

    docs = generate_webtext(spark, 400).cache()
    docs.count()
    d = str(tmp_path / "idx")
    quarters = [
        docs.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == i) for i in range(4)
    ]
    for i, part in enumerate(quarters):
        ingest_generation(
            part, d, num_shards=2, finalize=False, tag=f"b{i}"
        )
    assert compact_generations(spark, d, tier_k=2) >= 2
    stats = finalize_index(spark, d)
    n_before = stats["n_docs"]

    # (1) orphaned compact-* manifest rows (no log record) are invisible
    index_store.append_manifest(
        spark, d,
        [{
            "shard": 9999, "n_docs": 123, "sum_dl": 1, "n_terms": 1,
            "n_blocks": 1, "n_postings": 1, "payload_bytes": 1,
            "first_docid": 10**9, "last_docid": 10**9,
            "batch_id": "compact-deadbeef00",
        }],
    )
    m = index_store.read_manifest(spark, d)
    assert m.filter(F.col("shard") == 9999).count() == 0

    # (2) replaying a retired generation's tag is a no-op, not a rebuild
    gens_before = len(index_store.read_generations(d))
    ingest_generation(quarters[0], d, num_shards=2, finalize=False, tag="b0")
    assert len(index_store.read_generations(d)) == gens_before

    # (3) ingest after compaction: fresh range, index grows, serves
    extra = generate_webtext(spark, 150, seed=99).withColumn(
        "url", F.concat(F.lit("x-"), F.col("url"))
    )
    stats2 = ingest_generation(extra, d, num_shards=2, finalize=True)
    assert stats2["n_docs"] == n_before + 150

    # (4) a build aimed at a retired shard range is refused
    retired_lo = index_store.compact_records(d)[0]["retires"][0][0]
    with pytest.raises(ValueError, match="retired"):
        build_segments(docs, d, num_shards=1, shard_base=int(retired_lo))
    docs.unpersist()


def test_compaction_generation_bound(spark, tmp_path):
    """8 equal micro-batches at tier_k=2 collapse to O(log N) live
    generations, and compaction is idempotent once converged."""
    from semantic_search_engine_spark.operators.build import (
        _live_generations,
        compact_generations,
        ingest_generation,
    )

    docs = generate_webtext(spark, 480).cache()
    docs.count()
    d = str(tmp_path / "idx")
    n = 8
    for i in range(n):
        part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(n)) == i)
        ingest_generation(part, d, num_shards=1, finalize=False)
    assert len(_live_generations(spark, d)) == n
    compact_generations(spark, d, tier_k=2)
    live = _live_generations(spark, d)
    import math

    assert len(live) <= 2 * math.ceil(math.log2(n))  # K·log N bound
    assert sum(g["n_docs"] for g in live) == 480  # no docs lost
    assert compact_generations(spark, d, tier_k=2) == 0  # converged
    docs.unpersist()


# ------------------------------------------------- PII masking

def test_pii_stats_semantics(spark):
    """pii_stats counts and redaction must equal Python `re` run with
    the same patterns and sequential-rewrite order, over docs covering
    each category, multi-category, adjacency, and no-PII cases; the
    plan stays zero-shuffle."""
    import re

    from semantic_search_engine_spark.operators.textstats import PII_PATTERNS, pii_stats
    from semantic_search_engine_spark.plans import audit

    rows = [
        (0, "write to alice.smith+x@sub.example.co.uk today"),
        (1, "server 192.168.0.1 and 10.0.0.255 are up"),
        (2, "call +44 20 7946 0958 or +1 555 0100"),
        (3, "mix a@b.io at 8.8.8.8 tel +33 61 23 45 67"),
        (4, "no pii here just words and 12345 numbers"),
        (5, "adjacent a@b.co1.2.3.4 weird"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    for did, text in rows:
        red = text
        want_counts = {}
        for name, pat in PII_PATTERNS:
            want_counts[name] = len(re.findall(pat, red))
            red = re.sub(pat, f"<{name.upper()}>", red)
        g = got[did]
        for name, _ in PII_PATTERNS:
            assert g[f"n_{name}"] == want_counts[name], (did, name)
        assert g["redacted"] == red, did
    # discriminating fixture: every category fired somewhere
    assert sum(g["n_email"] for g in got.values()) >= 3
    assert sum(g["n_ipv4"] for g in got.values()) >= 3
    assert sum(g["n_phone"] for g in got.values()) >= 3
    plan = audit.physical_plan(pii_stats(docs))
    assert "Exchange" not in plan  # zero shuffles: scan -> project only


def test_pii_stats_v2_semantics(spark):
    """PII_PATTERNS_V2 (email, full-form IPv6, MAC, IPv4, credit card,
    SSN, phone): counts and redaction equal Python `re` with the same
    patterns in the same sequential-rewrite order, over docs covering
    each new category, masking-order hazards (MAC-like pairs inside an
    IPv6; SSN-like runs inside a grouped card), and near-miss negatives
    (a clock time is not an IPv6; a date is not an SSN). Plan stays
    zero-shuffle."""
    import re

    from semantic_search_engine_spark.operators.textstats import (
        PII_PATTERNS_V2,
        pii_stats,
    )
    from semantic_search_engine_spark.plans import audit

    rows = [
        (0, "v6 up at 2001:0db8:85a3:0000:0000:8a2e:0370:7334 ok"),
        (1, "nic 00:1b:44:11:3a:b7 registered"),
        (2, "card 4111-1111-1111-1234 and 4012 8888 8888 1881 on file"),
        (3, "ssn 078-05-1120 leaked"),
        (4, "all: a@b.io 10.0.0.1 +44 20 7946 0958 fe80:1:2:3:4:5:6:7 "
            "aa-bb-cc-dd-ee-ff 5500-0000-0000-0004 219-09-9999"),
        (5, "meeting at 12:30:45 on 2026-08-17 is fine"),  # negatives
        (6, "v6-adjacent 1:2:3:4:5:6:7:8 then mac 01:02:03:04:05:06"),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = pii_stats(docs, patterns=PII_PATTERNS_V2)
    got = {r["doc_id"]: r for r in res.collect()}
    for did, text in rows:
        red = text
        want_counts = {}
        for name, pat in PII_PATTERNS_V2:
            want_counts[name] = len(re.findall(pat, red))
            red = re.sub(pat, f"<{name.upper()}>", red)
        g = got[did]
        for name, _ in PII_PATTERNS_V2:
            assert g[f"n_{name}"] == want_counts[name], (did, name)
        assert g["redacted"] == red, did
    # the near-miss doc must be untouched
    assert got[5]["redacted"] == rows[5][1]
    # every new category fired somewhere
    for cat in ("ipv6", "mac", "cc", "ssn"):
        assert sum(g[f"n_{cat}"] for g in got.values()) >= 2, cat
    plan = audit.physical_plan(res)
    assert "Exchange" not in plan


def test_decontaminate_semantics(spark):
    """decontaminate must equal a brute-force Python n-gram overlap:
    distinct-n-gram counts, overlap vs the eval vocabulary, fraction,
    and flag — over docs that fully overlap (eval members), partially
    overlap (shared phrase), don't overlap, and are too short for any
    n-gram. The corpus side attaches the eval vocabulary by broadcast
    (BroadcastNestedLoopJoin), never a shuffle join."""
    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.textstats import decontaminate
    from semantic_search_engine_spark.plans import audit

    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "a completely different sentence with no shared phrases at all"),
        (2, "we saw the quick brown fox jumps over a fence yesterday morning"),
        (3, "too short for grams"),
        (4, ""),
        (5, "the quick brown fox jumps over the lazy dog tonight again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = docs.filter(F.col("doc_id").isin(0, 1))
    n = 5
    res = decontaminate(docs, ev, n=n)
    got = {r["doc_id"]: r for r in res.collect()}

    def grams(text):
        ts = tokenize(text)
        return {" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)}

    vocab = set().union(*(grams(t) for d, t in rows if d in (0, 1)))
    for did, text in rows:
        g = grams(text)
        ov = len(g & vocab)
        want = (
            len(g), ov,
            round(ov / len(g), 6) if g else 0.0,
            ov > 0,
        )
        r = got[did]
        assert (
            r["n_grams"], r["n_overlap"], r["overlap_frac"], r["contaminated"]
        ) == want, (did, want)
    assert got[3]["n_grams"] == 0 and not got[3]["contaminated"]
    assert got[2]["contaminated"] and got[2]["overlap_frac"] < 1.0
    plan = audit.physical_plan(res)
    assert "BroadcastNestedLoopJoin" in plan  # one-row eval vocab attach
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_sequence_chunks_semantics(spark):
    """sequence_chunks must equal a brute-force per-range running-sum
    chunk assignment: offsets restart at each range boundary, a doc
    exactly filling a chunk does not straddle, a doc crossing one does,
    a zero-token doc spans zero chunks, and concatenating per-range
    (chunk_first, spans) reconstructs a gapless chunk stream."""
    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.textstats import sequence_chunks

    # token counts by construction: "w " * k has k tokens
    def doc(i, k):
        return (i, ("w " * k).strip())

    rows = [
        doc(0, 4), doc(1, 4),      # fills chunk 0 exactly (chunk=8)
        doc(2, 3), doc(3, 6),      # doc 3 straddles chunks 1-2
        (4, ""),                    # zero tokens at offset 17
        doc(5, 11),                 # spans 2 chunks (17..27)
        # range 2 (range_docs=6): offsets restart
        doc(6, 5), doc(7, 9),      # doc 7 starts at 5, spans 5..13 -> 2 chunks
        doc(11, 2),                 # gap in ids is fine; still range 1
    ]
    chunk, rng = 8, 6
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["range_id"], r["n_tokens"], r["start_offset"],
            r["chunk_first"], r["chunks_spanned"],
        )
        for r in sequence_chunks(docs, chunk_tokens=chunk, range_docs=rng).collect()
    }
    offs = {}
    for did, text in sorted(rows):
        n = len(tokenize(text))
        rid = did // rng
        start = offs.get(rid, 0)
        offs[rid] = start + n
        first = start // chunk
        spans = ((start + n - 1) // chunk) - first + 1 if n else 0
        assert got[did] == (rid, n, start, first, spans), (did, got[did])
    assert got[1][4] == 1 and got[1][2] == 4      # exact fill, no straddle
    assert got[3][4] == 2                          # crosses a boundary
    assert got[4] == (0, 0, 17, 2, 0)              # empty doc
    assert got[6][2] == 0                          # range restart
    assert got[11][0] == 1


def test_gopher_rules_semantics(spark):
    """gopher_rules must equal a brute-force Python evaluation of the
    Rae et al. A1.1 rules over docs engineered to fail each rule
    individually (too short, long gibberish words, symbol spam,
    numeric words, no stopwords) plus one that passes everything;
    plan stays zero-shuffle."""
    import re

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )
    from semantic_search_engine_spark.plans import audit

    good = (
        "the quick brown fox jumps over that lazy dog and runs off "
        "with the bone to have some peace of mind near the old barn"
    )
    rows = [
        (0, good),                                             # passes all
        (1, "too short to have the words"),                    # n_words
        (2, " ".join(["pneumonoultramicroscopics"] * 25)),     # mean len high
        (3, "a b c d e " * 5 + "the of and to be"),            # mean len low
        (4, ("# " * 10 + "... ") * 3 + good),                  # symbol ratio
        (5, " ".join(str(i) for i in range(30)) + " the of"),  # alpha frac
        (6, " ".join(["giraffe elephant zebra lion"] * 8)),    # stopwords
        (7, ""),                                               # empty
    ]
    kw = dict(min_words=20, min_mean_word_len=3.0, max_mean_word_len=10.0,
              max_symbol_ratio=0.1, min_alpha_word_frac=0.8, min_stopwords=2)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = gopher_rules(docs, **kw)
    got = {r["doc_id"]: r for r in res.collect()}
    for did, text in rows:
        words = [w for w in re.split(r"\s+", text.strip()) if w]
        nw = len(words)
        mwl = sum(len(w) for w in words) / nw if nw else 0.0
        nsym = len(re.findall(r"#|\.\.\.", text))
        symr = nsym / nw if nw else 0.0
        af = (sum(1 for w in words if re.search("[A-Za-z]", w)) / nw) if nw else 0.0
        nstop = sum(1 for t in tokenize(text) if t in GOPHER_STOPWORDS)
        keep = int(
            20 <= nw <= 100_000 and 3.0 <= mwl <= 10.0 and symr <= 0.1
            and af >= 0.8 and nstop >= 2
        )
        g = got[did]
        assert (
            g["n_words"], g["mean_word_len"], g["symbol_ratio"],
            g["alpha_word_frac"], g["n_stopwords"], g["keep"],
        ) == (nw, round(mwl, 6), round(symr, 6), round(af, 6), nstop, keep), did
    assert got[0]["keep"] == 1
    assert [got[d]["keep"] for d in range(1, 8)] == [0] * 7  # each rule fires
    plan = audit.physical_plan(res)
    assert "Exchange" not in plan


def test_perplexity_buckets_semantics(spark):
    """perplexity_buckets must bucket every doc by the exact tercile
    order statistics of the deterministic sample's mean_logprob —
    verified against a brute-force Python unigram LM + sorted-sample
    cuts, with the empty-sample refusal and the empty-doc spine row."""
    import math
    from collections import Counter

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.textstats import perplexity_buckets

    rows = [
        (0, "the the the the the the the the"),          # max-fluency (sample)
        (1, "aardvark zyzzyva qoph xylyl"),              # rare junk
        (2, "the quick brown fox and the lazy dog"),
        (3, "the and the and the and"),                  # common tokens (sample: 3? no)
        (4, "zyzzyva zyzzyva the"),
        (5, ""),                                          # empty doc
        (6, "the fox and the dog ran"),
        (7, "quick quick brown brown"),
    ]
    mod = 2  # sample = even doc_ids (incl. the empty doc's 0.0 row)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"], r["bucket"])
        for r in perplexity_buckets(docs, sample_mod=mod).collect()
    }

    cnt = Counter(t for _, text in rows for t in tokenize(text))
    total = sum(cnt.values())
    lp = {}
    for did, text in rows:
        ts = tokenize(text)
        lp[did] = (
            round(sum(math.log(cnt[t] / total) for t in ts) / len(ts), 6)
            if ts
            else 0.0
        )
    sample = sorted(lp[d] for d, _ in rows if d % mod == 0)
    m = len(sample)
    t1, t2 = sample[m // 3], sample[(2 * m) // 3]
    for did, text in rows:
        want_bucket = (
            "head" if lp[did] >= t2 else "middle" if lp[did] >= t1 else "tail"
        )
        nt = len(tokenize(text))
        assert got[did] == (nt, lp[did], want_bucket), (did, got[did])
    assert {b for _, _, b in got.values()} == {"head", "middle", "tail"}
    assert got[5][2] in ("head", "middle", "tail")  # empty doc still bucketed
    # empty sample refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty fluency sample"):
        perplexity_buckets(docs.filter(F.col("doc_id") % 2 == 1), sample_mod=2)


def test_boilerplate_stats_semantics(spark):
    """boilerplate_stats must equal a brute-force Python computation of
    the cross-doc hot-n-gram occurrence fraction — over a fixture with
    a shared boilerplate header (hot), unique bodies (cold), repeated
    in-doc grams that are NOT cross-doc (must stay cold: df counts
    DISTINCT docs), and a too-short doc (explicit zero row)."""
    from collections import Counter

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.textstats import boilerplate_stats

    header = "all rights reserved by the site owner"
    rows = [
        (0, f"{header} welcome to my unique page about gardening tools"),
        (1, f"{header} a completely different essay on marine biology"),
        (2, "nothing shared here with anything else in this corpus today"),
        (3, "spam spam spam spam spam spam wonderful spam"),  # in-doc only
        (4, "too short"),
        (5, ""),
    ]
    n, min_df = 3, 2
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hot"], r["hot_frac"])
        for r in boilerplate_stats(docs, n=n, min_df=min_df).collect()
    }

    def grams(text):
        ts = tokenize(text)
        return [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]

    df = Counter()
    for _, t in rows:
        for gm in set(grams(t)):
            df[gm] += 1
    hot = {gm for gm, c in df.items() if c >= min_df}
    for did, text in rows:
        gs = grams(text)
        nh = sum(1 for gm in gs if gm in hot)
        want = (len(gs), nh, round(nh / len(gs), 6) if gs else 0.0)
        assert got[did] == want, (did, got[did], want)
    assert got[4] == (0, 0, 0.0) and got[5] == (0, 0, 0.0)
    # docs 0/1 share the header: hot but not 1.0; doc 3's in-doc
    # repetition must NOT count (df is distinct-doc)
    assert 0.0 < got[0][2] < 1.0 and got[3][1] == 0


# ------------------------------------------------- local IVF-PQ exact rerank

def test_local_ivfpq_rerank_equals_distributed_search(spark, tmp_path):
    """LocalIVFPQProbe.search(rerank=N) must return row-identical
    results to IVFPQIndex.search(shortlist=N) — the distributed exact
    rerank's quality at local-probe latency — and fail loudly on a
    layout saved without raw vectors."""
    from semantic_search_engine_spark.fixtures.vectors import (
        generate_query_vectors,
        generate_vectors,
    )
    from semantic_search_engine_spark.operators import similarity

    emb = generate_vectors(spark, 4000).cache()
    emb.count()
    idx = similarity.IVFPQIndex.build(emb, n_clusters=16, n_segments=8, n_codes=16)
    d = str(tmp_path / "ivfpq")
    idx.save(d, emb=emb)
    probe = similarity.LocalIVFPQProbe(d)
    qs = generate_query_vectors(6)
    for q in qs:
        got = probe.search(q, k=5, n_probe=4, rerank=30)
        want = [
            (int(r["vec_id"]), float(r["cos"]))
            for r in idx.search(emb, q, k=5, n_probe=4, shortlist=30).collect()
        ]
        assert got == want
    # batch pass-through serves the same rows; ADC-only path unchanged
    batch = probe.search_batch(qs, k=5, n_probe=4, rerank=30)
    assert batch[0] == probe.search(qs[0], k=5, n_probe=4, rerank=30)
    adc = probe.search(qs[0], k=5, n_probe=4)
    assert len(adc) == 5 and adc != batch[0]  # different ranker, same probe
    # a codes-only layout refuses rerank instead of silently degrading
    d2 = str(tmp_path / "novec")
    idx.save(d2)
    with pytest.raises(ValueError, match="without raw vectors"):
        similarity.LocalIVFPQProbe(d2).search(qs[0], k=5, rerank=30)
    idx.table.unpersist()
    emb.unpersist()


def test_compaction_gc_deferral(spark, tmp_path):
    """compact_generations(gc=False) commits the merge but leaves the
    retired shard dirs on disk (the reader-grace window); every reader
    path hides them via the live manifest, and an explicit gc_retired()
    removes exactly them."""
    import os

    from semantic_search_engine_spark.operators.build import (
        compact_generations,
        finalize_index,
        gc_retired,
        ingest_generation,
    )
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_wand
    from semantic_search_engine_spark.sources import index_store

    docs = generate_webtext(spark, 400).cache()
    docs.count()
    d = str(tmp_path / "idx")
    for i in range(2):
        part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        ingest_generation(part, d, num_shards=1, finalize=False)
    assert compact_generations(spark, d, tier_k=2, gc=False) == 1

    def seg_shards():
        return {
            int(nm.split("=")[1])
            for nm in os.listdir(os.path.join(d, "segments"))
            if nm.startswith("shard=")
        }

    retired = {
        s
        for c in index_store.compact_records(d)
        for lo, hi in c["retires"]
        for s in range(int(lo), int(hi))
    }
    assert retired and retired <= seg_shards()  # still on disk (grace)
    # readers never see them: manifest, docmap, and serving are clean
    live = {r["shard"] for r in index_store.read_manifest(spark, d).select("shard").distinct().collect()}
    assert live.isdisjoint(retired)
    stats = finalize_index(spark, d)
    assert stats["n_docs"] == 400
    dm = index_store.read_docmap(spark, d)
    assert dm.count() == 400  # no double-surfaced docids
    res = search_index_wand(IndexReader(spark, d), generate_queries()[:5])
    assert res.count() > 0
    # the deferred cleanup removes exactly the retired dirs
    removed = gc_retired(d)
    assert removed >= len(retired)
    assert seg_shards().isdisjoint(retired)
    docs.unpersist()


# ------------------------------------------------- funnel v3 (gopher stage)

def test_filter_funnel_gopher_stage(spark):
    """filter_funnel(gopher_thresholds=...) drops a too-short doc
    between repetition and unique, the output gains n_gopher, omitting
    the param keeps the v2 schema, and the six-stage plan is STILL one
    pass (no joins — every Gopher rule is a per-doc column expr)."""
    from semantic_search_engine_spark.operators.textstats import filter_funnel
    from semantic_search_engine_spark.plans import audit

    good = "the quick brown fox jumps over the lazy dog and runs far away today " * 3
    short = "the cat sat on a mat"  # 6 words < min_words=10 -> gopher drop
    docs = spark.createDataFrame(
        [(0, good), (1, short), (2, good)], "doc_id long, text string"
    )
    gk = dict(min_words=10, min_mean_word_len=0.0, min_stopwords=1)
    v3 = filter_funnel(
        docs, quality_threshold=0.0, lang="en",
        max_top_ngram_frac=1.0, gopher_thresholds=gk,
    ).collect()[0]
    assert set(v3.asDict()) == {
        "n_total", "n_lang", "n_quality", "n_repetition", "n_gopher", "n_unique"
    }
    assert (v3["n_total"], v3["n_lang"], v3["n_quality"]) == (3, 3, 3)
    assert v3["n_repetition"] == 3  # topf <= 1.0 passes everyone
    assert v3["n_gopher"] == 2      # the short doc fails min_words
    assert v3["n_unique"] == 1      # the two good docs are exact dups
    v2 = filter_funnel(
        docs, quality_threshold=0.0, lang="en", max_top_ngram_frac=1.0
    ).collect()[0]
    assert set(v2.asDict()) == {
        "n_total", "n_lang", "n_quality", "n_repetition", "n_unique"
    }
    plan = audit.physical_plan(
        filter_funnel(
            docs, quality_threshold=0.0, lang="en",
            max_top_ngram_frac=1.0, gopher_thresholds=gk,
        )
    )
    assert "Join" not in plan


# ------------------------------------------------- Luhn-validated CC masking

def test_cc_luhn_stats_semantics(spark):
    """cc_luhn_stats must mask ONLY Luhn-valid candidates (exact
    redacted-string compare on handcrafted mixed docs), agree with a
    Python-reference Luhn over 120 random 16-digit cards, and keep the
    zero-shuffle per-doc plan."""
    from semantic_search_engine_spark.operators.textstats import cc_luhn_stats
    from semantic_search_engine_spark.plans import audit

    def luhn_ok(card: str) -> bool:
        ds = [int(c) for c in card if c.isdigit()]
        assert len(ds) == 16
        total = sum(
            (2 * d - 9 if 2 * d > 9 else 2 * d) if i % 2 == 0 else d
            for i, d in enumerate(ds)
        )
        return total % 10 == 0

    assert luhn_ok("4111 1111 1111 1111") and not luhn_ok("4111 1111 1111 1112")

    rows = [
        (0, "pay 4111 1111 1111 1111 now"),                       # valid -> masked
        (1, "ref 4111-1111-1111-1112 kept"),                      # invalid -> kept
        (2, "a 4539 1488 0343 6467 b 1234 5678 9012 3456 c"),     # mixed
        (3, "no cards here 123 456"),                             # none
        (4, ""),                                                  # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {int(r["doc_id"]): r for r in cc_luhn_stats(docs).collect()}
    assert got[0]["redacted"] == "pay <CC> now"
    assert (got[0]["n_cc_candidates"], got[0]["n_cc_valid"]) == (1, 1)
    assert got[1]["redacted"] == rows[1][1]
    assert (got[1]["n_cc_candidates"], got[1]["n_cc_valid"]) == (1, 0)
    assert luhn_ok("4539 1488 0343 6467") and not luhn_ok("1234 5678 9012 3456")
    assert got[2]["redacted"] == "a <CC> b 1234 5678 9012 3456 c"
    assert (got[2]["n_cc_candidates"], got[2]["n_cc_valid"]) == (2, 1)
    assert got[3]["redacted"] == rows[3][1] and got[3]["n_cc_candidates"] == 0
    assert got[4]["redacted"] == "" and got[4]["n_cc_candidates"] == 0

    rng = np.random.default_rng(20260817)
    cards = [
        " ".join("".join(str(d) for d in rng.integers(0, 10, 4)) for _ in range(4))
        for _ in range(120)
    ]
    fuzz = spark.createDataFrame(
        [(i, f"x {c} y") for i, c in enumerate(cards)], "doc_id long, text string"
    )
    fgot = {int(r["doc_id"]): r for r in cc_luhn_stats(fuzz).collect()}
    n_valid_ref = 0
    for i, c in enumerate(cards):
        want_valid = luhn_ok(c)
        n_valid_ref += want_valid
        assert fgot[i]["n_cc_valid"] == int(want_valid), (i, c)
        assert fgot[i]["redacted"] == (f"x <CC> y" if want_valid else f"x {c} y")
    assert 0 < n_valid_ref < 120  # the fuzz actually crosses the boundary

    # a long page of 20 card-shaped runs, valid and invalid mixed
    page_cards = cards[:18] + ["4111 1111 1111 1111", "4539-1488-0343-6467"]
    page = " ; ".join(page_cards)
    want = " ; ".join("<CC>" if luhn_ok(c) else c for c in page_cards)
    long_doc = spark.createDataFrame([(0, page)], "doc_id long, text string")
    (lgot,) = cc_luhn_stats(long_doc).collect()
    assert lgot["n_cc_candidates"] == 20 and lgot["redacted"] == want
    assert lgot["n_cc_valid"] == sum(map(luhn_ok, page_cards)) >= 2

    plan = audit.physical_plan(cc_luhn_stats(docs))
    assert "Exchange" not in plan and "Join" not in plan


# ------------------------------------------------- perplexity sampling

def test_perplexity_sample_semantics(spark):
    """perplexity_sample must keep exactly the docs whose Knuth-hash
    falls under their bucket's rate (set-identical to a Python
    reference over the bucket labels), keep every head doc at rate
    1.0, and reject malformed rate dicts."""
    from semantic_search_engine_spark.operators.textstats import (
        _HASH_K, _HASH_MOD, PPLX_SAMPLE_RATES,
        perplexity_buckets, perplexity_sample,
    )

    docs = generate_webtext(spark, 120).withColumnRenamed("url", "u")
    docs = docs.select(
        F.monotonically_increasing_id().alias("doc_id"), "text"
    ).cache()
    labels = {
        int(r["doc_id"]): r["bucket"]
        for r in perplexity_buckets(docs, sample_mod=1).collect()
    }
    kept = {
        int(r["doc_id"])
        for r in perplexity_sample(docs, sample_mod=1).collect()
    }
    want = {
        did
        for did, b in labels.items()
        if ((did * _HASH_K) % _HASH_MOD) / _HASH_MOD < PPLX_SAMPLE_RATES[b]
    }
    assert kept == want
    heads = {did for did, b in labels.items() if b == "head"}
    assert heads <= kept  # rate 1.0 keeps every head doc
    assert kept < set(labels)  # and the thinning actually drops some
    with pytest.raises(ValueError):
        perplexity_sample(docs, rates={"head": 1.5}, sample_mod=1)
    with pytest.raises(ValueError):
        perplexity_sample(docs, rates={"bogus": 0.5}, sample_mod=1)
    docs.unpersist()


# ------------------------------------------------- boolean MUST_NOT

def test_wand_must_not_semantics(spark, wand_index7):
    """exclude='...' must drop exactly the docs containing any exclude
    term BEFORE top-k (reference: the unfiltered full ranking minus the
    exclude term's posting docs), be a no-op for OOV excludes, void a
    fully-excluded query, and equal the driver-local probe on a mixed
    batch."""
    from semantic_search_engine_spark.operators.query import IndexReader, search_index_wand

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.sources.index_store import read_docmap

    reader = IndexReader(spark, wand_index7)
    BIG = 10**6
    base = search_index_wand(
        reader, [{"qid": 0, "query": "bababa cecece", "k": BIG}]
    ).collect()
    base10 = [(r["docid"], r["score"]) for r in sorted(base, key=lambda r: r["rank"])[:10]]
    # exclude a term FROM the base top-1 doc, so the exclusion is
    # structurally guaranteed to change the top-10
    docmap = {r["docid"]: r["url"] for r in read_docmap(spark, wand_index7).collect()}
    texts = {r["url"]: r["text"] for r in generate_webtext(spark, 2000).collect()}
    xterm = next(
        t for t in tokenize(texts[docmap[base10[0][0]]])
        if t not in ("bababa", "cecece")
    )
    has_x = {
        r["docid"]
        for r in search_index_wand(
            reader, [{"qid": 0, "query": xterm, "k": BIG}]
        ).collect()
    }
    want = sorted(
        ((r["docid"], r["score"]) for r in base if r["docid"] not in has_x),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got_rows = search_index_wand(
        reader,
        [{"qid": 0, "query": "bababa cecece", "k": 10, "exclude": xterm}],
    ).collect()
    got = [(r["docid"], r["score"]) for r in sorted(got_rows, key=lambda r: r["rank"])]
    assert got == want
    assert got != base10  # the top-1 doc carries xterm, so it dropped
    # driver-local probe: same MUST_NOT contract, identical rows
    from semantic_search_engine_spark.operators.query import LocalIndexProbe

    probe = LocalIndexProbe(wand_index7)
    assert [(d, s) for _, d, s in probe.search("bababa cecece", k=10, exclude=xterm)] == want
    assert probe.search("bababa", k=5, exclude="bababa") == []

    batch = [
        {"qid": 0, "query": "bababa cecece", "k": 10, "exclude": "dadada"},
        {"qid": 1, "query": "bababa", "k": 5, "exclude": "zzzznope"},  # OOV excl
        {"qid": 2, "query": "bababa", "k": 5, "exclude": "bababa"},   # voids itself
        {"qid": 3, "query": "cecece dadada", "k": 7},                  # no exclude
    ]
    got = search_index_wand(reader, batch).collect()
    assert sorted((r["qid"], r["rank"], r["docid"], r["score"]) for r in got) == sorted(
        (q["qid"], rank, d, sc)
        for q in batch
        for rank, d, sc in probe.search(q["query"], k=q["k"], exclude=q.get("exclude", ""))
    )
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    assert 2 not in by_q  # fully excluded query emits nothing
    # OOV exclude == no exclude
    plain = search_index_wand(reader, [{"qid": 1, "query": "bababa", "k": 5}]).collect()
    assert sorted((r["rank"], r["docid"], r["score"]) for r in by_q[1]) == \
           sorted((r["rank"], r["docid"], r["score"]) for r in plain)


# ------------------------------------------------- mod-97 IBAN masking

def test_iban_stats_semantics(spark):
    """iban_stats must mask ONLY mod-97-valid candidates (exact
    redacted strings on handcrafted mixed docs), agree with a Python
    streaming-remainder reference over 150 random account runs, and
    keep the zero-shuffle per-doc plan."""
    from semantic_search_engine_spark.operators.textstats import iban_stats
    from semantic_search_engine_spark.plans import audit

    def mod97_ok(s: str) -> bool:
        acc = 0
        for ch in s[4:] + s[:4]:
            if ch.isdigit():
                acc = (acc * 10 + int(ch)) % 97
            else:
                acc = (acc * 100 + (ord(ch) - 55)) % 97
        return acc == 1

    assert mod97_ok("GB82WEST12345698765432")
    assert not mod97_ok("GB82WEST12345698765433")

    rows = [
        (0, "pay GB82WEST12345698765432 now"),                      # valid
        (1, "ref GB82WEST12345698765433 kept"),                     # invalid
        (2, "a DE89370400440532013000 b GB00TEST00000001 c"),       # mixed
        (3, "lowercase de89370400440532013000 never matches"),      # no cands
        (4, ""),                                                    # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {int(r["doc_id"]): r for r in iban_stats(docs).collect()}
    assert got[0]["redacted"] == "pay <IBAN> now"
    assert (got[0]["n_iban_candidates"], got[0]["n_iban_valid"]) == (1, 1)
    assert got[1]["redacted"] == rows[1][1]
    assert (got[1]["n_iban_candidates"], got[1]["n_iban_valid"]) == (1, 0)
    assert not mod97_ok("GB00TEST00000001")
    assert got[2]["redacted"] == "a <IBAN> b GB00TEST00000001 c"
    assert (got[2]["n_iban_candidates"], got[2]["n_iban_valid"]) == (2, 1)
    assert got[3]["n_iban_candidates"] == 0 and got[3]["redacted"] == rows[3][1]
    assert got[4]["redacted"] == ""

    rng = np.random.default_rng(20260818)
    accts = [
        "GB00TEST" + "".join(str(d) for d in rng.integers(0, 10, 8))
        for _ in range(150)
    ]
    # validity is ~1/97 per random account — force every 10th one valid
    # by brute-forcing its last two digits against the reference, so the
    # fuzz is guaranteed to cross the boundary in both directions
    for i in range(0, 150, 10):
        accts[i] = next(
            a for d in range(100)
            if mod97_ok(a := accts[i][:-2] + f"{d:02d}")
        )
    fuzz = spark.createDataFrame(
        [(i, f"x {a} y") for i, a in enumerate(accts)], "doc_id long, text string"
    )
    fgot = {int(r["doc_id"]): r for r in iban_stats(fuzz).collect()}
    n_valid_ref = 0
    for i, a in enumerate(accts):
        ok = mod97_ok(a)
        n_valid_ref += ok
        assert fgot[i]["n_iban_valid"] == int(ok), (i, a)
        assert fgot[i]["redacted"] == ("x <IBAN> y" if ok else f"x {a} y")
    assert 0 < n_valid_ref < 150  # the fuzz crosses the validity boundary

    plan = audit.physical_plan(iban_stats(docs))
    assert "Exchange" not in plan and "Join" not in plan


# ------------------------------------------------- stratified mixture sample

def test_stratified_sample_semantics(spark):
    """stratified_sample must keep exactly the docs whose id-hash falls
    under their source's rate (Python-reference set), drop unlisted
    sources at default_rate=0, refuse out-of-range rates, and stay a
    pure zero-shuffle filter."""
    from semantic_search_engine_spark.operators.textstats import (
        _HASH_K, _HASH_MOD, stratified_sample,
    )
    from semantic_search_engine_spark.plans import audit

    rows = [(i, f"s{i % 4}", f"text {i}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rates = {"s0": 1.0, "s1": 0.5, "s3": 0.0}
    kept = {
        int(r["doc_id"])
        for r in stratified_sample(docs, rates, default_rate=0.25).collect()
    }
    want = {
        i for i, src, _ in rows
        if ((i * _HASH_K) % _HASH_MOD) / _HASH_MOD < rates.get(src, 0.25)
    }
    assert kept == want
    assert {i for i, s, _ in rows if s == "s0"} <= kept   # rate 1.0: all kept
    assert not any(i % 4 == 3 for i in kept)              # rate 0.0: none
    # allowlist posture: unlisted sources drop entirely at the default
    none_unlisted = stratified_sample(docs, {"s0": 1.0}).collect()
    assert {r["source"] for r in none_unlisted} == {"s0"}
    with pytest.raises(ValueError):
        stratified_sample(docs, {"s0": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(docs, {"s0": 0.5}, default_rate=-0.1)
    plan = audit.physical_plan(stratified_sample(docs, rates, default_rate=0.25))
    assert "Exchange" not in plan and "Join" not in plan


# ------------------------------------------------- match-window highlighting

def test_span_windows_fuzz():
    """with_window must return the LEFTMOST-minimal valid window —
    min span, then min end, start = end − span — exactly matching
    brute-force chain enumeration, for the ordered chain DP (exact
    adjacency at max_gap=1, with all-zero slack there) and the
    unordered window sweep, across random corpora. Trials from 40 on
    draw the phrase's words with replacement from L−1 words, so every
    one repeats a word ("w0 w1 w0", "w0 w0")."""
    from itertools import product

    from semantic_search_engine_spark.operators.query import _chain_survivors

    rng = np.random.default_rng(20260821)
    for trial in range(70):
        L = int(rng.integers(2, 4))
        max_gap = int(rng.integers(1, 6))
        if trial < 40:
            words = [f"w{j}" for j in range(L)]
        else:
            words = [f"w{j}" for j in rng.integers(0, L - 1, size=L)]
        vocab = sorted(set(words))
        n_docs = int(rng.integers(1, 6))
        docids = np.sort(rng.choice(1000, size=n_docs, replace=False)).astype(np.int64)
        pos_by = {w: {} for w in vocab}
        for d in docids:
            for w in vocab:
                cnt = int(rng.integers(1, 5))
                pos_by[w][int(d)] = np.sort(
                    rng.choice(40, size=cnt, replace=False)
                ).astype(np.int64)
        data = {}
        for w in vocab:
            tfs = np.array([len(pos_by[w][int(d)]) for d in docids], dtype=np.int64)
            pos = np.concatenate([pos_by[w][int(d)] for d in docids])
            rs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            data[w] = (docids, tfs, np.full(n_docs, 50, dtype=np.int64), pos, rs)

        def brute(d):
            best = None  # (span, end)
            for chain in product(*[pos_by[w][int(d)] for w in words]):
                if all(1 <= chain[j + 1] - chain[j] <= max_gap for j in range(L - 1)):
                    cand = (int(chain[-1] - chain[0]), int(chain[-1]))
                    best = cand if best is None else min(best, cand)
            return best

        want = {int(d): brute(d) for d in docids}
        want_hits = sorted(d for d, b in want.items() if b is not None)
        hits, slack, ws, we = _chain_survivors(
            docids, words, data, max_gap, with_window=True
        )
        assert hits.tolist() == want_hits, trial
        if max_gap == 1:
            assert not slack.any(), trial
            s_hits, s_slack = _chain_survivors(docids, words, data, 1, with_slack=True)
            assert s_hits.tolist() == want_hits and not s_slack.any(), trial
        for d, s, e in zip(hits, ws, we):
            span, end = want[int(d)]
            assert (int(e) - int(s), int(e)) == (span, end), (trial, d)

        # unordered: brute = min span over one-occurrence-per-word sets
        # (any order), then min start among minimal sets
        def brute_uo(d):
            best = None  # (span, start)
            for sel_ in product(*[pos_by[w][int(d)] for w in words]):
                span = int(max(sel_) - min(sel_))
                if span <= max_gap:
                    cand = (span, int(min(sel_)))
                    best = cand if best is None else min(best, cand)
            return best

        from semantic_search_engine_spark.operators.query import _window_survivors

        want_uo = {int(d): brute_uo(d) for d in docids}
        uo_hits = sorted(d for d, b in want_uo.items() if b is not None)
        hits, _, ws, we = _window_survivors(
            docids, words, data, max_gap, with_window=True
        )
        assert hits.tolist() == uo_hits, trial
        for d, s, e in zip(hits, ws, we):
            span, start = want_uo[int(d)]
            assert (int(e) - int(s), int(s)) == (span, start), (trial, d)


def test_emit_windows_end_to_end(spark, tmp_path):
    """Distributed emit_windows must equal the probe's return_window
    rows exactly (docid, score, offsets) on the ordered and the
    unordered path, and leave the plain schema untouched."""
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader, LocalIndexProbe, search_index_phrase,
    )

    d = str(tmp_path / "widx")
    build_index(generate_webtext(spark, 800), d, num_shards=3, store_positions=True)
    reader = IndexReader(spark, d)
    probe = LocalIndexProbe(d)
    for phrase, gap in (("bababa cecece", 1), ("bababa cecece", 3)):
        res = search_index_phrase(
            reader, [{"qid": 0, "query": phrase, "k": 10, "gap": gap}],
            emit_windows=True,
        ).collect()
        assert res, (phrase, gap)
        dist = sorted(
            (r["docid"], r["score"], r["win_start"], r["win_end"]) for r in res
        )
        loc = sorted(
            (docid, s, a, b)
            for _, docid, s, a, b in probe.search_phrase(
                phrase, k=10, max_gap=gap, return_window=True
            )
        )
        assert dist == loc, (phrase, gap)
        # window sanity: span within the gap budget for L=2
        for _, _, a, b in dist:
            assert 1 <= b - a <= gap
    # unordered NEAR emits windows too, identical across serving paths
    res = search_index_phrase(
        reader, [{"qid": 0, "query": "bababa cecece", "k": 10, "gap": 4}],
        unordered=True, emit_windows=True,
    ).collect()
    assert res
    dist = sorted((r["docid"], r["score"], r["win_start"], r["win_end"]) for r in res)
    loc = sorted(
        (docid, s, a, b)
        for _, docid, s, a, b in probe.search_phrase(
            "bababa cecece", k=10, max_gap=4, unordered=True, return_window=True
        )
    )
    assert dist == loc
    for _, _, a, b in dist:
        assert 1 <= b - a <= 4  # covering-window span within budget
    plain = search_index_phrase(reader, [{"qid": 0, "query": "bababa cecece", "k": 5}])
    assert plain.columns == ["qid", "rank", "docid", "score"]


def test_render_snippets_semantics(spark):
    """render_snippets must slice exactly [win_start−pad, win_end+pad]
    of the pinned token stream (clamped at doc edges), keep every hit
    row, contain the matched phrase at pad=0, and refuse pad<0."""
    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.query import render_snippets

    docs = spark.createDataFrame(
        [
            (0, "one two alpha beta five six seven"),
            (1, "alpha beta tail words here"),          # window at doc start
            (2, "lead words here alpha beta"),          # window at doc end
        ],
        "doc_id long, text string",
    )
    hits = spark.createDataFrame(
        [(0, 1, 1.0, 2, 3), (1, 2, 0.9, 0, 1), (2, 3, 0.8, 3, 4)],
        "doc_id long, rank int, score double, win_start long, win_end long",
    )
    for pad in (0, 2):
        got = {
            int(r["doc_id"]): r["snippet"]
            for r in render_snippets(hits, docs, pad=pad).collect()
        }
        assert len(got) == 3
        for did, text in [(0, docs.collect()[0]["text"])]:
            pass
        texts = {int(r["doc_id"]): r["text"] for r in docs.collect()}
        wins = {0: (2, 3), 1: (0, 1), 2: (3, 4)}
        for did, (a, b) in wins.items():
            toks = tokenize(texts[did])
            lo = max(a - pad, 0)
            hi = min(b + pad, len(toks) - 1)
            assert got[did] == " ".join(toks[lo : hi + 1]), (did, pad)
            assert "alpha beta" in got[did]  # the match survives any pad
    with pytest.raises(ValueError):
        render_snippets(hits, docs, pad=-1)


# ------------------------------------------------- exhaustive/probe-batch MUST_NOT

def test_exhaustive_and_probe_batch_excludes(spark, wand_index7):
    """search_index_exhaustive must honor the same MUST_NOT contract as
    the WAND kernels (mixed batch: real / OOV / self-voiding / absent
    excludes → row-identical), stay unchanged without excludes, and
    LocalIndexProbe.search_batch(excludes=) must equal per-query
    search(exclude=)."""
    from semantic_search_engine_spark.operators.query import (
        IndexReader, LocalIndexProbe, search_index_exhaustive, search_index_wand,
    )

    reader = IndexReader(spark, wand_index7)
    batch = [
        {"qid": 0, "query": "bababa cecece", "k": 10, "exclude": "dadada"},
        {"qid": 1, "query": "bababa", "k": 5, "exclude": "zzzznope"},  # OOV excl
        {"qid": 2, "query": "bababa", "k": 5, "exclude": "bababa"},   # voids itself
        {"qid": 3, "query": "cecece dadada", "k": 7},                  # no exclude
    ]
    rows = lambda res: sorted(
        (r["qid"], r["rank"], r["docid"], r["score"]) for r in res.collect()
    )
    assert rows(search_index_exhaustive(reader, batch)) == \
           rows(search_index_wand(reader, batch))
    # no-exclude path: still identical to WAND (the pre-existing invariant)
    plain = [{"qid": 0, "query": "bababa cecece", "k": 10}]
    assert rows(search_index_exhaustive(reader, plain)) == \
           rows(search_index_wand(reader, plain))

    probe = LocalIndexProbe(wand_index7)
    queries = ["bababa cecece", "bababa", "bababa", "cecece dadada"]
    excludes = ["dadada", "zzzznope", "bababa", None]
    got = probe.search_batch(queries, k=10, excludes=excludes)
    want = [probe.search(q, k=10, exclude=x or "") for q, x in zip(queries, excludes)]
    assert got == want
    assert got[2] == []  # self-voiding slot
    # excludes must parallel queries
    with pytest.raises(ValueError):
        probe.search_batch(queries, k=10, excludes=["a"])
    # excludes=None keeps the original contract
    assert probe.search_batch(queries[:2], k=10) == \
           [probe.search(q, k=10) for q in queries[:2]]


# ------------------------------------------------- driver-local snippets

def test_local_snippets_identical(spark, tmp_path):
    """local_snippets (pyarrow + Python tokenizer) must render the SAME
    snippet strings as the distributed render_snippets (JVM tokenizer +
    column slice) for the probe's window hits, and fail loudly on
    unknown docids / negative pad."""
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        LocalIndexProbe, local_snippets, render_snippets,
    )
    from semantic_search_engine_spark.sources.index_store import read_docmap

    cdir = str(tmp_path / "corpus")
    generate_webtext(spark, 600).write.parquet(cdir)
    d = str(tmp_path / "widx")
    build_index(spark.read.parquet(cdir), d, num_shards=3, store_positions=True)
    probe = LocalIndexProbe(d)
    for unordered in (False, True):
        hits = probe.search_phrase(
            "bababa cecece", k=10, max_gap=3, unordered=unordered,
            return_window=True,
        )
        assert hits
        loc = local_snippets(d, cdir, hits, pad=2)
        assert len(loc) == len(hits)
        hdf = spark.createDataFrame(
            [(int(h[1]), int(h[3]), int(h[4])) for h in hits],
            "docid long, win_start long, win_end long",
        ).join(read_docmap(spark, d).select("docid", "url"), "docid")
        dist = {
            r["url"]: r["snippet"]
            for r in render_snippets(
                hdf.select("url", "win_start", "win_end"),
                spark.read.parquet(cdir), pad=2, id_col="url",
            ).collect()
        }
        for row in loc:
            rank, docid, score, ws, we, url, snippet = row
            assert dist[url] == snippet, (docid, url)
    assert local_snippets(d, cdir, [], pad=2) == []
    with pytest.raises(ValueError):
        local_snippets(d, cdir, hits, pad=-1)
    with pytest.raises(KeyError):
        local_snippets(d, cdir, [(1, 10**12, 1.0, 0, 1)], pad=2)


# ------------------------------------------------- IBAN length registry

def test_iban_registry_semantics(spark):
    """registry=True must additionally require the ISO 13616 country
    length: a mod-97-valid 20-char DE and a mod-97-valid unregistered
    ZZ both stay UNmasked (plain checksum masks them), while a real DE
    IBAN masks under both."""
    from semantic_search_engine_spark.operators.textstats import (
        IBAN_LENGTHS, iban_registry_length_sql, iban_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "pay DE89370400440532013000 now"),     # valid both ways
            (1, "pay DE291234567890123456 now"),       # mod-97 ok, len 20 != 22
            (2, "wire ZZ73123456789012345678 now"),    # mod-97 ok, unknown cc
            (3, "ref GB82WEST12345698765433 now"),     # checksum invalid
            (4, "plain text, no candidates"),
        ],
        "doc_id long, text string",
    )
    plain = {int(r["doc_id"]): r for r in iban_stats(docs).collect()}
    reg = {int(r["doc_id"]): r for r in iban_stats(docs, registry=True).collect()}
    assert [plain[i]["n_iban_valid"] for i in range(5)] == [1, 1, 1, 0, 0]
    assert [reg[i]["n_iban_valid"] for i in range(5)] == [1, 0, 0, 0, 0]
    # candidate counts identical — the registry changes VALIDITY only
    for i in range(5):
        assert reg[i]["n_iban_candidates"] == plain[i]["n_iban_candidates"]
    assert reg[0]["redacted"] == "pay <IBAN> now"
    assert reg[1]["redacted"] == "pay DE291234567890123456 now"  # unmasked
    assert plain[1]["redacted"] == "pay <IBAN> now"              # checksum-only masks
    assert reg[2]["redacted"] == "wire ZZ73123456789012345678 now"
    assert reg[4]["redacted"] == "plain text, no candidates"
    # the SQL twin is generated from the same dict — one arm per country
    sql = iban_registry_length_sql("c")
    assert sql.count("WHEN") == len(IBAN_LENGTHS)
    assert "ELSE -1" in sql


# ------------------------------------------------- winnowing (MOSS) fingerprints

def test_winnowing_semantics(spark):
    """winnow_fingerprints must equal a direct Python transcription of
    Schleimer et al.'s algorithm on random docs; the detection
    guarantee (any shared run of >= w+s-1 tokens pairs the docs) must
    hold for planted runs at random alignments; the hot-fingerprint cap
    must drop boilerplate-only pairs."""
    import hashlib

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.dedup import (
        substring_dup_pairs, winnow_fingerprints,
    )

    W, S = 5, 3
    rng = np.random.default_rng(20260821)
    vocab = [f"w{i}" for i in range(40)]

    def py_winnow(text):
        ts = tokenize(text)
        if len(ts) < W:
            return set()
        gs = [hashlib.md5(" ".join(ts[i:i + W]).encode()).hexdigest()
              for i in range(len(ts) - W + 1)]
        return {min(gs[j:j + S]) for j in range(max(len(gs) - S, 0) + 1)}

    # planted shared runs of exactly w+s-1 tokens at random offsets
    run = " ".join(rng.choice(vocab, size=W + S - 1))
    rows, planted = [], []
    for i in range(12):
        a = " ".join(rng.choice(vocab, size=int(rng.integers(0, 25))))
        b = " ".join(rng.choice(vocab, size=int(rng.integers(0, 25))))
        if i % 3 == 0:  # docs 0,3,6,9 carry the run at arbitrary offsets
            rows.append((i, f"{a} {run} {b}".strip()))
            planted.append(i)
        else:
            rows.append((i, f"{a} {b}".strip() or "lone"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {}
    for r in winnow_fingerprints(docs, w=W, s=S).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in rows:
        assert got.get(i, set()) == py_winnow(t), i

    pairs = {(r["id_a"], r["id_b"])
             for r in substring_dup_pairs(docs, w=W, s=S, min_shared=1).collect()}
    for x in planted:
        for y in planted:
            if x < y:
                assert (x, y) in pairs, (x, y)  # the winnowing guarantee

    # hot-fp cap: the planted run sits in 4 docs; cap at 3 kills every
    # pair whose only evidence is the run
    capped = {(r["id_a"], r["id_b"])
              for r in substring_dup_pairs(
                  docs, w=W, s=S, min_shared=1, max_fp_df=3).collect()}
    run_only = {(x, y) for x in planted for y in planted if x < y} - capped
    assert run_only, "cap should drop at least one run-only pair"

    with pytest.raises(ValueError):
        winnow_fingerprints(docs, w=0, s=S).collect()


# ------------------------------------------------- SemDeDup

def test_semantic_dedup_semantics(spark):
    """semantic_dedup must equal a brute-force Python reference:
    assignment = argmax cosine to the centroid list (ties to the lowest
    index), dropped = any item with a lower-id same-cluster neighbor at
    cos >= tau, dup_of = the lowest such id; planted near-dups must
    drop, cross-cluster near-dups must NOT (the SemDeDup scoping
    trade); custom centroids flow through."""
    rng = np.random.default_rng(20260822)
    dim, n = 16, 40
    vecs = rng.normal(size=(n, dim))
    # plant exact-direction dups (cos≈1): 25→24, 30→5, 31→5
    for tgt, src in ((25, 24), (30, 5), (31, 5)):
        vecs[tgt] = vecs[src] * (1 + 1e-6 * tgt)
    vecs = vecs.astype(np.float32).astype(np.float64)

    from semantic_search_engine_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    K, TAU = 4, 0.95

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    cents = vecs[:K]
    assign = [
        int(np.argmax([cos(vecs[i], c) for c in cents])) for i in range(n)
    ]
    want = {}
    for b in range(n):
        lowers = [
            a for a in range(b)
            if assign[a] == assign[b] and cos(vecs[a], vecs[b]) >= TAU
        ]
        if lowers:
            a = min(lowers)
            want[b] = (assign[b], a, round(cos(vecs[a], vecs[b]), 6))

    got = {
        int(r["vec_id"]): (int(r["cluster"]), int(r["dup_of"]), float(r["cos"]))
        for r in semantic_dedup(emb, tau=TAU, n_clusters=K).collect()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][:2] == want[i][:2], (i, got[i], want[i])
        assert abs(got[i][2] - want[i][2]) <= 1e-6
    assert 25 in got and 30 in got and 31 in got  # planted dups dropped
    assert got[31][1] == 30 or got[31][1] == 5    # lowest same-cluster neighbor

    # custom centroids path: kmeans-trained centroids flow through
    from semantic_search_engine_spark.operators.similarity import kmeans_fit

    trained = kmeans_fit(vecs.astype(np.float32), k=K, iters=5)
    res = semantic_dedup(emb, tau=TAU, centroids=[list(map(float, c)) for c in trained])
    assert res.count() >= 3  # the planted dups survive any clustering
    with pytest.raises(ValueError):
        semantic_dedup(emb, tau=TAU, centroids=[])


# ------------------------------------------------- LM-Dirichlet scorer

def test_lm_dirichlet_semantics(spark):
    """search_lm_dirichlet must equal a direct Python transcription of
    the Zhai-Lafferty formula (smoothed per-term logs + L·ln(μ/(dl+μ))
    length norm, corpus-absent query terms dropped from both the sum
    and L), guard empty/OOV queries, and rank differently from BM25
    when doc length should dominate."""
    import math

    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.postings import (
        corpus_stats, term_frequencies,
    )
    from semantic_search_engine_spark.operators.topk import search_lm_dirichlet

    rows = [
        (0, "apple banana apple cherry"),
        (1, "apple " + " ".join(["filler"] * 40)),     # long doc, one hit
        (2, "banana banana apple"),
        (3, "cherry plum grape"),
        (4, ""),                                        # zero-token doc in T
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        F.col("doc_id").alias("docid"), "text"
    )
    post = term_frequencies(docs)
    stats = corpus_stats(docs)
    MU = 50.0

    toks = {i: tokenize(t) for i, t in rows}
    T = sum(len(v) for v in toks.values())
    assert T == stats.total_tokens

    def ref(query, k=10):
        terms = sorted(set(tokenize(query)))
        cf = {t: sum(ts.count(t) for ts in toks.values()) for t in terms}
        present = [t for t in terms if cf[t] > 0]
        out = []
        for i, ts in toks.items():
            matched = [t for t in present if t in ts]
            if not matched:
                continue
            s = sum(math.log(1 + ts.count(t) / (MU * (cf[t] / T))) for t in matched)
            s += len(present) * math.log(MU / (len(ts) + MU))
            out.append((i, s))
        out.sort(key=lambda r: (-r[1], r[0]))
        return out[:k]

    for query in ("apple", "apple banana", "apple zzznope", "cherry plum"):
        got = [
            (r["docid"], r["score"])
            for r in search_lm_dirichlet(post, T, query, k=10, mu=MU).collect()
        ]
        want = ref(query)
        assert [g[0] for g in got] == [w[0] for w in want], query
        for g, w in zip(got, want):
            assert abs(g[1] - w[1]) <= 1e-9, (query, g, w)

    assert search_lm_dirichlet(post, T, "", k=5, mu=MU).count() == 0
    assert search_lm_dirichlet(post, T, "zzznope", k=5, mu=MU).count() == 0
    # the length norm must matter: for 'apple', the long diluted doc 1
    # ranks below the short docs even though every doc has tf('apple')>=1
    order = [r["docid"] for r in search_lm_dirichlet(post, T, "apple", mu=MU).collect()]
    assert order.index(1) == len(order) - 1


def test_qld_index_equals_text_path(spark, wand_index7):
    """search_index_qld (index-served) must rank and score identically
    to search_lm_dirichlet (text-path) for the same corpus, handle
    multi-query batches with per-query ks and shared terms (a term's
    collection frequency counts each posting once), and void OOV
    queries."""
    from semantic_search_engine_spark.operators.postings import (
        corpus_stats, term_frequencies,
    )
    from semantic_search_engine_spark.operators.query import (
        IndexReader, search_index_qld,
    )
    from semantic_search_engine_spark.operators.topk import search_lm_dirichlet
    from semantic_search_engine_spark.sources.index_store import read_docmap

    reader = IndexReader(spark, wand_index7)
    docs = generate_webtext(spark, 2000).select(
        F.col("url").alias("docid_url"), "text"
    )
    post = term_frequencies(docs.select(F.col("docid_url").alias("docid"), "text"))
    T = corpus_stats(docs.select(F.col("docid_url").alias("docid"), "text")).total_tokens
    assert T == int(reader.stats["total_tokens"])  # exact total in stats

    dm = {r["docid"]: r["url"] for r in read_docmap(spark, wand_index7).collect()}
    batch = [
        {"qid": 0, "query": "bababa cecece", "k": 10},
        {"qid": 1, "query": "bakice", "k": 5},
        {"qid": 2, "query": "zzzznope", "k": 5},   # OOV → absent
        {"qid": 3, "query": "bababa bakice", "k": 7},  # shares a term with 0 and 1
    ]
    res = search_index_qld(reader, batch, mu=500.0).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["qid"], []).append((dm[r["docid"]], r["score"]))
    assert 2 not in by_q
    for q in (batch[0], batch[1], batch[3]):
        want = [
            (r["docid"], r["score"])
            for r in search_lm_dirichlet(
                post, T, q["query"], k=q["k"], mu=500.0
            ).collect()
        ]
        got = sorted(by_q[q["qid"]], key=lambda t: (-t[1], t[0]))
        # same (url, score) multiset; order may differ only on exact ties
        assert sorted(got) == sorted((u, s) for u, s in want), q["query"]


def test_probe_qld_equals_distributed(spark, wand_index7):
    """LocalIndexProbe.search_qld must reproduce search_index_qld's
    rows (rank, docid; scores to 1e-9 — the summation order of a doc's
    matched terms differs between the Spark agg and the probe's
    sorted-term loop) and guard OOV queries."""
    from semantic_search_engine_spark.operators.query import (
        IndexReader, LocalIndexProbe, search_index_qld,
    )

    reader = IndexReader(spark, wand_index7)
    probe = LocalIndexProbe(wand_index7)
    assert probe.total_tokens == int(reader.stats["total_tokens"])
    for query, mu in (("bababa cecece", 500.0), ("bakice", 2000.0)):
        dist = sorted(
            ((r["rank"], r["docid"], r["score"])
             for r in search_index_qld(
                 reader, [{"qid": 0, "query": query, "k": 10}], mu=mu
             ).collect()),
        )
        loc = probe.search_qld(query, k=10, mu=mu)
        assert [(r, d) for r, d, _ in dist] == [(r, d) for r, d, _ in loc], query
        for (_, _, sd), (_, _, sl) in zip(dist, loc):
            assert abs(sd - sl) <= 1e-9
    assert probe.search_qld("zzzznope") == []
    assert probe.search_qld("") == []


# ------------------------------------------------- reciprocal rank fusion

def test_rrf_fuse_semantics(spark):
    """rrf_fuse must equal the textbook Σ 1/(k0+rank) with house tie
    rules, handle items present in only some lists, fuse 3+ lists, obey
    depth-as-passed, and refuse bad inputs."""
    from semantic_search_engine_spark.operators.topk import rrf_fuse

    mk = lambda rows: spark.createDataFrame(rows, "docid long, score double")
    a = mk([(1, 9.0), (2, 8.0), (3, 7.0), (4, 1.0)])
    b = mk([(3, 0.9), (2, 0.8), (5, 0.7)])
    c = mk([(2, 100.0), (9, 50.0)])
    K0 = 10

    def ref(lists, k0):
        agg = {}
        for rows in lists:
            ranked = sorted(rows, key=lambda t: (-t[1], t[0]))
            for r, (d, _) in enumerate(ranked, start=1):
                agg[d] = agg.get(d, 0.0) + 1.0 / (k0 + r)
        return sorted(agg.items(), key=lambda t: (-t[1], t[0]))

    got = [(r["docid"], r["fused"], r["rank"])
           for r in rrf_fuse([a, b, c], k=10, k0=K0).collect()]
    got.sort(key=lambda t: t[2])
    want = ref([[(1, 9.0), (2, 8.0), (3, 7.0), (4, 1.0)],
                [(3, 0.9), (2, 0.8), (5, 0.7)],
                [(2, 100.0), (9, 50.0)]], K0)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) <= 1e-12
    assert got[0][0] == 2  # rank-1 everywhere in b? no — top fused is doc 2
    # k cut + single-list degenerate case (pure rank passthrough)
    one = [(r["docid"], r["rank"]) for r in rrf_fuse([a], k=2, k0=K0).collect()]
    assert sorted(one, key=lambda t: t[1]) == [(1, 1), (2, 2)]
    # score ties break by id within a list
    t = mk([(7, 5.0), (6, 5.0)])
    rt = {r["docid"]: r["rank"] for r in rrf_fuse([t], k=2, k0=K0).collect()}
    assert rt == {6: 1, 7: 2}
    with pytest.raises(ValueError):
        rrf_fuse([], k=5)
    with pytest.raises(ValueError):
        rrf_fuse([a], k=5, k0=0)


# ------------------------------------------------- SymSpell fuzzy matching

def test_fuzzy_symspell_semantics(spark):
    """The deletion-neighborhood join must find EXACTLY the vocabulary
    terms at Levenshtein distance <= 1 (fuzzed vs a brute-force scan
    over a dense synthetic vocabulary), never a transposition
    (distance 2), and rank (dist asc, df desc, term asc)."""
    import itertools

    from semantic_search_engine_spark.operators.fuzzy import (
        fuzzy_term_candidates, rank_fuzzy_candidates,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    # dense vocabulary: all 2- and 3-letter words over {a,b,c} + a few
    # longer ones; df = deterministic function of the word
    vocab = ["".join(w) for n in (2, 3) for w in itertools.product("abc", repeat=n)]
    vocab += ["abca", "bacb", "cabc", "abcab"]
    dictionary = spark.createDataFrame(
        [(w, 10 + (hash_df := sum(map(ord, w)) % 50)) for w in vocab],
        "term string, df long",
    )
    qterms = ["ab", "ba", "abc", "bca", "abcb", "zz", "a"]
    got = {}
    for r in fuzzy_term_candidates(dictionary, qterms).collect():
        got.setdefault(r["qterm"], {})[r["term"]] = r["dist"]
    for q in qterms:
        want = {w: lev(q, w) for w in vocab if lev(q, w) <= 1}
        assert got.get(q, {}) == want, (q, got.get(q), want)
    # transposition check explicitly: 'ab' vs 'ba' is distance 2
    assert "ba" not in got["ab"]

    ranked = rank_fuzzy_candidates(fuzzy_term_candidates(dictionary, ["ab"]), 4)
    rows = sorted(
        ((r["rank"], r["term"], r["df"], r["dist"]) for r in ranked.collect())
    )
    dfs = {w: 10 + sum(map(ord, w)) % 50 for w in vocab}
    want_order = sorted(
        ((w, dfs[w], lev("ab", w)) for w in vocab if lev("ab", w) <= 1),
        key=lambda t: (t[2], -t[1], t[0]),
    )[:4]
    assert [(r[1], r[2], r[3]) for r in rows] == want_order
    # empty query list
    assert fuzzy_term_candidates(dictionary, []).count() == 0


# ------------------------------------------------- RM3 feedback

def test_rm3_semantics(spark):
    """rm3_expand must equal a Python transcription of the pinned
    algebra (score-normalized relevance model, fb-term truncation +
    renorm, alpha interpolation), weights must sum to 1, alpha=1 must
    reduce to the uniform original query, OOV queries void, and
    search_weighted with a degenerate weight vector must reduce to
    plain search."""
    from semantic_search_engine_spark.operators.postings import (
        corpus_stats, doc_freq, scored_postings, term_frequencies,
    )
    from semantic_search_engine_spark.operators.topk import (
        rm3_expand, search, search_weighted,
    )

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple cherry date"),
            (1, "apple banana banana fig"),
            (2, "cherry date date fig grape"),
            (3, "apple grape grape banana"),
            (4, "kiwi lemon mango"),
        ],
        "doc_id long, text string",
    ).select(F.col("doc_id").alias("docid"), "text")
    post = term_frequencies(docs)
    scored = scored_postings(post, doc_freq(post), corpus_stats(docs))

    FB_D, FB_T, A = 3, 4, 0.5
    got = dict(rm3_expand(scored, "apple banana", FB_D, FB_T, A))

    top = search(scored, "apple banana", FB_D).collect()
    tot = sum(r["score"] for r in top)
    s = {int(r["docid"]): r["score"] / tot for r in top}
    rows = scored.filter(F.col("docid").isin(list(s))).collect()
    rm1 = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["docid"])):
        rm1[r["term"]] = rm1.get(r["term"], 0.0) + (r["tf"] / r["dl"]) * s[int(r["docid"])]
    picked = sorted(rm1.items(), key=lambda t: (-t[1], t[0]))[:FB_T]
    z = sum(w for _, w in picked)
    want = {t: A / 2 for t in ("apple", "banana")}
    for t, w in picked:
        want[t] = want.get(t, 0.0) + (1 - A) * (w / z)
    assert set(got) == set(want)
    for t in want:
        assert abs(got[t] - want[t]) <= 1e-12, t
    assert abs(sum(got.values()) - 1.0) <= 1e-12

    # alpha=1: the original uniform query, nothing else
    pure = dict(rm3_expand(scored, "apple banana", FB_D, FB_T, alpha=1.0))
    assert pure == {"apple": 0.5, "banana": 0.5}
    assert rm3_expand(scored, "zzznope", FB_D, FB_T, A) == []
    # degenerate weighted search == plain search (weight 1 on one term)
    a = [(r["docid"], r["score"]) for r in search(scored, "cherry", 5).collect()]
    b = [(r["docid"], r["score"]) for r in search_weighted(scored, [("cherry", 1.0)], 5).collect()]
    assert a == b
    with pytest.raises(ValueError):
        rm3_expand(scored, "apple", fb_docs=0)


# ------------------------------------------------- MoreLikeThis

def test_more_like_this_semantics(spark):
    """more_like_this must pick the source doc's top tf·idf terms
    (min_tf honored), score candidates as the weighted query, exclude
    the source doc, and void on an unknown source."""
    import math

    from semantic_search_engine_spark.operators.postings import (
        corpus_stats, doc_freq, scored_postings, term_frequencies,
    )
    from semantic_search_engine_spark.operators.topk import (
        more_like_this, search_weighted,
    )

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple cherry apple"),
            (1, "apple banana fig fig"),
            (2, "cherry fig grape banana"),
            (3, "kiwi lemon mango"),
        ],
        "doc_id long, text string",
    ).select(F.col("doc_id").alias("docid"), "text")
    post = term_frequencies(docs)
    stats = corpus_stats(docs)
    scored = scored_postings(post, doc_freq(post), stats)

    got = [(r["docid"], r["score"])
           for r in more_like_this(scored, 0, stats.n_docs, n_terms=2, k=5).collect()]
    assert all(d != 0 for d, _ in got)  # source excluded

    # reference: source doc 0 term weights tf*idf
    tf0 = {"apple": 3, "banana": 1, "cherry": 1}
    dfs = {"apple": 2, "banana": 3, "cherry": 2}
    idf = lambda df_: math.log(1 + (4 - df_ + 0.5) / (df_ + 0.5))
    w = sorted(((t, tf0[t] * idf(dfs[t])) for t in tf0),
               key=lambda t: (-t[1], t[0]))[:2]
    want = [(r["docid"], r["score"])
            for r in search_weighted(scored, w, 6).collect()
            if r["docid"] != 0][:5]
    assert got == want
    # min_tf drops hapax terms: with min_tf=2 only 'apple' survives
    one = more_like_this(scored, 0, stats.n_docs, n_terms=5, k=5, min_tf=2)
    w1 = [("apple", tf0["apple"] * idf(dfs["apple"]))]
    want1 = [(r["docid"], r["score"])
             for r in search_weighted(scored, w1, 6).collect()
             if r["docid"] != 0][:5]
    assert [(r["docid"], r["score"]) for r in one.collect()] == want1
    # unknown source -> empty; bad config refuses
    assert more_like_this(scored, 999, stats.n_docs).count() == 0
    with pytest.raises(ValueError):
        more_like_this(scored, 0, stats.n_docs, n_terms=0)


def test_correct_query_semantics(spark):
    """correct_query must map exact terms to themselves, typos to the
    rank-1 suggestion, drop no-neighbor terms, and void empty input."""
    from semantic_search_engine_spark.operators.fuzzy import correct_query

    dictionary = spark.createDataFrame(
        [("apple", 50), ("apply", 90), ("banana", 20), ("cherry", 30)],
        "term string, df long",
    )
    # 'appl' is distance 1 from BOTH apple and apply -> higher df wins
    assert correct_query(dictionary, "appl banana") == ["apply", "banana"]
    # exact term maps to itself even with a closer-df neighbor
    assert correct_query(dictionary, "apple") == ["apple"]
    # no-neighbor terms drop; duplicates collapse
    assert correct_query(dictionary, "zzzz cherry cherry") == ["cherry"]
    assert correct_query(dictionary, "") == []
