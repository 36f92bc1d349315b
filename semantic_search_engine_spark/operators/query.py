"""Index-backed top-k retrieval: exhaustive and block-max-pruned paths.

Exhaustive (reference-semantics baseline, SURVEY §3.2):
  query terms filter → postings scan (parquet row-group skipping on
  `term` via min/max stats — postings are term-sorted per shard) →
  batch-decode blocks in Arrow batches (one vectorized varint pass per
  batch, no per-block Python) → Σ impact per (qid, docid) → per-qid
  top-k (window row_number, ties score desc / docid asc).

Block-max pruned ("WAND" path, north_star): per-shard groups — the
index is document-sharded, every doc's postings live in exactly one
shard — run the whole query batch against each group, sharing a
decoded-block cache across the batch:

  1. block cut, per query (:meth:`_GroupBlocks.block_cut`, which holds
     the soundness proof): seed θ from the query's highest-block_max
     block, keep a block iff block_max + Σ σ of the other terms ≥ θ.
  2. exact mode (θ·1.0, the default, any batch width): the union of
     the batch's kept blocks decodes in ONE vectorized pass and query
     chunks score through per-term scatter-adds into a (queries × docs)
     matrix with per-query top-k (:func:`_wand_group_exact`).
  3. approximate mode (θ·factor): per query, the kept blocks' docs are
     exact-scored and the top k emitted (:func:`_wand_group_approx`).
  4. emit per-(qid, group) top-k; global merge = window row_number ≤ k.

Analog of the reference's n-probe bucket pruning + two-level heap
(/root/reference/src/IVF.py:165-191): block_max metadata plays the
centroid-distance role, θ the n_probe cut, per-shard top-k the local
heap, the global window the final heapq.nlargest.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.localdf import local_df
from pyspark.sql import functions as F

from ..functions.bm25 import impact_np
from ..functions.tokenizer import tokenize
from ..sources import index_store
from .codec import decode_block, decode_blocks_batch, decode_positions
from .lru import key_ranges, raised_cache_cap, touch_and_trim

RESULT_SCHEMA = "qid int, k int, docid long, score double"

# broadcasts from prior search_index_wand / search_index_phrase calls,
# unpersisted on the next call so executor-side broadcast blocks don't
# accumulate across batches. Shared module state by design (the
# steady-state serving loop is one batch at a time): unpersisting is
# PERF-only — a still-referenced result DataFrame from an earlier batch
# lazily re-broadcasts from the driver, so collect earlier batches
# before issuing the next to avoid the refetch. The lock makes the
# pop/append sequence safe for concurrent driver threads.
_LIVE_PLAN_BROADCASTS: list = []
_PLAN_BC_LOCK = threading.Lock()


def _rotate_plan_broadcast(spark: SparkSession, payload) -> "object":
    """Unpersist prior plan broadcasts (not destroy — see note above)
    and register a new one, atomically under the module lock."""
    with _PLAN_BC_LOCK:
        while _LIVE_PLAN_BROADCASTS:
            try:
                _LIVE_PLAN_BROADCASTS.pop().unpersist(blocking=False)
            except Exception:
                pass
        bc = spark.sparkContext.broadcast(payload)
        _LIVE_PLAN_BROADCASTS.append(bc)
    return bc


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = index_store.read_stats(spark, index_dir)
        self._frames: dict = {}

    def postings(self, positions: bool = False) -> DataFrame:
        # memoized: a fresh read re-lists the partitioned postings dirs
        # on the driver every call (~0.1-0.2 s per query batch); the
        # DataFrame's FileIndex caches the listing across reuses. The
        # files of a finalized index are immutable, so reuse is safe.
        key = ("postings", positions)
        if key not in self._frames:
            self._frames[key] = index_store.read_postings(
                self.spark, self.index_dir, positions=positions
            )
        return self._frames[key]

    def dictionary(self) -> DataFrame:
        if "dictionary" not in self._frames:
            self._frames["dictionary"] = index_store.read_dictionary(self.spark, self.index_dir)
        return self._frames["dictionary"]

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        if not terms:
            return {}
        rows = self.dictionary().filter(F.col("term").isin(terms)).select("term", "idf").collect()
        return {r["term"]: float(r["idf"]) for r in rows}


def _query_plan(queries: list[dict]) -> tuple[list[tuple[int, int, list[str]]], list[str]]:
    """[(qid, k, sorted distinct terms)], all distinct terms."""
    plan = []
    allterms: set[str] = set()
    for q in queries:
        terms = sorted(set(tokenize(q["query"])))
        plan.append((int(q["qid"]), int(q["k"]), terms))
        allterms.update(terms)
    return plan, sorted(allterms)


def _term_blocks(reader: IndexReader, postings: DataFrame, terms: list[str]) -> DataFrame:
    """``postings`` rows of ``terms``, each carrying its term's idf.

    The term set is an Arrow-built relation broadcast-joined against the
    dictionary (idf) and then against the postings as the scan filter,
    so its cost on the driver is one local relation, not one engine call
    per term (``Column.isin`` builds a literal per element)."""
    terms_df = local_df(reader.spark, [(t,) for t in terms], "term string")
    term_idf = reader.dictionary().join(F.broadcast(terms_df), "term").select("term", "idf")
    return postings.join(F.broadcast(term_idf), "term")


def _group_idf(pdf: pd.DataFrame) -> dict[str, float]:
    """term → idf for the terms of one kernel group (from _term_blocks rows)."""
    return {t: float(v) for t, v in zip(pdf["term"].to_numpy(), pdf["idf"].to_numpy())}


def _topk_window(cand: DataFrame, extra: tuple = (), keep_ties: bool = False) -> DataFrame:
    """Global per-qid top-k merge of (qid, k, docid, score, *extra) rows.

    Default: row_number over (score desc, docid asc), exactly k rows.
    ``keep_ties``: rank() over score alone, so every doc tying the k-th
    score survives for a caller that re-breaks ties under its own order
    (the ``keep_boundary_ties`` contract of the serving paths)."""
    if keep_ties:
        rank = F.rank().over(Window.partitionBy("qid").orderBy(F.desc("score")))
    else:
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        rank = F.row_number().over(w)
    return (
        cand.withColumn("rank", rank)
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docid", "score", *extra)
    )


def _empty_result(spark: SparkSession, extra: str = "") -> DataFrame:
    return spark.createDataFrame([], "qid int, rank int, docid long, score double" + extra)


def _top_k(docids: np.ndarray, scores: np.ndarray, k: int, keep_ties: bool = False) -> np.ndarray:
    """Indexes of the top k entries under (score desc, docid asc).

    Head-term queries score 10^5+ candidates, so a full lexsort is the
    hot spot: select by the k-th score first (boundary ties kept), then
    order the small set. ``keep_ties`` also returns every entry tying
    the k-th score (the per-group half of the ``keep_boundary_ties``
    contract)."""
    if scores.size > k:
        kth = np.partition(scores, scores.size - k)[scores.size - k]
        sel = np.flatnonzero(scores >= kth)
        order = sel[np.lexsort((docids[sel], -scores[sel]))]
    else:
        order = np.lexsort((docids, -scores))
    return order if keep_ties else order[:k]


_KERNEL_COLS = [("qid", "int32"), ("k", "int32"), ("docid", "int64"), ("score", "float64")]
_WINDOW_COLS = [("win_start", "int64"), ("win_end", "int64")]


def _kernel_frame(parts: list[tuple], windows: bool = False) -> pd.DataFrame:
    """One kernel group's output frame from per-query
    ``(qid, k, docids, scores[, win_start, win_end])`` parts. Plain
    arrays are accumulated and ONE DataFrame is built per group: a
    per-query pd.DataFrame costs ~100 µs of constructor overhead, which
    at (10³ queries × groups) was a measured ~20% of a mega-batch."""
    cols = _KERNEL_COLS + (_WINDOW_COLS if windows else [])
    if not parts:
        return pd.DataFrame({c: pd.Series(dtype=t) for c, t in cols})
    qid, k, *arrays = zip(*parts)
    sizes = [a.size for a in arrays[0]]
    out = {
        "qid": np.repeat(np.asarray(qid, dtype=np.int32), sizes),
        "k": np.repeat(np.asarray(k, dtype=np.int32), sizes),
    }
    for (c, _), a in zip(cols[2:], arrays):
        out[c] = np.concatenate(a)
    return pd.DataFrame(out)


# Kernel groups per shuffle partition. Shards are docid-disjoint, so any
# union of whole shards is a valid WAND / phrase unit (σ bounds just get
# looser), and the group count stays bounded as the size-tiered shard
# count grows with the corpus. Swept at 1001 queries: 4× beats
# 1×/2×/8×/16× at both 400k and 2M docs (smaller groups balance better
# and keep tighter σ bounds; beyond that, per-group bookkeeping
# dominates).
GROUPS_PER_CPU = 4


def _shard_groups(spark: SparkSession, blocks: DataFrame) -> DataFrame:
    """``blocks`` with a ``_qgroup`` kernel-group key (shard mod the
    group count), partitioned by it. The explicit partition count
    matters: AQE's byte-based coalescing would fold this tiny-bytes
    exchange into ONE partition and serialize the compute-heavy-per-byte
    Python kernels (measured: the whole query batch in one task); an
    explicit repartition count is exempt from coalescing and satisfies
    the later groupBy's clustering, so no second exchange is added."""
    n_groups = GROUPS_PER_CPU * int(spark.conf.get("spark.sql.shuffle.partitions"))
    return blocks.withColumn(
        "_qgroup", F.pmod(F.col("shard"), F.lit(n_groups))
    ).repartition(n_groups, "_qgroup")


def search_index_exhaustive(reader: IndexReader, queries: list[dict]) -> DataFrame:
    """(qid, rank, docid, score) via full decode of matching terms.

    A query dict may carry ``"exclude"`` — the same Lucene MUST_NOT
    contract as ``search_index_wand``: exclusion terms' postings ride
    the same scan (flagged ``excl``), their decoded (qid, docid) pairs
    anti-join the scored candidates BEFORE top-k, and they are never
    scored. An OOV exclude term excludes nothing. Without excludes the
    plan is the original two-stage scan→agg (no anti-join stage)."""
    spark = reader.spark
    plan, terms = _query_plan(queries)
    idf_map = reader.idf_map(terms)
    if not idf_map:
        return _empty_result(spark)
    avgdl = float(reader.stats["avgdl"])
    xmap = {
        int(q["qid"]): sorted(set(tokenize(q.get("exclude", ""))))
        for q in queries
    }
    xterms = sorted({t for xs in xmap.values() for t in xs})
    xknown = set(reader.idf_map(xterms)) if xterms else set()
    qrows = [(qid, k, t, False) for qid, k, ts in plan for t in ts if t in idf_map]
    xrows = [
        (qid, 0, t, True)
        for qid, xs in xmap.items()
        for t in xs
        if t in xknown
    ]
    qdf = local_df(spark, qrows + xrows, "qid int, k int, term string, excl boolean")

    scan_terms = list(idf_map) + sorted(xknown - set(idf_map))
    blocks = reader.postings().filter(F.col("term").isin(scan_terms)).join(
        F.broadcast(qdf), "term"
    )

    def decode_score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy()
            d, tfs, dls, _ = decode_blocks_batch(
                pdf["first_docid"].to_numpy(), ns,
                pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
            )
            # Exclusion terms have no idf entry -> NaN impact; those
            # rows are flagged and never reach the score sum.
            idf_rep = np.repeat(pdf["term"].map(idf_map).to_numpy(dtype=np.float64), ns)
            imp = impact_np(tfs, dls, idf_rep, avgdl)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(np.int32), ns),
                    "k": np.repeat(pdf["k"].to_numpy(np.int32), ns),
                    "docid": d,
                    "impact": imp,
                    "excl": np.repeat(pdf["excl"].to_numpy(bool), ns),
                }
            )

    decoded = blocks.mapInPandas(
        decode_score, "qid int, k int, docid long, impact double, excl boolean"
    )
    if xrows:
        # One scan, one shuffle: fold the disqualification into the
        # same aggregation (max(excl) marks a doc hit by any MUST_NOT
        # term; its positive impacts are summed but the row is dropped
        # before top-k). Exclusion rows carry k=0, so max(k) recovers
        # the query's real k.
        cand = (
            decoded.groupBy("qid", "docid")
            .agg(
                F.sum(F.when(~F.col("excl"), F.col("impact"))).alias("score"),
                F.max("k").alias("k"),
                F.max("excl").alias("is_excl"),
            )
            .filter(~F.col("is_excl") & F.col("score").isNotNull())
            .select("qid", "k", "docid", "score")
        )
    else:
        cand = (
            decoded.filter(~F.col("excl"))
            .groupBy("qid", "k", "docid")
            .agg(F.sum("impact").alias("score"))
        )
    return _topk_window(cand)


def search_index_qld(
    reader: IndexReader, queries: list[dict], mu: float = 2000.0
) -> DataFrame:
    """(qid, rank, docid, score) under Dirichlet-smoothed query
    likelihood (operators/topk.py:search_lm_dirichlet's formula,
    pinned identically) served FROM THE INDEX — the Lucene
    per-query similarity switch at the on-disk serving level.

    The index stores tf and dl per posting (not cf), so scoring is two
    stages over ONE term-filtered scan: the decoded (qid, term, docid,
    tf, dl) frame is persisted, collection frequencies aggregate from
    it (≤ Σ|q| rows — exactly the query terms' postings, never the
    corpus), then per-doc scores sum the smoothed logs plus the
    L·ln(μ/(dl+μ)) norm. Corpus-absent terms drop from both the sum
    and L; only docs matching ≥1 term rank; ties (score desc, docid
    asc). T comes from index stats (finalize's total-token count,
    zero-token docs included)."""
    spark = reader.spark
    plan, terms = _query_plan(queries)
    idf_map = reader.idf_map(terms)  # existence only — QLD needs no idf
    if not idf_map:
        return _empty_result(spark)
    total_tokens = float(reader.stats["total_tokens"])
    qrows = [(qid, k, t) for qid, k, ts in plan for t in ts if t in idf_map]
    qdf = local_df(spark, qrows, "qid int, k int, term string")
    blocks = reader.postings().filter(F.col("term").isin(list(idf_map))).join(
        F.broadcast(qdf), "term"
    )

    def decode_rows(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy()
            d, tfs, dls, _ = decode_blocks_batch(
                pdf["first_docid"].to_numpy(), ns,
                pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
            )
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(np.int32), ns),
                    "k": np.repeat(pdf["k"].to_numpy(np.int32), ns),
                    "term": np.repeat(pdf["term"].to_numpy(object), ns),
                    "docid": d,
                    "tf": tfs,
                    "dl": dls,
                }
            )

    decoded = blocks.mapInPandas(
        decode_rows, "qid int, k int, term string, docid long, tf long, dl long"
    ).persist()
    try:
        # decoded holds a (term, docid) row once per query holding the
        # term: cf sums each posting once
        cf_rows = (
            decoded.dropDuplicates(["term", "docid"])
            .groupBy("term")
            .agg(F.sum("tf").alias("cf"))
            .collect()
        )
        cf_map = {r["term"]: float(r["cf"]) for r in cf_rows}
        l_map = {
            qid: float(sum(1 for t in ts if t in cf_map))
            for qid, _, ts in plan
        }
        if not cf_map:
            return _empty_result(spark)
        cf_df = local_df(spark, [(t, c) for t, c in cf_map.items()], "term string, cf double")
        l_df = local_df(spark, [(int(q), l) for q, l in l_map.items()], "qid int, L double")
        per = F.log(
            F.lit(1.0)
            + F.col("tf").cast("double")
            / (F.lit(float(mu)) * (F.col("cf") / F.lit(total_tokens)))
        )
        norm = F.col("L") * F.log(
            F.lit(float(mu)) / (F.max("dl").cast("double") + F.lit(float(mu)))
        )
        cand = (
            decoded.join(F.broadcast(cf_df), "term")
            .join(F.broadcast(l_df), "qid")
            .groupBy("qid", "k", "docid", "L")
            .agg((F.sum(per) + norm).alias("score"))
            .select("qid", "k", "docid", "score")
        )
        # localCheckpoint cuts the lineage (k rows per query), so the
        # decoded frame can release before the caller ever collects —
        # the same iterative-lineage discipline as connected_components
        return _topk_window(cand).localCheckpoint(eager=True)
    finally:
        decoded.unpersist(blocking=False)


def _score_candidates(cands: np.ndarray, per_term: dict, idf_map, avgdl) -> np.ndarray:
    """Exact BM25 for candidate docids; per_term[t] = (docids, tfs, dls)
    sorted arrays covering every candidate's potential match. Summation
    in sorted-term order (pinned)."""
    total = np.zeros(cands.size, dtype=np.float64)
    for t in sorted(per_term):
        d, tfs, dls = per_term[t]
        if d.size == 0:
            continue
        pos = np.searchsorted(d, cands)
        pos_c = np.minimum(pos, d.size - 1)
        hit = d[pos_c] == cands
        if hit.any():
            total[hit] += impact_np(tfs[pos_c[hit]], dls[pos_c[hit]], idf_map[t], avgdl)
    return total


class _GroupBlocks:
    """One kernel group's block rows: per-term block positions ordered by
    first_docid (a term's runs are docid-disjoint, so the concatenation
    of any subset is sorted-unique) and a lazy per-block decode cache
    shared by every query of the batch."""

    def __init__(self, pdf: pd.DataFrame):
        self.terms = pdf["term"].to_numpy()
        self.first = pdf["first_docid"].to_numpy()
        self.last = pdf["last_docid"].to_numpy()
        self.bm = pdf["block_max"].to_numpy()
        self._bins = (
            pdf["docids_bin"].to_numpy(), pdf["tfs_bin"].to_numpy(), pdf["dls_bin"].to_numpy()
        )
        self.pos_by_term: dict[str, np.ndarray] = {}
        for t in np.unique(self.terms):
            sel = np.flatnonzero(self.terms == t)
            self.pos_by_term[t] = sel[np.argsort(self.first[sel], kind="stable")]
        self._decoded: dict[int, tuple] = {}

    def dec(self, i: int) -> tuple:
        if i not in self._decoded:
            d_bins, t_bins, l_bins = self._bins
            self._decoded[i] = decode_block(int(self.first[i]), d_bins[i], t_bins[i], l_bins[i])
        return self._decoded[i]

    def _overlapping(self, t: str, cands: np.ndarray):
        """Decoded blocks of term ``t`` whose docid range holds a candidate."""
        for i in self.pos_by_term.get(t, ()):
            lo = np.searchsorted(cands, self.first[i])
            hi = np.searchsorted(cands, self.last[i], side="right")
            if hi > lo:
                yield self.dec(int(i))

    def per_term_for(self, cands: np.ndarray, qterms: list[str]) -> dict:
        """term → (docids, tfs, dls) covering every candidate's posting
        of that term (the :func:`_score_candidates` input)."""
        out = {}
        for t in qterms:
            parts = list(self._overlapping(t, cands))
            out[t] = (
                tuple(np.concatenate([p[j] for p in parts]) for j in range(3))
                if parts else (np.empty(0, np.int64),) * 3
            )
        return out

    def drop_excluded(self, cands: np.ndarray, xs: list[str]) -> np.ndarray:
        """Candidates minus the docs containing ANY exclusion term, reading
        only the exclusion blocks that overlap the candidates."""
        if not xs or cands.size == 0:
            return cands
        xdocs = [p[0] for t in xs for p in self._overlapping(t, cands)]
        if not xdocs:
            return cands
        return cands[~np.isin(cands, np.concatenate(xdocs))]

    def block_cut(
        self, qterms: list[str], xs: list[str], k: int, idf_map: dict, avgdl: float,
        theta_factor: float = 1.0,
    ) -> np.ndarray:
        """Positions of the query's blocks that survive the block-max cut.

          1. σ_t   = max block_max of term t in this group (upper bound on
                     any single-term contribution here)
          2. seed θ = k-th best exact score of the docs in the single
                     highest-block_max block (scored across every query
                     term). Exclusion applies BEFORE seeding: an excluded
                     doc's score would inflate θ above the true k-th valid
                     score and make the cut unsound.
          3. keep block b of term t iff
             block_max(b) + Σ_{t'≠t} σ_{t'} ≥ θ·theta_factor.

        Soundness at ``theta_factor=1``: for a doc d, total(d) ≤
        block_max(b_t(d)) + Σ_{t'≠t} σ_{t'} for ANY term t containing d;
        if every block containing d is dropped, total(d) < θ, so d cannot
        displace the seeded top-k (ties included — ≥ keeps the boundary).
        Fewer than k seed docs leave θ = −inf and every block is kept. A
        factor > 1 trades recall for fewer decodes (the analog of the
        reference's n_probe < n_clusters mode); BM25 impacts are positive,
        so θ > 0 whenever seeded, and the guard only keeps a factor from
        ever LOWERING a non-positive threshold."""
        q_pos = [p for t in qterms for p in self.pos_by_term.get(t, ())]
        if not q_pos:
            return np.empty(0, np.int64)
        q_pos = np.asarray(q_pos, dtype=np.int64)
        bm = self.bm
        sigma = {t: float(bm[self.pos_by_term[t]].max()) for t in qterms if t in self.pos_by_term}
        sig_sum = float(sum(sigma.values()))
        seed_docs = self.drop_excluded(self.dec(int(q_pos[bm[q_pos].argmax()]))[0], xs)
        seed_scores = _score_candidates(
            seed_docs, self.per_term_for(seed_docs, qterms), idf_map, avgdl
        )
        theta = float(np.sort(seed_scores)[-k]) if seed_scores.size >= k else float("-inf")
        bounds = bm[q_pos] + (sig_sum - np.array([sigma[t] for t in self.terms[q_pos]]))
        thr = theta * theta_factor if theta > 0 else theta
        return q_pos[bounds >= thr]


def _vec_prune_blocks(pdf: pd.DataFrame, known_plan, idf_map, avgdl) -> pd.DataFrame:
    """Batch-exact block-max pruning for the exact kernel: drop the block
    rows no query can need, BEFORE the one-pass batch decode. The kept
    set is the union over the batch of each query's
    :meth:`_GroupBlocks.block_cut` at θ, plus every exclusion-term block
    (the scoring kernel needs them to zero excluded docs).

    Soundness of the pruned SCORE MATRIX: for any query q, every doc d
    with full score S(d) ≥ θ_q has, for EVERY query term t with
    d ∈ postings(t), its t-block B kept for q — because
    bm_B + (sig_sum_q − σ_t) ≥ imp_t(d) + Σ_{t'≠t} σ_{t'} ≥ S(d) ≥ θ_q.
    So every such doc's matrix score is COMPLETE, the seed set
    guarantees ≥ k complete docs at θ_q > −inf, and any doc with a
    (possibly incomplete) matrix score has true S < θ_q ≤ kth-true —
    strictly below every reported score, ties included. Rows and scores
    therefore equal the exhaustive top-k (pytest-asserted)."""
    g = _GroupBlocks(pdf)
    keep = np.zeros(len(pdf), dtype=bool)
    for _, k, qterms, xs in known_plan:
        keep[g.block_cut(qterms, xs, k, idf_map, avgdl)] = True
        for t in xs:
            keep[g.pos_by_term.get(t, np.empty(0, np.int64))] = True
    if keep.all():
        return pdf
    return pdf[keep].reset_index(drop=True)


# The exact kernel's (queries × docs) score matrix: at most WAND_VEC_CHUNK
# queries, and at most WAND_VEC_CELL_BUDGET float64 cells (~256 MB) per
# task, so a fat shard group shrinks the chunk instead of blowing task
# memory. Results are chunk-invariant (per-query rows are independent).
WAND_VEC_CHUNK = 128
WAND_VEC_CELL_BUDGET = 32_000_000


def _wand_group_exact(
    pdf: pd.DataFrame, known_plan, avgdl: float, keep_ties: bool, chunk: int, cell_budget: int
) -> pd.DataFrame:
    """Exact cross-query kernel: block cut (:func:`_vec_prune_blocks`),
    one decode + one impact pass for the whole group, then chunked
    (queries × docs) scatter-add scoring with per-query top-k.
    Scatter-adds run in sorted-term order, the same float64 accumulation
    sequence as :func:`_score_candidates`, so scores equal the
    driver-local probe's bit for bit."""
    idf_map = _group_idf(pdf)
    pdf = _vec_prune_blocks(pdf, known_plan, idf_map, avgdl)
    if len(pdf) == 0:
        return _kernel_frame([])
    # blocks sorted by term -> each term's postings are one
    # contiguous slice of the concatenated decode below
    pdf = pdf.sort_values("term", kind="stable", ignore_index=True)
    ns = pdf["n"].to_numpy()
    d_all, tf_all, dl_all, _ = decode_blocks_batch(
        pdf["first_docid"].to_numpy(), ns,
        pdf["docids_bin"], pdf["tfs_bin"], pdf["dls_bin"],
    )
    terms_arr = pdf["term"].to_numpy()
    # exclusion-only terms' impacts are computed but never added
    # (t2q maps positive terms only)
    idf_rep = np.repeat(
        np.array([idf_map.get(t, 0.0) for t in terms_arr], dtype=np.float64), ns
    )
    imp_all = impact_np(tf_all, dl_all, idf_rep, avgdl)
    D = np.unique(d_all)  # dense doc axis of the score matrix
    row_all = np.searchsorted(D, d_all)
    post_off = np.concatenate([[0], np.cumsum(ns)]).astype(np.int64)
    blk_new = np.concatenate([[True], terms_arr[1:] != terms_arr[:-1]])
    t_first = np.flatnonzero(blk_new)
    t_start = post_off[t_first]
    t_end = np.concatenate([t_start[1:], [post_off[-1]]])
    term_slice = {
        t: (int(s), int(e))
        for t, s, e in zip(terms_arr[t_first], t_start, t_end)
    }
    # reverse index: term -> ordinals of the batch queries using it
    # (and x2q for exclusion terms — their docs are zeroed after
    # accumulation)
    t2q: dict[str, list[int]] = {}
    x2q: dict[str, list[int]] = {}
    n_q = len(known_plan)
    ks = np.empty(n_q, dtype=np.int64)
    qids = np.empty(n_q, dtype=np.int64)
    for qi, (qid, k, qterms, xs) in enumerate(known_plan):
        ks[qi], qids[qi] = k, qid
        for t in qterms:
            if t in term_slice:
                t2q.setdefault(t, []).append(qi)
        for t in xs:
            if t in term_slice:
                x2q.setdefault(t, []).append(qi)
    t2q_arr = {t: np.asarray(v, dtype=np.int64) for t, v in t2q.items()}
    sorted_terms = sorted(t2q_arr)
    x2q_arr = {t: np.asarray(v, dtype=np.int64) for t, v in x2q.items()}
    chunk = max(1, min(chunk, cell_budget // max(D.size, 1)))
    parts = []
    for c0 in range(0, n_q, chunk):
        c1 = min(c0 + chunk, n_q)
        scores = np.zeros((c1 - c0, D.size), dtype=np.float64)
        for t in sorted_terms:  # sorted order == _score_candidates'
            qs = t2q_arr[t]  # ascending query ordinals
            qs = qs[np.searchsorted(qs, c0) : np.searchsorted(qs, c1)]
            if qs.size == 0:
                continue
            s, e = term_slice[t]
            r, v = row_all[s:e], imp_all[s:e]
            if qs.size >= 2 and r.size * 10 >= D.size:
                # head term shared by many queries: scatter once
                # into a dense row, then contiguous SIMD adds per
                # query (measured ~10× over per-query fancy adds).
                # Bitwise-identical: the extra cells add +0.0 to
                # nonnegative partial sums, which is exact.
                tmp = np.zeros(D.size, dtype=np.float64)
                tmp[r] = v
                for q in qs:
                    scores[q - c0] += tmp
            else:
                for q in qs:
                    scores[q - c0, r] += v
        # MUST_NOT: zero the excluded docs' cells — the row > 0
        # filter below then drops them
        for t in sorted(x2q_arr):
            qs = x2q_arr[t]
            qs = qs[np.searchsorted(qs, c0) : np.searchsorted(qs, c1)]
            if qs.size == 0:
                continue
            s, e = term_slice[t]
            r = row_all[s:e]
            for q in qs:
                scores[q - c0, r] = 0.0
        for j in range(c1 - c0):
            row = scores[j]
            pos = np.flatnonzero(row > 0.0)  # docs with >=1 query term
            if pos.size == 0:
                continue
            k = int(ks[c0 + j])
            docs, vals = D[pos], row[pos]
            top = _top_k(docs, vals, k, keep_ties)
            parts.append((qids[c0 + j], k, docs[top], vals[top]))
    return _kernel_frame(parts)


def _wand_group_approx(pdf: pd.DataFrame, known_plan, avgdl: float, theta_factor: float) -> pd.DataFrame:
    """Approximate per-query kernel (``theta_factor != 1``): each query's
    block cut at θ·factor, then the kept blocks' docs are exact-scored
    (skipped blocks overlapping a candidate decode on demand) and the
    top k emitted. The exact kernel cannot serve this mode: its matrix
    scores are complete only above the exact θ."""
    idf_map = _group_idf(pdf)
    g = _GroupBlocks(pdf)
    parts = []
    for qid, k, qterms, xs in known_plan:
        kept = g.block_cut(qterms, xs, k, idf_map, avgdl, theta_factor)
        if kept.size == 0:
            continue
        cands = g.drop_excluded(np.unique(np.concatenate([g.dec(int(i))[0] for i in kept])), xs)
        if cands.size == 0:
            continue
        scores = _score_candidates(cands, g.per_term_for(cands, qterms), idf_map, avgdl)
        top = _top_k(cands, scores, k)
        parts.append((qid, k, cands[top], scores[top]))
    return _kernel_frame(parts)


def search_index_wand(
    reader: IndexReader,
    queries: list[dict],
    theta_factor: float = 1.0,
    keep_boundary_ties: bool = False,
    vectorized: bool | None = None,
) -> DataFrame:
    """(qid, rank, docid, score) via per-shard-group block-max pruning.

    One applyInPandas group per bundle of shards (not per (qid, shard)) —
    the whole query batch runs against each group, amortizing group/UDF
    overhead across queries. At the default ``theta_factor=1.0`` every
    batch, whatever its width, runs the exact cross-query kernel
    (:func:`_wand_group_exact`): the union of the batch's kept blocks
    decodes in a single vectorized call, per-posting impacts are
    computed ONCE for the whole batch, and query chunks score through
    per-term scatter-adds into a (queries × docs) matrix with per-query
    top-k selection. Rows equal the exhaustive path (pytest-asserted).

    ``theta_factor`` > 1 inflates the pruning threshold θ — blocks are
    kept only if bound ≥ θ·factor — trading recall for fewer decodes
    (the analog of the reference's n_probe < n_clusters approximate
    mode), served by the per-query kernel (:func:`_wand_group_approx`). 1.0 (default) is EXACT: the
    bound argument in :meth:`_GroupBlocks.block_cut` guarantees no true
    top-k doc is pruned. Approximate recall is measured in
    scripts/recall_eval.py.

    ``keep_boundary_ties`` changes the contract for callers that want
    to re-break ties under their OWN ordering (e.g. external doc_id
    after a docmap join): every group emits ALL docs whose score ties
    the group's k-th score, and the global merge uses rank() over
    (score desc) alone, so every doc that could enter the top-k under
    ANY tie-break survives. Soundness: a doc with score strictly below
    its group's k-th score already has k better-scored docs in that
    group alone, so no tie-break can pull it into the global top-k.
    The default (False) pins ties on internal docid, exactly k rows.

    The two dials are mutually exclusive: ``keep_boundary_ties``'s
    all-ties guarantee relies on exact pruning (θ·1.0) — an inflated
    threshold can drop whole blocks holding tie docs — so combining it
    with ``theta_factor != 1.0`` raises rather than silently voiding
    the guarantee.

    ``vectorized`` is accepted for compatibility and ignored: the
    kernel follows from ``theta_factor`` alone.

    The batch's distinct terms reach the scan as a relation, not a
    literal: they become a small Arrow-built DataFrame that is
    broadcast-joined against the dictionary for idf and then against
    the postings as the scan filter. The idf values ride the block rows
    into each group kernel, which rebuilds its (tiny) slice of the
    term→idf map from the group's own columns, so the driver holds no
    O(terms) state and makes no per-term engine call (see
    :func:`_term_blocks`). A term with no postings in any group simply
    contributes no blocks: an OOV query emits nothing, and an OOV term
    of a mixed query scores nothing.

    A query dict may carry ``"exclude"`` — Lucene's BooleanQuery
    MUST_NOT: its tokens disqualify any doc containing them, applied
    BEFORE top-k selection so excluded docs never occupy result slots.
    Exclusion terms are never scored; their postings ride the scan so
    each group kernel can subtract their docs locally (a doc's postings
    all live in one shard). The subtract also applies to the θ seed
    (see :meth:`_GroupBlocks.block_cut`); the exact kernel then zeroes
    the excluded docs' score cells, the approximate one drops them from
    its candidates. An OOV exclude term excludes nothing; plain and
    MUST_NOT queries mix freely in one batch."""
    if keep_boundary_ties and theta_factor != 1.0:
        raise ValueError(
            "keep_boundary_ties guarantees every possible tie-break survivor "
            "only under exact pruning; theta_factor must be 1.0 with it "
            f"(got {theta_factor})"
        )
    spark = reader.spark
    plan, terms = _query_plan(queries)
    xmap = {
        int(q["qid"]): sorted(set(tokenize(q.get("exclude", ""))))
        for q in queries
    }
    xterms = sorted({t for xs in xmap.values() for t in xs})
    known_plan = [(q, k, ts, xmap[q]) for q, k, ts in plan if ts]
    if not known_plan:
        return _empty_result(spark)
    # ship the query plan as a broadcast variable (cached once per
    # executor) rather than a UDF closure (re-shipped per task) —
    # matters once the batch reaches 10^5+ queries. Previous calls'
    # broadcasts are unpersisted (see _LIVE_PLAN_BROADCASTS), so
    # repeated batches in a long-lived session keep at most one plan
    # broadcast resident on executors.
    avgdl = float(reader.stats["avgdl"])
    bc = _rotate_plan_broadcast(spark, (known_plan, avgdl))
    # exclusion terms join the term relation too (their idf is ignored;
    # only their docids are read in the kernels)
    blocks = _shard_groups(
        spark, _term_blocks(reader, reader.postings(), sorted(set(terms) | set(xterms)))
    )
    if theta_factor == 1.0:
        # the matrix bounds are read here, on the driver, and travel with
        # the closure — the executors see the caller's settings
        chunk, cell_budget = WAND_VEC_CHUNK, WAND_VEC_CELL_BUDGET

        def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
            known_plan, avgdl = bc.value
            return _wand_group_exact(pdf, known_plan, avgdl, keep_boundary_ties, chunk, cell_budget)
    else:

        def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
            known_plan, avgdl = bc.value
            return _wand_group_approx(pdf, known_plan, avgdl, theta_factor)

    local = blocks.groupBy("_qgroup").applyInPandas(kernel, RESULT_SCHEMA)
    return _topk_window(local, keep_ties=keep_boundary_ties)


def _occurrence_keys(cands: np.ndarray, words, data: dict, pad: int):
    """``(M, {word: sorted keys})`` — every occurrence of each distinct
    word in the candidates (sorted docids, all containing every word)
    as the key cand_index·M + position. data[t] = (docids, tfs, dls,
    positions, run_starts) with positions strictly increasing per
    posting run, so each word's keys come out sorted (cand_index asc,
    positions asc per run) with no per-doc Python loop. M exceeds every
    position by ``pad`` + 1, so a probe up to ``pad`` positions before
    or after a key never lands in another candidate's key range."""
    uw = set(words)
    M = max(int(data[w][3].max()) if data[w][3].size else 0 for w in uw) + pad + 2
    keys = {}
    for w in uw:
        d, tf, _, pos, rs = data[w]
        r = np.searchsorted(d, cands)
        counts = tf[r]
        out_start = np.concatenate([[0], np.cumsum(counts)[:-1]])
        idx = np.repeat(rs[r] - out_start, counts) + np.arange(int(counts.sum()), dtype=np.int64)
        ci = np.repeat(np.arange(cands.size, dtype=np.int64), counts)
        keys[w] = ci * M + pos[idx]
    return M, keys


def _interval_max(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """max(vals[lo[i]:hi[i]]) per query interval, -1 where empty —
    vectorized sparse-table range-maximum. Build is O(n log n), the
    queries are O(1) each via the classic two-overlapping-powers-of-two
    lookup, so total cost is independent of the interval WIDTH (the
    property the proximity-boost chain filter needs: its windows are
    max_gap wide, and a per-offset probe would pay O(max_gap) passes)."""
    res = np.full(lo.size, -1, dtype=np.int64)
    n = vals.size
    ok = hi > lo
    if n == 0 or not ok.any():
        return res
    levels = [vals]
    j = 1
    while (1 << j) <= n:
        prev, half = levels[-1], 1 << (j - 1)
        m = n - (1 << j) + 1
        levels.append(np.maximum(prev[:m], prev[half : half + m]))
        j += 1
    # floor(log2(len)) exactly: frexp exponent − 1 (exact for int lens)
    lg = np.zeros(lo.size, dtype=np.int64)
    lg[ok] = np.frexp((hi - lo)[ok].astype(np.float64))[1] - 1
    for g in np.unique(lg[ok]):
        m = ok & (lg == g)
        L = levels[g]
        res[m] = np.maximum(L[lo[m]], L[hi[m] - (1 << int(g))])
    return res


def _chain_survivors(
    cands: np.ndarray, words: list[str], data: dict, max_gap: int,
    with_slack: bool = False, with_window: bool = False,
):
    """Ordered within-gap (proximity) match: the subset of candidates
    containing positions p_0 < p_1 < … < p_{L-1}, one per word in
    order, with every consecutive gap in [1, max_gap]. ``max_gap=1``
    is exactly phrase adjacency (word j must sit one position after
    word j−1; repeated words need nothing special), and every such
    chain spans L−1, so its slack is 0 and its window is the doc's
    first occurrence.

    Chain filter, one sorted-array pass per word: S_0 = word 0's
    occurrence keys (:func:`_occurrence_keys`); S_j keeps word j's
    occurrences with a predecessor in [key−max_gap, key). M > max
    position + max_gap, so windows can never cross documents.
    O(total candidate positions · L) with binary searches — no per-doc
    Python loop.

    ``with_slack=True`` returns ``(survivor docids, min_slack)`` where
    min_slack[i] is the minimal total extra gap over all valid chains
    in that doc: (p_{L-1} − p_0) − (L−1), 0 iff an exact-adjacent
    match exists. Computed by propagating the MAX chain-start per end
    key (span = end − start, so the tightest chain ending at a key is
    the one with the latest start; any chain decomposes through a
    predecessor, so the per-key max is exact), then a per-doc min over
    final keys — the per-key predecessor max is a windowed range-max
    over [key−max_gap, key) (:func:`_interval_max`), so the cost is
    independent of ``max_gap``, same as the unboosted path.

    ``with_window=True`` (implies the slack DP) returns
    ``(survivor docids, min_slack, win_start, win_end)`` where the
    window is the LEFTMOST-minimal valid chain: among chains achieving
    the doc's minimal span, the one with the smallest end position
    (its start is end − span, unique) — the deterministic pick a SQL
    oracle can reproduce with min(span) then min(end)."""
    if with_window:
        with_slack = True
    empty = np.empty(0, dtype=np.int64)

    def _empty_ret():
        if with_window:
            return empty, empty.copy(), empty.copy(), empty.copy()
        return (empty, empty.copy()) if with_slack else empty

    if cands.size == 0 or not words:
        if cands.size == 0:
            return _empty_ret()
        return (cands, empty.copy()) if with_slack else cands
    L = len(words)
    M, keys = _occurrence_keys(cands, words, data, max_gap)
    survivors = keys[words[0]]
    starts = survivors % M if with_slack else None  # chain start = own position
    for w in words[1:]:
        if survivors.size == 0:
            return _empty_ret()
        q = keys[w]
        # predecessors in [q−max_gap, q); q−max_gap below a doc's key
        # range cannot alias another doc (positions < M − max_gap − 1)
        lo = np.searchsorted(survivors, q - max_gap)
        hi = np.searchsorted(survivors, q)
        if not with_slack:
            survivors = q[hi > lo]
        else:
            # the windowed MAX of chain starts over the predecessor
            # window, one range-max — cost independent of max_gap (a
            # NEAR/50 boost query pays the same as NEAR/2)
            best = _interval_max(starts, lo, hi)
            keep = best >= 0
            survivors, starts = q[keep], best[keep]
    if survivors.size == 0:
        return _empty_ret()
    if not with_slack:
        return cands[np.unique(survivors // M)]
    ci = survivors // M
    end = survivors % M
    span = end - starts
    uci, first_idx = np.unique(ci, return_index=True)
    min_span = np.minimum.reduceat(span, first_idx)
    min_slack = min_span - (L - 1)
    if not with_window:
        return cands[uci], min_slack
    counts = np.diff(np.concatenate([first_idx, [ci.size]]))
    is_min = span == np.repeat(min_span, counts)
    masked_end = np.where(is_min, end, np.iinfo(np.int64).max)
    win_end = np.minimum.reduceat(masked_end, first_idx)
    return cands[uci], min_slack, win_end - min_span, win_end


def _window_survivors(
    cands: np.ndarray, words: list[str], data: dict, max_span: int,
    with_slack: bool = False, with_window: bool = False,
):
    """Unordered within-window (NEAR/W) match: the subset of candidates
    containing ALL distinct query words inside some token window of
    span ≤ ``max_span`` (span = max position − min position of the
    covering occurrence set), in ANY order — Lucene's unordered
    SpanNear, the span family's other member next to the ordered chain
    filter (phrase adjacency and ordered slop).

    Minimal-cover sweep, fully vectorized: every occurrence of every
    query word is an ANCHOR (candidate window minimum); for each
    anchor, each word's earliest occurrence ≥ the anchor is one
    ``searchsorted`` into that word's sorted key array (keys =
    cand_index·M + position, so cross-document probes self-invalidate
    via the key-space check); the window end is the max over words and
    the doc's minimal span is a ``minimum.reduceat`` over its anchors.
    The true minimal window's leftmost element is an occurrence of
    some word, so anchoring on occurrences is exhaustive. O(total
    candidate positions · L · log) with no per-doc Python loop.

    ``with_slack=True`` additionally returns min_span − (L−1) per
    surviving doc (0 iff some window packs the L distinct words into
    L consecutive tokens) — the unordered analog of the chain filter's
    slack, feeding the same proximity-boost formula.

    ``with_window=True`` (implies slack) returns ``(hits, slack,
    win_start, win_end)``, the LEFTMOST-minimal covering window: the
    smallest anchor among those achieving the doc's minimal span
    (every minimal window's leftmost element is an anchor, so the
    anchor set contains every minimal window start — the pick is
    min(span) then min(start), the same deterministic rule a SQL
    oracle reproduces; with equal spans min start ≡ min end, so the
    tie-break family matches the ordered path's)."""
    if with_window:
        with_slack = True
    uw = sorted(set(words))
    L = len(uw)
    empty = np.empty(0, dtype=np.int64)

    def _empty_ret():
        if with_window:
            return empty, empty.copy(), empty.copy(), empty.copy()
        return (empty, empty.copy()) if with_slack else empty

    if cands.size == 0 or not uw:
        if cands.size == 0:
            return _empty_ret()
        return (cands, empty.copy()) if with_slack else cands
    M, keys = _occurrence_keys(cands, uw, data, max_span)
    anchors = np.sort(np.concatenate(list(keys.values())))
    valid = np.ones(anchors.size, dtype=bool)
    end = anchors.copy()
    for w in uw:
        kw = keys[w]
        p = np.searchsorted(kw, anchors)
        ok = p < kw.size
        nxt = kw[np.minimum(p, max(kw.size - 1, 0))]
        ok &= (nxt // M) == (anchors // M)  # same doc
        valid &= ok
        end = np.maximum(end, np.where(ok, nxt, anchors))
    va = anchors[valid]
    if va.size == 0:
        return _empty_ret()
    spans = end[valid] - va  # same-doc guaranteed, so plain difference
    ci = va // M
    uci, first = np.unique(ci, return_index=True)
    min_span = np.minimum.reduceat(spans, first)
    sel = np.flatnonzero(min_span <= max_span)
    hits = cands[uci[sel]]
    if not with_slack:
        return hits
    slack = (min_span[sel] - (L - 1)).astype(np.int64)
    if not with_window:
        return hits, slack
    counts = np.diff(np.concatenate([first, [ci.size]]))
    is_min = spans == np.repeat(min_span, counts)
    masked_start = np.where(is_min, va % M, np.iinfo(np.int64).max)
    ws = np.minimum.reduceat(masked_start, first)[sel]
    return hits, slack, ws, ws + min_span[sel]


def _rank_span_hits(
    cands: np.ndarray, words: list[str], data: dict, gap: int, unordered: bool,
    boost: float, windows: bool, idf_map: dict, avgdl: float, k: int,
    keep_ties: bool = False,
):
    """``(docids, scores, win_start | None, win_end | None)`` of one
    span query's top hits: span verification by the unordered window
    filter or the ordered chain filter (exact adjacency at ``gap=1``),
    BM25 over the distinct words plus the proximity boost, then
    :func:`_top_k`. The ONE verification-and-ranking tail of
    ``search_index_phrase``'s kernel and ``LocalIndexProbe.search_phrase``,
    so the two serving paths stay row-identical by construction. With
    the boost off the slack is ignored (exact BM25 identity), even when
    windows materialize it."""
    span = _window_survivors if unordered else _chain_survivors
    out = span(cands, words, data, gap, with_slack=boost != 0.0, with_window=windows)
    hits, slack, *win = out if windows or boost != 0.0 else (out, None)
    if boost == 0.0:
        slack = None
    qterms = sorted(set(words))
    per_term = {t: data[t][:3] for t in qterms}
    scores = _boosted(
        _score_candidates(hits, per_term, idf_map, avgdl), slack, qterms, idf_map, boost
    )
    top = _top_k(hits, scores, k, keep_ties)
    ws, we = (w[top] for w in win) if windows else (None, None)
    return hits[top], scores[top], ws, we


def _boosted(scores: np.ndarray, slack, qterms: list[str], idf_map: dict, boost: float):
    """score + boost · Σidf / (1 + slack) — the one proximity-boost
    formula, shared by both serving paths; identity when slack is
    None (boost off)."""
    if slack is None:
        return scores
    idf_sum = float(sum(idf_map[t] for t in qterms))
    return scores + boost * (idf_sum / (1.0 + slack))


def search_index_phrase(
    reader: IndexReader,
    queries: list[dict],
    keep_boundary_ties: bool = False,
    max_gap: int = 1,
    distributed_idf: bool | None = None,
    proximity_boost: float = 0.0,
    unordered: bool = False,
    emit_windows: bool = False,
) -> DataFrame:
    """Index-only phrase retrieval: (qid, rank, docid, score) for
    phrase queries, verified from the POSITIONS stream — the stored
    text is never re-read (contrast topk.search_phrase, the
    positionless fallback). Requires a ``store_positions=True`` index.

    ``keep_boundary_ties`` has the ``search_index_wand`` contract:
    every shard emits all docs tying its k-th score and the global
    merge keeps every potential top-k member, for callers re-breaking
    ties under their own ordering (e.g. external doc_id).

    ``max_gap`` relaxes adjacency to ordered proximity (Lucene-style
    ordered slop): the words must appear in order with every
    consecutive in-doc gap in [1, max_gap]. The default 1 is exact
    phrase adjacency; every gap runs the same candidate cut, positions
    streams and chain filter (:func:`_chain_survivors`).
    A query dict may carry its own ``"gap"`` key to override
    ``max_gap`` per query — one batch can mix phrase and proximity
    retrieval.

    Rows are identical to the positionless plan: candidates = docs
    containing every distinct phrase term (conjunctive cut — a doc's
    postings all live in one shard, so the intersection is per-shard
    local), adjacency verified from decoded positions, survivors
    ranked by BM25 over the distinct terms under (score desc, docid
    asc). Decode volume per shard group is rarest-first: the least
    frequent phrase term decodes fully to seed the candidate set, and
    every other term decodes ONLY blocks whose (first_docid,
    last_docid) range overlaps surviving candidates — a phrase
    containing a stop-word-frequency term pays for the rare term's
    postings, not the stop word's (the block-skip analog of WAND's
    θ pruning, driven by the conjunctive cut instead of score
    bounds). The stored text is never read; that's the
    bytes-for-latency trade vs the text-fetch plan, and at 100 TB it
    removes the corpus random-read per query entirely.

    Mega-batch ready: the query plan ships as a BROADCAST variable
    (cached once per executor, previous calls' plan broadcasts
    unpersisted — the WAND path's discipline), and the batch's terms
    reach the scan as a broadcast term⋈dictionary⋈postings join whose
    idf values ride the block rows into each kernel — the
    ``search_index_wand`` term path, with no O(terms) driver state or
    per-term engine call at 10⁴-10⁶-phrase width. The conjunctive
    any-OOV-term-voids-the-query rule lives in the kernel: a query
    whose term has no postings in a group never emits there, and an
    index-wide OOV term emits from no group. ``distributed_idf`` is
    accepted for compatibility and ignored (this is the only path).

    ``proximity_boost`` (default 0.0 = OFF; every oracle entry runs
    with it off and is unchanged) completes the Lucene analogy by
    RANKING on closeness, not just verifying it: score = BM25 +
    proximity_boost · Σ_t idf(t) / (1 + min_slack), where min_slack
    is the doc's minimal total extra gap over all valid ordered
    chains, (p_last − p_first) − (L−1) — 0 for an exact adjacent
    match, so tighter matches of the same terms rank higher and a
    ``max_gap=1`` query gets the constant full bonus. The match set
    is unchanged — the bonus only reorders docs that already
    qualify; semantics pinned by pytest.

    ``unordered`` switches to Lucene's UNORDERED SpanNear: the
    distinct query words must all appear inside some token window of
    SPAN ≤ ``max_gap`` (span = max − min position of the covering
    set), in any order (:func:`_window_survivors` — minimal-cover
    sweep anchored on every query-word occurrence). A query dict may
    carry its own ``"unordered"`` key, so one batch can mix phrase,
    ordered-slop, and unordered-window retrieval; with
    ``proximity_boost`` the slack is min_span − (L−1), the same
    formula as the ordered path.

    ``emit_windows=True`` appends two columns —
    ``win_start``, ``win_end``, 0-based token offsets of each hit's
    LEFTMOST-minimal match window (among chains achieving the doc's
    minimal span, the smallest end position; start = end − span;
    for unordered windows the smallest start, the same rule since
    equal spans make min start ≡ min end) — the Lucene-highlighting
    primitive: join docids back to stored text and slice tokens
    [win_start, win_end] to render snippets.
    Ranking and hit set are unchanged; the tie-break is deterministic
    so a SQL oracle reproduces the offsets exactly."""
    spark = reader.spark
    if not reader.stats.get("has_positions"):
        raise ValueError(
            "search_index_phrase needs a positions-enabled index — "
            "build with store_positions=True (falling back to "
            "topk.search_phrase re-reads stored text instead)"
        )
    # word ORDER and duplicates matter for phrases, so the plan keeps
    # each query's full word list (not _query_plan's distinct sets)
    tokenized = [
        (
            int(q["qid"]), int(q["k"]), tokenize(q["query"]),
            int(q.get("gap", max_gap)), bool(q.get("unordered", unordered)),
        )
        for q in queries
    ]
    known_plan = [p for p in tokenized if p[2]]
    windows = ", win_start long, win_end long" if emit_windows else ""
    if not known_plan:
        return _empty_result(spark, windows)
    avgdl = float(reader.stats["avgdl"])
    used = sorted({t for _, _, ws, _, _ in known_plan for t in ws})
    # plan as a broadcast (cached once per executor), not a UDF closure
    # (re-shipped per task) — the WAND path's pattern incl. the
    # unpersist-previous-calls discipline (_LIVE_PLAN_BROADCASTS)
    bc = _rotate_plan_broadcast(spark, (known_plan, avgdl))

    blocks = _shard_groups(spark, _term_blocks(reader, reader.postings(positions=True), used))

    def phrase_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        known_plan, avgdl = bc.value
        idf_map = _group_idf(pdf)
        if len(pdf) == 0:
            return _kernel_frame([], emit_windows)
        # blocks grouped per term, NOT decoded yet — decode is driven
        # rarest-first per query below. Runs are first_docid-ordered and
        # docid-disjoint, so any subset's concatenation is sorted-unique.
        # ONE sort + plain NumPy column arrays with a (start, end) slice
        # per term: the per-term pandas sub-DataFrames this replaces
        # spent more kernel time in pandas bookkeeping (per-term
        # sort_values, Series.sum, __getitem__) than in decode + span
        # verification combined (profiled at 10³-query width).
        pdf = pdf.sort_values(["term", "first_docid"], kind="stable", ignore_index=True)
        term_np = pdf["term"].to_numpy()
        first_np = pdf["first_docid"].to_numpy()
        last_np = pdf["last_docid"].to_numpy()
        n_np = pdf["n"].to_numpy()
        dbin_np = pdf["docids_bin"].to_numpy()
        tbin_np = pdf["tfs_bin"].to_numpy()
        lbin_np = pdf["dls_bin"].to_numpy()
        pbin_np = pdf["positions_bin"].to_numpy()
        blk_new = np.concatenate([[True], term_np[1:] != term_np[:-1]])
        t_starts = np.flatnonzero(blk_new)
        t_ends = np.concatenate([t_starts[1:], [len(term_np)]])
        by_term = {
            term_np[s]: (int(s), int(e)) for s, e in zip(t_starts, t_ends)
        }
        n_sum = {t: int(n_np[s:e].sum()) for t, (s, e) in by_term.items()}
        full_cache: dict[str, tuple] = {}

        def decode_rows(idx) -> tuple:
            d, tf, dl, _ = decode_blocks_batch(
                first_np[idx], n_np[idx], dbin_np[idx], tbin_np[idx], lbin_np[idx]
            )
            pos, rs = decode_positions(tf, pbin_np[idx])
            return (d, tf, dl, pos, rs)

        # a term used by SEVERAL of the batch's queries decodes FULLY
        # once and is reused (results identical — the span filters and
        # scorer searchsorted candidates into the term's arrays, so a
        # superset decode changes nothing). The per-query candidate-
        # driven subset decode below stays the path for single-use
        # terms, where it is strictly cheaper; at mega-batch width the
        # vocabulary repeats heavily and re-selecting overlapping block
        # subsets per query was the kernel's hot spot. SIZE GUARD: a
        # subset decode touches ≥1 block per use, so full decode (B
        # blocks) can only pay off when B is within a small multiple of
        # the term's use count — without it, two queries sharing one
        # stop-word would decode the index's largest positions stream
        # fully and pin it in full_cache (the small-batch anti-case).
        from collections import Counter

        use_counts = Counter(t for _, _, ws, _, _ in known_plan for t in set(ws))

        def full_decode(t: str) -> tuple:
            if t not in full_cache:
                s, e = by_term[t]
                full_cache[t] = decode_rows(slice(s, e))
            return full_cache[t]

        def prefer_full(t: str) -> bool:
            s, e = by_term[t]
            return t in full_cache or (
                use_counts[t] >= 2 and (e - s) <= 8 * use_counts[t]
            )

        parts = []
        for qid, k, words, gap, uo in known_plan:
            qterms = sorted(set(words))
            if any(t not in by_term for t in qterms):
                continue  # conjunctive: all terms must appear in this group
            # rarest term first (fewest postings in this group): decode
            # it fully; every later term decodes only blocks overlapping
            # the surviving candidate set. Coverage invariant: a final
            # hit's posting in term t lives in a block whose range
            # contains the hit, and the hit was a candidate when t's
            # blocks were selected — so kept blocks cover every hit for
            # both verification and scoring.
            order_t = sorted(qterms, key=lambda t: (n_sum[t], t))
            data: dict[str, tuple] = {order_t[0]: full_decode(order_t[0])}
            cands = data[order_t[0]][0]
            for t in order_t[1:]:
                if cands.size == 0:
                    break
                if prefer_full(t):
                    data[t] = full_decode(t)
                    cands = np.intersect1d(cands, data[t][0], assume_unique=True)
                    continue
                s, e = by_term[t]
                lo = np.searchsorted(cands, first_np[s:e])
                hi = np.searchsorted(cands, last_np[s:e], side="right")
                sel = np.flatnonzero(hi > lo)
                if sel.size == 0:
                    cands = np.empty(0, dtype=np.int64)
                    break
                data[t] = decode_rows(sel + s)
                cands = np.intersect1d(cands, data[t][0], assume_unique=True)
            if cands.size == 0:
                continue
            docids, scores, ws, we = _rank_span_hits(
                cands, words, data, gap, uo, proximity_boost, emit_windows,
                idf_map, avgdl, k, keep_boundary_ties,
            )
            if docids.size:
                part = (qid, k, docids, scores)
                parts.append(part + (ws, we) if emit_windows else part)
        return _kernel_frame(parts, emit_windows)

    extra = ("win_start", "win_end") if emit_windows else ()
    local = blocks.groupBy("_qgroup").applyInPandas(phrase_shard, RESULT_SCHEMA + windows)
    return _topk_window(local, extra, keep_boundary_ties)


# Bound on the Arrow bytes of the postings fragments one LocalIndexProbe
# keeps resident between calls; past it the least recently used fragments
# are dropped (the most recent one always stays). Within one call every
# fragment the miss set touches is resident; the dictionary arrays and
# the term LRU are not counted.
PROBE_RESIDENT_BYTES = 256 << 20
_PAYLOADS = ("docids_bin", "tfs_bin", "dls_bin")


class StaleIndexError(RuntimeError):
    """A ``LocalIndexProbe`` needed index files that were replaced after
    it opened (a later ``finalize_index`` rewrote them)."""


class _Fragment:
    """One postings file as ``LocalIndexProbe`` reads it: once read, its
    rows in (term, first_docid) order with the term column folded into
    the distinct ``terms`` and the row each one's run ``starts`` at (one
    trailing end row)."""

    __slots__ = ("frag", "terms", "starts", "fd", "n", "bins", "nbytes")

    def __init__(self, frag):
        self.frag = frag
        self.terms = None

    def read(self, columns: list[str]) -> None:
        """Make the file resident, sorting it only if its rows are
        not already in (term, first_docid) order."""
        import pyarrow.compute as pc

        tbl = self.frag.to_table(columns=columns).combine_chunks()
        term, fd = tbl.column("term").chunk(0), tbl.column("first_docid").chunk(0)
        if len(term) > 1 and not pc.all(pc.or_(
            pc.less(term[:-1], term[1:]),
            pc.and_(pc.equal(term[:-1], term[1:]), pc.less(fd[:-1], fd[1:])),
        )).as_py():
            tbl = tbl.sort_by([("term", "ascending"), ("first_docid", "ascending")])
            tbl = tbl.combine_chunks()
            term = tbl.column("term").chunk(0)
        new_run = pc.not_equal(term[1:], term[:-1]).to_numpy(zero_copy_only=False)
        starts = np.flatnonzero(np.concatenate([[len(term) > 0], new_run]))
        self.terms = term.take(starts).to_numpy(zero_copy_only=False)
        self.starts = np.append(starts, len(term))
        self.fd = tbl.column("first_docid").to_numpy()
        self.n = tbl.column("n").to_numpy()
        self.bins = {}
        for c in columns:
            if not c.endswith("_bin"):
                continue
            a = tbl.column(c).chunk(0)
            width = np.int64 if a.type == "large_binary" else np.int32
            offs = np.frombuffer(a.buffers()[1], dtype=width)[a.offset : a.offset + len(a) + 1]
            self.bins[c] = (offs, a.buffers()[2] or b"")
        self.nbytes = tbl.nbytes

    def payload(self, col: str, a: int, b: int):
        """Rows [a, b) of a binary column as ONE buffer: the values'
        concatenation, zero-copy."""
        offs, data = self.bins[col]
        return data[int(offs[a]) : int(offs[b])]

    def drop(self) -> None:
        self.terms = self.starts = self.fd = self.n = self.bins = None


def _decode_slices(slices: list[tuple], positions: bool) -> tuple:
    """One term's (docids, tfs, dls, positions|None, run_starts|None)
    from its ``(fragment, a, b)`` row slices. Slices in first_docid order
    concatenate sorted when their docid ranges are disjoint. Compaction
    merges the smallest generations of a size class, which need not be
    docid-adjacent, so one shard's run can span another's; then the
    blocks are ordered one by one. A block never spans generations, so
    blocks in first_docid order decode sorted."""
    slices = sorted(slices, key=lambda s: s[0].fd[s[1]])
    fd = np.concatenate([f.fd[a:b] for f, a, b in slices]) if slices else []
    n = np.concatenate([f.n[a:b] for f, a, b in slices]) if slices else []
    if len(fd) > 1 and not np.all(fd[1:] > fd[:-1]):
        order = np.argsort(fd, kind="stable")
        fd, n = fd[order], n[order]
        rows = [(f, r) for f, a, b in slices for r in range(a, b)]
        slices = [(f, r, r + 1) for f, r in (rows[i] for i in order)]
    d, tf, dl, _ = decode_blocks_batch(
        fd, n, *([f.payload(c, a, b) for f, a, b in slices] for c in _PAYLOADS)
    )
    if positions:
        pos = decode_positions(tf, [f.payload("positions_bin", a, b) for f, a, b in slices])
    else:
        pos = (None, None)
    return (d, tf, dl) + pos


class LocalIndexProbe:
    """Driver-local single-query BM25 top-k over a saved index
    directory — the text-side twin of ``similarity.LocalIVFProbe``.

    The distributed paths are the right plan for query BATCHES (one
    amortized job), but a single k≤10 lookup pays the ~0.3 s Spark
    job-scheduling floor for a 10-row answer. This probe serves it
    entirely in-process as a keyed read of resident postings fragments.
    On the first term miss it reads the dictionary's (term, idf) once
    into sorted arrays. A postings file is read the first time a miss
    needs it and kept resident in (term, first_docid) order (sorted on
    read only if the file is not already) under an LRU bounded by
    ``PROBE_RESIDENT_BYTES`` between calls. A miss is then
    binary-searched slices of the resident fragments, put in first_docid
    order, decoded by the shared vectorized varint codec
    and scored by the SAME ``_score_candidates`` kernel with the same
    sorted-term float64 accumulation order and the same
    (score desc, docid asc) tie rule — so rows are identical to
    ``search_index_wand`` / ``search_index_exhaustive`` at θ·1.0
    (pytest-asserted). The reference's serving shape
    (/root/reference/src/IVF.py:159-191: memmap, touch only probed
    regions, heapq the candidates) re-derived for the text index.
    Opening reads only the stats row.

    An LRU cache keeps the most recent ``cache_terms`` terms' decoded
    postings (and idf) resident, so hot-term serving converges to pure
    in-RAM scoring. Known-OOV terms cache as ``None``; a term cached
    without positions is decoded again when a phrase first needs them.

    A probe reads the index version it opened. Once a later
    ``finalize_index`` replaces the files, it answers from what it
    already holds, and a read of a replaced file raises
    :class:`StaleIndexError` naming the index directory — never rows
    that mix versions. Open a new probe to see the new version.

    Work counters, plain integers: ``term_hits`` / ``term_misses``
    (requested terms served from / loaded into the term LRU),
    ``fragments_read`` (postings file reads) and ``resident_bytes``."""

    # class defaults, so a probe built without __init__ works too
    index_dir: str | None = None
    term_hits = term_misses = fragments_read = resident_bytes = 0
    _frags: list | None = None  # the postings files, listed on the first miss
    _dict_terms = _dict_idf = None

    def __init__(self, index_dir: str, cache_terms: int = 4096, arrow_threads: int | None = None):
        from collections import OrderedDict

        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        # OMP_NUM_THREADS=1 (common in Spark drivers) pins pyarrow's
        # compute pool to one thread and serializes fragment decode —
        # same fix as LocalIVFProbe (see its __init__ note)
        want = arrow_threads or min(8, os.cpu_count() or 8)
        if pa.cpu_count() < want:
            pa.set_cpu_count(want)

        self.index_dir = index_dir
        stats = pq.read_table(f"{index_dir}/stats").to_pylist()[0]
        self.avgdl = float(stats["avgdl"])
        self.n_docs = int(stats["n_docs"])
        self.total_tokens = int(stats.get("total_tokens", 0))
        self.has_positions = bool(stats.get("has_positions", False))
        self._post = ds.dataset(f"{index_dir}/postings", format="parquet")
        self._dict = ds.dataset(f"{index_dir}/dictionary", format="parquet")
        # term -> (idf, docids, tfs, dls, positions|None, run_starts|None)
        # | None for known-OOV terms
        self._cache: "OrderedDict[str, tuple | None]" = OrderedDict()
        self._cache_cap = cache_terms

    def _read(self, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``, with a vanished index file reported
        as the probe having outlived its index version."""
        try:
            return fn(*args, **kwargs)
        except FileNotFoundError as e:
            raise StaleIndexError(
                f"the index at {self.index_dir!r} was rewritten after this "
                f"LocalIndexProbe opened it; open a new LocalIndexProbe ({e})"
            ) from e

    def _idf(self, terms: list[str]) -> dict[str, float]:
        """idf of each known term among the sorted ``terms``."""
        if self._dict_terms is None:
            tbl = self._read(self._dict.to_table, columns=["term", "idf"]).sort_by("term")
            self._dict_terms = tbl.column("term").to_numpy(zero_copy_only=False)
            self._dict_idf = tbl.column("idf").to_numpy()
        lo, hi = key_ranges(self._dict_terms, terms)
        return {t: float(self._dict_idf[a]) for t, a, b in zip(terms, lo, hi) if b > a}

    def _fragments(self) -> list[_Fragment]:
        """The postings files, listed on the first miss."""
        if self._frags is None:
            from collections import OrderedDict

            names = self._post.schema.names
            self._columns = ["term", "first_docid", "n", *_PAYLOADS] + (
                ["positions_bin"] if "positions_bin" in names else []
            )
            self._resident: "OrderedDict[int, _Fragment]" = OrderedDict()
            self._frags = [_Fragment(f) for f in self._post.get_fragments()]
        return self._frags

    def _postings(self, terms: list[str], positions: bool) -> dict[str, tuple]:
        """term -> (docids, tfs, dls, positions|None, run_starts|None)
        for the sorted known ``terms``, sliced from the resident
        fragments (reading in the ones not resident)."""
        slices: dict[str, list] = {t: [] for t in terms}
        for i, f in enumerate(self._fragments()):
            if f.terms is None:
                self._read(f.read, self._columns)
                self.fragments_read += 1
                self.resident_bytes += f.nbytes
            self._resident[i] = f
            self._resident.move_to_end(i)
            lo, hi = key_ranges(f.terms, terms)
            for t, a, b in zip(terms, f.starts[lo], f.starts[hi]):
                if b > a:
                    slices[t].append((f, a, b))
        out = {t: _decode_slices(ps, positions) for t, ps in slices.items()}
        while self.resident_bytes > PROBE_RESIDENT_BYTES and len(self._resident) > 1:
            _, f = self._resident.popitem(last=False)
            self.resident_bytes -= f.nbytes
            f.drop()
        return out

    def _load_terms(self, terms: list[str], positions: bool = False) -> dict[str, tuple]:
        cache = self._cache
        miss = [
            t for t in terms
            if t not in cache
            or (positions and cache[t] is not None and cache[t][4] is None)
        ]
        self.term_hits += len(terms) - len(miss)
        self.term_misses += len(miss)
        if miss:
            keys = sorted(set(miss))
            idf = self._idf(keys)
            known = [t for t in keys if t in idf]
            blocks = self._postings(known, positions) if known else {}
            for t in miss:
                cache[t] = ((idf[t],) + blocks[t]) if t in idf else None  # OOV cached as such
        values = touch_and_trim(cache, terms, self._cache_cap)
        return {t: v for t, v in zip(terms, values) if v is not None}

    def search_batch(
        self,
        queries: list[str],
        k: int = 10,
        excludes: list[str] | None = None,
    ) -> list[list[tuple[int, int, float]]]:
        """Per-query results for a BATCH of queries, identical rows to
        ``search`` on each — the union of the batch's distinct terms
        preloads in bounded chunks (one keyed read per chunk, so the
        decode working set stays bounded at mega-batch width) before
        any scoring: a cold batch reads each postings fragment once.
        The LRU cap is raised for the batch's duration so preloaded
        terms survive until scored, then restored and trimmed — the
        ``LocalIVFProbe.search_batch`` discipline. The middle ground
        between single probes and the distributed ``search_index_wand``
        job: right for 10-1000-query batches in a serving process.

        ``excludes`` is the per-query MUST_NOT list (parallel to
        ``queries``; "" or None = no exclusion for that slot) with the
        same contract as ``search(exclude=)``; exclude terms join the
        preload union so a batch with excludes still pays the same
        bounded chunked reads."""
        if excludes is not None and len(excludes) != len(queries):
            raise ValueError(
                f"excludes must parallel queries: {len(excludes)} != {len(queries)}"
            )
        xs = excludes if excludes is not None else [""] * len(queries)
        union = sorted(
            {t for q in queries for t in tokenize(q)}
            | {t for x in xs if x for t in tokenize(x)}
        )
        with raised_cache_cap(self, len(union) + 1):
            for i in range(0, len(union), 512):
                self._load_terms(union[i : i + 512])
            return [self.search(q, k=k, exclude=x or "") for q, x in zip(queries, xs)]

    def search(
        self, query: str, k: int = 10, exclude: str = ""
    ) -> list[tuple[int, int, float]]:
        """[(rank, docid, score)] — identical rows to the distributed
        exact paths for this (query, k). ``exclude`` is the MUST_NOT
        contract of ``search_index_wand``: its tokens disqualify docs
        BEFORE top-k; surviving scores are unchanged (exclusion is a
        filter), so rows stay identical to the distributed boolean
        path. Excluded terms' postings cache in the same LRU."""
        terms = sorted(set(tokenize(query)))
        loaded = self._load_terms(terms)
        if not loaded:
            return []
        idf_map = {t: v[0] for t, v in loaded.items()}
        per_term = {t: (v[1], v[2], v[3]) for t, v in loaded.items()}
        cands = np.unique(np.concatenate([v[1] for v in loaded.values()]))
        xterms = sorted(set(tokenize(exclude))) if exclude else []
        if xterms:
            xloaded = self._load_terms(xterms)
            if xloaded:
                xdocs = np.concatenate([v[1] for v in xloaded.values()])
                cands = cands[~np.isin(cands, xdocs)]
                if cands.size == 0:
                    return []
        scores = _score_candidates(cands, per_term, idf_map, self.avgdl)
        order = _top_k(cands, scores, k)
        return [(r + 1, int(cands[i]), float(scores[i])) for r, i in enumerate(order)]

    def search_qld(
        self, query: str, k: int = 10, mu: float = 2000.0
    ) -> list[tuple[int, int, float]]:
        """[(rank, docid, score)] under Dirichlet query likelihood —
        the third serving tier of the similarity switch (text path:
        ``topk.search_lm_dirichlet``; distributed index:
        ``search_index_qld``; HERE: driver-local, no Spark job), same
        pinned formula and tie rule, identical rows to the distributed
        path (pytest-asserted). cf comes from the probe's own loaded
        postings (each term's FULL posting list is resident, so the
        sum is exact); T from the index stats."""
        terms = sorted(set(tokenize(query)))
        loaded = self._load_terms(terms)
        if not loaded:
            return []
        T = float(self.total_tokens)
        L = float(len(loaded))
        cands = np.unique(np.concatenate([v[1] for v in loaded.values()]))
        scores = np.zeros(cands.size, dtype=np.float64)
        dl_arr = np.zeros(cands.size, dtype=np.float64)
        for t in sorted(loaded):
            _, d, tf, dl = loaded[t][0], loaded[t][1], loaded[t][2], loaded[t][3]
            cf = float(tf.sum())
            pos = np.searchsorted(d, cands)
            pos_c = np.minimum(pos, d.size - 1)
            hit = d[pos_c] == cands
            if hit.any():
                scores[hit] += np.log(
                    1.0 + tf[pos_c[hit]].astype(np.float64) / (mu * (cf / T))
                )
                dl_arr[hit] = dl[pos_c[hit]].astype(np.float64)
        scores += L * np.log(mu / (dl_arr + mu))
        order = _top_k(cands, scores, k)
        return [(r + 1, int(cands[i]), float(scores[i])) for r, i in enumerate(order)]

    def search_phrase(
        self, phrase: str, k: int = 10, max_gap: int = 1,
        proximity_boost: float = 0.0, unordered: bool = False,
        return_window: bool = False,
    ) -> list[tuple]:
        """[(rank, docid, score)] — phrase (adjacency-exact, ordered
        proximity with ``max_gap`` > 1, or unordered NEAR-window with
        ``unordered=True``) top-k from the positions stream, identical
        rows to ``search_index_phrase`` for this (phrase, k, max_gap,
        proximity_boost, unordered). Needs a ``store_positions=True``
        index. ``proximity_boost`` has the distributed path's
        semantics (BM25 + boost · Σidf/(1+min_slack), default OFF).

        ``return_window=True`` appends the
        leftmost-minimal match window: [(rank, docid, score,
        win_start, win_end)] with 0-based token offsets — the
        Lucene-highlighting primitive (slice the doc's tokens at
        [win_start, win_end] to render the snippet). Ranking is
        unchanged."""
        if not self.has_positions:
            raise ValueError(
                "LocalIndexProbe.search_phrase needs a positions-enabled "
                "index — build with store_positions=True"
            )
        words = tokenize(phrase)
        if not words:
            return []
        qterms = sorted(set(words))
        loaded = self._load_terms(qterms, positions=True)
        if len(loaded) < len(qterms):
            return []  # conjunctive: any OOV term voids the phrase
        idf_map = {t: v[0] for t, v in loaded.items()}
        data = {t: (v[1], v[2], v[3], v[4], v[5]) for t, v in loaded.items()}
        cands = data[qterms[0]][0]
        for t in qterms[1:]:
            cands = np.intersect1d(cands, data[t][0], assume_unique=True)
            if cands.size == 0:
                return []
        docids, scores, ws, we = _rank_span_hits(
            cands, words, data, max_gap, unordered, proximity_boost, return_window,
            idf_map, self.avgdl, k,
        )
        if return_window:
            return [
                (r + 1, int(d), float(s), int(a), int(b))
                for r, (d, s, a, b) in enumerate(zip(docids, scores, ws, we))
            ]
        return [(r + 1, int(d), float(s)) for r, (d, s) in enumerate(zip(docids, scores))]


def render_snippets(
    hits: DataFrame,
    docs: DataFrame,
    pad: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Window offsets → snippet TEXT: join window-bearing hits (the
    ``emit_windows=True`` output mapped to external ids) back to the
    stored corpus, re-tokenize JVM-side with the pinned tokenizer, and
    slice tokens ``[win_start − pad, win_end + pad]`` (clamped) into a
    space-joined snippet — the last step of Lucene-style highlighting,
    as pure column expressions (no UDF, no Python).

    100-TB shape: hits are k rows per query — broadcast them and scan
    the corpus ONCE with the join pushed down; the corpus side never
    shuffles. Offsets index the pinned tokenizer's stream, so the
    snippet provably contains the match (oracle-checked end to end)."""
    from ..functions.tokenizer import tokens_col

    if pad < 0:
        raise ValueError(f"pad must be >= 0, got {pad}")
    ts = tokens_col(F.col(text_col))
    start = F.greatest(F.col("win_start") - pad, F.lit(0))
    end = F.least(F.col("win_end") + pad, F.size(ts) - 1)
    snippet = F.concat_ws(" ", F.slice(ts, start + 1, end - start + 1))
    return (
        docs.select(id_col, text_col)
        .join(F.broadcast(hits), id_col)
        .select(*[c for c in hits.columns], snippet.alias("snippet"))
    )


def local_snippets(
    index_dir: str,
    corpus_path: str,
    hits: list[tuple],
    pad: int = 2,
    id_col: str = "url",
    text_col: str = "text",
) -> list[tuple]:
    """Driver-local twin of :func:`render_snippets` for
    ``LocalIndexProbe.search_phrase(return_window=True)`` output —
    window offsets → snippet TEXT without a Spark job, completing the
    probe serving path (search → window → rendered highlight) for
    single interactive lookups.

    ``hits`` rows are ``(rank, docid, score, win_start, win_end)``;
    returns the same rows extended with ``(doc_key, snippet)``. The
    internal docids resolve through the index's own ``docmap`` and the
    text through a ``doc-key``-filtered pyarrow read of the stored
    corpus (row-group stats prune non-matching groups).
    Tokenization is the pinned Python ``tokenize`` (pytest-pinned to
    the JVM ``tokens_col``), and the slice/clamp algebra is the same
    expression, so the snippet STRING is identical to the distributed
    renderer's for the same hit (pytest-asserted). Like the probe's
    postings reads, this trusts committed-compaction GC (docmap rows
    are deduped by docid as a crash-window guard)."""
    import pyarrow.dataset as ds

    if pad < 0:
        raise ValueError(f"pad must be >= 0, got {pad}")
    if not hits:
        return []
    docids = sorted({int(h[1]) for h in hits})
    dm = ds.dataset(f"{index_dir}/docmap", format="parquet").to_table(
        columns=["docid", "url"], filter=ds.field("docid").isin(docids)
    )
    key_by_docid: dict[int, str] = {}
    for d, u in zip(dm["docid"].to_pylist(), dm["url"].to_pylist()):
        key_by_docid.setdefault(int(d), u)
    missing = [d for d in docids if d not in key_by_docid]
    if missing:
        raise KeyError(f"docids absent from {index_dir}/docmap: {missing[:5]}")
    keys = sorted(set(key_by_docid.values()))
    ct = ds.dataset(corpus_path, format="parquet").to_table(
        columns=[id_col, text_col], filter=ds.field(id_col).isin(keys)
    )
    text_by_key = dict(zip(ct[id_col].to_pylist(), ct[text_col].to_pylist()))
    miss_txt = [k for k in keys if k not in text_by_key]
    if miss_txt:
        raise KeyError(f"doc keys absent from corpus {corpus_path}: {miss_txt[:5]}")
    out = []
    for h in hits:
        docid, ws, we = int(h[1]), int(h[-2]), int(h[-1])
        key = key_by_docid[docid]
        toks = tokenize(text_by_key[key])
        lo = max(ws - pad, 0)
        hi = min(we + pad, len(toks) - 1)
        out.append(tuple(h) + (key, " ".join(toks[lo : hi + 1])))
    return out
