"""Top-k retrieval — exhaustive (v1) path.

Query semantics (pinned):
  * query terms are lowercased/tokenized with the pinned tokenizer,
    then de-duplicated (bag-of-words, each distinct term counts once)
  * disjunctive (OR) matching, BM25 sum over matched terms
  * ties: (score desc, docid asc) — SURVEY §2.6 T5
  * out-of-vocabulary queries return 0 rows (missing-term guard,
    /root/reference/src/LSH.py:143-144)

Single-query plan: broadcast the (few) query terms against the posting
relation (J2 analog, /root/reference/src/LSH.py:136-152) → Σ impact per
docid → TakeOrderedAndProject(k). Spark lowers orderBy().limit(k) to a
distributed per-partition top-k + driver merge — exactly the
reference's heapq.nlargest two-level shape (/root/reference/src/IVF.py:190-191).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window

from ..functions.localdf import local_df
from pyspark.sql import functions as F

from ..functions.tokenizer import token_windows, tokenize


def query_terms_df(spark, queries: list[dict]) -> DataFrame:
    """queries [{qid, query, k}] → exploded (qid, k, term), deduped."""
    rows = []
    for q in queries:
        for t in sorted(set(tokenize(q["query"]))):
            rows.append((int(q["qid"]), int(q["k"]), t))
    schema = "qid int, k int, term string"
    if not rows:
        return spark.createDataFrame([], schema)
    return local_df(spark, rows, schema)


def search(scored: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Single query → (docid, score) top-k, exhaustive scoring."""
    terms = sorted(set(tokenize(query)))
    if not terms:
        return scored.sparkSession.createDataFrame([], "docid long, score double")
    return (
        scored.filter(F.col("term").isin(terms))
        .groupBy("docid")
        .agg(F.sum("impact").alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def search_lm_dirichlet(
    postings: DataFrame, total_tokens: int, query: str, k: int = 10,
    mu: float = 2000.0,
) -> DataFrame:
    """Dirichlet-smoothed query likelihood (Zhai & Lafferty 2004) — the
    second retrieval scorer next to BM25, the Lucene
    ``LMDirichletSimilarity`` analog (a user of a Lucene-family engine
    can switch similarity per query; this is that seam here):

      score(q, d) = Σ_{t ∈ q ∩ d} ln(1 + tf_{t,d} / (μ · (cf_t / T)))
                    + L · ln(μ / (dl_d + μ))

    with cf_t the collection frequency, T the corpus token total
    (zero-token docs included, the ``corpus_stats`` convention), and
    L the number of DISTINCT query terms present in the collection —
    corpus-absent terms drop from both the sum and L (Lucene's discard
    rule), and only docs matching ≥1 term are ranked (the BM25 paths'
    convention). Ties pinned (score desc, docid asc). float64
    everywhere; the division is evaluated tf / (μ · (cf / T)) so an
    oracle can replay it literally.

    Plan: same broadcast-query-terms shape as :func:`search`; cf needs
    one tiny agg over the query terms' postings (≤|q| rows collected —
    bounded driver state, it also yields L)."""
    terms = sorted(set(tokenize(query)))
    spark = postings.sparkSession
    empty = spark.createDataFrame([], "docid long, score double")
    if not terms:
        return empty
    pq = postings.filter(F.col("term").isin(terms))
    cf_rows = pq.groupBy("term").agg(F.sum("tf").alias("cf")).collect()
    L = len(cf_rows)
    if L == 0:
        return empty
    cf = local_df(spark, [(r["term"], int(r["cf"])) for r in cf_rows], "term string, cf long")
    per = F.log(
        F.lit(1.0)
        + F.col("tf").cast("double")
        / (F.lit(float(mu)) * (F.col("cf").cast("double") / F.lit(float(total_tokens))))
    )
    norm = F.lit(float(L)) * F.log(
        F.lit(float(mu)) / (F.max("dl").cast("double") + F.lit(float(mu)))
    )
    return (
        pq.join(F.broadcast(cf), "term")
        .groupBy("docid")
        .agg((F.sum(per) + norm).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def rrf_fuse(
    results: list[DataFrame], k: int = 10, k0: int = 60,
    id_col: str = "docid",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack/Clarke/Büttcher 2009; the hybrid-
    search combiner Elasticsearch/OpenSearch ship as `rrf`):
    fused(d) = Σ_lists 1 / (k0 + rank_list(d)), summed over the lists
    that contain d. Each input is a (id_col, score) frame; ranks are
    recomputed here under the house tie rule (score desc, id asc) over
    EXACTLY the rows the caller passed — depth is the caller's dial
    (pass full rankings for textbook RRF, top-n cuts for the cheap
    variant). Returns (id_col, fused, rank) top-k, ties
    (fused desc, id asc).

    Score scales never mix (only ranks enter the sum), which is the
    point: BM25, query likelihood, and ANN distances fuse without
    calibration. Plan: one window per input (its own sort), a union,
    one groupBy — no joins; at 100 TB the inputs are already top-k-ish
    result sets, so this is driver-scale work expressed distributively."""
    if not results:
        raise ValueError("rrf_fuse needs at least one result frame")
    if k0 < 1:
        raise ValueError(f"k0 must be >= 1, got {k0}")
    ranked = []
    for df in results:
        # pmod(id, 1): non-foldable constant partition — avoids the
        # single-partition WindowExec warning spam (same trick as the
        # entry's _rank_window)
        w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
            F.desc("score"), F.asc(id_col)
        )
        ranked.append(
            df.select(F.col(id_col), F.col("score"))
            .withColumn("rank", F.row_number().over(w))
            .select(id_col, (F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))).alias("rr"))
        )
    u = ranked[0]
    for r in ranked[1:]:
        u = u.unionByName(r)
    fused = u.groupBy(id_col).agg(F.sum("rr").alias("fused"))
    return (
        fused.orderBy(F.desc("fused"), F.asc(id_col))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(
                    F.desc("fused"), F.asc(id_col)
                )
            ),
        )
        .select(id_col, "fused", "rank")
    )


def rm3_expand(
    scored: DataFrame,
    query: str,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
) -> list[tuple[str, float]]:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft relevance
    models; the expansion Anserini/Lucene ship as `-rm3`): run the
    query, build a relevance model from the top ``fb_docs`` documents,
    and interpolate it with the original query. Pinned algebra:

      s(d)    = score_d / Σ_top scores           (BM25-score weights)
      RM1(w)  = Σ_{d ∈ top} (tf_{w,d} / dl_d) · s(d)
      top ``fb_terms`` terms by RM1 (ties: weight desc, term asc),
      renormalized to sum 1, then
      P'(w)   = α · P_q(w) + (1−α) · RM1'(w),  P_q uniform over the
      original distinct terms.

    Returns [(term, weight)] sorted (weight desc, term asc) — feed to
    :func:`search_weighted` for the second pass. Driver state is the
    top-doc scores and the candidate term weights of ≤fb_docs docs —
    bounded, never corpus-sized. An OOV query returns []."""
    if fb_docs < 1 or fb_terms < 1 or not (0.0 <= alpha <= 1.0):
        raise ValueError(f"bad RM3 config fb_docs={fb_docs} fb_terms={fb_terms} alpha={alpha}")
    qterms = sorted(set(tokenize(query)))
    top = search(scored, query, fb_docs).collect()
    if not top:
        return []
    total = float(sum(r["score"] for r in top))
    s_by_doc = {int(r["docid"]): float(r["score"]) / total for r in top}
    rows = (
        scored.filter(F.col("docid").isin(list(s_by_doc)))
        .select("term", "docid", "tf", "dl")
        .collect()
    )
    rm1: dict[str, float] = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["docid"])):  # pinned fold order
        rm1[r["term"]] = rm1.get(r["term"], 0.0) + (
            float(r["tf"]) / float(r["dl"])
        ) * s_by_doc[int(r["docid"])]
    picked = sorted(rm1.items(), key=lambda t: (-t[1], t[0]))[:fb_terms]
    z = sum(w for _, w in picked)
    weights: dict[str, float] = {t: alpha / len(qterms) for t in qterms}
    for t, w in picked:
        weights[t] = weights.get(t, 0.0) + (1.0 - alpha) * (w / z)
    # alpha=1 leaves expansion terms at exactly 0 — drop them (a
    # 0-weight term scores nothing but would widen the scan filter)
    return sorted(
        ((t, w) for t, w in weights.items() if w > 0.0),
        key=lambda t: (-t[1], t[0]),
    )


def search_weighted(
    scored: DataFrame, weights: list[tuple[str, float]], k: int = 10
) -> DataFrame:
    """Weighted disjunctive retrieval: score(d) = Σ_w weight_w ·
    impact_w(d) — the second pass of RM3 (and any weighted bag-of-
    words query). Same broadcast-terms plan as :func:`search`, the
    weight riding the broadcast join."""
    spark = scored.sparkSession
    if not weights:
        return spark.createDataFrame([], "docid long, score double")
    wdf = local_df(spark, weights, "term string, w double")
    return (
        scored.join(F.broadcast(wdf), "term")
        .groupBy("docid")
        .agg(F.sum(F.col("w") * F.col("impact")).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def more_like_this(
    scored: DataFrame,
    docid: int,
    n_docs: int,
    n_terms: int = 10,
    k: int = 10,
    min_tf: int = 1,
) -> DataFrame:
    """Lucene's MoreLikeThis: find documents similar to a GIVEN one by
    turning its most characteristic terms into a query. Pinned
    algebra: rank the source doc's terms by tf · ln(1+(N−df+.5)/(df+.5))
    (the MLT tf·idf convention with the house idf), drop terms with
    tf < ``min_tf`` (Lucene's minTermFreq hapax guard), keep the top
    ``n_terms`` (ties: weight desc, term asc), and run them as a
    WEIGHTED query (:func:`search_weighted`) with the tf·idf weights;
    the source document is excluded from the results. ``n_docs`` is
    the corpus size from ``corpus_stats`` (idf needs N; the scored
    frame doesn't carry it).

    Driver state: the source doc's term rows only — bounded by one
    document's vocabulary."""
    import math

    if n_terms < 1:
        raise ValueError(f"n_terms must be >= 1, got {n_terms}")
    rows = (
        scored.filter(F.col("docid") == int(docid))
        .select("term", "tf", "df")
        .collect()
    )
    cands = [
        (
            r["term"],
            float(r["tf"])
            * math.log(1.0 + (float(n_docs) - float(r["df"]) + 0.5) / (float(r["df"]) + 0.5)),
        )
        for r in rows
        if int(r["tf"]) >= min_tf
    ]
    if not cands:
        return scored.sparkSession.createDataFrame([], "docid long, score double")
    weights = sorted(cands, key=lambda t: (-t[1], t[0]))[:n_terms]
    res = search_weighted(scored, weights, k + 1)
    # re-sort before the final cut: after the filter, a bare limit(k)
    # takes k rows from a frame whose sort is no longer a plan
    # guarantee (it happened to hold on single-partition results) — the
    # explicit orderBy pins the (score desc, docid asc) contract at any
    # partitioning
    return (
        res.filter(F.col("docid") != int(docid))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def search_conjunctive(scored: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Conjunctive (AND) top-k: only docs containing EVERY distinct
    query term score (intersection semantics). Pinned: a query with any
    zero-df term returns 0 rows. Plan: same broadcast term filter +
    partial agg as the disjunctive path, plus a countDistinct(term)
    guard — the posting intersection is the group-filter, no extra
    join or shuffle."""
    terms = sorted(set(tokenize(query)))
    if not terms:
        return scored.sparkSession.createDataFrame([], "docid long, score double")
    return (
        scored.filter(F.col("term").isin(terms))
        .groupBy("docid")
        .agg(F.sum("impact").alias("score"), F.countDistinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(terms))
        .select("docid", "score")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def phrase_match_expr(ts, words: list[str]):
    """JVM boolean column: token array ``ts`` contains ``words`` as an
    ADJACENT subsequence (exact order). Pure higher-order expression —
    exists(token_windows(ts, L), s -> ∧_j s.j = w_j) — so phrase
    verification stays inside whole-stage codegen, no Python, linear
    in the document. A document shorter than the phrase has no
    windows, so it never matches."""

    def window_matches(s):
        cond = None
        for j, w in enumerate(words):
            e = s[str(j)] == F.lit(w)
            cond = e if cond is None else cond & e
        return cond

    return F.exists(token_windows(ts, len(words)), window_matches)


def search_phrase(
    scored: DataFrame, docs: DataFrame, phrase: str, k: int = 10,
    id_col: str = "docid", text_col: str = "text",
) -> DataFrame:
    """Phrase (adjacency-exact) top-k WITHOUT a positional index:
    candidate docs must contain every phrase term (the conjunctive
    index cut — same countDistinct group-guard as search_conjunctive),
    then the phrase is verified against the stored text with a codegen
    higher-order adjacency predicate, and survivors rank by BM25 over
    the phrase's distinct terms. This is the classic positionless
    phrase plan (conjunctive candidates ≫ filtered to adjacency): at
    100 TB only the conjunctive candidates' text rows are re-read
    (broadcast docid semi-join against the corpus — candidates per
    phrase ≪ corpus), never a full-corpus scan per query; a positions
    codec trades index bytes for skipping even that text fetch
    (:func:`semantic_search_engine_spark.operators.query.search_index_phrase`).
    Duplicate phrase words are handled (each window position checks the
    full word sequence).

    Plan note: the adjacency predicate references only corpus columns,
    so a bare ``join(cand).filter(pred)`` would be UNDONE by Catalyst —
    PushPredicateThroughJoin pushes any deterministic single-side
    conjunct below the join, tokenizing the whole corpus again. The
    predicate is therefore wrapped in ONE CASE expression that also
    references the candidate side's ``score`` (non-splittable, refers
    to both sides → must stay above the join). Semantically identical:
    ``score`` is a SUM over non-null impacts, never null on a joined
    row. Asserted in tests/test_plan_audit.py.

    The join strategy is deliberately NOT pinned: candidates per
    phrase are usually tiny (AQE broadcasts them at runtime), but a
    phrase of two near-stop-words can produce a candidate set that is
    a sizable fraction of the corpus — a forced ``broadcast()`` hint
    would bypass the size threshold and OOM the driver exactly there,
    while a shuffle join still completes."""
    from ..functions.tokenizer import tokens_col

    words = tokenize(phrase)
    if not words:
        return scored.sparkSession.createDataFrame([], "docid long, score double")
    terms = sorted(set(words))
    cand = (
        scored.filter(F.col("term").isin(terms))
        .groupBy("docid")
        .agg(F.sum("impact").alias("score"), F.countDistinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(terms))
        .select("docid", "score")
    )
    joined = docs.select(
        F.col(id_col).alias("docid"), F.col(text_col).alias("_text")
    ).join(cand, "docid")
    verify = F.when(
        F.col("score").isNotNull(),
        phrase_match_expr(tokens_col(F.col("_text")), words),
    ).otherwise(F.lit(False))
    return (
        joined.filter(verify)
        .select("docid", "score")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def search_batch(scored: DataFrame, queries_df: DataFrame) -> DataFrame:
    """Batched serving: (qid, k, term) ⋈ postings → per-qid top-k.

    The query side is tiny → broadcast; the per-qid top-k is a window
    row_number (shuffle keyed by qid is bounded by candidate count, and
    matched candidates per query ≪ corpus).
    Returns (qid, rank, docid, score).
    """
    cand = (
        scored.join(F.broadcast(queries_df), "term")
        .groupBy("qid", "k", "docid")
        .agg(F.sum("impact").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docid", "score")
    )
