"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure column expressions (JVM codegen, zero Python in the hot path)
so each has an exact ANSI-SQL oracle twin in __spark_entry__.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenizer import token_windows, tokens_col

# Pinned per-language marker sets for the heuristic language-ID.
LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "de"],
}


def token_count_col(text_col) -> "F.Column":
    return F.size(tokens_col(text_col)).cast("long")


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), token_count_col(F.col(text_col)).alias("n_tokens"))


# GPT-2-style pre-tokenization reduced to an engine-portable regex:
# letter runs, digit runs, and single other non-space characters. This
# is what BPE operates ON (merges only ever split within these spans),
# so its count is the standard cheap proxy for LLM token budgeting —
# pinned v1. The whitespace class is EXPLICIT, not \s: Java's \s
# includes vertical tab (\x0B) while RE2's does not, so \s would make
# Spark and the DuckDB oracle disagree on 'a\x0Bb'.
BPE_SPAN_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]"


def bpe_token_count_col(text_col) -> "F.Column":
    """BPE-pre-tokenization span count over lowercased text — the
    LLM-token-budget estimate next to the engine-tokenizer count
    ('2nd-gen!' is one alnum-run token pair [2nd, gen] to the engine
    but four BPE spans: 2, nd, -, gen, plus !)."""
    return F.size(
        F.regexp_extract_all(F.lower(text_col), F.lit(BPE_SPAN_RE), F.lit(0))
    ).cast("long")


def bpe_token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_bpe_tokens) — whitespace-word and BPE-span
    counts side by side; the ratio is itself a quality signal (high
    spans-per-word = symbol-heavy text)."""
    return docs.select(
        F.col(id_col),
        token_count_col(F.col(text_col)).alias("n_tokens"),
        bpe_token_count_col(F.col(text_col)).alias("n_bpe_tokens"),
    )


def quality_col(text_col) -> "F.Column":
    """Pinned quality heuristic (v1), rounded to 6 dp:
      q = 0.4·min(n_tokens/100, 1) + 0.3·distinct_ratio + 0.3·alnum_ratio
    where distinct_ratio = distinct tokens / tokens and alnum_ratio =
    alnum chars / chars."""
    ts = tokens_col(text_col)
    n_tok = F.size(ts).cast("double")
    distinct_ratio = F.when(n_tok > 0, F.size(F.array_distinct(ts)).cast("double") / n_tok).otherwise(0.0)
    n_chars = F.length(text_col).cast("double")
    alnum = F.length(F.regexp_replace(F.lower(text_col), "[^a-z0-9]", "")).cast("double")
    alnum_ratio = F.when(n_chars > 0, alnum / n_chars).otherwise(0.0)
    q = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * alnum_ratio
    )
    return F.round(q, 6)


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, quality) — see :func:`quality_col`."""
    return docs.select(
        F.col(id_col),
        token_count_col(F.col(text_col)).alias("n_tokens"),
        quality_col(F.col(text_col)).alias("quality"),
    )


def lang_pred_col(text_col) -> "F.Column":
    """Heuristic language-ID (v1, pinned): count marker-token hits per
    language; predict argmax with hits>0, deterministic tie-break by
    language code; else 'und'."""
    ts = tokens_col(text_col)
    hit_cols = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hit_cols[lang] = F.size(F.filter(ts, lambda t: F.array_contains(arr, t)))
    # argmax with (score desc, lang asc) tie-break, hits must be > 0
    pred = F.lit("und")
    best = F.lit(0)
    for lang in sorted(LANG_MARKERS, reverse=True):
        s = hit_cols[lang]
        pred = F.when(s >= F.greatest(best, F.lit(1)), F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)
    return pred


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, lang_pred) — see :func:`lang_pred_col`."""
    return docs.select(F.col(id_col), lang_pred_col(F.col(text_col)).alias("lang_pred"))


def fingerprint_col(text_col) -> "F.Column":
    """md5 of whitespace-normalized lowercase text — the rolling-hash-
    style content fingerprint for lineage/dedup."""
    norm = F.regexp_replace(F.trim(F.lower(text_col)), "\\s+", " ")
    return F.md5(norm.cast("binary"))


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fp) — see :func:`fingerprint_col`."""
    return docs.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fp"))


def _ngram_array(ts, n: int) -> "F.Column":
    """array<string> of the adjacent-token n-grams of token array
    ``ts`` (space-joined), empty when the doc has fewer than n
    tokens — one ``transform`` over :func:`token_windows`, linear in
    the row and fully inside codegen."""
    return F.transform(
        token_windows(ts, n),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
    )


def ngram_counts(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(ngram, cnt, df) — adjacent-token n-gram collocation counts:
    total occurrences and document frequency. Pure higher-order
    expressions (one ``transform`` over :func:`token_windows` inside
    codegen, linear in the doc, then one explode) —
    the corpus-wide aggregate cousin of the per-query positions
    adjacency check, and the n-gram statistics primitive of a
    training-data pipeline. Single scan, one shuffle (the groupBy)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ts = tokens_col(F.col(text_col))
    grams = _ngram_array(ts, n)
    ex = docs.select(F.col(id_col).alias("_id"), F.explode(grams).alias("ngram"))
    return ex.groupBy("ngram").agg(
        F.count("*").alias("cnt"), F.countDistinct("_id").alias("df")
    )


def bigram_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(bigram, cnt, df) — :func:`ngram_counts` at n=2."""
    return ngram_counts(docs, n=2, id_col=id_col, text_col=text_col).withColumnRenamed(
        "ngram", "bigram"
    )


def _sorted_dups(s) -> tuple["F.Column", "F.Column", "F.Column"]:
    """(m, eq, dup) over a SORTED array ``s`` of size m: ``eq[i]`` =
    s[i] == s[i+1] (length m-1, one ``zip_with`` over the shifted self)
    and ``dup[i]`` = s[i] equals a sorted neighbour (``eq`` shifted
    right OR shifted left; ``[false]`` when m < 2). Every lambda reads
    only its own variables, so both are linear in m."""
    m = F.size(s)
    eq = F.when(
        m >= 2,
        F.zip_with(F.slice(s, 1, m - 1), F.slice(s, 2, m - 1), lambda a, b: a == b),
    ).otherwise(F.array().cast("array<boolean>"))
    edge = F.array(F.lit(False))
    dup = F.zip_with(F.concat(edge, eq), F.concat(eq, edge), lambda a, b: a | b)
    return m, eq, dup


def _run_stats(ts, n: int) -> tuple["F.Column", "F.Column", "F.Column"]:
    """(m, top_run, dup_occ) column exprs over the doc's sorted n-gram
    array: total n-gram occurrences, the longest equal run (= the top
    n-gram's count), and the number of occurrences with an equal
    sorted neighbor (= occurrences of n-grams appearing >1 time).
    Pure codegen: array_sort + :func:`_sorted_dups`' shifted
    ``zip_with`` flags, a linear ``aggregate`` over them for the run
    and a ``filter`` count for the duplicates — no explode, no shuffle."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    m, eq, dup = _sorted_dups(F.array_sort(_ngram_array(ts, n)))
    # longest equal run: linear scan with (current, best) accumulator
    top_run = F.aggregate(
        eq,
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda acc, e: F.struct(
            F.when(e, acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"], F.when(e, acc["cur"] + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return m, top_run, F.size(F.filter(dup, lambda d: d))


def top_ngram_frac_col(text_col, n: int = 2) -> "F.Column":
    """Rounded-6 top-n-gram fraction of one document (0.0 when the doc
    has fewer than n tokens) — the repetition signal as a single
    column expression, reusable inside single-pass pipelines like
    :func:`filter_funnel`."""
    m, top_run, _ = _run_stats(tokens_col(text_col), n)
    return F.when(
        m > 0, F.round(top_run.cast("double") / m.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def repetition_stats(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_ngrams, top_ngram_frac, dup_ngram_frac) — Gopher-style
    per-document repetition signals over adjacent-token n-grams:
    ``top_ngram_frac`` = occurrences of the doc's most frequent n-gram
    / total n-gram occurrences; ``dup_ngram_frac`` = fraction of
    occurrences whose n-gram appears more than once in the doc. High
    values flag boilerplate/template/spam pages for the cleaning
    funnel (the published C4/Gopher repetition filters).

    100-TB shape: per-doc signals must not shuffle — this is ONE
    scan→project with ZERO shuffles. The n-grams are one
    ``transform`` over :func:`token_windows` (the ``arrays_zip`` of n
    shifted token slices), sorted in-doc (``array_sort``);
    equal-neighbor flags come from one ``zip_with`` over the shifted
    self, the longest run is an ``aggregate`` over those flags, and
    duplicate occurrences are the positions where the flags shifted
    left or right are set (:func:`_sorted_dups`). No lambda reads an
    outer expression, so the per-row cost is linear in the page (up
    to the sort) — all codegen expressions, no explode, no groupBy,
    no Python. The DuckDB oracle recomputes both fractions
    through a completely different path (unnest → per-(doc, ngram)
    GROUP BY → max/sum), so agreement checks the math, not the code.
    Both fractions round to 6 dp; docs with fewer than n tokens
    report (0, 0.0, 0.0)."""
    m, top_run, dup_occ = _run_stats(tokens_col(F.col(text_col)), n)
    md = m.cast("double")
    return docs.select(
        F.col(id_col),
        m.cast("long").alias("n_ngrams"),
        F.when(m > 0, F.round(top_run.cast("double") / md, 6))
        .otherwise(F.lit(0.0))
        .alias("top_ngram_frac"),
        F.when(m > 0, F.round(dup_occ.cast("double") / md, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, mean_logprob) — CCNet-style fluency proxy: the
    mean ln p(token) of each document under the corpus's OWN unigram
    distribution (p(t) = corpus count of t / total tokens). Low values
    flag gibberish / rare-token spam; the language-model-perplexity
    filter of the published web-corpus pipelines, reduced to the
    unigram LM that needs no external model.

    100-TB shape: the vocabulary table is sublinear in the corpus
    (Heaps' law), so the per-token log-prob lookup is a BROADCAST join
    of (term, logp) against the exploded tokens — the corpus-scale
    side never shuffles for the join; the only shuffles are the two
    aggregations (term counts, per-doc mean). The one-row total rides
    in via a broadcast cross join, never a driver collect. Docs with
    zero tokens keep a row (0, 0.0) via the id spine."""
    ts = tokens_col(F.col(text_col))
    ex = docs.select(F.col(id_col).alias("_id"), F.explode(ts).alias("term"))
    tf = ex.groupBy("term").agg(F.count("*").cast("double").alias("cnt"))
    # the total is the SUM of the per-term counts — derive it from the
    # (tiny) vocab table rather than a second full corpus scan
    total = tf.agg(F.sum("cnt").alias("total"))
    logp = tf.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("cnt") / F.col("total")).alias("logp")
    )
    per_doc = (
        ex.join(F.broadcast(logp), "term")
        .groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("mean_logprob"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("mean_logprob"), F.lit(0.0)).alias("mean_logprob"),
        )
    )


def line_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_lines, dup_line_frac, dup_char_frac) — Gopher/RefinedWeb
    LINE-level dedup signals over newline-bearing text:
    ``dup_line_frac`` = fraction of (non-empty) lines whose exact text
    appears more than once in the document; ``dup_char_frac`` = the
    fraction of line characters belonging to those duplicated lines.
    High values flag boilerplate (nav bars, repeated footers, SEO spam)
    that token-level n-gram repetition misses — the one published
    quality axis the repetition family didn't cover.

    100-TB shape: same as :func:`repetition_stats` — per-doc signals
    must not shuffle, so this is ONE scan→project with ZERO shuffles
    (plan-asserted): split on newline, ``array_sort`` in-doc, then
    :func:`_sorted_dups`: equal-neighbor flags from one ``zip_with``
    over the shifted self, and a line is duplicated iff either shifted
    flag is set. Duplicate occurrences are a ``filter`` count, their
    character mass one ``zip_with`` of lines and flags summed — every
    lambda reads only its own variables, so the cost is linear in the
    line count. All codegen, no explode, no groupBy. The
    DuckDB oracle recomputes both fractions through unnest →
    per-(doc, line) GROUP BY — a different evaluation path. Fractions
    round to 6 dp; docs with zero non-empty lines report (0, 0.0, 0.0).
    Empty lines are excluded (a blank-line run is formatting, not
    duplicated content)."""
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: l != F.lit(""))
    s = F.array_sort(lines)
    m, _, dup = _sorted_dups(s)
    dup_occ = F.size(F.filter(dup, lambda d: d))
    dup_chars = F.aggregate(
        F.zip_with(
            s, dup, lambda x, d: F.when(d, F.length(x)).otherwise(F.lit(0)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c,
    )
    tot_chars = F.aggregate(
        s, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    md = m.cast("double")
    return docs.select(
        F.col(id_col),
        m.cast("long").alias("n_lines"),
        F.when(m > 0, F.round(dup_occ.cast("double") / md, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(
            (m > 0) & (tot_chars > 0),
            F.round(dup_chars.cast("double") / tot_chars.cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_char_frac"),
    )


def filter_funnel(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    lang: str = "en",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_ngram_frac: float | None = None,
    ngram_n: int = 2,
    gopher_thresholds: dict | None = None,
) -> DataFrame:
    """One-row C4-style cleaning funnel: total docs → predicted-``lang``
    docs → + quality ≥ threshold → + exact-content-unique (distinct
    fingerprints among survivors). Single scan, one projection, one
    map-side-partial aggregate — the per-doc columns are computed
    inline (quality_col / lang_pred_col / fingerprint_col), never
    joined, so the plan stays a scan→project→agg at any corpus size.

    ``max_top_ngram_frac`` adds the Gopher repetition stage between
    quality and unique: survivors must have top-``ngram_n``-gram
    fraction ≤ the threshold (:func:`top_ngram_frac_col` — still a
    pure per-doc column expr, so the plan stays single-pass). The
    output gains an ``n_repetition`` column and ``n_unique`` counts
    distinct fingerprints among repetition survivors. ``None``
    (default) keeps the v1 4-column schema exactly.

    ``gopher_thresholds`` (a kwargs dict for :func:`gopher_keep_col`)
    splices the full Gopher rule conjunction as one more stage between
    repetition and unique — every rule is a per-doc column expr, so
    even the five-stage funnel v3 is STILL one scan→project→agg. The
    output gains ``n_gopher``."""
    cols = [
        quality_col(F.col(text_col)).alias("_q"),
        lang_pred_col(F.col(text_col)).alias("_l"),
        fingerprint_col(F.col(text_col)).alias("_fp"),
    ]
    if max_top_ngram_frac is not None:
        cols.append(top_ngram_frac_col(F.col(text_col), ngram_n).alias("_rep"))
    if gopher_thresholds is not None:
        cols.append(
            gopher_keep_col(F.col(text_col), **gopher_thresholds).alias("_gk")
        )
    per = docs.select(*cols)
    keep = (F.col("_l") == lang) & (F.col("_q") >= quality_threshold)
    aggs = [
        F.count("*").cast("long").alias("n_total"),
        F.count(F.when(F.col("_l") == lang, 1)).cast("long").alias("n_lang"),
        F.count(F.when(keep, 1)).cast("long").alias("n_quality"),
    ]
    if max_top_ngram_frac is not None:
        keep = keep & (F.col("_rep") <= max_top_ngram_frac)
        aggs.append(F.count(F.when(keep, 1)).cast("long").alias("n_repetition"))
    if gopher_thresholds is not None:
        keep = keep & F.col("_gk")
        aggs.append(F.count(F.when(keep, 1)).cast("long").alias("n_gopher"))
    aggs.append(
        F.countDistinct(F.when(keep, F.col("_fp"))).cast("long").alias("n_unique")
    )
    return per.agg(*aggs)


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, n_overlap, overlap_frac, contaminated) — GPT-3/
    Pile-style train-test DECONTAMINATION signal: for each training
    document, how many of its DISTINCT adjacent-token n-grams occur
    anywhere in the evaluation set (GPT-3 used 13-gram overlap to mark
    training docs "dirty"; ``n`` is the analog knob). ``n_grams`` is
    the doc's distinct-n-gram count, ``n_overlap`` the number of those
    present in the eval vocabulary, ``contaminated`` = any overlap —
    the flag a training pipeline filters or flags on.

    100-TB shape: the asymmetry is the design point — the CORPUS is
    huge but the eval set is small by construction (benchmarks are
    thousands of documents), so the eval n-gram vocabulary is
    collected once (one explode + one aggregate over the SMALL side)
    and attached to every corpus row via a broadcast one-row
    crossJoin (the ``unigram_logprob`` total-row precedent); per-doc
    overlap is then ``array_intersect`` inside codegen. The corpus
    side never shuffles, never explodes — scan → project, same class
    as :func:`repetition_stats`. For an eval set too large to
    broadcast, the fallback shape is explode + broadcast equi-join +
    groupBy(id) — one corpus shuffle — but that regime means the
    "eval set" is itself a corpus, which is not this operator's
    contract (it raises nothing; the broadcast threshold is Spark's
    to enforce and tune)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    grams_e = _ngram_array(tokens_col(F.col(eval_text_col)), n)
    vocab = eval_docs.select(F.explode(grams_e).alias("g")).agg(
        F.array_sort(F.collect_set("g")).alias("_eval_grams")
    )
    g = F.array_distinct(_ngram_array(tokens_col(F.col(text_col)), n))
    n_g = F.size(g)
    n_o = F.size(F.array_intersect(g, F.col("_eval_grams")))
    return docs.crossJoin(F.broadcast(vocab)).select(
        F.col(id_col),
        n_g.cast("long").alias("n_grams"),
        n_o.cast("long").alias("n_overlap"),
        F.when(n_g > 0, F.round(n_o.cast("double") / n_g.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
        (n_o > 0).alias("contaminated"),
    )


def sequence_chunks(
    docs: DataFrame,
    chunk_tokens: int = 2048,
    range_docs: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, range_id, n_tokens, start_offset, chunk_first,
    chunks_spanned) — GPT-style CONCAT-THEN-CHUNK packing assignment:
    documents are concatenated in id order into a token stream cut
    into fixed ``chunk_tokens`` training sequences, and each doc
    learns which chunk its first token lands in and how many chunks
    it straddles (straddle count is the boundary-crossing metric
    packing ablations report). The operator assigns; it does not
    materialize chunk text — at pretraining scale the assignment IS
    the shuffle key for the writer that does.

    100-TB shape: a single global running sum would serialize on one
    partition, so the stream RESTARTS every ``range_docs`` ids
    (``range_id = id // range_docs``) and the running sum is a window
    partitioned BY RANGE — exactly how sharded pretraining tokenizers
    pack (each shard packs independently; chunk ids are (range, local)
    pairs). One shuffle (the range partition), no UDF, no explode."""
    if chunk_tokens < 1 or range_docs < 1:
        raise ValueError(f"bad chunk spec {chunk_tokens}/{range_docs}")
    from pyspark.sql import Window

    rid = F.floor(F.col(id_col) / F.lit(range_docs)).cast("long")
    base = docs.select(
        F.col(id_col),
        rid.alias("range_id"),
        token_count_col(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("range_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    first = F.floor(start / chunk_tokens)
    last = F.floor((start + F.col("n_tokens") - 1) / chunk_tokens)
    return base.select(
        F.col(id_col),
        "range_id",
        "n_tokens",
        start.cast("long").alias("start_offset"),
        first.cast("long").alias("chunk_first"),
        F.when(F.col("n_tokens") > 0, (last - first + 1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("chunks_spanned"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_signals(
    text_col,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    min_alpha_word_frac: float,
    min_stopwords: int,
):
    """(n_words, mean_word_len, symbol_ratio, alpha_word_frac,
    n_stopwords, keep) column exprs — shared by :func:`gopher_rules`
    (which emits all six) and :func:`filter_funnel`'s gopher stage
    (which folds only ``keep`` into its single-pass plan)."""
    raw = F.filter(F.split(F.trim(text_col), r"\s+"), lambda w: w != "")
    n_words = F.size(raw)
    sum_len = F.aggregate(raw, F.lit(0), lambda acc, w: acc + F.length(w))
    mean_wl = F.when(n_words > 0, sum_len.cast("double") / n_words).otherwise(0.0)
    n_symbols = F.size(
        F.regexp_extract_all(text_col, F.lit(r"#|\.\.\."), F.lit(0))
    )
    sym_ratio = F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(0.0)
    n_alpha = F.size(F.filter(raw, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, n_alpha.cast("double") / n_words).otherwise(0.0)
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.filter(tokens_col(text_col), lambda t: F.array_contains(sw, t))
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
        & (alpha_frac >= min_alpha_word_frac)
        & (n_stop >= min_stopwords)
    )
    return n_words, mean_wl, sym_ratio, alpha_frac, n_stop, keep


def gopher_keep_col(text_col, **thresholds) -> "F.Column":
    """The Gopher-rules conjunction as ONE column expression (defaults
    as in :func:`gopher_rules`) — the funnel-splicable form."""
    kw = dict(
        min_words=50, max_words=100_000, min_mean_word_len=3.0,
        max_mean_word_len=10.0, max_symbol_ratio=0.1,
        min_alpha_word_frac=0.8, min_stopwords=2,
    )
    kw.update(thresholds)
    return _gopher_signals(text_col, **kw)[5]


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
    n_stopwords, keep) — the canonical GOPHER document-quality rules
    (Rae et al. 2021, appendix A1.1), the named rule-set the published
    pipelines apply verbatim: word-count bounds, mean-word-length
    bounds, `#`/`...` symbol-to-word ratio, fraction of words with an
    alphabetic character, and the ≥2-stopwords test. ``keep`` is the
    conjunction — one more `keep` flag emitted as 0/1 so pipelines can
    sum survivor counts without bool-canonicalization concerns.

    Word statistics use RAW whitespace words (the rules are defined on
    words, not normalized tokens — a mean word length over
    punctuation-stripped tokens would drift from the paper);
    the stopword test uses the normalized tokenizer (case/punct
    insensitive membership, matching the paper's intent). Line-shaped
    Gopher rules (bullet-line / ellipsis-line fractions) belong to the
    newline-bearing view — see :func:`line_stats`.

    100-TB shape: every signal is a column expression over one scan —
    ZERO shuffles, no explode, no UDF; the same embarrassingly-parallel
    class as :func:`repetition_stats`."""
    n_words, mean_wl, sym_ratio, alpha_frac, n_stop, keep = _gopher_signals(
        F.col(text_col),
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, min_alpha_word_frac, min_stopwords,
    )
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        keep.cast("long").alias("keep"),
    )


def perplexity_buckets(
    docs: DataFrame,
    sample_mod: int = 20,
    sample_cap: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, mean_logprob, bucket) — CCNet's head/middle/tail
    SELECTION mechanism over the :func:`unigram_logprob` fluency score:
    every document bucketed by corpus-relative fluency terciles, the
    knob the published pipelines use to keep 'head', resample
    'middle', and drop 'tail'.

    Thresholds are EXACT order statistics of a deterministic bounded
    sample — ids ``0, sample_mod, 2·sample_mod, …`` up to
    ``sample_cap`` rows — sorted ascending with cuts at ranks
    ``m//3`` and ``(2m)//3`` (0-based). Exact-on-a-sample (CCNet's own
    protocol) rather than approximate-on-everything keeps the result
    reproducible bit-for-bit across engines: approxQuantile-style
    sketches have engine-specific internals no oracle can replay.

    100-TB shape: the collected driver state is the SAMPLE's scores
    only, ≤ sample_cap rows — the same bounded-sample pattern as the
    k-means/PQ trainers; the corpus side is :func:`unigram_logprob`'s
    plan plus one codegen CASE against two broadcast literals.
    Raises when the sample is empty (no doc ids divisible by
    ``sample_mod``) — silent global buckets would be meaningless."""
    if sample_mod < 1 or sample_cap < 3:
        raise ValueError(f"bad sample spec mod={sample_mod} cap={sample_cap}")
    lp = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    sample = sorted(
        r["mean_logprob"]
        for r in lp.filter(
            (F.col(id_col) % sample_mod == 0)
            & (F.col(id_col) < sample_mod * sample_cap)
        ).collect()
    )
    m = len(sample)
    if m == 0:
        raise ValueError(
            f"empty fluency sample (no doc ids divisible by {sample_mod})"
        )
    t1, t2 = sample[m // 3], sample[(2 * m) // 3]
    return lp.select(
        F.col(id_col),
        "n_tokens",
        "mean_logprob",
        F.when(F.col("mean_logprob") >= t2, F.lit("head"))
        .when(F.col("mean_logprob") >= t1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def boilerplate_stats(
    docs: DataFrame,
    n: int = 3,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, n_hot, hot_frac) — CROSS-document boilerplate
    signal (the RefinedWeb/Lee-et-al. axis the in-doc
    :func:`repetition_stats` can't see): the fraction of a document's
    adjacent-n-gram OCCURRENCES whose n-gram appears in ≥ ``min_df``
    distinct documents. High ``hot_frac`` marks navigation chrome,
    license headers, templated spam — text duplicated ACROSS the
    corpus even when no whole document is a duplicate. (Occurrence
    fraction is the standard cheap proxy for positional coverage;
    exact covered-character spans would need per-position bookkeeping
    for little ranking benefit.)

    Two corpus passes by necessity — the hot vocabulary does not exist
    until the whole corpus has been counted: (1) explode n-grams →
    groupBy(ngram) with a distinct-doc count, filtered to df ≥ min_df
    (the hot set — df-thresholding makes it the sub-linear tail of the
    n-gram distribution); (2) re-explode and LEFT-join the hot set,
    then one groupBy(id). The hot-set join is not broadcast-hinted:
    its size depends on min_df and corpus repetitiveness, exactly what
    AQE's runtime broadcast decision is for. A left join against the
    doc spine keeps too-short docs as explicit zero rows."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    grams = _ngram_array(tokens_col(F.col(text_col)), n)
    g = docs.select(F.col(id_col).alias("_id"), F.explode(grams).alias("ngram"))
    hot = (
        g.groupBy("ngram")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("ngram", F.lit(1).alias("_hot"))
    )
    per = (
        g.join(hot, "ngram", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("_n_grams"),
            F.count("_hot").alias("_n_hot"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(per, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce("_n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("_n_hot", F.lit(0)).cast("long").alias("n_hot"),
            F.coalesce(
                F.round(F.col("_n_hot").cast("double") / F.col("_n_grams"), 6),
                F.lit(0.0),
            ).alias("hot_frac"),
        )
    )


# PII masking (the CCNet/Dolma pre-training hygiene stage): patterns
# are deliberately engine-portable — no backreferences, no lookaround,
# no \b (Java and RE2 agree on everything used here), so the SAME
# strings drive Spark's codegen regexp functions and the DuckDB oracle.
# Replacement tokens contain no digits or '@'/'.' runs, so later
# patterns can never re-match inside an earlier redaction.
PII_PATTERNS = (
    # order matters: emails first (their domain part would otherwise
    # feed the hostname-ish patterns), then IPs, then phone-ish runs
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}"),
    ("phone", r"\+[0-9]{1,3}([ -][0-9]{2,4}){2,4}"),
)

# Extended category set (pii_stats(patterns=PII_PATTERNS_V2)) — same
# portability rules. Order is load-bearing:
#   * ipv6 before mac: a full-form IPv6 contains colon-separated hex
#     pairs a MAC pattern could bite into; masking IPv6 first removes
#     them. Only the FULL 8-group form is matched — the compressed
#     `::` form would need alternations that also match clock times
#     ("12:30:45"), a worse trade than missing compressed literals.
#   * cc before ssn: both are digit-dash shapes; credit cards are the
#     longer match and must not be split into an SSN + leftovers.
#   * phone last, as in v1 (its `+` anchor never clashes, but the
#     running-text count semantics stay comparable across versions).
PII_PATTERNS_V2 = (
    PII_PATTERNS[0],  # email
    ("ipv6", r"([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"),
    ("mac", r"([0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}"),
    PII_PATTERNS[1],  # ipv4
    ("cc", r"([0-9]{4}[ -]){3}[0-9]{4}"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    PII_PATTERNS[2],  # phone
)


def pii_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: tuple = PII_PATTERNS,
) -> DataFrame:
    """(id, n_<category>..., redacted) — per-doc PII match counts and
    the text with every match masked as ``<EMAIL>`` / ``<IPV4>`` / ...
    (applied in ``patterns`` order — PII_PATTERNS by default,
    PII_PATTERNS_V2 for the extended ipv6/mac/cc/ssn set — the same
    sequential-rewrite semantics as the CCNet/Dolma cleaners).

    100-TB shape: per-doc signals must not shuffle — this is ONE
    scan→project with ZERO shuffles (plan-asserted), all codegen
    (``regexp_extract_all`` sizes + chained ``regexp_replace``), no
    explode, no UDF. The DuckDB oracle runs the identical patterns
    through its RE2 engine — count AND redacted text are compared
    byte-for-byte, so any engine-semantics divergence in the patterns
    fails the hash, not just the row count.

    Each count is taken on the RUNNING redacted text — i.e. it counts
    what its own stage actually masks. Counting on the raw text would
    double-report overlaps (an email whose domain swallows an IP-shaped
    suffix, e.g. ``a@b.co1.2.3.4``, would report n_ipv4=1 with no
    ``<IPV4>`` in the output)."""
    red = F.col(text_col)
    counts = []
    for name, pat in patterns:
        counts.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return docs.select(F.col(id_col), *counts, red.alias("redacted"))


# Luhn-validated credit-card masking: the regex finds card-SHAPED
# 16-digit groups, but a real cleaner must not redact invoice numbers
# or random digit runs — the ISO/IEC 7812 Luhn checksum is the
# standard non-regex validity check (Dolma's `pii` tagger applies the
# same regex-then-checksum pattern). The check is pure integer column
# math, so it stays inside codegen AND is reproducible in the DuckDB
# oracle — the valid/invalid boundary is data-driven and compared
# hash-exact, not asserted.
CC_CANDIDATE_PATTERN = r"([0-9]{4}[ -]){3}[0-9]{4}"


def luhn_valid_col(cand) -> "F.Column":
    """True iff the 16 digits of a ``dddd[ -]dddd[ -]dddd[ -]dddd``
    candidate satisfy the Luhn checksum. For even-length numbers the
    doubled digits are the 1-based ODD positions from the left (= every
    second digit from the right, starting beside the check digit).
    Pure integer expr — no UDF, no floats, engine-portable: one pass
    over the candidate's digit array, each lambda reading only its own
    variables."""
    digits = F.regexp_extract_all(cand, F.lit("[0-9]"), F.lit(0))

    def _contrib(c, i):  # i is 0-based: even i = 1-based odd position
        d = c.cast("int")
        doubled = d * 2
        return F.when(
            i % 2 == 0, doubled - F.when(doubled > 9, 9).otherwise(0)
        ).otherwise(d)

    total = F.aggregate(F.transform(digits, _contrib), F.lit(0), lambda acc, x: acc + x)
    return total % 10 == 0


def cc_luhn_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_cc_candidates, n_cc_valid, redacted) — card-shaped runs
    counted, Luhn-checked, and ONLY checksum-valid ones masked as
    ``<CC>`` (an invalid run is far likelier an ID or serial than a
    card; redacting it destroys training text for nothing).

    ``regexp_replace`` can't mask per-match conditionally, so the text
    is rebuilt from its split form: Java ``split(limit=-1)`` and
    DuckDB ``regexp_split_to_array`` agree byte-for-byte (capture
    groups excluded, trailing empties kept — probed both engines), so
    ``segs[0] + mask(cand[0]) + segs[1] + ...`` reconstructs the exact
    input around each candidate. Everything is per-doc column math:
    ONE scan→project, ZERO shuffles, no UDF — the same 100-TB shape as
    :func:`pii_stats`."""
    return _checksum_mask_stats(
        docs, CC_CANDIDATE_PATTERN, luhn_valid_col, "<CC>", "cc",
        id_col=id_col, text_col=text_col,
    )


def _checksum_mask_stats(
    docs: DataFrame,
    pattern: str,
    valid_col_fn,
    token: str,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shared regex-then-checksum masking plan: candidates from
    ``pattern``, per-candidate validity from ``valid_col_fn``, ONLY
    valid candidates masked as ``token``, the text rebuilt from its
    split form (see :func:`cc_luhn_stats` for the engine-parity
    argument): ``segs[0]`` then each (masked candidate, following
    segment) pair of one ``zip_with``, joined. Emits (id,
    n_<prefix>_candidates, n_<prefix>_valid, redacted)."""
    text = F.col(text_col)
    cands = F.regexp_extract_all(text, F.lit(pattern), F.lit(0))
    segs = F.split(text, pattern)
    pieces = F.zip_with(
        cands,
        F.slice(segs, 2, F.size(cands)),
        lambda c, seg: F.concat(F.when(valid_col_fn(c), F.lit(token)).otherwise(c), seg),
    )
    red = F.concat(F.element_at(segs, 1), F.array_join(pieces, ""))
    n_valid = F.size(F.filter(cands, lambda c: valid_col_fn(c)))
    return docs.select(
        F.col(id_col),
        F.size(cands).cast("long").alias(f"n_{prefix}_candidates"),
        n_valid.cast("long").alias(f"n_{prefix}_valid"),
        red.alias("redacted"),
    )


# IBAN validation, the mod-97 sibling of Luhn (ISO 13616 / ISO 7064):
# move the first four chars to the end, map A-Z to 10-35, and the
# resulting decimal number must be ≡ 1 (mod 97). The number is up to
# 68 digits — far past int64 — but the standard streaming remainder
# (acc = (acc·base + digit) mod 97, base 10 per digit / 100 per
# letter) keeps every intermediate ≤ 9,635, so the fold is pure int32
# column math both engines evaluate identically.
IBAN_CANDIDATE_PATTERN = r"[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}"


def iban_valid_col(cand) -> "F.Column":
    """True iff a contiguous IBAN-shaped candidate passes the mod-97
    check. Checksum only — per-country length tables are a registry
    lookup, not math, and belong to the caller's dimension data. One
    fold over the rearranged candidate's character array."""
    r = F.concat(
        F.substring(cand, F.lit(5), F.length(cand) - 4),
        F.substring(cand, F.lit(1), F.lit(4)),
    )

    def _step(acc, ch):
        a = F.ascii(ch)
        is_digit = a <= 57
        v = F.when(is_digit, a - 48).otherwise(a - 55)
        mul = F.when(is_digit, F.lit(10)).otherwise(F.lit(100))
        return (acc * mul + v) % 97

    chars = F.regexp_extract_all(r, F.lit("[A-Z0-9]"), F.lit(0))
    return F.aggregate(chars, F.lit(0), _step) == 1


# ISO 13616 per-country IBAN lengths (the public SWIFT IBAN registry's
# length column) — a checksum can be arithmetically valid on a string
# that no country issues; registry validation additionally pins the
# candidate's LENGTH to its country code's registered value, and an
# unregistered country code is invalid outright. Subset covering the
# SEPA majors; callers can extend it — the validator and the oracle
# generator both read this one dict, so Spark and SQL can't drift.
IBAN_LENGTHS = {
    "AD": 24, "AT": 20, "BE": 16, "CH": 21, "CZ": 24, "DE": 22,
    "DK": 18, "EE": 20, "ES": 24, "FI": 18, "FR": 27, "GB": 22,
    "GR": 27, "HR": 21, "HU": 28, "IE": 22, "IT": 27, "LT": 20,
    "LU": 20, "LV": 21, "NL": 18, "NO": 15, "PL": 28, "PT": 25,
    "RO": 24, "SE": 24, "SI": 19, "SK": 24,
}


def iban_registry_valid_col(cand) -> "F.Column":
    """mod-97 AND the country's registered length (:data:`IBAN_LENGTHS`;
    unknown country → false). The length check compares against -1 for
    unregistered codes, so the predicate is two-valued — no NULL
    semantics to keep aligned across engines."""
    cc = F.substring(cand, 1, 2)
    expected = None
    for c, ln in sorted(IBAN_LENGTHS.items()):
        step = F.when if expected is None else expected.when
        expected = step(cc == c, F.lit(ln))
    expected = expected.otherwise(F.lit(-1))
    return iban_valid_col(cand) & (F.length(cand) == expected)


def iban_registry_length_sql(var: str) -> str:
    """The oracle-side twin of the length lookup: a CASE expression over
    the SAME :data:`IBAN_LENGTHS` dict (ELSE -1 = unknown country)."""
    arms = " ".join(
        f"WHEN '{c}' THEN {ln}" for c, ln in sorted(IBAN_LENGTHS.items())
    )
    return f"CASE substring({var}, 1, 2) {arms} ELSE -1 END"


def iban_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    registry: bool = False,
) -> DataFrame:
    """(id, n_iban_candidates, n_iban_valid, redacted) — contiguous
    IBAN-shaped runs counted, mod-97-checked, and ONLY checksum-valid
    ones masked as ``<IBAN>`` — the same regex-then-checksum cleaner
    shape as :func:`cc_luhn_stats`, same ONE-scan zero-shuffle plan.
    ``registry=True`` additionally requires the country's registered
    length (:func:`iban_registry_valid_col`) before masking."""
    return _checksum_mask_stats(
        docs, IBAN_CANDIDATE_PATTERN,
        iban_registry_valid_col if registry else iban_valid_col,
        "<IBAN>", "iban",
        id_col=id_col, text_col=text_col,
    )


# Deterministic per-bucket sampling rates, CCNet's published posture:
# keep the fluent head, thin the middle, hard-subsample the tail.
PPLX_SAMPLE_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.1}

# Knuth's multiplicative hash constant (2^32 / phi). doc_id * K mod 2^32
# scrambles sequential ids into a uniform-looking 32-bit stream using
# ONLY integer ops both Spark and DuckDB evaluate identically — unlike
# rand() (engine RNG) or md5-hex→int (no portable hex-parse in both
# engines), the keep/drop decision is bit-reproducible everywhere.
_HASH_K = 2654435761
_HASH_MOD = 4_294_967_296  # 2^32


def sample_hash_col(id_col) -> "F.Column":
    """Uniform-in-[0,1) deterministic hash of an integer id. Exact in
    double (a 32-bit integer divided by 2^32), so `u < rate` compares
    identically across engines."""
    return ((id_col * F.lit(_HASH_K)) % F.lit(_HASH_MOD)).cast("double") / F.lit(
        float(_HASH_MOD)
    )


def perplexity_sample(
    docs: DataFrame,
    rates: dict | None = None,
    sample_mod: int = 20,
    sample_cap: int = 100_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The SAMPLING half of CCNet's head/middle/tail protocol: bucket
    every doc with :func:`perplexity_buckets`, then keep each doc iff
    its deterministic id-hash falls under the bucket's rate
    (:data:`PPLX_SAMPLE_RATES` by default). Returns the kept subset
    ``(id, n_tokens, mean_logprob, bucket)`` — the actual
    training-corpus selection, not just the labels.

    Reproducibility is the point: re-running the pipeline (or an
    auditor re-deriving it in another engine) selects the SAME
    documents, which `df.sample()` cannot promise across engines,
    partitionings, or Spark versions. 100-TB shape: the bucket plan
    plus one codegen hash-compare — no extra shuffle, no RNG state."""
    rates = PPLX_SAMPLE_RATES if rates is None else rates
    unknown = set(rates) - {"head", "middle", "tail"}
    if unknown or not all(0.0 <= float(v) <= 1.0 for v in rates.values()):
        raise ValueError(f"bad rates {rates}")
    b = perplexity_buckets(
        docs, sample_mod=sample_mod, sample_cap=sample_cap,
        id_col=id_col, text_col=text_col,
    )
    u = sample_hash_col(F.col(id_col))
    rate = (
        F.when(F.col("bucket") == "head", F.lit(float(rates.get("head", 0.0))))
        .when(F.col("bucket") == "middle", F.lit(float(rates.get("middle", 0.0))))
        .otherwise(F.lit(float(rates.get("tail", 0.0))))
    )
    return b.filter(u < rate)


def stratified_sample(
    docs: DataFrame,
    rates: dict,
    default_rate: float = 0.0,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-mixture reweighting: keep each doc iff its
    deterministic id-hash (:func:`sample_hash_col`) falls under its
    ``by``-group's rate — the per-source up/down-weighting every
    published pretraining mixture applies (keep encyclopedic sources
    whole, thin the crawl), with :func:`perplexity_sample`'s
    reproducibility contract: the selected corpus is bit-identical
    across engines, re-runs, and partitionings, which ``df.sample``
    cannot promise. Groups absent from ``rates`` fall to
    ``default_rate`` (0.0 = drop unlisted sources — the explicit
    allowlist posture).

    100-TB shape: ONE codegen CASE + hash-compare filter on the scan —
    no shuffle, no RNG state, no group-by; the mixture is enforced
    row-local."""
    all_rates = list(rates.values()) + [default_rate]
    if not all(0.0 <= float(v) <= 1.0 for v in all_rates):
        raise ValueError(f"rates must be in [0, 1]: {rates}, default={default_rate}")
    rate = F.lit(float(default_rate))
    for key in sorted(rates, reverse=True):  # deterministic CASE order
        rate = F.when(F.col(by) == key, F.lit(float(rates[key]))).otherwise(rate)
    return docs.filter(sample_hash_col(F.col(id_col)) < rate)
