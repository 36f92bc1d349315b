"""Independent DuckDB oracles for the benchmark's correctness checks.

BM25 top-k and phrase top-k are restated in SQL (the pinned tokenizer
and BM25 with k1=1.2, b=0.75), sharing nothing with the engine but the
data; ties rank by docid ascending, the engine's rule. DuckDB sums a
document's term impacts in another order than the engine, so two
documents the engine scores identically can differ here in the last
bit; scores equal to 1e-9 therefore count as ties on both sides of
the comparison, and the engine's own rank order is kept otherwise. When
such a tie is cut by k, the oracle returns all of it and the engine may
hold any of its members in its last places. The
cleaning pass is checked against the ``oracle_sql()`` text the entry
module already carries.
"""

from __future__ import annotations

import duckdb
import pandas as pd

_TOK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

_STATS = f"""
tok AS (SELECT docid, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT docid, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT docid, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)"""

# the top k, plus every result below the k-th that ties it to TIE: the
# engine may hold any of those in its last places (see same_ranking)
_CUT = """kth AS (SELECT qid, min(score) AS s FROM rk WHERE rank <= k GROUP BY qid)
SELECT rk.qid, rk.rank, rk.docid, rk.score FROM rk JOIN kth USING (qid)
WHERE rk.rank <= rk.k OR rk.score >= kth.s - 1e-9 * greatest(1.0, abs(kth.s))
ORDER BY rk.qid, rk.rank"""

_SCORE = """
  sum( ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
       * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) )"""

BM25_SQL = f"""
WITH {_STATS},
sc AS (
  SELECT q.qid, q.k, tf.docid, {_SCORE} AS score
  FROM qterms q JOIN tf USING (term) JOIN df USING (term)
  JOIN dl ON tf.docid = dl.docid CROSS JOIN st
  GROUP BY 1, 2, 3
),
rk AS (SELECT qid, k, docid, score,
              row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, docid ASC) AS rank
       FROM sc),
{_CUT}"""

# a phrase matches where its tokens occur contiguously in the page's
# token sequence; matches rank by BM25 over the phrase's distinct terms
PHRASE_SQL = f"""
WITH {_STATS},
flat AS (SELECT docid, ' ' || array_to_string({_TOK}, ' ') || ' ' AS s FROM documents),
hit AS (SELECT p.qid, f.docid FROM phrases p JOIN flat f ON contains(f.s, ' ' || p.phrase || ' ')),
sc AS (
  SELECT q.qid, q.k, tf.docid, {_SCORE} AS score
  FROM qterms q JOIN tf USING (term) JOIN hit ON hit.qid = q.qid AND hit.docid = tf.docid
  JOIN df USING (term) JOIN dl ON tf.docid = dl.docid CROSS JOIN st
  GROUP BY 1, 2, 3
),
rk AS (SELECT qid, k, docid, score,
              row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, docid ASC) AS rank
       FROM sc),
{_CUT}"""


def _terms(text: str) -> list[str]:
    import re

    return sorted(set(re.findall(r"[a-z0-9]+", text.lower())))


def _by_qid(df: pd.DataFrame) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, _, docid, score in df.itertuples(index=False):
        out.setdefault(int(qid), []).append((int(docid), float(score)))
    return out


def bm25_topk(docs: pd.DataFrame, queries: list[tuple[str, int]]) -> list[list[tuple[int, float]]]:
    """docs (docid, text); queries [(text, k)] -> per query [(docid, score)]
    in rank order."""
    rows = [(i, k, t) for i, (q, k) in enumerate(queries) for t in _terms(q)]
    con = duckdb.connect()
    con.register("documents", docs[["docid", "text"]])
    con.register("qterms", pd.DataFrame(rows, columns=["qid", "k", "term"]))
    got = _by_qid(con.execute(BM25_SQL).df())
    return [got.get(i, []) for i in range(len(queries))]


def phrase_topk(docs: pd.DataFrame, phrases: list[tuple[str, int]]) -> list[list[tuple[int, float]]]:
    import re

    rows = [(i, k, t) for i, (p, k) in enumerate(phrases) for t in _terms(p)]
    ph = [(i, " ".join(re.findall(r"[a-z0-9]+", p.lower()))) for i, (p, _) in enumerate(phrases)]
    con = duckdb.connect()
    con.register("documents", docs[["docid", "text"]])
    con.register("qterms", pd.DataFrame(rows, columns=["qid", "k", "term"]))
    con.register("phrases", pd.DataFrame(ph, columns=["qid", "phrase"]))
    got = _by_qid(con.execute(PHRASE_SQL).df())
    return [got.get(i, []) for i in range(len(phrases))]


TIE = 1e-9  # scores this close (relative) rank as ties


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TIE * max(1.0, abs(a), abs(b))


def _ties_by_docid(ranked: list[tuple[int, float]]) -> list[tuple[int, float]]:
    """Keep the given order, but sort each run of adjacent results whose
    scores agree to ``TIE`` by docid."""
    out: list[tuple[int, float]] = []
    start = 0
    for i in range(1, len(ranked) + 1):
        if i == len(ranked) or not _close(ranked[i - 1][1], ranked[i][1]):
            out += sorted(ranked[start:i])
            start = i
    return out


def _same(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        gd == wd and _close(gs, ws) for (gd, gs), (wd, ws) in zip(got, want)
    )


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 k: int | None = None) -> bool:
    """``got`` in the engine's rank order against the oracle's: scores
    never rise from one rank to the next, exactly equal scores rank by
    docid ascending (the engine's rule), and, with runs of scores equal
    to ``TIE`` ordered by docid on both sides, the same docids in the
    same order with scores equal to ``TIE``.

    With ``k``, ``want`` may hold more than ``k`` results: the oracle's
    top ``k`` and every result tied with its k-th. Scores that tie in
    exact arithmetic can differ in their last bits, and differently in
    the engine and in DuckDB, so when such a tie is cut by ``k`` the
    engine's last places may hold any ``k``-filling subset of it."""
    for (d0, s0), (d1, s1) in zip(got, got[1:]):
        if (s1 > s0 and not _close(s0, s1)) or (s1 == s0 and d1 < d0):
            return False
    got, want = _ties_by_docid(got), _ties_by_docid(want)
    if k is None or len(want) <= k:
        return _same(got, want)
    head = k - 1  # first rank of the tie group that the k-th result is in
    while head > 0 and _close(want[head - 1][1], want[head][1]):
        head -= 1
    tied = {d for d, _ in want[head:]}
    return (len(got) == k and _same(got[:head], want[:head])
            and all(d in tied and _close(s, want[k - 1][1]) for d, s in got[head:]))


def entry_sql(documents_path: str, sql: str) -> pd.DataFrame:
    """Run an entry's ``oracle_sql()`` text over the pages at ``documents_path``."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}/*.parquet')")
    return con.execute(sql).df()


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same rows, any order; floats equal to 1e-9."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    cols = list(want.columns)
    g = got.sort_values(cols, ignore_index=True)
    w = want.sort_values(cols, ignore_index=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not all(abs(float(x) - float(y)) <= 1e-9 for x, y in zip(a, b)):
                return False
        elif [str(x) for x in a] != [str(y) for y in b]:
            return False
    return True
