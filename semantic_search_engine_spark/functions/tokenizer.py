"""Pinned tokenizer (TOKENIZER_VERSION = 1).

Rule: lowercase, then every maximal run of ``[a-z0-9]`` is a token.
Three equivalent implementations — pure-JVM column expression (hot
path, whole-stage codegen), vectorized pandas (inside SPIMI's Arrow
batches), and scalar Python (oracle/goldens) — byte-equivalence is
asserted in tests/test_tokenizer.py.

Reference parity: tokenization is the target-domain analog of the
reference's bucket assignment (doc → terms vs vector → centroid,
/root/reference/src/IVF.py:65-71).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

TOKEN_RE = re.compile(r"[a-z0-9]+")
_SPLIT_PATTERN = "[^a-z0-9]+"


def tokenize(text: str) -> list[str]:
    """Scalar pinned tokenizer."""
    return TOKEN_RE.findall(text.lower())


def tokenize_series(text: pd.Series) -> pd.Series:
    """Vectorized pandas form — each element becomes a list of tokens."""
    return text.str.lower().str.findall(TOKEN_RE)


def tokens_col(text_col) -> "F.Column":
    """JVM-side tokens array. Equivalent to :func:`tokenize`.

    Perf notes (profiled on 20k docs / 1.7M tokens, local[32]):
      * split + filter       ~2 s   (this implementation)
      * regexp_extract_all   ~16 s  (find-all + per-match allocation)
      * caching/writing the resulting array<string> column ~30-60 s —
        NEVER materialize this column; explode it in the same stage or
        tokenize inside the Arrow kernel (see operators/build.py).
    """
    parts = F.split(F.lower(text_col), _SPLIT_PATTERN)
    return F.filter(parts, lambda t: t != F.lit(""))


def token_windows(ts, n: int) -> "F.Column":
    """array<struct<0: string, …, n-1: string>> of the adjacent n-token
    windows of token array ``ts``: the ``arrays_zip`` of the n shifted
    slices ``slice(ts, j+1, size(ts)-n+1)``, empty when ``ts`` has fewer
    than n tokens. Each window is one struct, so a lambda over the
    windows reads only its own variable (``s["0"]`` … ``s[str(n-1)]``)
    and ``ts`` is evaluated n times per row, not once per window."""
    m = F.size(ts) - F.lit(n - 1)
    return F.when(
        m > 0, F.arrays_zip(*[F.slice(ts, j + 1, m) for j in range(n)])
    ).otherwise(F.arrays_zip(*[F.array().cast("array<string>")] * n))


# DuckDB-dialect SQL fragment computing the same token list, used by the
# oracle side of __spark_entry__ so both engines share one pinned rule.
DUCKDB_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)
