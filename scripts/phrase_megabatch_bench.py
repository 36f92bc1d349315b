"""Mega-batch PHRASE serving throughput: price `search_index_phrase` at
10³/10⁴-phrase width over one positions-enabled index.

Round-7 context: profiling the 10³-phrase batch (Spark UDF perf
profiler) showed the shard kernel spending more time in pandas
bookkeeping than in decode + span verification combined; the kernel now
sorts each group once and works on NumPy slices (see
operators/query.py:phrase_shard). This script reproduces the
before/after measurement shape: same corpus, same queries, reps
back-to-back, rows asserted stable across reps. Identity with the
DuckDB oracle and the 1000-phrase loop-identity pytest gate the
correctness; this script only prices.

Usage: python scripts/phrase_megabatch_bench.py
(env: SPARK_GRAFT_CPUS=8, SPARK_GRAFT_PHRASEBATCH_DOCS=200000,
 SPARK_GRAFT_PHRASEBATCH_WIDTHS="1000,10000", reps=3)
Prints one JSON line per width plus a summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from semantic_search_engine_spark.fixtures.webtext import generate_webtext
    from semantic_search_engine_spark.functions.tokenizer import tokenize
    from semantic_search_engine_spark.operators.build import build_index
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        search_index_phrase,
    )
    from semantic_search_engine_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    n_docs = int(os.environ.get("SPARK_GRAFT_PHRASEBATCH_DOCS", 200_000))
    widths = [
        int(w)
        for w in os.environ.get("SPARK_GRAFT_PHRASEBATCH_WIDTHS", "1000,10000").split(",")
    ]
    reps = int(os.environ.get("SPARK_GRAFT_PHRASEBATCH_REPS", 3))

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    d = tempfile.mkdtemp(prefix="ssse_pmega_")
    try:
        docs = generate_webtext(spark, n_docs)
        t0 = time.perf_counter()
        build_index(docs, d, num_shards=max(cpus, 8), store_positions=True)
        build_sec = round(time.perf_counter() - t0, 1)
        reader = IndexReader(spark, d)

        # deterministic in-corpus bigrams: every phrase has >=1 hit doc
        n_src = max(widths) // 5
        texts = [r["text"] for r in docs.orderBy("url").limit(n_src).collect()]
        mega = []
        qid = 0
        for i, txt in enumerate(texts):
            toks = tokenize(txt)
            for j in range(5):
                s = (i * 7 + j * 13) % max(len(toks) - 3, 1)
                mega.append({"qid": qid, "query": " ".join(toks[s : s + 2]), "k": 10})
                qid += 1

        search_index_phrase(reader, mega[:10]).collect()  # warm
        results = []
        for width in widths:
            batch = mega[:width]
            secs, rows = [], set()
            for _ in range(reps):
                t0 = time.perf_counter()
                n = search_index_phrase(reader, batch).count()
                secs.append(round(time.perf_counter() - t0, 2))
                rows.add(int(n))
            assert len(rows) == 1, f"rows moved across reps: {rows}"
            best = min(secs)
            row = {
                "n_docs": n_docs, "cpus": cpus, "width": width,
                "reps_sec": secs, "best_sec": best,
                "qps": round(width / best, 1), "result_rows": rows.pop(),
            }
            results.append(row)
            print(json.dumps(row), flush=True)
        print(json.dumps({"metric": "phrase_megabatch", "build_sec": build_sec,
                          "results": results}), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
