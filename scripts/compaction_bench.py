"""Probe latency vs ingested-generation count, with and without tiered
compaction — the serving-side case for `compact_generations`.

Continuous micro-batch ingest (`ingest_generation(finalize=False)`)
leaves one generation of shards per batch; a fresh probe then reads
one postings file per shard, so serving read-amplification grows
linearly with ingested-generation count. Size-tiered compaction
(operators/build.py:compact_generations) k-way-merges whole tiers —
O(tier) per merge, never O(index) — and bounds live generations at
O(tier_k · log N), which is what keeps probe latency FLAT no matter how
many micro-batches ever arrived.

This script ingests the SAME deterministic 60k-doc corpus as 4 / 16 /
64 generations (one shard per generation: shard count == generation
count, the cleanest read-amplification axis), finalizes, and measures
driver-local cold serving (fresh `LocalIndexProbe`, 50 queries
sequentially — its misses read each shard's postings file once)
plus a 50-query distributed WAND batch; then compacts (tier_k=4),
re-finalizes, and measures again. Corpus content is identical at every
point, so latency deltas are pure fragmentation.

Usage: python scripts/compaction_bench.py    (env: SPARK_GRAFT_CPUS=8)
Prints one JSON line per (n_gens, state) plus a summary line.
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

N_DOCS = 60_000
GEN_COUNTS = (4, 16, 64)
N_QUERIES = 50


def _probe_pass(probe, queries) -> tuple[float, float]:
    lats = []
    for q in queries:
        t0 = time.perf_counter()
        probe.search(q["query"], k=q["k"])
        lats.append(time.perf_counter() - t0)
    lats.sort()
    return sum(lats), lats[len(lats) // 2]


def main() -> None:
    from pyspark.sql import functions as F

    from semantic_search_engine_spark.fixtures.webtext import (
        generate_queries,
        generate_webtext,
    )
    from semantic_search_engine_spark.operators.build import (
        _live_generations,
        compact_generations,
        finalize_index,
        ingest_generation,
    )
    from semantic_search_engine_spark.operators.query import (
        IndexReader,
        LocalIndexProbe,
        search_index_wand,
    )
    from semantic_search_engine_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    spark = get_spark(
        app_name="ssse-compaction-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ssse_cmpbench_")
    queries = generate_queries(n_queries=N_QUERIES)
    rows = []
    try:
        corpus_path = os.path.join(work, "corpus")
        generate_webtext(spark, N_DOCS).write.parquet(corpus_path)
        docs = spark.read.parquet(corpus_path).cache()
        docs.count()

        def measure(d: str, n_gens: int, state: str, extra: dict) -> dict:
            n_shards = sum(
                1 for nm in os.listdir(os.path.join(d, "postings"))
                if nm.startswith("shard=")
            )
            cold_total, cold_p50 = _probe_pass(LocalIndexProbe(d), queries)
            probe = LocalIndexProbe(d)
            _probe_pass(probe, queries)  # fill the term cache
            _, warm_p50 = _probe_pass(probe, queries)
            t0 = time.perf_counter()
            nres = search_index_wand(IndexReader(spark, d), queries).count()
            wand_sec = time.perf_counter() - t0
            row = {
                "n_gens_ingested": n_gens, "state": state,
                "live_generations": len(_live_generations(spark, d)),
                "postings_shards": n_shards,
                "cold_probe_allq_sec": round(cold_total, 3),
                "cold_probe_p50_ms": round(1000 * cold_p50, 2),
                "warm_probe_p50_ms": round(1000 * warm_p50, 3),
                "wand_batch50_sec": round(wand_sec, 2),
                "result_rows": nres,
                **extra,
            }
            print(json.dumps(row), flush=True)
            return row

        for n_gens in GEN_COUNTS:
            d = os.path.join(work, f"idx_{n_gens}")
            t0 = time.perf_counter()
            for i in range(n_gens):
                part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(n_gens)) == i)
                ingest_generation(part, d, num_shards=1, finalize=False)
            ingest_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            finalize_index(spark, d)
            fin_sec = time.perf_counter() - t0
            rows.append(
                measure(d, n_gens, "uncompacted",
                        {"ingest_sec": round(ingest_sec, 1),
                         "finalize_sec": round(fin_sec, 1)})
            )
            t0 = time.perf_counter()
            merges = compact_generations(spark, d, tier_k=4)
            compact_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            finalize_index(spark, d)
            fin_sec = time.perf_counter() - t0
            rows.append(
                measure(d, n_gens, "compacted",
                        {"merges": merges, "compact_sec": round(compact_sec, 1),
                         "finalize_sec": round(fin_sec, 1)})
            )
            shutil.rmtree(d, ignore_errors=True)
        docs.unpersist()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"metric": "compaction_bench", "n_docs": N_DOCS,
                      "cpus": cpus, "rows": rows}))


if __name__ == "__main__":
    main()
