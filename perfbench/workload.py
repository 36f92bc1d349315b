"""One benchmark run: start a session, build the base index, run the
workload's fixed schedule of rounds, check every result, and collect the
end-to-end metrics (and, traced, the per-layer ones).

Each round hands in one micro-batch — ingest_generation(finalize=False)
→ compact_generations(tier_k=4) → finalize_index → a fresh
LocalIndexProbe answering the fixed query set — then serves its stream
of single BM25 and phrase queries from that probe, with a 50-query and
a 1024-query search_index_wand batch between its thirds. Traced runs add
the cleaning pass after the rounds. All timing is of calls into the
engine's public functions, from outside; the load is one process and
one closed-loop client.
"""

from __future__ import annotations

import gc
import os
import platform
import resource
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from semantic_search_engine_spark.functions.tokenizer import tokenize
from semantic_search_engine_spark.operators import build, textstats
from semantic_search_engine_spark.operators.query import (
    IndexReader,
    LocalIndexProbe,
    search_index_phrase,
    search_index_wand,
)
from semantic_search_engine_spark.session import get_spark
from semantic_search_engine_spark.sources import index_store

from . import oracle
from .harness import Tracer, percentile, read_event_log, replay_lru, summarize
from .inputs import CLEAN_PAGES, NARROW, ROUND_S, WIDE, Mix, make_inputs

WORKLOADS = {
    # read-mostly: a 500-page index takes a trickle of 20-page micro-batches
    "serve": Mix(base_docs=500, batch_docs=20),
    # write-heavy: a 100-page index takes 160-page micro-batches, eight
    # times serve's, so per-document build cost shows beside the fixed
    # cost serve's cycles mostly pay; the base and the batches share a
    # size class, so the third micro-batch triggers one 4-way merge
    "ingest": Mix(base_docs=100, batch_docs=160),
}
# end-to-end metrics of every untraced run: name -> unit
END_TO_END = {
    "setup_s": "s",
    "query_p75_ms": "ms",
    "phrase_p50_ms": "ms",
    "fresh_query_p50_ms": "ms",
    "batch_narrow_qps": "1/s",
    "batch_wide_qps": "1/s",
    "visible_p50_ms": "ms",
    "ingest_docs_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "driver_rss_mb": "MB",
}
# per-layer metrics of a traced run: name -> (unit, which way is better);
# layers are named after the engine's modules
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "fixtures.gen_s": ("s", "lower"),
    "build.segments_s": ("s", "lower"),
    "build.finalize_s": ("s", "lower"),
    "build.ingest_s": ("s", "lower"),
    "build.compact_s": ("s", "lower"),
    "build.merges": ("count", "lower"),
    "build.spark_jobs": ("count", "lower"),
    "build.executor_run_s": ("s", "lower"),
    "build.shuffle_write_bytes": ("bytes", "lower"),
    "build.self_s": ("s", "lower"),
    "index_store.live_generations": ("count", "lower"),
    "index_store.postings_files": ("count", "lower"),
    "index_store.read_manifest_ms": ("ms", "lower"),
    "codec.postings_bytes": ("bytes", "lower"),
    "codec.positions_bytes": ("bytes", "lower"),
    "codec.dictionary_bytes": ("bytes", "lower"),
    "query.wand_narrow_ms": ("ms", "lower"),
    "query.wand_wide_ms": ("ms", "lower"),
    "query.spark_jobs_per_batch": ("count", "lower"),
    "query.shuffle_bytes_per_batch": ("bytes", "lower"),
    "query.probe_open_ms": ("ms", "lower"),
    "query.local_hit_ms": ("ms", "lower"),
    "query.local_miss_ms": ("ms", "lower"),
    "query.term_hit_ratio": ("ratio", "higher"),
    "query.phrase_ms": ("ms", "lower"),
    "query.self_s": ("s", "lower"),
    "textstats.filter_funnel_ms_per_doc": ("ms", "lower"),
    "textstats.repetition_stats_ms_per_doc": ("ms", "lower"),
    "textstats.bigram_counts_ms_per_doc": ("ms", "lower"),
    "textstats.line_stats_ms_per_doc": ("ms", "lower"),
    "textstats.docs_per_s": ("1/s", "higher"),
    "textstats.self_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.jvm_peak_rss_mb": ("MB", "lower"),
    "op.self_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}
LRU_TERMS = 4096  # LocalIndexProbe's default cache_terms
TEXTSTATS = ("filter_funnel", "repetition_stats", "bigram_counts", "line_stats")


def _cpus() -> int:
    """Spark task slots. The indexes hold at most four shards, and two
    slots leave the rest of a 4-core box to the driver's probe and the
    JVM's own threads: in five paired ingest runs, local[2] ran the
    probe ~8% and the micro-batch cycles ~7% faster than local[4], with
    no slower batch metric."""
    return min(2, len(os.sched_getaffinity(0)))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _write_pages(path: str, cols: dict[str, list], files: int = 1) -> None:
    """Write columns as ``files`` parquet files (one Spark partition each)."""
    os.makedirs(path)
    n = len(next(iter(cols.values())))
    for i, part in enumerate(np.array_split(np.arange(n), files)):
        tbl = pa.table({c: [v[j] for j in part] for c, v in cols.items()})
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))


def _peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``before`` — a diagnostic for run-to-run noise on a shared VM."""
    d = [a - b for a, b in zip(_cpu_ticks(), before)]
    return 100.0 * d[7] / max(sum(d), 1)


def _jvm_hwm_mb() -> float:
    """Peak RSS of the Spark JVM (a child of this process)."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline") as f:
                cmd = f.read()
        except OSError:
            continue
        if f"\nPPid:\t{me}\n" in status and "java" in cmd:
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _rows_by_qid(rows) -> dict[int, list[tuple[int, float]]]:
    by: dict[int, list[tuple[int, float]]] = {}
    for row in sorted(rows, key=lambda x: (x["qid"], x["rank"])):
        by.setdefault(row["qid"], []).append((int(row["docid"]), float(row["score"])))
    return by


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.mix = WORKLOADS[workload]
        self.rounds = max(1, seconds // ROUND_S)
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".bench_out")
        self.tracer = Tracer(enabled=False)
        self.m: dict[str, list] = {}  # raw samples by name
        self.attempted = 0
        self.failures: list[str] = []
        self.n_indexed = 0
        # traced runs: the LRU replay stream and (kind, latency) per probe call
        self.requests: list = []
        self.calls: list[tuple[str, float]] = []
        self.live: dict[str, float] = {}
        self.phase: dict[str, float] = {}  # wall time of each part of the run

    def sample(self, key: str, value) -> None:
        self.m.setdefault(key, []).append(value)

    def timed(self, name: str, fn, *a, jobs: bool = True, **kw):
        """Time one call into the engine under a span; returns (result, s)."""
        t0 = time.perf_counter()
        with self.tracer.span(name, jobs=jobs):
            out = fn(*a, **kw)
        return out, time.perf_counter() - t0

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        try:
            return self._run()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _run(self) -> dict:
        t0 = time.perf_counter()
        inp = make_inputs(self.workload, self.mix, self.seed, self.rounds)
        docs = os.path.join(self.work, "docs")

        def pages(ix):
            return {"url": [inp.docs[i][0] for i in ix], "text": [inp.docs[i][1] for i in ix]}

        _write_pages(os.path.join(docs, "base"), pages(inp.base))
        for r, rd in enumerate(inp.rounds):
            _write_pages(os.path.join(docs, f"mb-{r}"), pages(rd.batch))
        _write_pages(os.path.join(self.work, "clean", "documents.parquet"),
                     {"doc_id": list(range(len(inp.clean))), "text": inp.clean},
                     files=len(inp.clean))
        gen_s = time.perf_counter() - t0

        spark, session_s = self._session()
        try:
            if self.trace:
                self.tracer = Tracer(enabled=True, sc=spark.sparkContext)
            result = self._measure(spark, inp, session_s, gen_s)
            result["env"] = self._env(spark)
            if self.trace:
                self._live_probes(spark)
            jvm_mb = _jvm_hwm_mb()
        finally:
            _stop_spark(spark)
        if self.trace:
            result["per_layer"] = self._per_layer(result, jvm_mb)
        return result

    def _session(self):
        for d in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        for k in [k for k in os.environ if k.startswith("SSSE_")]:
            del os.environ[k]  # engine knobs stay at their defaults
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.trace else "false",
            "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{_cpus()}]",
                          shuffle_partitions=_cpus(), extra_conf=conf)
        return spark, time.perf_counter() - t0

    def _measure(self, spark, inp, session_s: float, gen_s: float) -> dict:
        idx = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        base = spark.read.parquet(os.path.join(self.work, "docs", "base"))
        _, s = self.timed("build.build_segments", build.build_segments, base, idx,
                          store_positions=True)
        self.sample("build.segments_s", s)
        _, s = self.timed("build.finalize_index", build.finalize_index, spark, idx)
        self.sample("build.finalize_s", s)
        setup_s = session_s + time.perf_counter() - t0
        self.n_indexed = len(inp.base)

        t0 = time.perf_counter()
        self._warm_up(spark, idx, inp)
        self.phase["warm_up_s"] = time.perf_counter() - t0
        gc.collect()
        gc.disable()  # collections run untimed between operations instead
        try:
            t0, steal0 = time.perf_counter(), _cpu_ticks()
            states = [self._round(spark, idx, inp, r) for r in range(len(inp.rounds))]
            # traced runs only: with every metric in every run, ~60 s per
            # run leaves no room for it (see README)
            clean = self._clean(spark, inp) if self.trace else None
            self.phase["schedule_s"] = time.perf_counter() - t0
            self.phase["steal_pct"] = _steal_pct(steal0)
        finally:
            gc.enable()
        # the engine's peak, read before the oracles of the checks run
        self.phase["rss_mb"] = _peak_rss_mb()
        t0 = time.perf_counter()
        self._check(spark, idx, inp, states, clean)
        self.phase["check_s"] = time.perf_counter() - t0
        self.phase["rss_after_check_mb"] = _peak_rss_mb()
        self.phase.update(gen_s=gen_s, session_s=session_s, setup_s=setup_s)
        return self._e2e(inp, idx, setup_s)

    def _warm_up(self, spark, idx: str, inp) -> None:
        """Untimed and discarded: first calls pay imports, Python-worker
        start and code generation that every later call reuses."""
        probe = LocalIndexProbe(idx)
        for q in inp.pool[:10]:
            probe.search(q["query"], k=q["k"])
        for p in inp.rounds[0].phrases[:5]:
            probe.search_phrase(p, k=10)
        reader = IndexReader(spark, idx)
        search_index_wand(reader, [dict(q, qid=j) for j, q in enumerate(inp.pool[:8])]).collect()

    # ----------------------------------------------------------------- round
    def _cycle(self, spark, idx: str, batch_dir: str, n_docs: int):
        """One micro-batch, handed in until queryable: ingest → compact →
        finalize → fresh probe."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("op.cycle"):
            docs = spark.read.parquet(batch_dir)
            _, s = self.timed("build.ingest_generation", build.ingest_generation, docs, idx,
                              num_shards=1, finalize=False, store_positions=True)
            self.sample("build.ingest_s", s)
            merges, s = self.timed("build.compact_generations", build.compact_generations,
                                   spark, idx, tier_k=4)
            self.sample("build.compact_s", s)
            self.sample("build.merges", merges)
            _, s = self.timed("build.finalize_index", build.finalize_index, spark, idx)
            self.sample("build.finalize_s", s)
            probe, s = self.timed("query.LocalIndexProbe", LocalIndexProbe, idx, jobs=False)
            self.sample("query.probe_open_ms", s * 1e3)
        visible = time.perf_counter() - t0
        self.n_indexed += n_docs
        self.sample("visible_ms", visible * 1e3)
        self.sample("cycle_docs", n_docs)
        self.sample("cycle_s", visible)
        return probe

    def _query(self, probe, kind: str, text: str, k: int, known: set, state: dict) -> None:
        self.attempted += 1
        if kind == "phrase":
            res, s = self.timed("query.search_phrase", probe.search_phrase, text, k=k, jobs=False)
        else:
            res, s = self.timed("query.search", probe.search, text, k=k, jobs=False)
        self.sample(f"{kind}_ms", s * 1e3)
        state[kind][(text, k)] = [(d, sc) for _, d, sc in res]
        if self.trace:
            self.requests.append((sorted(set(tokenize(text))), kind == "phrase", known))
            self.calls.append((kind, s * 1e3))

    def _round(self, spark, idx: str, inp, r: int) -> dict:
        """Run round ``r``; returns its results, tagged with the corpus
        size of the index version they ran on."""
        rd = inp.rounds[r]
        probe = self._cycle(spark, idx, os.path.join(self.work, "docs", f"mb-{r}"), len(rd.batch))
        state = {"n": self.n_indexed, "fresh": {}, "single": {}, "phrase": {}, "batches": []}
        gc.collect()
        known = set()
        if self.trace:
            known = set(ds.dataset(os.path.join(idx, "dictionary"), format="parquet")
                        .to_table(columns=["term"]).column("term").to_pylist())
            self.requests.append(None)  # a fresh probe starts with an empty cache
        for qi in inp.fresh:
            self._query(probe, "fresh", inp.pool[qi]["query"], inp.pool[qi]["k"], known, state)

        # a collection costs ~70 ms here, so it runs around cycles and
        # before each batch, not between probe queries
        reader = IndexReader(spark, idx)
        for kind, i in rd.stream:
            if kind == "single":
                self._query(probe, kind, inp.pool[i]["query"], inp.pool[i]["k"], known, state)
            elif kind == "phrase":
                self._query(probe, kind, rd.phrases[i], 10, known, state)
            else:
                gc.collect()
                self._batch(reader, kind, rd.batches[i], inp, state)
        gc.collect()
        return state

    def _batch(self, reader, kind: str, sel: list[int], inp, state: dict) -> None:
        qs = [{"qid": j, "query": inp.pool[i]["query"], "k": inp.pool[i]["k"]}
              for j, i in enumerate(sel)]
        self.attempted += 1
        with self.tracer.span(f"op.{kind}_batch"):
            rows, s = self.timed("query.search_index_wand",
                                 lambda: search_index_wand(reader, qs).collect())
        self.sample(f"{kind}_s", s)
        state["batches"].append((kind, qs, rows))

    def _clean(self, spark, inp) -> dict:
        """The cleaning pass over the seeded pages, one page per partition."""
        import __spark_entry__ as e  # the entry module: the pass's views and thresholds

        sf = os.path.join(self.work, "clean")
        gopher = dict(min_words=e.GOPHER_MIN_WORDS, min_mean_word_len=e.GOPHER_MIN_MWL,
                      min_stopwords=e.GOPHER_MIN_STOP)
        calls = {
            "filter_funnel": lambda: textstats.filter_funnel(
                e._docs_with_recrawl(spark, sf), quality_threshold=e.FUNNEL_QUALITY_T,
                lang="en", max_top_ngram_frac=e.FUNNEL_REP_T, gopher_thresholds=gopher),
            "repetition_stats": lambda: textstats.repetition_stats(e._docs(spark, sf)),
            "bigram_counts": lambda: textstats.bigram_counts(e._docs(spark, sf)),
            "line_stats": lambda: textstats.line_stats(e._docs_with_lines(spark, sf)),
        }
        out, total = {}, 0.0
        with self.tracer.span("op.clean_pass"):
            for name in TEXTSTATS:
                self.attempted += 1
                out[name], s = self.timed(f"textstats.{name}", lambda: calls[name]().toPandas())
                total += s
                self.sample(f"textstats.{name}_ms_per_doc", s * 1e3 / len(inp.clean))
                gc.collect()
        self.sample("clean_s", total)
        return out

    # ---------------------------------------------------------------- checks
    def _check(self, spark, idx: str, inp, states: list[dict], clean: dict) -> None:
        """Untimed. Every result against the DuckDB oracle over the corpus
        of its index version (docids mapped through the final docmap —
        compaction never changes a docid); the last version's phrases
        also against search_index_phrase; the cleaning pass against the
        entries' oracle_sql() text. One failure is one failed operation."""
        dm = ds.dataset(os.path.join(idx, "docmap"), format="parquet").to_table(
            columns=["docid", "url"]).to_pandas()
        docid_of = dict(zip(dm["url"], dm["docid"]))
        if len(dm) != len(inp.docs) or dm["docid"].nunique() != len(inp.docs):
            self.failures.append(f"docmap holds {len(dm)} rows for {len(inp.docs)} pages")
            return
        for st in states:
            corpus = pd.DataFrame({"docid": [int(docid_of[u]) for u, _ in inp.docs[:st["n"]]],
                                   "text": [t for _, t in inp.docs[:st["n"]]]})
            keys = list({**st["fresh"], **st["single"]})
            keys += [(q["query"], q["k"]) for _, qs, _ in st["batches"] for q in qs]
            want = dict(zip(keys, oracle.bm25_topk(corpus, keys)))
            for kind in ("fresh", "single"):
                for key, got in st[kind].items():
                    if not oracle.same_ranking(got, want[key], key[1]):
                        self.failures.append(f"{kind} {key!r} at {st['n']} docs")
            for kind, qs, rows in st["batches"]:
                by = _rows_by_qid(rows)
                bad = [q["qid"] for q in qs
                       if not oracle.same_ranking(by.get(q["qid"], []),
                                                  want[(q["query"], q["k"])], q["k"])]
                if bad:
                    self.failures.append(f"{kind} batch at {st['n']} docs: qids {bad[:5]}")
            pkeys = list(st["phrase"])
            for key, w in zip(pkeys, oracle.phrase_topk(corpus, pkeys)):
                if not oracle.same_ranking(st["phrase"][key], w, key[1]):
                    self.failures.append(f"phrase {key!r} at {st['n']} docs")

        last = states[-1]["phrase"]
        qs = [{"qid": j, "query": p, "k": k} for j, (p, k) in enumerate(last)]
        by = _rows_by_qid(search_index_phrase(IndexReader(spark, idx), qs).collect())
        for q in qs:
            if not oracle.same_ranking(last[(q["query"], q["k"])], by.get(q["qid"], [])):
                self.failures.append(f"phrase {q['query']!r} differs from search_index_phrase")

        if clean is None:
            return
        import __spark_entry__ as e

        sql = e.oracle_sql()
        path = os.path.join(self.work, "clean", "documents.parquet")
        bigrams = clean["bigram_counts"].sort_values(["cnt", "bigram"], ascending=[False, True])
        clean = dict(clean, bigram_counts=bigrams.head(30).reset_index(drop=True))
        for name, entry in zip(TEXTSTATS, ("corpus_filter_funnel_v3", "repetition_stats",
                                           "text_bigrams", "line_dup_stats")):
            if not oracle.same_frame(clean[name], oracle.entry_sql(path, sql[entry])):
                self.failures.append(f"textstats.{name} differs from the {entry} oracle")

    # --------------------------------------------------------------- metrics
    def _e2e(self, inp, idx, setup_s) -> dict:
        m = self.m
        single = summarize(m["single_ms"], 90)  # p50 and p90 reported, not gated: see README
        text_bytes = sum(len(t.encode()) for _, t in inp.docs)
        e2e = {
            "setup_s": setup_s,
            # term-cache hits (~0.2 ms) and misses (~9 ms) make the stream
            # bimodal with 54-62% misses: p50 sits on the edge of the miss
            # mode and jumps with the hit share, p75 sits inside it
            "query_p75_ms": percentile(m["single_ms"], 75),
            "phrase_p50_ms": percentile(m["phrase_ms"], 50),
            "fresh_query_p50_ms": percentile(m["fresh_ms"], 50),
            # queries through all batches of a width / their total wall time
            "batch_narrow_qps": NARROW * len(m["narrow_s"]) / sum(m["narrow_s"]),
            "batch_wide_qps": WIDE * len(m["wide_s"]) / sum(m["wide_s"]),
            "visible_p50_ms": percentile(m["visible_ms"], 50),
            "ingest_docs_per_s": sum(m["cycle_docs"]) / sum(m["cycle_s"]),
            "index_bytes_per_text_byte": _dir_bytes(idx) / text_bytes,
            "driver_rss_mb": self.phase["rss_mb"],
        }
        samples = {"single": single["n"], "single_p50_ms": single["p50"],
                   "single_p90_ms": single["p90"],
                   "single_beyond_p90": single["beyond"],
                   "phrase": len(m["phrase_ms"]), "fresh": len(m["fresh_ms"]),
                   "narrow_batches": len(m["narrow_s"]), "wide_batches": len(m["wide_s"]),
                   "cycles": len(m["visible_ms"])}
        raw = {k: m[k] for k in ("visible_ms", "narrow_s", "wide_s")}
        return {"e2e": e2e, "samples": samples, "raw": raw, "fingerprint": inp.fingerprint,
                "rounds": len(inp.rounds), "phase": self.phase,
                "index_stats": self._index_stats(idx)}

    def _index_stats(self, idx: str) -> dict:
        """Read from what the index wrote to disk, after the last round."""
        post = ds.dataset(os.path.join(idx, "postings"), format="parquet", partitioning="hive")
        cols = post.to_table(columns=["docids_bin", "tfs_bin", "dls_bin", "positions_bin"])
        nbytes = {c: int(pc.sum(pc.binary_length(cols.column(c))).as_py() or 0)
                  for c in cols.column_names}
        retired = index_store.retired_gen_bases(idx)
        live = sum(1 for g in index_store.read_generations(idx)
                   if int(g["shard_base"]) not in retired)
        return {
            "live_generations": live + (0 if 0 in retired else 1),  # + the base build
            "postings_files": len(post.files),
            "postings_bytes": nbytes["docids_bin"] + nbytes["tfs_bin"] + nbytes["dls_bin"],
            "positions_bytes": nbytes["positions_bin"],
            "dictionary_bytes": _dir_bytes(os.path.join(idx, "dictionary")),
        }

    def _env(self, spark) -> dict:
        import duckdb
        import pyspark

        conf = dict(spark.sparkContext.getConf().getAll())
        keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled", "spark.sql.files.minPartitionNum",
                "spark.eventLog.enabled")
        return {
            "nproc": os.cpu_count(), "cpus_used": _cpus(),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pa.__version__, "numpy": np.__version__, "pandas": pd.__version__,
            "duckdb": duckdb.__version__,
            "spark_conf": {k: conf[k] for k in keep if k in conf},
        }

    # ------------------------------------------------------------ per layer
    def _live_probes(self, spark) -> None:
        """Traced runs, untimed: figures that need the live session."""
        t0 = time.perf_counter()
        index_store.read_manifest(spark, os.path.join(self.work, "index")).collect()
        self.live["read_manifest_ms"] = (time.perf_counter() - t0) * 1e3
        sc = spark.sparkContext
        t0 = time.perf_counter()
        for _ in range(200):
            sc.setJobGroup("calibrate", "calibrate")
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.live["job_group_s"] = (time.perf_counter() - t0) / 200
        t0 = time.perf_counter()
        bare = Tracer(enabled=True)
        for _ in range(2000):
            with bare.span("calibrate.span"):
                pass
        self.live["span_s"] = (time.perf_counter() - t0) / 2000

    def _per_layer(self, res: dict, jvm_mb: float) -> dict:
        m, st, spans = self.m, res["index_stats"], self.tracer.spans
        by_group = {f"span-{s.id}": s for s in spans}
        ev = read_event_log(os.path.join(self.work, "eventlog"))

        def spark_stats(pred) -> dict:
            acc = {"jobs": 0, "executor_run_s": 0.0, "input_bytes": 0, "shuffle_write_bytes": 0}
            for g, v in ev.items():
                if g in by_group and pred(by_group[g]):
                    for k in acc:
                        acc[k] += v[k]
            return acc

        def med(k):
            return float(np.median(m[k])) if m.get(k) else 0.0

        batch_ops = {s.op for s in spans if s.name in ("op.narrow_batch", "op.wide_batch")}
        batches = spark_stats(lambda s: s.op in batch_ops)
        n_batches = len(m.get("narrow_s", [])) + len(m.get("wide_s", []))
        build_sp = spark_stats(lambda s: s.layer == "build")
        total = spark_stats(lambda s: True)
        hm = replay_lru(self.requests, LRU_TERMS)
        hit = [ms for (_, miss), (kind, ms) in zip(hm, self.calls) if kind == "single" and not miss]
        miss = [ms for (_, mi), (kind, ms) in zip(hm, self.calls) if kind == "single" and mi]
        looked = sum(h + mi for h, mi in hm)
        n_jobs_spans = sum(1 for s in spans if not s.name.startswith("query.search")
                           and s.name != "query.LocalIndexProbe")
        overhead_s = (len(spans) * self.live["span_s"]
                      + n_jobs_spans * self.live["job_group_s"])
        os.makedirs(self.out_dir, exist_ok=True)
        self.tracer.write(os.path.join(self.out_dir, f"spans-{self.workload}-{self.seed}.jsonl"),
                          {by_group[g].id: v for g, v in ev.items() if g in by_group})
        selfs = self.tracer.layer_self_s()
        out = {
            "session.start_s": self.phase["session_s"],
            "fixtures.gen_s": self.phase["gen_s"],
            "build.segments_s": med("build.segments_s"),
            "build.finalize_s": med("build.finalize_s"),
            "build.ingest_s": med("build.ingest_s"),
            "build.compact_s": med("build.compact_s"),
            "build.merges": sum(m.get("build.merges", [])),
            "build.spark_jobs": build_sp["jobs"],
            "build.executor_run_s": build_sp["executor_run_s"],
            "build.shuffle_write_bytes": build_sp["shuffle_write_bytes"],
            "index_store.live_generations": st["live_generations"],
            "index_store.postings_files": st["postings_files"],
            "index_store.read_manifest_ms": self.live["read_manifest_ms"],
            "codec.postings_bytes": st["postings_bytes"],
            "codec.positions_bytes": st["positions_bytes"],
            "codec.dictionary_bytes": st["dictionary_bytes"],
            "query.wand_narrow_ms": med("narrow_s") * 1e3,
            "query.wand_wide_ms": med("wide_s") * 1e3,
            "query.spark_jobs_per_batch": batches["jobs"] / max(n_batches, 1),
            "query.shuffle_bytes_per_batch": batches["shuffle_write_bytes"] / max(n_batches, 1),
            "query.probe_open_ms": med("query.probe_open_ms"),
            "query.local_hit_ms": percentile(hit, 50) if hit else 0.0,
            "query.local_miss_ms": percentile(miss, 50) if miss else 0.0,
            "query.term_hit_ratio": sum(h for h, _ in hm) / looked if looked else 0.0,
            "query.phrase_ms": med("phrase_ms"),
            "spark.executor_run_s": total["executor_run_s"],
            "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
            "spark.input_bytes": total["input_bytes"],
            "spark.jvm_peak_rss_mb": jvm_mb,
            "trace.spans": len(spans),
            "trace.overhead_pct": 100.0 * overhead_s / self.phase["schedule_s"],
        }
        for name in TEXTSTATS:
            out[f"textstats.{name}_ms_per_doc"] = med(f"textstats.{name}_ms_per_doc")
        out["textstats.docs_per_s"] = CLEAN_PAGES / m["clean_s"][0]
        for layer in ("build", "query", "textstats", "op"):
            out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        return out


def run(workload: str, seed: int, seconds: int, trace: bool, root: str) -> dict:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    r = Run(workload, seed, seconds, trace, root)
    res = r.run()
    res["attempted"] = r.attempted
    res["failures"] = r.failures
    return res
