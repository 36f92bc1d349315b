"""Similarity search over embedding columns (array<float>).

Re-derives the reference's entire ANN surface in Spark:
  * brute-force cosine top-k — the exact oracle
    (/root/reference/src/worst_case_implementation.py:23-39)
  * IVF: driver-side k-means on a bounded sample (the reference trains
    on ≤1M rows, /root/reference/src/IVF.py:46), distributed assignment
    via one Arrow-batched matmul, bucket-pruned n_probe search
    (/root/reference/src/IVF.py:159-191)
  * LSH: seeded random hyperplanes → sign-bit bucket, multi-table union
    of candidates (/root/reference/src/LSH.py:25-54, 131-152)

Cosine math: float64, pure column expressions (zip_with + aggregate →
JVM codegen) for exact paths; NumPy matmul inside pandas UDFs for the
batched assignment (the reference's vectorized kernel,
/root/reference/src/IVF.py:165-166, with Arrow batches as the chunks).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.localdf import local_df
from ..functions.partitioning import spread_small_scan
from .lru import raised_cache_cap, split_by_key, touch_and_trim


def dot_expr(a, b) -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a) -> "F.Column":
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a, b) -> "F.Column":
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def manhattan_expr(a, b) -> "F.Column":
    """L1 distance Σ|a_i − b_i| as a pure JVM column expression — the
    reference's Manhattan metric option (/root/reference/src/PQ.py:139-140),
    re-expressed as zip_with + aggregate (codegen, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l1_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact Manhattan-nearest top-k (ascending L1, id-asc ties)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = spread_small_scan(emb).select(
        F.col(id_col),
        F.round(manhattan_expr(F.col(vec_col), q), 6).alias("l1"),
    )
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(exclude_ids))
    return out.orderBy(F.asc("l1"), F.asc(id_col)).limit(k)


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Brute-force exact cosine top-k (TakeOrderedAndProject plan)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = spread_small_scan(emb).select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col), q), 6).alias("cos"),
    )
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(exclude_ids))
    return out.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def cosine_topk_batch(
    emb: DataFrame, queries: list[list[float]], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(qid, id, cos, rank) exact cosine top-k for a whole query batch
    in ONE job — the brute-force analog of IVFIndex.search_batch and
    the exact oracle for ladder recall at 10M+ rows (a per-query loop
    of full scans would be nq× the work).

    Plan: one Arrow pass scores every (row, query) pair via a single
    NumPy matmul per batch, keeps per query every row whose ROUNDED
    score ties-or-beats the batch's rounded k-th value (a sound partial
    top-k with boundary ties kept: the final window orders by the
    rounded score, and any row it could rank ≤ k must round-tie or beat
    the k-th rounded score of every batch it appears in — so selecting
    by the unrounded score with a fixed margin, as an earlier revision
    did, could evict a member of a long rounding-tie run, while
    ``>= rounded k-th`` cannot), then a per-qid window merges the
    survivor set."""
    from pyspark.sql import Window

    qm = np.asarray(queries, dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    nq = qn.shape[0]

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            vids = pdf[id_col].to_numpy()
            cos = np.round(mn @ qn.T, 6)
            outs = []
            for qi in range(nq):
                c = cos[:, qi]
                if c.size > k:
                    kth = np.partition(c, c.size - k)[c.size - k]
                    sel = np.flatnonzero(c >= kth)  # keep boundary ties
                else:
                    sel = np.arange(c.size)
                outs.append(pd.DataFrame({
                    "qid": np.full(sel.size, qi, dtype=np.int32),
                    "vid": vids[sel],
                    "cos": c[sel],
                }))
            yield pd.concat(outs)

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, "qid int, vid long, cos double"
    ).withColumnRenamed("vid", id_col)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "cos", "rank")
    )


# ---------------------------------------------------------------- IVF

def _collect_sample(vecs: DataFrame, vec_col: str, cap: int) -> np.ndarray:
    """Bounded training-sample collection via Arrow (``toPandas``), not
    a pickled row ``collect()`` — same rows in the same plan order and
    the same float64 values (float32→float64 widening is exact), at a
    fraction of the driver decode cost (the r8 local-relation finding,
    measured in ``_verify_pairs_local_gather``: 0.35 s vs 1.6 s for
    20k×64 on this host)."""
    pdf = vecs.limit(cap).toPandas()
    if pdf.empty:
        raise ValueError(
            "empty training sample: the embeddings frame (or its sampled "
            "fraction) has no rows to train on"
        )
    return np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)


def _row_count(emb: DataFrame, n_rows: int | None) -> int:
    """The row count that sizes a training sample: the caller's exact
    ``n_rows`` when given, else one count() job. Training needs at
    least one row."""
    n = emb.count() if n_rows is None else int(n_rows)
    if n < 1:
        raise ValueError(
            f"cannot train on {n} rows: the embeddings frame is empty or n_rows < 1"
        )
    return n


def kmeans_fit(x: np.ndarray, k: int, iters: int = 20, seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd k-means (driver-side, bounded sample) —
    stands in for the reference's scipy kmeans2
    (/root/reference/src/kmeans.py:13-15). Matmul distance form +
    bincount centroid update: O(n·k) memory-free of the naive
    (n, k, d) difference tensor, so reference-ladder cluster counts
    (750 @5M, 2048 @20M — src/IVF.py:16-19) fit on the driver."""
    x = np.asarray(x, dtype=np.float64)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(x.shape[0], size=k, replace=False)].copy()
    x2 = (x**2).sum(1)[:, None]
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2x·c + ||c||² (argmin-equivalent, no tensor)
        d = x2 - 2.0 * (x @ cent.T) + (cent**2).sum(1)[None, :]
        assign = d.argmin(1)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=k)
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz, None]
    return cent


class IVFIndex:
    """IVF-flat over an embedding DataFrame. Build: sample → k-means →
    distributed nearest-centroid assignment (Arrow matmul) → table
    partitioned by bucket. Query: score centroids, probe n_probe
    buckets (partition-pruned scan), exact cosine inside buckets."""

    def __init__(self, assigned: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls, emb: DataFrame, n_clusters: int, sample_cap: int = 100_000,
        id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
        n_rows: int | None = None,
    ) -> "IVFIndex":
        # Uniform seeded sample (not limit(): that trains on whatever
        # partitions scan first — first-partition bias). The reference
        # trains on its first 1M rows (/root/reference/src/IVF.py:46);
        # df.sample removes the bias at the same cost. 1.25× oversample
        # then cap, so the k-means input size stays bounded.
        # ``n_rows``: an EXACT row count the caller already has (parquet
        # footer metadata, a manifest) skips the sizing count() job —
        # the sample fraction, and therefore the trained centroids, are
        # identical to the counted path by construction.
        n = _row_count(emb, n_rows)
        fraction = min(1.0, 1.25 * sample_cap / n)
        vecs = emb.select(vec_col)
        if fraction < 1.0:
            vecs = vecs.sample(fraction=fraction, seed=seed)
        sample = _collect_sample(vecs, vec_col, sample_cap)
        cent = kmeans_fit(sample, n_clusters, seed=seed)
        cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)

        def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
                mn = m / np.linalg.norm(m, axis=1, keepdims=True)
                pdf = pdf.copy()
                pdf["bucket"] = (mn @ cn.T).argmax(1).astype(np.int32)
                yield pdf

        schema = emb.select(id_col, vec_col).schema.add("bucket", "integer")
        assigned = (
            emb.select(id_col, vec_col)
            .mapInPandas(assign, schema)
            .repartition("bucket")
            .cache()
        )
        return cls(assigned, cent, id_col, vec_col)

    def save(self, path: str) -> None:
        """Persist: vectors partitioned BY BUCKET (probe-time reads are
        partition-pruned directory scans — the on-disk analog of the
        reference's packed per-cluster index file,
        /root/reference/src/IVF.py:85-122) + centroid array as JSON."""
        import json

        self.assigned.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(path, "vectors")
        )
        meta = {
            "centroids": self.centroids.tolist(),
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        import json

        with open(os.path.join(path, "centroids.json")) as f:
            meta = json.load(f)
        assigned = spark.read.parquet(os.path.join(path, "vectors"))
        return cls(
            assigned,
            np.asarray(meta["centroids"], dtype=np.float64),
            meta["id_col"],
            meta["vec_col"],
        )

    def search(self, query_vec: list[float], k: int = 10, n_probe: int = 4) -> DataFrame:
        q = np.asarray(query_vec, dtype=np.float64)
        cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        scores = cn @ (q / np.linalg.norm(q))
        probe = [int(b) for b in np.argsort(scores)[-n_probe:]]
        qcol = F.array(*[F.lit(float(x)) for x in q])
        return (
            self.assigned.filter(F.col("bucket").isin(probe))
            .select(self.id_col, F.round(cosine_expr(F.col(self.vec_col), qcol), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.asc(self.id_col))
            .limit(k)
        )

    def search_batch(
        self, queries: list[list[float]], k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """(qid, vec_id, cos, rank) for a whole query batch in ONE job —
        the serving shape at scale (amortizes job scheduling and shares
        the bucket scan across queries, like the WAND batch path).

        Plan: per-query probe buckets → tiny (qid, bucket) broadcast
        join against the bucketed table (each row replicated only for
        queries probing its bucket) → one Arrow-batched NumPy matmul
        scores every (row, qid) pair → per-qid top-k window."""
        from pyspark.sql import Window

        qm = np.asarray(queries, dtype=np.float64)
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        probes = np.argsort(qn @ cn.T, axis=1)[:, -n_probe:]
        pairs = [(int(qi), int(b)) for qi in range(len(queries)) for b in probes[qi]]
        spark = self.assigned.sparkSession
        probe_df = local_df(spark, pairs, "qid int, bucket int")
        cand = self.assigned.join(F.broadcast(probe_df), "bucket")
        id_col, vec_col = self.id_col, self.vec_col

        def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
                mn = m / np.linalg.norm(m, axis=1, keepdims=True)
                qi = pdf["qid"].to_numpy()
                cos = np.einsum("ij,ij->i", mn, qn[qi])
                yield pd.DataFrame(
                    {"qid": qi, "vid": pdf[id_col].to_numpy(), "cos": np.round(cos, 6)}
                )

        scored = cand.mapInPandas(score, "qid int, vid long, cos double").withColumnRenamed(
            "vid", id_col
        )
        w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc(id_col))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", id_col, "cos", "rank")
        )


class LocalIVFProbe:
    """Driver-local single-query probe over a SAVED IVF index directory
    — no Spark job at all.

    ``IVFIndex.search`` is the distributed probe: correct plan shape at
    100 TB, but a one-row-answer Spark job pays the ~0.3 s scheduling
    floor, which is why the single-query ladder column trailed the
    reference's in-RAM loop (/root/reference/src/IVF.py:159-191 — it
    memmaps exactly the probed cluster's file region). This is that
    move re-derived for the Spark index layout: ``IVFIndex.save``
    already partitions vectors BY BUCKET on disk, so the probed
    ``bucket=N`` directories can be read directly with pyarrow in the
    driver process and scored with the same NumPy kernel — k≤10
    lookups never touch the cluster, batches keep using
    ``IVFIndex.search_batch``.

    Results are EXACTLY ``IVFIndex.search`` rows (same centroid
    scoring, same 6-dp rounding, same (cos desc, id asc) tie-break) —
    pytest-asserted in tests/test_recall.py.

    ``cache_buckets`` keeps the most recently probed buckets decoded
    (ids + L2-normalized matrix) in an LRU dict, so a serving process
    converges to in-RAM probes for hot buckets while cold buckets cost
    one parquet directory read. Memory is bounded by
    cache_buckets × bucket size, not corpus size."""

    def __init__(self, path: str, cache_buckets: int = 256, arrow_threads: int | None = None):
        import json
        from collections import OrderedDict

        import pyarrow as pa
        import pyarrow.dataset as ds

        # Spark drivers commonly run with OMP_NUM_THREADS=1, which pins
        # pyarrow's COMPUTE pool to one thread — every probed fragment
        # then decodes serially (measured 3.2 s for a 30-bucket probe at
        # 10M rows). The probe is the serving hot path: give it a real
        # pool. Overridable; never shrinks an already-larger pool.
        want = arrow_threads or min(8, os.cpu_count() or 8)
        if pa.cpu_count() < want:
            pa.set_cpu_count(want)
        with open(os.path.join(path, "centroids.json")) as f:
            meta = json.load(f)
        self.path = path
        self.id_col = meta["id_col"]
        self.vec_col = meta["vec_col"]
        self.centroids = np.asarray(meta["centroids"], dtype=np.float64)
        self._cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        self._cache: "OrderedDict[int, tuple]" = OrderedDict()
        self._cache_cap = cache_buckets
        # ONE hive-partitioned dataset handle for the whole index: a
        # probe reads its full miss set in a single to_table call whose
        # partition-filtered fragments decode on pyarrow's thread pool —
        # wide probes (n_probe 30-77 at the 10M/20M ladder rungs) would
        # otherwise pay per-directory discovery+read latency serially
        self._ds = ds
        self._dataset = ds.dataset(
            os.path.join(path, "vectors"), format="parquet", partitioning="hive"
        )

    def _load_buckets(self, buckets: list[int]) -> list[tuple[np.ndarray, np.ndarray]]:
        """[(ids, normalized matrix)] per probed bucket, batched read of
        all cache misses, LRU-cached per bucket."""
        miss = [b for b in buckets if b not in self._cache]
        if miss:
            t = self._dataset.to_table(
                columns=[self.id_col, self.vec_col, "bucket"],
                filter=self._ds.field("bucket").isin(miss),
            )
            ids_all = t.column(self.id_col).to_numpy()
            m_all = _flat_fixed_width(
                t.column(self.vec_col), self.centroids.shape[1], np.float64
            )
            if len(ids_all):
                m_all /= np.linalg.norm(m_all, axis=1, keepdims=True)
            # empty buckets (no partition dir) → 0 rows
            for b, sel in zip(miss, split_by_key(t.column("bucket").to_numpy(), miss)):
                self._cache[b] = (ids_all[sel], m_all[sel])
        return touch_and_trim(self._cache, buckets, self._cache_cap)

    def search_batch(
        self, query_vecs, k: int = 10, n_probe: int = 4
    ) -> list[list[tuple[int, float]]]:
        """Per-query results for a BATCH of vectors, identical rows to
        ``search`` on each — but the union of every query's probed
        buckets is loaded in ONE partition-filtered dataset read before
        any scoring, so a cold batch pays one parquet round-trip
        instead of one per query. The middle ground between single
        probes and ``IVFIndex.search_batch``'s Spark job: right for
        10-1000-query batches in a serving process."""
        qm = np.asarray(query_vecs, dtype=np.float64)
        if qm.size == 0:
            return []
        if qm.ndim == 1:
            qm = qm[None, :]
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        scores = qn @ self._cn.T  # (nq, n_clusters)
        probes = [
            [int(b) for b in np.argsort(scores[i])[-n_probe:]] for i in range(qn.shape[0])
        ]
        # preload every distinct probed bucket in bounded chunks: one
        # giant union read measured SLOWER than incremental loads (a
        # wide batch can cover most of the index — the ~hundreds-of-MB
        # decode+normalize working set loses the locality the per-query
        # path gets for free), so cap each read's working set instead
        union = sorted({b for p in probes for b in p})
        # the preload only pays off if the preloaded buckets SURVIVE
        # until the per-query scoring pass: a batch probing more
        # distinct buckets than the LRU cap would evict them before use
        # (pure wasted I/O, per-query fallback loads). Raise the cap
        # for the batch's duration, restore + trim after.
        with raised_cache_cap(self, len(union)):
            for i in range(0, len(union), 32):
                self._load_buckets(union[i : i + 32])
            return [self.search(qm[i], k=k, n_probe=n_probe) for i in range(qm.shape[0])]

    def search(self, query_vec: list[float], k: int = 10, n_probe: int = 4) -> list[tuple[int, float]]:
        """[(id, cos)] — identical rows to ``IVFIndex.search(...)``."""
        q = np.asarray(query_vec, dtype=np.float64)
        scores = self._cn @ (q / np.linalg.norm(q))
        probe = [int(b) for b in np.argsort(scores)[-n_probe:]]
        parts = self._load_buckets(probe)
        ids = np.concatenate([p[0] for p in parts])
        if ids.size == 0:
            return []
        mn = np.vstack([p[1] for p in parts])
        cos = np.round(mn @ (q / np.linalg.norm(q)), 6)
        if cos.size > k:
            # select by the rounded k-th value KEEPING ties, then order —
            # argpartition alone could keep the wrong member of a
            # rounding-tie run at the k boundary (id-asc is the tie rule)
            kth = np.partition(cos, cos.size - k)[cos.size - k]
            idx = np.flatnonzero(cos >= kth)
        else:
            idx = np.arange(cos.size)
        order = idx[np.lexsort((ids[idx], -cos[idx]))][:k]
        return [(int(ids[i]), float(cos[i])) for i in order]


# ---------------------------------------------------------------- PQ

def adc_expr(codebooks: np.ndarray, query_vec: list[float], codes_col: str = "codes") -> "F.Column":
    """Asymmetric-distance column expression: per-segment (query ·
    codeword) lookup table inlined as literals, summed via one
    aggregate() over the codes array — pure JVM/codegen scan."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    nseg, _, dseg = codebooks.shape
    table = np.stack([q[s * dseg:(s + 1) * dseg] @ codebooks[s].T for s in range(nseg)])
    tbl = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in table])
    segs = F.sequence(F.lit(1), F.lit(nseg))
    return F.aggregate(
        segs, F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(F.element_at(tbl, s), F.element_at(F.col(codes_col), s) + 1),
    )


def _flat_fixed_width(list_column, width: int, dtype) -> np.ndarray:
    """Flatten a pyarrow list column of fixed-width, null-free rows
    into an (n, width) matrix. ``.values`` ignores a sliced chunk's
    offset/length — which would silently misalign rows with their ids
    — so the zero-copy view is taken only when the chunk provably
    covers its full values buffer, else ``flatten()`` (offset-correct
    copy). Shared by every local probe that reads a list column."""
    chunks = [
        (
            ch.values
            if ch.offset == 0 and ch.null_count == 0 and len(ch.values) == len(ch) * width
            else ch.flatten()
        ).to_numpy(zero_copy_only=False)
        for ch in list_column.chunks
    ]
    flat = np.concatenate(chunks) if chunks else np.empty(0, dtype)
    n = flat.size // width if width else 0
    return flat.reshape(n, width).astype(dtype)


def _adc_topk(
    ids: np.ndarray, codes: np.ndarray, codebooks: np.ndarray,
    query_vec, k: int,
) -> list[tuple[int, float]]:
    """ADC gather-sum + (adc desc, id asc) top-k — the ONE local ADC
    kernel, shared by the PQ and IVF-PQ probes. The lookup tables are
    the same driver-side float64 matmul ``adc_expr`` inlines as
    literals, and segments accumulate in the same order as the JVM
    ``aggregate`` fold, so scores are bit-identical to the distributed
    ADC column."""
    if ids.size == 0:
        return []
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    nseg, _, dseg = codebooks.shape
    table = np.stack(
        [q[s * dseg:(s + 1) * dseg] @ codebooks[s].T for s in range(nseg)]
    )
    adc = np.zeros(ids.size, dtype=np.float64)
    for s in range(nseg):  # sequential fold — the JVM aggregate's order
        adc += table[s][codes[:, s]]
    if adc.size > k:
        kth = np.partition(adc, adc.size - k)[adc.size - k]
        sel = np.flatnonzero(adc >= kth)
    else:
        sel = np.arange(adc.size)
    order = sel[np.lexsort((ids[sel], -adc[sel]))][:k]
    return [(int(ids[i]), float(adc[i])) for i in order]


class PQIndex:
    """Product quantization over an embedding column — the reference's
    rejected-but-measured second engine (/root/reference/src/PQ.py:142-204):
    split dims into ``n_segments`` sub-spaces, k-means codebook per
    sub-space (trained on a bounded seeded sample, reference caps at
    100k rows /root/reference/src/PQ.py:64-68), encode every vector as
    ``n_segments`` small codes, score queries via ADC (asymmetric
    distance: per-segment lookup table built from the query once, then
    a pure table-sum per row).

    Spark shape: codebooks are tiny driver arrays broadcast in the UDF
    closure / inlined as column literals; encoding is one Arrow-batched
    matmul pass (no shuffle); the ADC scan is a JVM column expression
    over the codes column (codegen, no Python in the hot path), so the
    8-byte-per-vector code table is what scans at 100 TB, not the raw
    float vectors. ``search`` reranks the ADC shortlist with exact
    cosine — with ``shortlist >= n`` it is exactly brute force (the
    oracle-checked configuration); pruned shortlists are recall-scored
    in the evaluation harness.
    """

    def __init__(self, codes: DataFrame, codebooks: np.ndarray, id_col: str, vec_col: str):
        self.codes = codes  # (id, codes array<int>)
        self.codebooks = codebooks  # (n_segments, n_codes, dim/n_segments)
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls, emb: DataFrame, n_segments: int = 8, n_codes: int = 16,
        sample_cap: int = 100_000, id_col: str = "vec_id", vec_col: str = "embedding",
        seed: int = 42, n_rows: int | None = None,
    ) -> "PQIndex":
        # n_rows: see IVFIndex.build — an exact caller-supplied count
        # skips the sizing job without changing the trained codebooks
        n = _row_count(emb, n_rows)
        fraction = min(1.0, 1.25 * sample_cap / n)
        vecs = emb.select(vec_col)
        if fraction < 1.0:
            vecs = vecs.sample(fraction=fraction, seed=seed)
        sample = _collect_sample(vecs, vec_col, sample_cap)
        sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
        dim = sample.shape[1]
        if dim % n_segments != 0:
            raise ValueError(f"dim {dim} not divisible by n_segments {n_segments}")
        dseg = dim // n_segments
        codebooks = np.stack([
            kmeans_fit(sample[:, s * dseg:(s + 1) * dseg], n_codes, seed=seed + s)
            for s in range(n_segments)
        ])

        def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
                m = m / np.linalg.norm(m, axis=1, keepdims=True)
                codes = np.empty((len(pdf), n_segments), dtype=np.int32)
                for s in range(n_segments):
                    seg = m[:, s * dseg:(s + 1) * dseg]
                    # ||x - c||² argmin == (x·c - ||c||²/2) argmax, one matmul
                    d = seg @ codebooks[s].T - 0.5 * (codebooks[s] ** 2).sum(1)
                    codes[:, s] = d.argmax(1)
                yield pd.DataFrame({"vid": pdf[id_col].to_numpy(), "codes": list(codes)})

        codes = (
            spread_small_scan(emb.select(id_col, vec_col))
            .mapInPandas(encode, "vid long, codes array<int>")
            .withColumnRenamed("vid", id_col)
            .cache()
        )
        return cls(codes, codebooks, id_col, vec_col)

    def save(self, path: str) -> None:
        """Persist the PQ index: the codes table as parquet (8 bytes of
        payload per vector — the whole point of PQ at 100 TB) plus the
        codebooks and column names as JSON (a few KB of driver
        arrays)."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        self.codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
        with open(os.path.join(path, "codebooks.json"), "w") as f:
            json.dump(
                {
                    "codebooks": self.codebooks.tolist(),
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                },
                f,
            )

    @classmethod
    def load(cls, spark, path: str) -> "PQIndex":
        import json
        import os

        with open(os.path.join(path, "codebooks.json")) as f:
            meta = json.load(f)
        codes = spark.read.parquet(os.path.join(path, "codes"))
        return cls(
            codes, np.asarray(meta["codebooks"], dtype=np.float64),
            meta["id_col"], meta["vec_col"],
        )

    def adc_scores(self, query_vec: list[float]) -> DataFrame:
        """(id, adc) — approximate cosine via one table lookup-sum per
        row, entirely JVM-side (the inlined lookup table is
        n_segments × n_codes literals)."""
        return self.codes.select(
            F.col(self.id_col), adc_expr(self.codebooks, query_vec).alias("adc")
        )

    def search(
        self, emb: DataFrame, query_vec: list[float], k: int = 10,
        shortlist: int | None = None, exclude_ids: list[int] | None = None,
    ) -> DataFrame:
        """ADC shortlist → exact cosine rerank → top-k (cos, id asc)."""
        sl = self.adc_scores(query_vec)
        if exclude_ids:
            sl = sl.filter(~F.col(self.id_col).isin(exclude_ids))
        if shortlist is not None:
            sl = sl.orderBy(F.desc("adc"), F.asc(self.id_col)).limit(shortlist)
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            spread_small_scan(emb).join(sl.select(self.id_col), self.id_col)
            .select(self.id_col, F.round(cosine_expr(F.col(self.vec_col), qcol), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.asc(self.id_col))
            .limit(k)
        )


class LocalPQProbe:
    """Driver-local ADC serving over a saved :class:`PQIndex` — the
    third member of the local-probe family (text: ``LocalIndexProbe``,
    vectors: ``LocalIVFProbe``). PQ codes are 1 int per segment per
    vector, so even a 100M-vector index's code table is RAM-resident
    on a driver (the reference's own serving shape,
    /root/reference/src/PQ.py:142-204: codes in memory, per-query
    lookup tables); one parquet read at startup, then every query is
    a pure NumPy gather-sum with NO Spark job and no per-query I/O.

    Score identity: the per-segment lookup tables are built from the
    same driver-side float64 matmul the distributed ``adc_expr``
    inlines as literals, and the accumulation loops segments in the
    same order as the JVM ``aggregate`` fold — so ADC scores are
    bit-identical to the distributed column, and the (adc desc, id
    asc) top-k matches ``adc_scores``' ordering exactly
    (pytest-asserted)."""

    def __init__(self, path: str, arrow_threads: int | None = None):
        import json
        import os

        import pyarrow as pa
        import pyarrow.dataset as ds

        # same OMP_NUM_THREADS=1 guard as the sibling probes — this is
        # the probe that reads the MOST at startup (the whole code
        # table), so a one-thread compute pool hurts it worst
        want = arrow_threads or min(8, os.cpu_count() or 8)
        if pa.cpu_count() < want:
            pa.set_cpu_count(want)
        with open(os.path.join(path, "codebooks.json")) as f:
            meta = json.load(f)
        self.codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
        self.id_col = meta["id_col"]
        t = ds.dataset(os.path.join(path, "codes"), format="parquet").to_table()
        self.ids = t.column(self.id_col).to_numpy()
        self.codes = _flat_fixed_width(
            t.column("codes"), self.codebooks.shape[0], np.int64
        )

    def search(self, query_vec: list[float], k: int = 10) -> list[tuple[int, float]]:
        """[(id, adc)] — ADC top-k under (adc desc, id asc), identical
        rows to ``PQIndex.adc_scores(q).orderBy(desc adc, id)`` for
        this (query, k)."""
        return _adc_topk(self.ids, self.codes, self.codebooks, query_vec, k)


class IVFPQIndex:
    """IVF bucket pruning over PQ-compressed codes + exact rerank — the
    reference's third measured engine (IVF-PQ, Report p.11: 0.7 s @1M,
    PQ trained on 100k; it lost to plain IVF on recall, which
    BENCH/RECALL.md reproduces). At 100 TB this is the scan-cheapest
    path: probes touch only n_probe bucket partitions AND read 8-byte
    codes instead of raw vectors; the exact rerank touches vectors only
    for the shortlist."""

    def __init__(self, table: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
                 id_col: str, vec_col: str):
        self.table = table  # (id, bucket, codes)
        self.centroids = centroids
        self.codebooks = codebooks
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls, emb: DataFrame, n_clusters: int = 8, n_segments: int = 8, n_codes: int = 16,
        sample_cap: int = 100_000, id_col: str = "vec_id", vec_col: str = "embedding",
        seed: int = 42, n_rows: int | None = None,
    ) -> "IVFPQIndex":
        # size ONCE for both sub-builds (was two identical count() jobs)
        n = _row_count(emb, n_rows)
        ivf = IVFIndex.build(emb, n_clusters, sample_cap, id_col, vec_col, seed, n_rows=n)
        pq = PQIndex.build(emb, n_segments, n_codes, sample_cap, id_col, vec_col, seed, n_rows=n)
        table = (
            ivf.assigned.select(id_col, "bucket")
            .join(pq.codes, id_col)
            .repartition("bucket")
            .cache()
        )
        ivf.assigned.unpersist()
        pq.codes.unpersist()
        return cls(table, ivf.centroids, pq.codebooks, id_col, vec_col)

    def save(self, path: str, emb: DataFrame | None = None) -> None:
        """Persist: the (id, bucket, codes) table bucket-partitioned —
        a probe reads ONLY its n_probe partition directories, each
        holding 8-byte codes, the scan-cheapest on-disk ANN layout —
        plus centroids + codebooks as JSON driver arrays. Passing
        ``emb`` additionally writes the RAW vectors bucket-partitioned
        under ``vectors/``, which enables the local probe's exact
        rerank (``LocalIVFPQProbe.search(rerank=N)``): the quality of
        the distributed shortlist rerank at local-probe latency. The
        vectors cost ~dim×4 bytes/row on disk but probes still read
        them only for shortlist buckets — ADC-only serving never
        touches them."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        (
            self.table.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(path, "codes"))
        )
        if emb is not None:
            (
                emb.select(self.id_col, self.vec_col)
                .join(self.table.select(self.id_col, "bucket"), self.id_col)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(path, "vectors"))
            )
        with open(os.path.join(path, "ivfpq.json"), "w") as f:
            json.dump(
                {
                    "centroids": self.centroids.tolist(),
                    "codebooks": self.codebooks.tolist(),
                    "id_col": self.id_col,
                    "vec_col": self.vec_col,
                },
                f,
            )

    @classmethod
    def load(cls, spark, path: str) -> "IVFPQIndex":
        import json
        import os

        with open(os.path.join(path, "ivfpq.json")) as f:
            meta = json.load(f)
        table = spark.read.parquet(os.path.join(path, "codes"))
        return cls(
            table,
            np.asarray(meta["centroids"], dtype=np.float64),
            np.asarray(meta["codebooks"], dtype=np.float64),
            meta["id_col"], meta["vec_col"],
        )

    def adc_scores(self, query_vec: list[float], n_probe: int = 4) -> DataFrame:
        """(id, adc) over the probed buckets only — the IVF-pruned ADC
        column the local probe must reproduce exactly."""
        q = np.asarray(query_vec, dtype=np.float64)
        cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        probe = [int(b) for b in np.argsort(cn @ (q / np.linalg.norm(q)))[-n_probe:]]
        return self.table.filter(F.col("bucket").isin(probe)).select(
            F.col(self.id_col), adc_expr(self.codebooks, query_vec).alias("adc")
        )

    def search(
        self, emb: DataFrame, query_vec: list[float], k: int = 10,
        n_probe: int = 4, shortlist: int | None = None, exclude_ids: list[int] | None = None,
    ) -> DataFrame:
        q = np.asarray(query_vec, dtype=np.float64)
        sl = self.adc_scores(query_vec, n_probe=n_probe)
        if exclude_ids:
            sl = sl.filter(~F.col(self.id_col).isin(exclude_ids))
        if shortlist is not None:
            sl = sl.orderBy(F.desc("adc"), F.asc(self.id_col)).limit(shortlist)
        qcol = F.array(*[F.lit(float(x)) for x in q])
        return (
            emb.join(sl.select(self.id_col), self.id_col)
            .select(self.id_col, F.round(cosine_expr(F.col(self.vec_col), qcol), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.asc(self.id_col))
            .limit(k)
        )


class LocalIVFPQProbe:
    """Driver-local IVF-PQ serving over a saved :class:`IVFPQIndex` —
    the scan-cheapest member of the local-probe family: a probe reads
    ONLY its n_probe bucket partitions and each row is an 8-byte code,
    so even cold queries touch kilobytes. Combines
    ``LocalIVFProbe``'s bucket LRU (one partition-filtered dataset
    read per miss set, sort+searchsorted split) with
    ``LocalPQProbe``'s ADC gather-sum (same lookup tables and fold
    order as the distributed ``adc_expr`` column, so scores are
    bit-identical and the (adc desc, id asc) top-k matches
    ``IVFPQIndex.adc_scores`` exactly — pytest-asserted)."""

    def __init__(self, path: str, cache_buckets: int = 256, arrow_threads: int | None = None):
        import json
        from collections import OrderedDict

        import pyarrow as pa
        import pyarrow.dataset as ds

        want = arrow_threads or min(8, os.cpu_count() or 8)
        if pa.cpu_count() < want:
            pa.set_cpu_count(want)
        with open(os.path.join(path, "ivfpq.json")) as f:
            meta = json.load(f)
        self.centroids = np.asarray(meta["centroids"], dtype=np.float64)
        self.codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
        self.id_col = meta["id_col"]
        self._cn = self.centroids / np.linalg.norm(self.centroids, axis=1, keepdims=True)
        self._cache: "OrderedDict[int, tuple]" = OrderedDict()
        self._cache_cap = cache_buckets
        self._ds = ds
        self._dataset = ds.dataset(
            os.path.join(path, "codes"), format="parquet", partitioning="hive"
        )
        # optional raw-vector twin (save(emb=...)) for the exact rerank:
        # separate, smaller LRU — vector buckets are ~dim×4/8 ≈ 32×
        # heavier than code buckets, and only shortlist reranks load them
        self.vec_col = meta["vec_col"]
        self._dim = self.codebooks.shape[0] * self.codebooks.shape[2]
        vp = os.path.join(path, "vectors")
        self._vdataset = (
            ds.dataset(vp, format="parquet", partitioning="hive")
            if os.path.isdir(vp)
            else None
        )
        self._vcache: "OrderedDict[int, tuple]" = OrderedDict()
        self._vcache_cap = max(8, cache_buckets // 8)

    def _load_buckets(self, buckets: list[int]) -> list[tuple[np.ndarray, np.ndarray]]:
        """[(ids, codes matrix)] per probed bucket — the LocalIVFProbe
        miss-set pattern over code rows instead of vectors."""
        miss = [b for b in buckets if b not in self._cache]
        if miss:
            t = self._dataset.to_table(
                columns=[self.id_col, "codes", "bucket"],
                filter=self._ds.field("bucket").isin(miss),
            )
            ids_all = t.column(self.id_col).to_numpy()
            codes_all = _flat_fixed_width(
                t.column("codes"), self.codebooks.shape[0], np.int64
            )
            for b, sel in zip(miss, split_by_key(t.column("bucket").to_numpy(), miss)):
                self._cache[b] = (ids_all[sel], codes_all[sel])
        return touch_and_trim(self._cache, buckets, self._cache_cap)

    def search_batch(
        self, query_vecs, k: int = 10, n_probe: int = 4, rerank: int | None = None,
    ) -> list[list[tuple[int, float]]]:
        """Per-query results identical to ``search`` on each — the
        batch's probe union preloads in bounded chunks with the LRU
        cap raised for the batch (the shared ``raised_cache_cap``
        discipline of the other batched probes)."""
        qm = np.asarray(query_vecs, dtype=np.float64)
        if qm.size == 0:
            return []
        if qm.ndim == 1:
            qm = qm[None, :]
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        probes = np.argsort(qn @ self._cn.T, axis=1)[:, -n_probe:]
        union = sorted({int(b) for row in probes for b in row})
        with raised_cache_cap(self, len(union)):
            for i in range(0, len(union), 32):
                self._load_buckets(union[i : i + 32])
            return [
                self.search(qm[i], k=k, n_probe=n_probe, rerank=rerank)
                for i in range(qm.shape[0])
            ]

    def search(
        self, query_vec: list[float], k: int = 10, n_probe: int = 4,
        rerank: int | None = None,
    ) -> list[tuple[int, float]]:
        """[(id, adc)] — identical rows to
        ``IVFPQIndex.adc_scores(q, n_probe).orderBy(desc adc, id)``.
        With ``rerank=N``: [(id, cos)] — the ADC top-N shortlist
        exact-reranked against the raw vectors (requires a
        ``save(emb=...)`` layout), identical rows to
        ``IVFPQIndex.search(emb, q, k, n_probe, shortlist=N)``."""
        q = np.asarray(query_vec, dtype=np.float64)
        probe = [int(b) for b in np.argsort(self._cn @ (q / np.linalg.norm(q)))[-n_probe:]]
        parts = self._load_buckets(probe)
        ids = np.concatenate([p[0] for p in parts])
        if ids.size == 0:
            return []
        codes = np.vstack([p[1] for p in parts])
        if rerank is None:
            return _adc_topk(ids, codes, self.codebooks, q, k)
        # exact rerank, driver-side: ADC shortlist (same (adc desc, id
        # asc) cut as IVFPQIndex.search(shortlist=rerank)) → raw vectors
        # from the probed buckets' vector partitions → true cosine,
        # 6-dp rounded with the distributed path's tie rule — rows
        # identical to IVFPQIndex.search (pytest-asserted), at
        # local-probe latency instead of a Spark job
        short = _adc_topk(ids, codes, self.codebooks, q, max(int(rerank), k))
        if not short:
            return []
        sids = np.asarray([i for i, _ in short], dtype=np.int64)
        vparts = self._load_vector_buckets(probe)
        cat_ids = np.concatenate([p[0] for p in vparts])
        cat_m = (
            np.vstack([p[1] for p in vparts])
            if cat_ids.size
            else np.empty((0, self._dim))
        )
        order = np.argsort(cat_ids)
        cat_ids, cat_m = cat_ids[order], cat_m[order]
        pos = np.searchsorted(cat_ids, sids)
        assert pos.size == 0 or (
            (pos < cat_ids.size).all() and (cat_ids[pos] == sids).all()
        ), "shortlist ids missing from the vectors layout — stale save?"
        vecs = cat_m[pos]
        cos = np.round(
            (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)), 6
        )
        sel = np.lexsort((sids, -cos))[:k]
        return [(int(sids[i]), float(cos[i])) for i in sel]

    def _load_vector_buckets(self, buckets: list[int]) -> list[tuple[np.ndarray, np.ndarray]]:
        """[(ids sorted, vector matrix)] per bucket from the optional
        ``vectors/`` twin — the `_load_buckets` pattern with its own
        (smaller) LRU; ids sorted per bucket so shortlist gathers are
        one searchsorted."""
        if self._vdataset is None:
            raise ValueError(
                "index was saved without raw vectors — re-save with "
                "IVFPQIndex.save(path, emb=...) to enable rerank"
            )
        miss = [b for b in buckets if b not in self._vcache]
        if miss:
            t = self._vdataset.to_table(
                columns=[self.id_col, self.vec_col, "bucket"],
                filter=self._ds.field("bucket").isin(miss),
            )
            ids_all = t.column(self.id_col).to_numpy()
            m_all = _flat_fixed_width(t.column(self.vec_col), self._dim, np.float64)
            for b, sel in zip(miss, split_by_key(t.column("bucket").to_numpy(), miss)):
                bids, bm = ids_all[sel], m_all[sel]
                o2 = np.argsort(bids)
                self._vcache[b] = (bids[o2], bm[o2])
        return touch_and_trim(self._vcache, buckets, self._vcache_cap)


# ---------------------------------------------------------------- LSH

class CosineLSH:
    """Random-hyperplane sign LSH, multi-table (reference
    /root/reference/src/LSH.py:25-54): bucket = bits of sign(v·plane)."""

    def __init__(self, hashed: DataFrame, planes: np.ndarray, id_col: str, vec_col: str):
        self.hashed = hashed
        self.planes = planes
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls, emb: DataFrame, num_tables: int = 4, hash_bits: int = 8,
        id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42, dim: int | None = None,
    ) -> "CosineLSH":
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_tables, hash_bits, dim))

        def hash_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
                outs = []
                for t in range(planes.shape[0]):
                    bits = (m @ planes[t].T) > 0
                    keys = (bits.astype(np.int64) * (1 << np.arange(planes.shape[1]))).sum(1)
                    outs.append(pd.DataFrame({
                        "vid": pdf[id_col].to_numpy(), "table": np.int32(t), "bucket": keys,
                    }))
                yield pd.concat(outs)

        hashed = (
            spread_small_scan(emb.select(id_col, vec_col))
            .mapInPandas(hash_rows, "vid long, table int, bucket long")
            .cache()
        )
        return cls(hashed, planes, id_col, vec_col)

    def search(self, emb: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
        q = np.asarray(query_vec, dtype=np.float64)
        probes = []
        for t in range(self.planes.shape[0]):
            bits = (self.planes[t] @ q) > 0
            probes.append((t, int((bits.astype(np.int64) * (1 << np.arange(self.planes.shape[1]))).sum())))
        spark = emb.sparkSession
        probe_df = local_df(spark, probes, "table int, bucket long")
        cand = self.hashed.join(F.broadcast(probe_df), ["table", "bucket"]).select(
            F.col("vid").alias(self.id_col)
        ).distinct()
        qcol = F.array(*[F.lit(float(x)) for x in q])
        return (
            emb.join(cand, self.id_col)
            .select(self.id_col, F.round(cosine_expr(F.col(self.vec_col), qcol), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.asc(self.id_col))
            .limit(k)
        )
