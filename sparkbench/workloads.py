"""The two closed-loop workloads: one client thread, one Spark session,
each call's output checked before the next call is sent.

- ``serve``: 32-query batches held on the driver, through the one-job
  broadcast-scorer path (``rabitq_search(query_rows=..., centroid_rows=...)``),
  no rerank.  Bound by the driver and the per-job scheduling floor.
- ``batch_search``: 4,608-query batches, above the broadcast bound, so the
  default route is the cogroup scorer; exact rerank on raw vectors; calls
  alternate a cheap and an expensive nprobe point.  Executor-bound.

Traced runs add per-layer spans, including one for the ANN self-join
(``embedding_ann_pairs``), which trains and builds its own index per call.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data import (distance_ratio, exact_knn, exact_top_pairs, pair_recall,
                  recall_at_k, tail_percentile, topic_mixture)
from probes import (COUNTERS, Traced, calib_s, cpu_times, job_floor_ms,
                    peak_rss_mb, steal_share)

from extended_rabitq_spark.operators import ivf, rabitq
from extended_rabitq_spark.operators.dedup import embedding_ann_pairs

# Index corpus shared by serve and batch_search, sized so that three
# set-ups and a measured loop fit one run.  The nprobe points probe the
# same shares of the cells (1/16, 1/32, 1/8) as nprobe 16, 8 and 32 do
# on a 256-cell index.
N, DIM, CLUSTERS, BITS = 10_000, 128, 64, 4
INDEX_GEN = dict(n_topics=64, latent=32, spread=1.3, noise=0.4)
K = 10
SERVE_BATCH, SERVE_POOL, SERVE_NPROBE = 32, 8, 4
BATCH_NQ, BATCH_NPROBES = 4_608, (2, 8)
# Self-join shard (traced runs only): the same generator in 64 dims with
# overlapping topics, so the exact top pairs often straddle cells and
# nprobe=4 misses some.
SHARD_N, SHARD_DIM = 1_000, 64
SHARD_GEN = dict(n_topics=32, latent=48, spread=3.0, noise=1.0)
TOP_N, DEDUP_NPROBE, DEDUP_CLUSTERS = 20, 4, 32
SETUP_REPS = 3
SERVE_WARMUP_CYCLES = 2


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    calls: list = field(default_factory=list)   # one record per timed call
    failed: int = 0
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def __post_init__(self):
        self.tracer = Traced(self.spark, self.trace)
        self.plain = Traced(self.spark, False)


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray,
                   id_col: str, vec_col: str) -> None:
    """A parquet dataset of four files, the layout a 4-task Spark write
    leaves (Spark reads each small file as one partition)."""
    os.makedirs(path)
    for p, rows in enumerate(np.array_split(np.arange(len(ids)), 4)):
        flat = pa.array(np.ascontiguousarray(vecs[rows]).ravel())
        col = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
            pa.list_(pa.float32()))
        pq.write_table(pa.table({id_col: pa.array(ids[rows].astype(np.int64)), vec_col: col}),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def _digest(a: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(a).tobytes()).hexdigest()


def _knn_result(pdf: pd.DataFrame, qids: np.ndarray, n_base: int) -> np.ndarray:
    """Checks a (qid, rank, id, est_dist) top-k result and returns the ids
    as a (len(qids), K) array in rank order; raises on any defect."""
    if len(pdf) != len(qids) * K:
        raise ValueError(f"{len(pdf)} rows for {len(qids)} queries x k={K}")
    pdf = pdf.sort_values(["qid", "rank"])
    got_q = pdf["qid"].to_numpy().reshape(len(qids), K)
    ranks = pdf["rank"].to_numpy().reshape(len(qids), K)
    ids = pdf["id"].to_numpy().reshape(len(qids), K)
    if not (got_q == np.sort(qids)[:, None]).all():
        raise ValueError("result qids differ from the batch")
    if not (ranks == np.arange(1, K + 1)[None, :]).all():
        raise ValueError("ranks are not 1..k per query")
    if ids.min() < 0 or ids.max() >= n_base:
        raise ValueError("an id is outside the corpus")
    if (np.diff(np.sort(ids, axis=1), axis=1) == 0).any():
        raise ValueError("a query returned the same id twice")
    order = np.argsort(np.argsort(qids))  # back to the batch's own order
    return ids[order]


def _timed_loop(run: Run, cycle, on_call) -> None:
    """Runs whole cycles of calls until ``run.seconds`` have passed.  A
    call that raises or fails its check counts as failed, not dropped.
    Each call's record carries the host's CPU steal share during it."""
    steal0, t_start = cpu_times(), time.perf_counter()
    i = n_cycles = 0
    while True:
        for step in cycle:
            # traced and untraced calls alternate, so the same loop gives
            # the tracing overhead; the parity flips each cycle so every
            # step of an even-length cycle is traced half the time
            traced = run.trace and (i + n_cycles) % 2 == 1
            tracer = run.tracer if traced else run.plain
            cpu0 = cpu_times()
            try:
                result, rec = tracer.call(*step["call"])
                on_call(step, result)
                rec["ok"] = True
            except Exception as exc:  # a wrong answer or a failed call
                rec = {"wall_s": float("nan"), "ok": False, "error": repr(exc)[:300]}
                run.failed += 1
            rec.update(step=step["name"], traced=traced,
                       steal_share=steal_share(cpu0, cpu_times()))
            run.calls.append(rec)
            i += 1
        n_cycles += 1
        # a traced loop needs every step both traced and untraced
        if time.perf_counter() - t_start >= run.seconds and n_cycles >= 1 + run.trace:
            break
    run.detail["steal_share"] = steal_share(steal0, cpu_times())
    run.detail["loop_s"] = time.perf_counter() - t_start


def _warm_up(run: Run, cycle, check, n_cycles: int) -> None:
    """Runs ``n_cycles`` whole cycles of the loop's own calls, checked but
    not timed.  A fixed amount of work rather than a time budget, so every
    run enters its loop equally warm: the driver JVM's JIT and Spark's
    code caches keep cutting per-call time for the first tens of short
    calls, and a stop rule on a few noisy walls would end the warm-up at
    different points in different runs."""
    walls = []
    for _ in range(n_cycles):
        for step in cycle:
            result, rec = run.plain.call(*step["call"])
            check(step, result)
            walls.append(rec["wall_s"])
    run.detail.setdefault("warmup_walls_s", []).extend(round(w, 4) for w in walls)


def _noise(run: Run, when: str) -> None:
    run.detail[f"calib_s_{when}"] = calib_s()
    run.detail[f"job_floor_ms_{when}"] = job_floor_ms(run.spark)


def _call_metrics(run: Run) -> dict:
    """Per-call medians over the traced calls, plus tracing overhead
    against the untraced calls of the same loop."""
    traced = [c for c in run.calls if c["ok"] and c["traced"]]
    plain = [c for c in run.calls if c["ok"] and not c["traced"]]
    out = {
        "call.construct_ms": statistics.median(c["construct_s"] for c in traced) * 1e3,
        "call.execute_ms": statistics.median(c["execute_s"] for c in traced) * 1e3,
    }
    for key in COUNTERS:
        out[f"call.{key}"] = statistics.median(c[key] for c in traced)
    out["call.core_busy_frac"] = statistics.median(
        c["task_s"] / (c["wall_s"] * run.spark.sparkContext.defaultParallelism)
        for c in traced)
    # compare like with like: each step's traced and untraced walls
    ratios = []
    for step in {c["step"] for c in traced} & {c["step"] for c in plain}:
        t_med = statistics.median(c["wall_s"] for c in traced if c["step"] == step)
        p_med = statistics.median(c["wall_s"] for c in plain if c["step"] == step)
        ratios.append(t_med / p_med)
    out["trace.overhead_frac"] = statistics.median(ratios) - 1.0
    return out


def _e2e(run: Run, items_per_call: int, setup_walls: list, recall: float,
         ratio: float) -> dict:
    ok = [c for c in run.calls if c["ok"]]
    walls = [c["wall_s"] for c in ok]
    pct, tail, n = tail_percentile(walls)
    rss = peak_rss_mb()
    run.detail.update(latency_tail_ms=tail * 1e3, tail_percentile=pct, latency_samples=n,
                      setup_walls_s=[round(w, 4) for w in setup_walls], peak_rss_mb=rss)
    return {
        "setup_s": (statistics.median(setup_walls), "s"),
        "items_per_s": (items_per_call * len(ok) / sum(walls), "items/s"),
        "latency_p50_ms": (statistics.median(walls) * 1e3, "ms"),
        "recall": (recall, "share"),
        "distance_ratio": (ratio, "ratio"),
        "index_bytes_per_vec": (run.detail["index_bytes_per_vec"], "bytes"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
        "ok_frac": (len(ok) / len(run.calls), "share"),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# --------------------------------------------------------------------------
# serve and batch_search: one saved, persisted index
# --------------------------------------------------------------------------

def _index_setup(run: Run, base_path: str):
    """``SETUP_REPS`` full set-ups (read, train, build, save, load and
    persist); the last one's index is kept for the loop.  The first pays
    the JVM's first-use cost, which the median leaves out.  Traced runs
    materialise the build before saving so each layer gets its own span."""
    spark, walls, spans = run.spark, [], []
    kept, t = None, run.tracer
    for rep in range(SETUP_REPS):
        if kept is not None:
            kept[0].unpersist()
        path = os.path.join(run.work, f"index{rep}")
        t0 = time.perf_counter()
        base = spark.read.parquet(base_path)
        cents, tr = t.timed(lambda: ivf.sampled_kmeans_centroids(base, k=CLUSTERS, vec="vec"))
        (idx, meta), bd = t.timed(lambda: rabitq.build_index(base, cents, total_bits=BITS))
        if run.trace:
            idx = idx.persist()
            _, bd = t.timed(idx.count)
        _, sv = t.timed(lambda: rabitq.save_index(idx, cents, meta, path))
        if run.trace:
            idx.unpersist()

        def load():
            codes, cents_full, meta = rabitq.load_index(spark, path)
            codes = codes.persist()
            codes.count()
            return codes, cents_full, meta, cents_full.select("cluster_id", "centroid").collect()

        kept, ld = t.timed(load)
        walls.append(time.perf_counter() - t0)
        spans.append((tr, bd, sv, ld))
    index_bytes = _dir_bytes(path)
    run.detail["index_bytes_per_vec"] = index_bytes / N
    if run.trace:
        med = lambda i, key: statistics.median(s[i][key] for s in spans)  # noqa: E731
        run.layers.update({
            "ivf.train_s": med(0, "wall_s"),
            "rabitq.build_s": med(1, "wall_s"),
            "rabitq.build_task_s": med(1, "task_s"),
            "rabitq.save_s": med(2, "wall_s"),
            "rabitq.load_s": med(3, "wall_s"),
            "rabitq.index_bytes_per_vec": index_bytes / N,
        })
    return kept, spark.read.parquet(base_path), walls


def _cut_stats(queries, index, nprobe: int, k: int) -> tuple[float, float]:
    codes, cents, meta = index[:3]
    pdf = rabitq.rabitq_threshold_stats(queries, codes, cents, meta, nprobe=nprobe,
                                        k=k).toPandas()
    return float(pdf["n_pool"].mean()), float(pdf["n_kept"].mean())


def _set_cut_layers(run: Run, cuts: list) -> None:
    pool = statistics.mean(c[0] for c in cuts)
    kept = statistics.mean(c[1] for c in cuts)
    run.layers.update({"rabitq.cut.candidates_per_query": pool,
                       "rabitq.cut.kept_per_query": kept,
                       "rabitq.cut.keep_ratio": kept / pool})


def _index_inputs(run: Run, nq: int):
    base, queries = topic_mixture(run.seed, N, nq, DIM, **INDEX_GEN)
    base_path = os.path.join(run.work, "base.parquet")
    _write_vectors(base_path, np.arange(N), base, "id", "vec")
    return base, queries, base_path


def serve(run: Run) -> dict:
    spark = run.spark
    nq = SERVE_BATCH * SERVE_POOL
    base, queries, base_path = _index_inputs(run, nq)
    truth, truth_sq = exact_knn(base, queries, K)
    index, _, setup_walls = _index_setup(run, base_path)
    codes, cents, meta, cent_rows = index
    schema = "qid long, qvec array<double>"
    batches = []
    for b in range(SERVE_POOL):
        qids = np.arange(b * SERVE_BATCH, (b + 1) * SERVE_BATCH)
        batches.append((qids, [(int(q), queries[q].tolist()) for q in qids]))

    def call(rows):
        def construct():
            # the API's distributed query frame: never evaluated here
            qdf = spark.createDataFrame(rows, schema)
            return rabitq.rabitq_search(qdf, codes, cents, meta, nprobe=SERVE_NPROBE, k=K,
                                        centroid_rows=cent_rows, query_rows=rows)
        return construct, lambda df: df.toPandas()

    found = np.full((nq, K), -1, dtype=np.int64)
    digests: dict = {}

    def check(step, pdf):
        qids = step["qids"]
        ids = _knn_result(pdf, qids, N)
        d = _digest(ids)
        if digests.setdefault(step["name"], d) != d:
            raise ValueError(f"{step['name']}: result changed on a repeat")
        found[qids] = ids

    cycle = [{"name": f"batch{b}", "qids": qids, "call": call(rows)}
             for b, (qids, rows) in enumerate(batches)]
    _warm_up(run, cycle, check, SERVE_WARMUP_CYCLES)
    _noise(run, "before")
    _timed_loop(run, cycle, check)
    _noise(run, "after")
    seen = (found >= 0).all(axis=1)
    rec = recall_at_k(found[seen], truth[seen])
    ratio = distance_ratio(base, queries[seen], found[seen], truth_sq[seen])
    run.detail["recall_at_10"] = {SERVE_NPROBE: rec}
    if run.trace:
        run.layers.update(_call_metrics(run))
        _dedup_span(run)
        _set_cut_layers(run, [_cut_stats(spark.createDataFrame(batches[0][1], schema),
                                         index, SERVE_NPROBE, K)])
        # no rerank on this path: the whole call is the estimate
        run.layers["rabitq.estimate_only_ms"] = (run.layers["call.execute_ms"]
                                                 + run.layers["call.construct_ms"])
        run.layers["rabitq.rerank_share"] = 0.0
    return _e2e(run, SERVE_BATCH, setup_walls, rec, ratio)


def batch_search(run: Run) -> dict:
    spark = run.spark
    base, queries, base_path = _index_inputs(run, BATCH_NQ)
    truth, truth_sq = exact_knn(base, queries, K)
    q_path = os.path.join(run.work, "queries.parquet")
    _write_vectors(q_path, np.arange(BATCH_NQ), queries, "qid", "qvec")
    index, base_df, setup_walls = _index_setup(run, base_path)
    codes, cents, meta, _ = index
    qdf = spark.read.parquet(q_path)
    qids = np.arange(BATCH_NQ)

    def call(nprobe, rerank=True):
        construct = lambda: rabitq.rabitq_search(  # noqa: E731
            qdf, codes, cents, meta, nprobe=nprobe, k=K,
            rerank_base=base_df if rerank else None)
        return construct, lambda df: df.toPandas()

    found: dict = {}
    digests: dict = {}

    def check(step, pdf):
        ids = _knn_result(pdf, qids, N)
        d = _digest(ids)
        if digests.setdefault(step["name"], d) != d:
            raise ValueError(f"{step['name']}: result changed on a repeat")
        found[step["nprobe"]] = ids

    cycle = [{"name": f"np{p}", "nprobe": p, "call": call(p)} for p in BATCH_NPROBES]
    # executor-bound calls of seconds each: one untimed cycle warms them
    _warm_up(run, cycle, check, 1)
    _noise(run, "before")
    _timed_loop(run, cycle, check)
    _noise(run, "after")
    recalls = {p: recall_at_k(found[p], truth) for p in found}
    ratios = {p: distance_ratio(base, queries, found[p], truth_sq) for p in found}
    run.detail.update(recall_at_10=recalls, distance_ratio=ratios)
    if run.trace:
        run.layers.update(_call_metrics(run))
        _dedup_span(run)
        _set_cut_layers(run, [_cut_stats(qdf, index, p, K) for p in BATCH_NPROBES])
        est, shares = [], []
        for p in BATCH_NPROBES:
            full = statistics.median(c["wall_s"] for c in run.calls
                                     if c["ok"] and c["step"] == f"np{p}")
            _, rec = run.plain.call(*call(p, rerank=False))
            est.append(rec["wall_s"])
            shares.append(1.0 - rec["wall_s"] / full)
        run.layers["rabitq.estimate_only_ms"] = statistics.mean(est) * 1e3
        run.layers["rabitq.rerank_share"] = statistics.mean(shares)
    return _e2e(run, BATCH_NQ, setup_walls,
                statistics.mean(recalls.values()), statistics.mean(ratios.values()))


# --------------------------------------------------------------------------
# the ANN self-join span (traced runs only)
# --------------------------------------------------------------------------

def _pair_result(pdf: pd.DataFrame, unit: np.ndarray) -> list:
    """Checks an (rnk, id_a, id_b, cos_r) top-N pair result against numpy
    cosines; returns the pairs in rank order."""
    if len(pdf) != TOP_N:
        raise ValueError(f"{len(pdf)} pairs, expected top_n={TOP_N}")
    pdf = pdf.sort_values("rnk")
    a, b = pdf["id_a"].to_numpy(), pdf["id_b"].to_numpy()
    cos = pdf["cos_r"].to_numpy()
    if not (pdf["rnk"].to_numpy() == np.arange(1, TOP_N + 1)).all():
        raise ValueError("ranks are not 1..top_n")
    if not (a < b).all() or a.min() < 0 or b.max() >= len(unit):
        raise ValueError("pair ids out of order or outside the shard")
    if (np.diff(cos) > 0).any():
        raise ValueError("pairs are not ordered by cos_r")
    want = np.einsum("ij,ij->i", unit[a], unit[b])
    if np.abs(want - cos).max() > 1e-6:
        raise ValueError("a cos_r differs from the numpy cosine by more than 1e-6")
    pairs = list(zip(a.tolist(), b.tolist()))
    if len(set(pairs)) != TOP_N:
        raise ValueError("a pair appears twice")
    return pairs


def _dedup_span(run: Run) -> None:
    """The ANN self-join layer, for traced runs: ``embedding_ann_pairs``
    on one seeded shard (its own train, build, cogroup search and exact
    rerank), called twice so the reported span is not the cold one, and
    checked like any timed call."""
    emb, _ = topic_mixture(run.seed, SHARD_N, 1, SHARD_DIM, **SHARD_GEN)
    unit = emb.astype(np.float64) / np.linalg.norm(emb.astype(np.float64), axis=1,
                                                   keepdims=True)
    path = os.path.join(run.work, "shard.parquet")
    _write_vectors(path, np.arange(SHARD_N), emb, "vec_id", "embedding")
    df = run.spark.read.parquet(path).persist()
    df.count()
    construct = lambda: embedding_ann_pairs(  # noqa: E731
        df, top_n=TOP_N, nprobe=DEDUP_NPROBE, n_clusters=DEDUP_CLUSTERS)
    for _ in range(2):
        pdf, rec = run.tracer.call(construct, lambda out: out.toPandas())
        pairs = _pair_result(pdf, unit)
    df.unpersist()
    run.layers.update({
        "dedup.call_ms": rec["wall_s"] * 1e3,
        "dedup.construct_ms": rec["construct_s"] * 1e3,
        "dedup.jobs": rec["jobs"], "dedup.stages": rec["stages"], "dedup.tasks": rec["tasks"],
        "dedup.task_s": rec["task_s"],
        "dedup.shuffle_mb": rec["shuffle_read_mb"] + rec["shuffle_write_mb"],
        "dedup.pair_recall": pair_recall(pairs, exact_top_pairs(emb, TOP_N)),
    })


# every per-layer metric a traced run reports, on every workload
LAYER_UNITS = {
    "call.construct_ms": "ms", "call.execute_ms": "ms",
    "call.jobs": "count", "call.stages": "count", "call.tasks": "count",
    "call.task_s": "s", "call.cpu_s": "s", "call.gc_s": "s", "call.core_busy_frac": "share",
    "call.shuffle_read_mb": "MB", "call.shuffle_write_mb": "MB",
    "spark.job_floor_ms": "ms",
    "ivf.train_s": "s", "rabitq.build_s": "s", "rabitq.build_task_s": "s",
    "rabitq.save_s": "s", "rabitq.load_s": "s", "rabitq.index_bytes_per_vec": "bytes",
    "rabitq.cut.candidates_per_query": "count", "rabitq.cut.kept_per_query": "count",
    "rabitq.cut.keep_ratio": "share",
    "rabitq.estimate_only_ms": "ms", "rabitq.rerank_share": "share",
    "dedup.call_ms": "ms", "dedup.construct_ms": "ms", "dedup.jobs": "count",
    "dedup.stages": "count", "dedup.tasks": "count", "dedup.task_s": "s",
    "dedup.shuffle_mb": "MB", "dedup.pair_recall": "share",
    "host.calib_s": "s", "host.steal_share": "share", "trace.overhead_frac": "share",
}

WORKLOADS = {"serve": serve, "batch_search": batch_search}


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only if no other run is using it
    except OSError:
        pass
