"""The three workloads. Each calls the engine's public API from one
client thread and exposes the same steps to `run.py`:

- `generate()` writes the seed's inputs (outside every timer);
- `setup(r)` starts a session and prepares, timed as `setup_s`;
  `release()` undoes it before the next repetition;
- `op(i)` runs the i-th operation of the seed's sequence (a new fit
  seed, query batch or corpus shard each time), times it, and checks
  its output outside the timer. It returns the op's timings.

Sizes are fixed here, not by flags, so that every run of a workload
does the same work.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs


class CheckFailed(Exception):
    """An op ran but its output was wrong."""


class Record:
    """Values that must come out the same whenever a (workload, seed,
    op) recurs, across runs in one checkout."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as f:
                self.values = json.load(f)
        except (OSError, ValueError):
            self.values = {}

    def same(self, key: str, value, rel: float = 0.0) -> None:
        old = self.values.setdefault(key, value)
        if isinstance(value, str):
            ok = old == value
        else:
            ok = abs(old - value) <= rel * max(abs(old), abs(value))
        if not ok:
            raise CheckFailed(f"{key}: {value!r} differs from an earlier run's {old!r}")

    def save(self) -> None:
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.values, f, sort_keys=True)
        os.replace(tmp, self.path)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    SETUP_REPEATS = 5
    WARMUP_OPS = 1  # untimed ops, at least this many ...
    WARMUP_S = 0.0  # ... and until this many seconds have passed
    MIN_OPS = 2  # timed ops, even when they take longer than --seconds

    def __init__(self, seed: int, work: str, session, tracer, record):
        self.seed = seed
        self.work = work
        self.session = session  # run.Session: start()/stop() around get_spark
        self.tr = tracer
        self.record = record  # Record: values that must repeat across runs
        self.spark = None
        self.first_timed = None  # index of the first timed op, set by run.py
        self.report: dict[str, list[float]] = {}  # named results -> samples

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def sample(self, key: str, value: float) -> None:
        self.report.setdefault(key, []).append(value)

    def named(self, results: list[dict]) -> dict:
        """The workload's own result names, each with its value, unit,
        direction and sample count (printed before the result line)."""
        raise NotImplementedError


def _named(value: float, unit: str, better: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "better": better, "samples": samples}


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


# ---------------------------------------------------------------- k-means


class KMeansFit(Workload):
    """k-means++ fit on cached points, then bulk scoring of a larger
    point set with the fitted model into a `noop` sink."""

    name = "kmeans_fit"
    DIM = 16
    K = 4
    MAX_ITER = 4
    N_FIT = 10_000
    N_SCORE = 250_000
    N_CHECK = 512  # scored rows compared with the numpy argmin
    SETUP_REPEATS = 3
    WARMUP_OPS = 3
    WARMUP_S = 14.0
    MIN_OPS = 4

    def generate(self) -> None:
        g = inputs.rng(self.seed, self.name)
        centers = g.normal(0.0, 2.0, (self.K, self.DIM))
        self.points = inputs.blobs(g, centers, self.N_FIT, 1.0)
        score = inputs.blobs(g, centers, self.N_SCORE, 1.0)
        self.check_pts = score[: self.N_CHECK]
        inputs.write_vectors(self.path("points.parquet"), np.arange(self.N_FIT),
                             self.points, "id", "features")
        inputs.write_vectors(self.path("score.parquet"), np.arange(self.N_SCORE),
                             score, "id", "features")
        inputs.write_vectors(self.path("check.parquet"), np.arange(self.N_CHECK),
                             self.check_pts, "id", "features", files=1)
        self._spy()

    def _spy(self) -> None:
        """Wrap the two phases `KMeans.fit` calls, so the benchmark sees
        the init centers (for the MSE check) and, when tracing, gets a
        span per phase. `fit` itself runs unchanged."""
        from apachebeamkmeans_spark.operators.kmeans import lloyd, model

        init_fn, lloyd_fn, tr, seen = model.initial_centers, lloyd.lloyd_fit, self.tr, {}
        self.seen = seen

        def initial_centers(*a, **kw):
            with tr.span("kmeans.init"):
                seen["init"] = init_fn(*a, **kw)
            return seen["init"]

        def lloyd_fit(*a, **kw):
            with tr.span("kmeans.lloyd"):
                centers, n_iter = lloyd_fn(*a, **kw)
            seen["n_iter"] = n_iter
            return centers, n_iter

        model.initial_centers = initial_centers
        lloyd.lloyd_fit = lloyd_fit

    def setup(self, r: int) -> None:
        self.spark = self.session.start()
        with self.tr.span("sources.io"):
            self.pts = self.spark.read.parquet(self.path("points.parquet")).cache()
            self.pts.count()
        self.score_df = self.spark.read.parquet(self.path("score.parquet"))

    def release(self) -> None:
        self.pts.unpersist()
        self.session.stop()

    def op(self, i: int) -> dict:
        from apachebeamkmeans_spark import KMeans, KMeansParams

        # threshold < 0: Lloyd always runs MAX_ITER iterations, so every
        # fit does the same number of jobs whatever the seed
        params = KMeansParams(init="plusplus", k=self.K, max_iter=self.MAX_ITER,
                              threshold=-1.0, seed=1000 * self.seed + i)
        with self.tr.span("op"):
            t0 = time.perf_counter()
            with self.tr.span("kmeans.fit"):
                model = KMeans(params).fit(self.pts)
            t1 = time.perf_counter()
            with self.tr.span("kmeans.model"):
                model.transform(self.score_df).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        self._check(i, model)
        return {"latency_s": t1 - t0, "rows_s": t2 - t1, "rows": self.N_SCORE}

    def named(self, results):
        fit = [r["latency_s"] for r in results]
        return {
            "fit_s": _named(median(fit), "s", "lower", len(fit)),
            "score_rows_per_s": _named(
                sum(r["rows"] for r in results) / sum(r["rows_s"] for r in results)
                if results else 0.0,
                "1/s", "higher", len(results)),
            "fit_mse": _named(median(self.report.get("fit_mse", [])), "1", "lower",
                              len(self.report.get("fit_mse", []))),
        }

    @staticmethod
    def _sq_dists(x: np.ndarray, centers: np.ndarray) -> np.ndarray:
        # left-to-right sum over dimensions, the engine's fold order, so
        # ties resolve exactly as they do in Spark
        acc = np.zeros((len(x), len(centers)))
        for j in range(x.shape[1]):
            acc += (x[:, j:j + 1] - centers[None, :, j]) ** 2
        return acc

    def _check(self, i: int, model) -> None:
        centers = np.asarray(model.centers, dtype=float)
        mse = float(self._sq_dists(self.points, centers).min(axis=1).mean())
        mse_init = float(self._sq_dists(self.points, np.asarray(self.seen["init"])).min(axis=1).mean())
        self.sample("fit_mse", mse)
        self.sample("lloyd_iters", self.seen["n_iter"])
        if self.seen["n_iter"] != self.MAX_ITER:
            raise CheckFailed(f"Lloyd ran {self.seen['n_iter']} iterations, not {self.MAX_ITER}")
        if mse > mse_init * (1 + 1e-12):
            raise CheckFailed(f"fit MSE {mse} above the init centers' MSE {mse_init}")
        self.record.same(f"{self.name}/{self.seed}/{i}/fit_mse", mse, rel=1e-9)
        got = dict(
            model.transform(self.spark.read.parquet(self.path("check.parquet")))
            .select("id", "center_id").collect()
        )
        want = self._sq_dists(self.check_pts, centers).argmin(axis=1)
        bad = [j for j in range(self.N_CHECK) if got.get(j) != int(want[j])]
        if bad:
            raise CheckFailed(f"{len(bad)} scored rows differ from the numpy argmin, first id {bad[0]}")


# -------------------------------------------------------------------- ANN


class AnnSearch(Workload):
    """Offline IVF-PQ training in one session, then a closed loop of
    batch top-k requests from a fresh serving session that loads the
    persisted index."""

    name = "ann_search"
    DIM = 32
    N = 1_000  # sqrt(n) cells: the trainer regime with many centers
    PQ_M = 4
    Q = 16  # queries per request
    K = 10
    NPROBE = 4
    REFINE = 200  # exact re-rank shortlist per query
    BATCHES = 96
    RECALL_FLOOR = 0.80
    # each set-up trains an index, the first one in a JVM that has not
    # run the trainer yet (two to three times as long as the second),
    # so two repetitions are what the run's time allows
    SETUP_REPEATS = 2
    WARMUP_OPS = 2
    WARMUP_S = 6.0
    MIN_OPS = 5
    COS_TOL = 5e-7 + 1e-12  # the engine rounds cosines to 6 decimals

    def generate(self) -> None:
        # 16 clusters in a 6-dimensional latent space, mapped into DIM
        # dimensions plus small isotropic noise: near neighbours are
        # then well separated from the rest, as in real embeddings. The
        # layout is part of the workload and the same for every seed;
        # the seed draws the points. Clusters are equally large and each
        # query batch has one query per cluster, so the index's cells
        # and the cells a batch probes are alike from seed to seed. A
        # seeded layout made request latency differ by up to 17% between
        # seeds, the same on every run of a seed.
        shape = inputs.rng(0, self.name, "layout")
        lift = shape.normal(0.0, 1.0, (6, self.DIM))
        centers = shape.normal(0.0, 1.0, (16, 6))
        g = inputs.rng(self.seed, self.name)

        def draw(n: int) -> np.ndarray:
            return (inputs.blobs(g, centers, n, 0.5, balanced=True) @ lift
                    + g.normal(0.0, 0.05, (n, self.DIM)))

        corpus = draw(self.N).astype(np.float32)
        # one file: a 1 000-row corpus is one small file, and every extra
        # input partition multiplies the files the layout write creates
        inputs.write_vectors(self.path("corpus.parquet"), np.arange(self.N), corpus,
                             "vec_id", "embedding", pa.float32(), files=1)
        c64 = corpus.astype(np.float64)
        self.normed = c64 / np.linalg.norm(c64, axis=1, keepdims=True)
        self.queries = np.vstack([draw(self.Q) for _ in range(self.BATCHES)])
        for b in range(self.BATCHES):
            rows = slice(b * self.Q, (b + 1) * self.Q)
            inputs.write_vectors(self.path(f"queries-{b}.parquet"),
                                 np.arange(rows.start, rows.stop), self.queries[rows],
                                 "qid", "qvec", files=1)
        self.serve_fresh = True

    def setup(self, r: int) -> None:
        from apachebeamkmeans_spark import AnnIndex

        offline = self.session.start()
        with self.tr.span("ann.train"):
            AnnIndex.train(offline, offline.read.parquet(self.path("corpus.parquet")),
                           self.path(f"index-{r}"), pq_m=self.PQ_M)
        self.session.phase(f"setup{r}.train")
        self.session.stop()
        self.spark = self.session.start()
        # the serve phase must start from get_spark's conf whatever the
        # training session left behind
        if self.session.phase(f"setup{r}.serve_start"):
            self.serve_fresh = False
        with self.tr.span("ann.load"):
            self.index = AnnIndex.load(self.spark, self.path(f"index-{r}"))

    def release(self) -> None:
        self.session.stop()

    def op(self, i: int) -> dict:
        b = i % self.BATCHES
        qdf = self.spark.read.parquet(self.path(f"queries-{b}.parquet"))
        with self.tr.span("op"):
            t0 = time.perf_counter()
            with self.tr.span("ann.serve"):
                rows = self.index.topk_table(qdf, k=self.K, nprobe=self.NPROBE,
                                             refine=self.REFINE).collect()
            t1 = time.perf_counter()
        self._check(b, rows)
        return {"latency_s": t1 - t0, "rows_s": t1 - t0, "rows": self.Q}

    def named(self, results):
        lat = [1e3 * r["latency_s"] for r in results]
        rec = self.report.get("recall_at_10", [])
        return {
            "search_p50_ms": _named(median(lat), "ms", "lower", len(lat)),
            "search_p75_ms": _named(_pct(lat, 0.75), "ms", "lower", len(lat)),
            "recall_at_10": _named(median(rec), "1", "higher", len(rec)),
        }

    def _check(self, b: int, rows) -> None:
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), float(r["cosine"])))
        hits = 0
        for qid in range(b * self.Q, (b + 1) * self.Q):
            q = self.queries[qid]
            cos = self.normed @ (q / np.linalg.norm(q))
            exact = set(np.argsort(-cos, kind="stable")[: self.K].tolist())
            ret = got.get(qid, [])
            if len(ret) != self.K:
                raise CheckFailed(f"query {qid}: {len(ret)} results, want {self.K}")
            for vid, c in ret:
                if abs(c - cos[vid]) > self.COS_TOL:
                    raise CheckFailed(f"query {qid} id {vid}: cosine {c} != numpy {cos[vid]}")
            hits += len(exact & {vid for vid, _ in ret})
        recall = hits / (self.Q * self.K)
        self.sample("recall_at_10", recall)
        if recall < self.RECALL_FLOOR:
            raise CheckFailed(f"batch {b}: recall@10 {recall:.3f} below {self.RECALL_FLOOR}")


# --------------------------------------------------------------- curation


STAGES = ("exact_dedup", "near_dedup", "purge_substrings", "quality_gate")


class Curation(Workload):
    """One full curation pass per op over a new corpus shard, packed and
    written to parquet."""

    name = "curation"
    DOCS = 800

    def generate(self) -> None:
        self.texts = {}

    def _shard(self, s: int) -> str:
        """Shard `s` of the seed's sequence, written on first use (outside
        the timers) from its own random stream."""
        path = self.path(f"shard-{s}.parquet")
        if not os.path.exists(path):
            t = inputs.documents(inputs.rng(self.seed, self.name, f"shard{s}"),
                                 self.DOCS, s * self.DOCS)
            inputs.write_table(path, t, files=1)
            self.texts.update(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        return path

    def setup(self, r: int) -> None:
        self.spark = self.session.start()

    def release(self) -> None:
        self.session.stop()

    def _pipeline(self, docs, n_stages: int):
        from apachebeamkmeans_spark import CurationPipeline

        p = CurationPipeline(docs)
        for stage in STAGES[:n_stages]:
            p = getattr(p, stage)()
        return p

    def op(self, i: int) -> dict:
        docs = self.spark.read.parquet(self._shard(i))
        out = self.path(f"out-{i}")
        with self.tr.span("op"):
            t0 = time.perf_counter()
            with self.tr.span("pipeline.build"):
                packed = self._pipeline(docs, len(STAGES)).pack()
            with self.tr.span("pipeline.pack_write"):
                packed.write.mode("overwrite").parquet(out)
            t1 = time.perf_counter()
        self._check(i, out)
        if self.tr.enabled and i in (0, self.first_timed):
            self._prefixes(docs)
        return {"latency_s": t1 - t0, "rows_s": t1 - t0, "rows": self.DOCS}

    def named(self, results):
        rates = [r["rows"] / r["latency_s"] for r in results]
        return {"curate_docs_per_s": _named(median(rates), "1/s", "higher", len(rates))}

    def _prefixes(self, docs) -> None:
        """Traced runs only, after the warm-up op and after the first timed
        op: run each prefix of the pipeline into a noop sink, then the
        whole pass again, on the op's shard. The first ladder compiles
        each prefix's plan; the second, measured one is as warm as the
        timed pass. Consecutive differences give each stage's own cost."""
        for n in range(1, len(STAGES) + 1):
            with self.tr.span(f"pipeline.prefix{n}"):
                self._pipeline(docs, n).df().write.format("noop").mode("overwrite").save()
        with self.tr.span("pipeline.prefix_all"):
            self._pipeline(docs, len(STAGES)).pack().write.mode("overwrite").parquet(
                self.path("out-prefix"))

    def _check(self, s: int, out: str) -> None:
        t = pq.read_table(out).sort_by([("doc_id", "ascending"), ("bin_id", "ascending")])
        ids = t["doc_id"].to_pylist()
        h = hashlib.sha256()
        for col in sorted(t.column_names):
            h.update(col.encode())
            h.update(repr(t[col].to_pylist()).encode())
        self.record.same(f"{self.name}/{self.seed}/{s}/rows", float(t.num_rows), rel=0.0)
        self.record.same(f"{self.name}/{self.seed}/{s}/hash", h.hexdigest())
        survivors = set(ids)
        if not survivors:
            raise CheckFailed(f"shard {s}: no document survived")
        texts = [self.texts[d] for d in survivors]
        if len(set(texts)) != len(texts):
            raise CheckFailed(f"shard {s}: surviving documents share identical text")
        self.sample("kept_docs", float(len(survivors)))


WORKLOADS = {w.name: w for w in (KMeansFit, AnnSearch, Curation)}
