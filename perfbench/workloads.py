"""The three workloads: bulk_score, wide_forest and tenants.

Each workload drives the public API of ``spark_iforest_spark`` from one
client thread and records timed operations through ``Harness.op``:

* ``fit``     IForest.fit (eager threshold pass included), or
              segmented.fit_groups plus materialising its node relation
* ``pass``    one full-table transform pass (cogroup path on tenants)
* ``bcast``   one full-table transform_broadcast pass (tenants only; the
              global model has only its broadcast-forest pass)
* ``save`` / ``load``  model persistence (load includes materialising the
              segmented node relation)
* ``request`` a closed-loop request: a DataFrame of freshly generated rows
              is scored by the loaded model and the scores collected

A weighted round-robin picks the next kind: the kind furthest below its
share of the workload's ``mix`` goes next (ties in ``mix`` order, so the
first operations run in the order fit, pass, bcast, save, load, request),
and cheap kinds, whose single timings jitter most, collect the most
samples. One round of the mix runs first as warm-up: those operations are
checked like the rest but timed into no metric, as the JVM is still
compiling the code paths they take. Then the round-robin starts afresh and
runs until ``seconds`` have gone by since the first timed operation.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen, stats
from perfbench.harness import Harness, self_time
from spark_iforest_spark import IForest, IForestModel, segmented
from spark_iforest_spark.nodes import pack_forest, pandas_to_forest, rows_to_forest, tree_to_rows
from spark_iforest_spark.scorer import anomaly_scores
from spark_iforest_spark.trainer import train_tree

REQUEST_ROWS = 1000
SETUP_REPS = 3
KERNEL_BLOCK_ROWS = 16_384
NODE_FIELDS = (
    "treeID", "id", "featureIndex", "featureValue", "leftChild", "rightChild", "numInstance"
)


@dataclass(frozen=True)
class Workload:
    name: str
    shape: gen.Shape
    num_trees: int
    max_samples: int
    max_depth: int
    contamination: float
    segmented: bool
    # (kind, weight) pairs: the warm-up round runs each kind ``weight`` times,
    # and the timed round-robin keeps the kinds in that ratio
    mix: tuple
    auc_floor: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "bulk_score",
            gen.Shape(rows=160_000, dims=8),
            num_trees=100,
            max_samples=256,
            max_depth=10,
            contamination=0.01,
            segmented=False,
            mix=(("fit", 1), ("pass", 1), ("save", 1), ("load", 2), ("request", 2)),
            auc_floor=0.75,
        ),
        Workload(
            "wide_forest",
            gen.Shape(rows=30_000, dims=32),
            num_trees=200,
            max_samples=1024,
            max_depth=12,
            contamination=0.01,
            segmented=False,
            mix=(("fit", 1), ("pass", 1), ("save", 1), ("load", 2), ("request", 4)),
            auc_floor=0.7,
        ),
        Workload(
            "tenants",
            gen.Shape(rows=60_000, dims=6, clusters=2, segments=40),
            num_trees=10,
            max_samples=256,
            max_depth=10,
            contamination=0.01,
            segmented=True,
            mix=(("fit", 1), ("pass", 1), ("bcast", 1), ("save", 2), ("load", 2), ("request", 1)),
            auc_floor=0.7,
        ),
    )
}


def table_df(spark, seed: int, shape: gen.Shape, partitions: int):
    """The seeded table as a DataFrame, generated inside Spark tasks."""
    blocks = spark.range(gen.num_blocks(shape), numPartitions=partitions)

    def make(it):
        for pdf in it:
            for b in pdf["id"]:
                yield gen.table_block(seed, shape, int(b))

    return blocks.mapInPandas(make, gen.ROW_SCHEMA)


class PassCheck:
    """Checks every full-table pass of one model: all rows scored, every
    score in (0,1), and the same per-row scores as every earlier pass of
    either scoring path (compared through an order-independent fingerprint
    of the exact score bits)."""

    def __init__(self, rows: int):
        self.rows = rows
        self.fingerprint = None

    def __call__(self, r) -> str:
        if r["n"] != self.rows:
            return f"scored {r['n']} rows, expected {self.rows}"
        if not (0.0 < r["lo"] and r["hi"] < 1.0):
            return f"score outside (0,1): [{r['lo']}, {r['hi']}]"
        if self.fingerprint is None:
            self.fingerprint = r["fp"]
        elif r["fp"] != self.fingerprint:
            return "per-row scores differ from an earlier pass"
        return ""


def _pass(scored):
    # a sum of bounded integers is exact in any order, unlike a sum of doubles
    fp = F.xxhash64("id", "anomalyScore") % F.lit(1 << 31)
    return scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("anomalyScore").alias("lo"),
        F.max("anomalyScore").alias("hi"),
        F.sum(fp).alias("fp"),
    ).first()


def _fingerprint(df) -> tuple:
    """Row count and an order-independent hash of every column of ``df``."""
    h = F.xxhash64(*sorted(df.columns)) % F.lit(1 << 31)
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())


def _contamination_check(scores, flagged, threshold_of, contamination, groups=1):
    """Exact-threshold rule: per group, the flagged rows are exactly the
    rows scoring above the ceil((1-c)n)-th smallest score, so the flagged
    share is c up to one row per group plus ties at the threshold."""
    n = len(scores)
    expected = 0
    slack = groups
    for s, thr in threshold_of:
        expected += int(np.sum(s > thr))
        slack += int(np.sum(s == thr))
    if int(flagged.sum()) != expected:
        return f"{int(flagged.sum())} rows flagged, {expected} score above the threshold"
    if abs(expected - contamination * n) > slack:
        return f"flagged share {expected / n:.5f} vs contamination {contamination}"
    return ""


class Run:
    def __init__(self, h: Harness, w: Workload, seed: int, seconds: float, cores: int):
        self.h, self.w, self.seed, self.seconds, self.cores = h, w, seed, seconds, cores
        self.spark = h.spark
        self.info: dict = {}
        self.layer: dict = {}

    # ------------------------------------------------------------ set-up
    def setup(self):
        setups, df = [], None
        for _ in range(SETUP_REPS):
            if df is not None:
                df.unpersist(blocking=True)
            t0 = time.perf_counter()
            df = table_df(self.spark, self.seed, self.w.shape, self.cores).cache()
            n = df.count()
            setups.append(time.perf_counter() - t0)
            if n != self.w.shape.rows:
                raise RuntimeError(f"generated {n} rows, expected {self.w.shape.rows}")
        self.df = df
        self.info["setup_s"] = setups
        t0 = time.perf_counter()
        self.model = self.loaded = self.saved_path = None
        self.saves = self.requests = 0
        self.ops = self.op_table()
        self.h.warm = True
        self.run_mix(lambda done: sum(done.values()) >= sum(dict(self.w.mix).values()))
        self.h.warm = False
        if self.model is None:
            raise RuntimeError("no fit succeeded")
        if self.loaded is None:
            raise RuntimeError("no model was saved and loaded back")
        self.info["warmup_s"] = time.perf_counter() - t0

    def _path(self, name: str) -> str:
        p = os.path.join(self.h.work_dir, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    # -------------------------------------------------------------- run
    def measure(self):
        t_root = time.time()
        root = self.h.tracer.add("workload", t_root, t_root)
        self.h.root_span = root
        self.t_start = time.perf_counter()
        self.run_mix(lambda done: self.deadline_passed())
        self.verify()
        if root is not None:
            self.h.tracer.spans[root].end = time.time()

    def deadline_passed(self) -> bool:
        return time.perf_counter() - self.t_start >= self.seconds

    def op_table(self) -> dict:
        ops = {
            "fit": self.one_fit,
            "pass": self.one_pass,
            "save": self.one_save,
            "load": self.one_load,
            "request": self.one_request,
        }
        if self.w.segmented:
            ops["bcast"] = self.one_bcast
        return ops

    def run_mix(self, stop):
        """Weighted round-robin until ``stop(done)``: the next kind is the
        one with the fewest operations for its weight (ties go to the earlier)."""
        weight = dict(self.w.mix)
        done = {k: 0 for k in weight}
        while not stop(done):
            kind = min(weight, key=lambda k: done[k] / weight[k])
            self.ops[kind]()
            done[kind] += 1

    def one_save(self):
        path = self._path(f"model-{self.saves}")
        self.saves += 1
        _, op = self.h.op("save", lambda: self.model.save(path))
        if not op.ok:
            return
        self.saved_path = path
        if "saved_node_rows" not in self.info and self.h.tracer.enabled:
            self.info["saved_node_rows"] = self.spark.read.parquet(path + "/data").count()

    def one_load(self):
        """Load the latest save back; the previous loaded model is released
        first, as a cached relation with an identical plan would be served
        again instead of loading."""
        if self.loaded is not None:
            self.release(self.loaded)
        path = self.saved_path
        m, op = self.h.op("load", lambda: self.load(path), self.same_as_fitted)
        if op.ok:
            self.loaded = m

    def release(self, model):
        pass

    # ------------------------------------------------------------ metrics
    def end_to_end(self, peak_rss: int) -> dict:
        h, rows = self.h, self.w.shape.rows
        med = stats.median
        bcast = "bcast" if self.w.segmented else "pass"
        return {
            "setup_s": (med(self.info["setup_s"]), "s"),
            "fit_s": (med(h.times("fit")), "s"),
            "score_rows_per_s": (rows / med(h.times("pass")), "rows/s"),
            "score_bcast_rows_per_s": (rows / med(h.times(bcast)), "rows/s"),
            "request_p50_ms": (1000 * med(h.times("request")), "ms"),
            "save_s": (med(h.times("save")), "s"),
            "load_s": (med(h.times("load")), "s"),
            "auc": (self.info["auc"], "ratio"),
            "peak_rss_mb": (peak_rss / 1e6, "MB"),
        }

    def _op_jobs(self, kind):
        return [(op, self.h.job_spans_of(op)) for op in self.h.of_kind(kind)]

    def per_layer(self) -> dict:
        med = stats.median
        spans = self.h.tracer.spans
        fits = self._op_jobs("fit")
        passes = self._op_jobs("pass")
        bcasts = self._op_jobs("bcast" if self.w.segmented else "pass")
        reqs = self._op_jobs("request")

        def stage_sum(jobs, key):
            return sum(st[key] for j in jobs for st in j.attrs["stages"])

        def skew(jobs):
            stages = [st for j in jobs for st in j.attrs["stages"]]
            big = max(stages, key=lambda st: st["executor_s"])
            d = self.h.task_durations(big["stage"], big["attempt"])
            return max(d) / stats.median(d) if d and stats.median(d) > 0 else 1.0

        all_failed = sum(
            s.attrs.get("failed_tasks", 0) for s in spans if s.name.startswith("job-")
        )
        m = {
            "iforest.fit.jobs": (med([len(j) for _, j in fits]), "count"),
            "iforest.fit.tasks": (med([sum(x.attrs["tasks"] for x in j) for _, j in fits]), "count"),
            "iforest.fit.shuffle_mb": (med([stage_sum(j, "shuffle_write_mb") for _, j in fits]), "MB"),
            "iforest.fit.driver_s": (med([self_time(spans, o.span) for o, _ in fits]), "s"),
            "iforest.transform.jobs": (med([len(j) for _, j in passes]), "count"),
            "iforest.transform.executor_s": (med([stage_sum(j, "executor_s") for _, j in passes]), "s"),
            "iforest.request.jobs": (med([len(j) for _, j in reqs]), "count"),
            "iforest.request.driver_ms": (1000 * med([self_time(spans, o.span) for o, _ in reqs]), "ms"),
            "iforest.save.node_rows": (self.info["saved_node_rows"], "count"),
            "iforest.tasks_failed": (all_failed, "count"),
            "segmented.fit.task_skew": (med([skew(j) for _, j in fits]), "ratio"),
            "segmented.transform.shuffle_mb": (med([stage_sum(j, "shuffle_write_mb") for _, j in passes]), "MB"),
            "segmented.broadcast.driver_s": (med([self_time(spans, o.span) for o, _ in bcasts]), "s"),
        }
        m.update(self.layer)
        m["trace.overhead_s"] = (self.h.tracer.bookkeeping_s, "s")
        return m

    # ---------------------------------------------------- kernel replays
    def _timed(self, name, fn, parent, reps=3, **attrs):
        """Median seconds of ``reps`` calls of ``fn``, each with its own span."""
        runs = []
        for _ in range(reps):
            w0 = time.time()
            t0 = time.perf_counter()
            out = fn()
            runs.append(time.perf_counter() - t0)
            self.h.tracer.add(name, w0, time.time(), parent, **attrs)
        return stats.median(runs), out

    def replay_kernels(self, trees_of, decode, psi, x_block, x_train, max_depth):
        """Time trainer/nodes/scorer on the driver with this run's data."""
        tracer = self.h.tracer
        parent = tracer.add("kernel-replay", time.time(), time.time(), self.h.root_span)
        rng = np.random.default_rng([self.seed, 99])
        t_nodes, t_total, replayed = 0, 0.0, 12
        for i in range(replayed):
            sample = x_train[rng.choice(len(x_train), size=min(psi, len(x_train)), replace=False)]
            w0 = time.time()
            t0 = time.perf_counter()
            tree = train_tree(sample, max_depth, 1.0, self.seed, i)
            t_total += time.perf_counter() - t0
            t_nodes += tree.num_nodes
            tracer.add("trainer.train_tree", w0, time.time(), parent, nodes=tree.num_nodes)
        self.layer["trainer.us_per_node"] = (1e6 * t_total / t_nodes, "us")
        self.layer["trainer.nodes_per_tree"] = (t_nodes / replayed, "count")

        trees = trees_of()
        t, packed = self._timed("nodes.pack_forest", lambda: pack_forest(trees), parent)
        self.layer["nodes.pack_ms"] = (1000 * t, "ms")
        t, _ = self._timed("nodes.decode", decode, parent)
        self.layer["nodes.decode_ms"] = (1000 * t, "ms")
        t, _ = self._timed(
            "scorer.anomaly_scores",
            lambda: anomaly_scores(packed, x_block, float(psi)),
            parent,
            rows=len(x_block),
        )
        self.layer["scorer.ns_per_row_tree"] = (1e9 * t / (len(x_block) * packed.num_trees), "ns")
        self.layer["scorer.levels_per_row"] = (int(packed.tree_depth.sum()), "count")
        tracer.spans[parent].end = time.time()
        root = tracer.spans[self.h.root_span]
        root.end = max(root.end, tracer.spans[parent].end)


class GlobalRun(Run):
    """bulk_score and wide_forest: one IForest over the whole table."""

    def estimator(self):
        w = self.w
        return IForest(
            numTrees=w.num_trees,
            maxSamples=float(w.max_samples),
            maxDepth=w.max_depth,
            contamination=w.contamination,
            seed=self.seed,
        )

    def _req_df(self, pdf):
        return self.spark.createDataFrame(pdf[["features"]], schema="features array<double>")

    def one_fit(self):
        w = self.w

        def check(m):
            if len(m.trees) != w.num_trees:
                return f"{len(m.trees)} trees, expected {w.num_trees}"
            if not 0.0 < m.getThreshold() < 1.0:
                return f"threshold {m.getThreshold()} outside (0,1)"
            if self.model is not None and m.trees != self.model.trees:
                return "refit with the same seed built a different forest"
            return ""

        model, op = self.h.op("fit", lambda: self.estimator().fit(self.df), check)
        if op.ok and self.model is None:
            self.model = model
            self.pass_check = PassCheck(w.shape.rows)
            self.packed = pack_forest(model.trees)
            self.psi = float(w.max_samples)

    def one_pass(self):
        self.h.op("pass", lambda: _pass(self.model.transform(self.df)), self.pass_check)

    def load(self, path):
        m = IForestModel.load(path)
        m.setThreshold(self.model.getThreshold())
        return m

    def same_as_fitted(self, m):
        return "" if m.trees == self.model.trees else "loaded forest differs from the fitted one"

    def one_request(self):
        pdf = gen.request(self.seed, self.w.shape, self.requests, REQUEST_ROWS)
        self.requests += 1
        expected = anomaly_scores(self.packed, gen.features(pdf), self.psi)

        def check(out):
            got = out["anomalyScore"].to_numpy()
            if not np.array_equal(got, expected):
                return "request scores differ from scorer.anomaly_scores on the driver"
            return ""

        self.h.op(
            "request",
            lambda: self.loaded.transform(self._req_df(pdf)).select("anomalyScore").toPandas(),
            check,
        )

    def verify(self):
        c = self.w.contamination

        def scored():
            pdf = (
                self.model.transform(self.df)
                .select("label", "anomalyScore", "prediction")
                .toPandas()
            )
            s = pdf["anomalyScore"].to_numpy()
            if not np.all((s > 0) & (s < 1)):
                return "score outside (0,1)"
            err = _contamination_check(
                s, pdf["prediction"].to_numpy(), [(s, self.model.getThreshold())], c
            )
            if err:
                return err
            self.info["auc"] = stats.auc(s, pdf["label"].to_numpy())
            if self.info["auc"] < self.w.auc_floor:
                return f"auc {self.info['auc']:.4f} below floor {self.w.auc_floor}"
            return ""

        if not self.h.verify("verify-scores", scored):
            self.info.setdefault("auc", 0.0)

    def kernels(self):
        x = gen.features(gen.table(self.seed, self.w.shape))
        # the node rows as the model reader decodes them
        rows = [
            dict(zip(NODE_FIELDS, r))
            for t, tree in enumerate(self.model.trees)
            for r in tree_to_rows(t, tree)
        ]
        self.replay_kernels(
            lambda: self.model.trees,
            lambda: rows_to_forest(rows),
            self.w.max_samples,
            x[:KERNEL_BLOCK_ROWS],
            x,
            self.w.max_depth,
        )


class TenantRun(Run):
    """tenants: one forest per segment, fitted and scored inside Spark."""

    def _fit(self):
        w = self.w
        sm = segmented.fit_groups(
            self.df,
            "seg",
            num_trees=w.num_trees,
            max_samples=w.max_samples,
            max_depth=w.max_depth,
            contamination=w.contamination,
            seed=self.seed,
        )
        sm.nodes = sm.nodes.cache()
        sm.nodes.count()
        return sm

    def load(self, path):
        sm = segmented.SegmentedIForestModel.load(self.spark, path)
        sm.nodes = sm.nodes.cache()
        sm.nodes.count()
        return sm

    def _req_df(self, pdf):
        return self.spark.createDataFrame(
            pdf[["seg", "features"]], schema="seg int, features array<double>"
        )

    def one_fit(self):
        first = self.model is None
        if not first:
            # a cached node relation with an identical plan would be served
            # again instead of refitting
            self.model.nodes.unpersist(blocking=True)
        m, op = self.h.op("fit", self._fit, None if first else self.same_as_fitted)
        if not op.ok:
            return
        self.model = m
        if first:
            self.node_fp = _fingerprint(m.nodes)
            self.node_pdf = m.nodes.toPandas()
            self.forests = {
                int(k): (pack_forest(pandas_to_forest(g)), float(g["psi"].iloc[0]))
                for k, g in self.node_pdf.groupby("seg")
            }
            self.pass_check = PassCheck(self.w.shape.rows)

    def same_as_fitted(self, m):
        if _fingerprint(m.nodes) != self.node_fp:
            return "node relation differs from the first fit's"
        return ""

    def release(self, model):
        model.nodes.unpersist(blocking=True)

    def one_pass(self):
        self.h.op(
            "pass",
            lambda: _pass(self.model.transform(self.df, id_col="id")),
            self.pass_check,
        )

    def one_bcast(self):
        self.h.op(
            "bcast",
            lambda: _pass(self.model.transform_broadcast(self.df, id_col="id")),
            self.pass_check,
        )

    def expected_scores(self, pdf):
        x = gen.features(pdf)
        seg = pdf["seg"].to_numpy()
        out = np.empty(len(pdf))
        for s in np.unique(seg):
            forest, psi = self.forests[int(s)]
            rows = seg == s
            out[rows] = anomaly_scores(forest, x[rows], psi)
        return out

    def one_request(self):
        pdf = gen.request(self.seed, self.w.shape, self.requests, REQUEST_ROWS)
        self.requests += 1
        expected = self.expected_scores(pdf)

        def check(out):
            if not np.array_equal(out["anomalyScore"].to_numpy(), expected):
                return "request scores differ from scorer.anomaly_scores on the driver"
            return ""

        self.h.op(
            "request",
            lambda: self.loaded.transform_broadcast(self._req_df(pdf))
            .select("anomalyScore")
            .toPandas(),
            check,
        )

    def verify(self):
        c = self.w.contamination

        def scored():
            labels = self.df.select("id", "label").toPandas().set_index("id")
            cog = self.model.transform(self.df, id_col="id").toPandas().set_index("id")
            s = cog["anomalyScore"].to_numpy()
            if not np.all((s > 0) & (s < 1)):
                return "score outside (0,1)"
            thr = self.node_pdf.groupby("seg")["threshold"].first()
            per_seg = [
                (g["anomalyScore"].to_numpy(), float(thr[k])) for k, g in cog.groupby("seg")
            ]
            err = _contamination_check(
                s, cog["prediction"].to_numpy(), per_seg, c, groups=len(per_seg)
            )
            if err:
                return err
            lab = labels.loc[cog.index, "label"].to_numpy()
            self.info["auc"] = stats.auc(s, lab)
            if self.info["auc"] < self.w.auc_floor:
                return f"auc {self.info['auc']:.4f} below floor {self.w.auc_floor}"
            return ""

        if not self.h.verify("verify-scores", scored):
            self.info.setdefault("auc", 0.0)

    def kernels(self):
        table = gen.table(self.seed, self.w.shape)
        big = int(table["seg"].value_counts().idxmax())
        x = gen.features(table[table["seg"] == big])
        block = np.resize(x, (KERNEL_BLOCK_ROWS, x.shape[1]))
        group = self.node_pdf[self.node_pdf["seg"] == big]
        self.replay_kernels(
            lambda: pandas_to_forest(group),
            # every segment's forest, as transform_broadcast decodes them
            lambda: [pandas_to_forest(g) for _, g in self.node_pdf.groupby("seg")],
            min(self.w.max_samples, len(x)),
            block,
            x,
            self.w.max_depth,
        )


def make_run(h: Harness, name: str, seed: int, seconds: float, cores: int) -> Run:
    w = WORKLOADS[name]
    return (TenantRun if w.segmented else GlobalRun)(h, w, seed, seconds, cores)
