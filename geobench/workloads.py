"""The workloads. Each drives the engine through its public API from one
driver thread; ``setup`` builds and commits the seeded inputs,
``warmup`` runs untimed ops, ``step`` is one unit of timed work, and
``summary`` turns the op records into the end-to-end numbers.

Every workload reports the same end-to-end metrics, split by the path
an op takes through the engine: ``jvm_op_p50_ms`` over ops whose
executed plan runs only in the JVM, ``python_op_p50_ms`` over ops with
a Python/Arrow stage (polygon refine, polyfill keying). A regression in
one path cannot hide behind the other.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from geobench import gen, oracle
from geobench.runner import median, tail

QUERY_COLS = ("event_id", "x_u", "y_u", "kind")


def _ts(sec: int) -> str:
    return dt.datetime.fromtimestamp(int(sec), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _commit(table, df, user_bytes: int, commits: list, **kw) -> None:
    """commit_write into an empty table, recording the commit's metadata
    bytes (manifest + metadata JSON) and data bytes per input byte."""
    table.commit_write(df, **kw)
    meta = sum(os.path.getsize(os.path.join(table.meta_dir, n)) for n in os.listdir(table.meta_dir))
    data = sum(f["bytes"] for f in table.files())
    commits.append((meta, data / user_bytes))


def _commit_points(spark, table_dir: str, p: dict, files: int, commits: list):
    """Commit points cell-sorted (the index layout) with file stats. The
    cell key comes from the engine's numpy keying function, which is
    cheaper at ingest than its Spark column twin."""
    from geowave_spark.index.zorder import cells_of_points
    from geowave_spark.sources.icetable import IceTable

    pdf = gen.points_pdf(p)
    pdf["cell"] = cells_of_points(p["x_u"], p["y_u"], 16).astype(np.int64)
    df = spark.createDataFrame(pdf)
    df = df.repartitionByRange(files, "cell").sortWithinPartitions("cell")
    table = IceTable(table_dir)
    _commit(table, df, sum(a.nbytes for a in p.values()), commits,
            stats_cols=["cell", "x_u", "y_u", "ts"])
    return table


class QueryMix:
    """Closed loop, one client: constraint queries against a snapshot
    point type. Per-query fixed costs dominate."""

    name = "query_mix"
    N_POINTS = 250_000
    FILES = 8
    POLYGONS = 64  # pool fits the program's 500-entry geometry/decomposition LRUs
    # op mix per cycle of 20 (40/20/20/15/5 %); each cycle is shuffled,
    # so every run sees the same composition and only the order varies.
    # Within a cycle, each kind's window sides are stratified over the
    # log-uniform range and half its windows centre on a stored point;
    # polygons are drawn one from each size quarter of the pool. Every
    # run then sees the same size distribution, not a small sample of it.
    CYCLE = ("bbox",) * 8 + ("polygon",) * 4 + ("bbox_time_where",) * 4 + ("gwql",) * 3 + ("knn",)
    PYTHON_KINDS = ("polygon",)  # Arrow polygon refine; the other kinds are all-JVM
    MIN_STEPS = len(CYCLE)  # one full cycle holds every kind

    def setup(self, spark, work: str, seed: int) -> None:
        from geowave_spark.api import DataStore

        rng = np.random.default_rng(seed)
        self.p = gen.points(rng, self.N_POINTS)
        self.polys = gen.polygon_pool(rng, self.p, self.POLYGONS, 0.05, 10.0)
        self.by_size = np.argsort([np.ptp(r[:, 0]) * np.ptp(r[:, 1]) for r in self.polys])
        self.commits = []
        self.table = _commit_points(spark, os.path.join(work, "pts"), self.p, self.FILES,
                                    self.commits)
        self.ds = DataStore(spark)
        self.ds.add_snapshot_type("pts", self.table)
        self.live_files = len(self.table.files())
        self.qrng = np.random.default_rng([seed, 1])
        self.pending: list = []
        self.seed = seed
        self.sp = oracle.SortedPoints(self.p)

    def _next(self, r, kind, u=None, on_point=None):
        p = self.p
        if kind == "knn":
            qx, qy = gen.window_center(r, p, on_point)
            return {"qx": qx, "qy": qy}
        if kind == "polygon":
            u = r.random() if u is None else u
            return {"ring": self.polys[self.by_size[int(u * self.POLYGONS)]]}
        box = gen.window(r, p, u=u, on_point=on_point)
        if kind == "bbox":
            return {"box": box}
        if kind == "gwql":
            return {"box": box, "v": round(float(r.uniform(0.1, 0.9)), 3)}
        t0 = int(r.integers(gen.T0, gen.T0 + gen.T_SPAN - 90 * 86_400))
        t1 = t0 + int(gen.log_uniform(r, 1, 90) * 86_400)
        if r.random() < 0.5:
            where = f"value < {round(float(r.uniform(0.1, 0.9)), 3)}"
        else:
            where = f"kind = {int(r.integers(0, 10))}"
        return {"box": box, "t": (t0, t1), "where": where}

    def _expect(self, kind, a):
        p, sp = self.p, self.sp
        if kind == "knn":
            return oracle.knn(p, a["qx"], a["qy"], 10)
        if kind == "polygon":
            idx = sp.order[oracle.polygon_select(sp, a["ring"])]
            return oracle.fingerprint(*(p[c][idx] for c in QUERY_COLS))
        m = oracle.bbox_mask(p, *a["box"])
        if kind == "gwql":
            m &= p["value"] < a["v"]
        elif kind == "bbox_time_where":
            m &= (p["ts"] >= a["t"][0]) & (p["ts"] < a["t"][1])
            w = a["where"]
            if w.startswith("value"):
                m &= p["value"] < float(w.split("<")[1])
            else:
                m &= p["kind"] == int(w.split("=")[1])
        return oracle.fingerprint(*(p[c][m] for c in QUERY_COLS))

    def _build(self, kind, a):
        from geowave_spark.geom.wkb import Geometry

        ds = self.ds
        if kind == "knn":
            return lambda: ds.knn("pts", [(0, a["qx"], a["qy"])], 10), ("event_id", "dist2", "rank"), ()
        if kind == "polygon":
            g = Geometry("Polygon", [a["ring"]])
            return lambda: ds.query("pts", polygon=g), QUERY_COLS, (("ArrowEvalPython", 1),)
        if kind == "bbox":
            return lambda: ds.query("pts", bbox=a["box"]), QUERY_COLS, ()
        if kind == "gwql":
            x0, y0, x1, y1 = a["box"]
            stmt = f"SELECT * FROM pts WHERE BBOX(geom, {x0}, {y0}, {x1}, {y1}) AND value < {a['v']}"
            return lambda: ds.gwql(stmt), QUERY_COLS, ()
        t = (_ts(a["t"][0]), _ts(a["t"][1]))
        return lambda: ds.query("pts", bbox=a["box"], time=t, where=a["where"]), QUERY_COLS, ()

    def _query(self, runner, rng, kind, record=True, **draw) -> None:
        a = self._next(rng, kind, **draw)
        build, cols, need = self._build(kind, a)
        runner.op(kind, build, cols, lambda: self._expect(kind, a), need, record=record,
                  live_files=self.live_files)

    def warmup(self, runner, traced: bool) -> None:
        """One untimed cycle from a side stream, so the timed ops run with
        the driver's planning code partly compiled. knn is left out: cold,
        it costs 2-3 s of the warm-up, and always slower than the median,
        it moves no median."""
        rng = np.random.default_rng([self.seed, 9])
        for kind, u, on_point in self._cycle(rng):
            if kind != "knn":
                self._query(runner, rng, kind, record=False, u=u, on_point=on_point)

    def _cycle(self, r) -> list:
        ops = []
        for kind in dict.fromkeys(self.CYCLE):
            m = self.CYCLE.count(kind)
            # half on a stored point; an odd one out falls either way
            on_point = r.permutation(m) < (m + int(r.integers(0, 2))) // 2
            ops += [(kind, u, bool(c)) for u, c in zip(gen.strata(r, m), on_point)]
        return [ops[i] for i in r.permutation(len(ops))]

    def step(self, runner) -> None:
        if not self.pending:
            self.pending = self._cycle(self.qrng)
        kind, u, on_point = self.pending.pop()
        self._query(runner, self.qrng, kind, u=u, on_point=on_point)

    def summary(self, runner) -> tuple[dict, dict]:
        lat = [o.ms for o in runner.ops]
        py = [o.ms for o in runner.ops if o.kind in self.PYTHON_KINDS]
        jvm = [o.ms for o in runner.ops if o.kind not in self.PYTHON_KINDS]
        t, label, n = tail(lat)
        by_kind = {}
        for o in runner.ops:
            by_kind.setdefault(o.kind, []).append(o.ms)
        # the rate one client sustains at the declared mix: per-kind mean
        # latency weighted by the cycle, so the rate does not depend on
        # where in a cycle the run stopped
        cycle_ms = sum(float(np.mean(by_kind[k])) for k in self.CYCLE if k in by_kind)
        e2e = {"jvm_op_p50_ms": median(jvm), "python_op_p50_ms": median(py)}
        detail = {"query_p50_ms": median(lat), "query_tail_ms": t, "tail_percentile": label,
                  "n": n, "queries_per_s": len(self.CYCLE) / (cycle_ms / 1e3),
                  "ms": [(o.kind, round(o.ms, 1)) for o in runner.ops],
                  "p50_ms_by_kind": {k: median(v) for k, v in by_kind.items()},
                  "n_by_kind": {k: len(v) for k, v in by_kind.items()}}
        return e2e, detail


class JoinBatch:
    """One large batch join per op over hotspot-skewed points: the
    all-JVM box join and the polyfill + Arrow-refine polygon join."""

    name = "join_batch"
    N_POINTS = 100_000
    N_BOXES = 2_000
    N_POLYGONS = 200
    FILES = 8
    # a traced run then has a traced and an untraced sample of each join
    MIN_STEPS = 2
    WARMUP_PASSES = 4

    def setup(self, spark, work: str, seed: int) -> None:
        import pandas as pd

        from geowave_spark.geom.wkb import Geometry, wkb_dumps
        from geowave_spark.sources.icetable import IceTable

        rng = np.random.default_rng(seed)
        self.p = gen.points(rng, self.N_POINTS)
        self.boxes = gen.boxes(rng, self.p, self.N_BOXES, 0.01, 0.5)
        self.rings = gen.polygon_pool(rng, self.p, self.N_POLYGONS, 0.02, 1.0)
        self.commits = []
        self.pts = _commit_points(spark, os.path.join(work, "pts"), self.p, self.FILES,
                                  self.commits)
        self.box_t = IceTable(os.path.join(work, "boxes"))
        _commit(self.box_t, spark.createDataFrame(pd.DataFrame(self.boxes)).coalesce(1),
                sum(a.nbytes for a in self.boxes.values()), self.commits)
        geoms = pd.DataFrame({
            "s_suppkey": np.arange(len(self.rings), dtype=np.int64),
            "geom": [wkb_dumps(Geometry("Polygon", [r])) for r in self.rings],
        })
        self.poly_t = IceTable(os.path.join(work, "polys"))
        _commit(self.poly_t, spark.createDataFrame(geoms).coalesce(1),
                8 * len(geoms) + sum(len(g) for g in geoms["geom"]), self.commits)
        self.spark = spark
        self._oracle = None

    def expect(self):
        if self._oracle is None:
            sp = oracle.SortedPoints(self.p)
            self._oracle = {"box": oracle.box_join(sp, self.boxes),
                            "geom": oracle.geom_join(sp, self.rings)}
        return self._oracle

    def _ops(self, runner, record=True):
        from geowave_spark.operators.geom_join import geom_point_join
        from geowave_spark.operators.spatial_join import box_point_join

        s = self.spark
        n_pts = len(self.pts.files())
        runner.op("box_point_join",
                  lambda: box_point_join(self.pts.read(s), self.box_t.read(s)),
                  ("event_id", "c_custkey"), lambda: self.expect()["box"],
                  (("join", 1),), record=record,
                  live_files=n_pts + len(self.box_t.files()))
        runner.op("geom_point_join",
                  lambda: geom_point_join(self.pts.read(s), self.poly_t.read(s),
                                          "intersects", geom_key="s_suppkey"),
                  ("event_id", "s_suppkey"), lambda: self.expect()["geom"],
                  (("join", 1), ("ArrowEvalPython", 1)), record=record,
                  live_files=n_pts + len(self.poly_t.files()))

    def warmup(self, runner, traced: bool) -> None:
        # the first passes are still compiling: after two warm-up passes
        # the first two timed passes still ran 30-50 % slower than the
        # rest, and with only 5-9 passes in a run they moved its median
        for _ in range(self.WARMUP_PASSES):
            self._ops(runner, record=False)
        if traced:
            self.layer = self.candidates(runner)

    def candidates(self, runner) -> dict:
        """box_point_join's candidate count: the public keying pieces
        composed into the (res, cell) equi-join without the refine."""
        from pyspark.sql import functions as F

        from geowave_spark.operators.spatial_join import boxes_with_cells, points_keyed_by_res

        s = self.spark
        b = F.broadcast(boxes_with_cells(self.box_t.read(s)))
        keyed = points_keyed_by_res(self.pts.read(s), b.select("res").distinct())
        cand = keyed.join(b.withColumnRenamed("res", "_bres"),
                          (keyed["res"] == F.col("_bres")) & (keyed["_jcell"] == b["cell"]))
        n_keyed = runner.materialize(keyed, ("event_id",))[0]
        n_cand = runner.materialize(cand, ("event_id",))[0]
        return {"index.point_dup_factor": n_keyed / self.N_POINTS,
                "operators.join.candidates_per_result": n_cand / max(self.expect()["box"][0], 1)}

    def step(self, runner) -> None:
        self._ops(runner)

    def summary(self, runner) -> tuple[dict, dict]:
        box = [o.ms for o in runner.ops if o.kind == "box_point_join"]
        geo = [o.ms for o in runner.ops if o.kind == "geom_point_join"]
        e2e = {"jvm_op_p50_ms": median(box), "python_op_p50_ms": median(geo)}
        detail = {"join_box_points_per_s": self.N_POINTS / (median(box) / 1e3),
                  "join_geom_points_per_s": self.N_POINTS / (median(geo) / 1e3),
                  "passes": min(len(box), len(geo)),
                  "ms": {"box_point_join": [round(v, 1) for v in box],
                         "geom_point_join": [round(v, 1) for v in geo]},
                  "pairs": {"box": self.expect()["box"][0], "geom": self.expect()["geom"][0]}}
        return e2e, detail


WORKLOADS = {w.name: w for w in (QueryMix, JoinBatch)}
