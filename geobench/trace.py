"""Traced-run instrumentation: timing shims around the public entry
points of each engine layer, installed from the benchmark's own files
(the engine itself is not modified), plus the roll-up of spans and
executed-plan metrics into the per-layer metrics.

Spans are (name, layer, start, end, parent, op id), kept in memory and
written out when the run ends. Ops of each kind alternate traced /
untraced (the first of a kind is traced), so one traced run also
measures the shims' own overhead on every op kind. Spans of op id 0
come from the last set-up repetition (the input commits).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time

# (module, attribute or Class.method, layer, span name); a span name
# with a '#' counts the length of the call's result (ranges per query)
SHIMS = [
    ("geowave_spark.api", "DataStore.query", "plans", "plans.build"),
    ("geowave_spark.api", "DataStore.gwql", "plans", "plans.build"),
    ("geowave_spark.api", "DataStore.knn", "plans", "plans.build"),
    ("geowave_spark.plans.gwql", "parse_statement", "plans", "plans.gwql_compile"),
    ("geowave_spark.plans.gwql", "compile_filter", "plans", "plans.gwql_compile"),
    ("geowave_spark.sources.icetable", "IceTable.current_snapshot_id", "sources.icetable",
     "sources.icetable.snapshot_check"),
    ("geowave_spark.sources.icetable", "IceTable.read", "sources.icetable",
     "sources.icetable.read_plan"),
    ("geowave_spark.sources.icetable", "IceTable.scan", "sources.icetable",
     "sources.icetable.read_plan"),
    ("geowave_spark.sources.icetable", "IceTable.commit_write", "sources.icetable",
     "sources.icetable.commit"),
    ("geowave_spark.index.zorder", "bbox_ranges", "index", "index.decompose#"),
    ("geowave_spark.index.zorder", "ranges_from_grid", "index", "index.decompose#"),
    ("geowave_spark.index.hilbert", "hilbert_ranges", "index", "index.decompose#"),
    ("geowave_spark.operators.spatial_query", "bbox_query_dateline", "operators", "operators.query"),
    ("geowave_spark.operators.spatial_query", "polygon_query", "operators", "operators.query"),
    ("geowave_spark.operators.spatial_join", "box_point_join", "operators", "operators.join"),
    ("geowave_spark.operators.geom_join", "geom_point_join", "operators", "operators.join"),
    ("geowave_spark.operators.knn", "knn_auto", "operators", "operators.knn"),
    ("geowave_spark.geom.wkb", "wkb_dumps", "geom", "geom.wkb"),
    ("geowave_spark.geom.wkb", "wkb_loads", "geom", "geom.wkb"),
]

LAYERS = ("bench", "plans", "sources.icetable", "index", "operators", "geom", "spark")
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
            "MapInArrow", "FlatMapCoGroupsInPandas", "WindowInPandas")


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (name, layer, t0, t1, parent, op, count)
        self._stack: list[int] = []
        self._op = 0
        self._per_kind: dict[str, int] = {}
        self.active = False

    # ------------------------------------------------------------ spans

    def begin(self, op_id: int, kind: str) -> bool:
        """Start op ``op_id``; every other op of a kind is traced, the
        rest run with the shims switched off (the overhead baseline)."""
        seen = self._per_kind.get(kind, 0)
        self._per_kind[kind] = seen + 1
        self._op = op_id
        self.active = seen % 2 == 0
        if self.active:
            self._open(f"op.{kind}", "bench")
        return self.active

    def end(self) -> None:
        if self.active:
            self._close(None)
        self.active = False

    @contextlib.contextmanager
    def setup(self):
        """Trace a set-up repetition as op 0."""
        self._op, self.active = 0, True
        try:
            yield
        finally:
            self.active = False

    def _open(self, name, layer) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, layer, time.perf_counter(), None, parent, self._op, None])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, count) -> None:
        i = self._stack.pop()
        self.spans[i][3] = time.perf_counter()
        self.spans[i][6] = count

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        self._open(name, layer)
        try:
            yield
        finally:
            self._close(None)

    # ------------------------------------------------------------ shims

    def install(self) -> None:
        for mod_name, attr, layer, name in SHIMS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), layer, name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer, name)
            # rebind every module that imported the function by name
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("geowave_spark") and \
                        getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        counted = name.endswith("#")
        name = name.rstrip("#")

        @functools.wraps(fn)
        def shim(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            tracer._open(name, layer)
            out = None
            try:
                out = fn(*a, **kw)
                return out
            finally:
                tracer._close(len(out) if counted and out is not None else None)

        return shim

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("name", "layer", "start", "end", "parent", "op", "count"), s))) + "\n")

    # ----------------------------------------------------------- roll-up

    def span_metrics(self, n_traced: int) -> dict:
        """Per traced op: time in each shimmed span (outermost occurrence
        only; 0 when the shim saw no call), layer self times and
        decomposition range counts. Set-up spans (op 0) give the commit
        time per commit and are left out of the per-op figures."""
        n = max(n_traced, 1)
        total = {name.rstrip("#"): 0.0 for _, _, _, name in SHIMS}
        self_ms = {layer: 0.0 for layer in LAYERS}
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s[4] >= 0:
                child_ms[s[4]] += s[3] - s[2]
        ranges = 0
        commits = []
        for i, (name, layer, t0, t1, parent, op, count) in enumerate(self.spans):
            dur = t1 - t0
            if name == "sources.icetable.commit":
                commits.append(dur * 1e3)
            if op == 0:
                continue
            self_ms[layer] += (dur - child_ms[i]) * 1e3
            if not self._nested_in_same(i):
                total[name] = total.get(name, 0.0) + dur * 1e3
            if name == "index.decompose":
                ranges += count or 0
        out = {f"{k}_ms": v / n for k, v in total.items() if not k.startswith("op.")}
        out.update({f"layer.{k}.self_ms": v / n for k, v in self_ms.items()})
        out["index.ranges_per_query"] = ranges / n
        out["sources.icetable.commit_ms"] = sum(commits) / len(commits) if commits else None
        return out

    def _nested_in_same(self, i: int) -> bool:
        name, p = self.spans[i][0], self.spans[i][4]
        while p >= 0:
            if self.spans[p][0] == name:
                return True
            p = self.spans[p][4]
        return False


def plan_metrics(ops) -> dict:
    """Spark executed-plan metrics rolled up per op (means over ops that
    carry a plan) and ratios of totals."""
    planned = [o for o in ops if o.nodes]
    n = max(len(planned), 1)
    acc = {k: 0.0 for k in (
        "spark.scan.time_ms", "spark.python.init_ms", "spark.python.bytes",
        "spark.shuffle.write_bytes", "spark.shuffle.write_ms", "spark.shuffle.fetch_wait_ms",
        "spark.broadcast.bytes", "spark.broadcast.collect_ms", "geom.refine_python_ms",
        "index.polyfill_python_ms", "spark.jobs_per_op", "spark.tasks_per_op")}
    scan_rows = result_rows = 0
    files_frac = []
    bc_per_row = []
    from geobench.runner import SCAN_PREFIXES

    for o in planned:
        result_rows += o.rows
        files = 0
        for name, m, cached in o.nodes:
            if name.startswith(SCAN_PREFIXES) and not cached:
                acc["spark.scan.time_ms"] += m.get("scanTime", 0)
                scan_rows += m.get("numOutputRows", 0)
                files += m.get("numFiles", 0)
            if name in PY_NODES:
                acc["spark.python.init_ms"] += m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)
                acc["spark.python.bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
                if name == "ArrowEvalPython":
                    key = "index.polyfill_python_ms" if cached else "geom.refine_python_ms"
                    acc[key] += m.get("pythonTotalTime", 0)
            if name == "Exchange":
                acc["spark.shuffle.write_bytes"] += m.get("shuffleBytesWritten", 0)
                acc["spark.shuffle.write_ms"] += m.get("shuffleWriteTime", 0)
                acc["spark.shuffle.fetch_wait_ms"] += m.get("fetchWaitTime", 0)
            if name == "BroadcastExchange":
                acc["spark.broadcast.bytes"] += m.get("dataSize", 0)
                acc["spark.broadcast.collect_ms"] += m.get("collectTime", 0)
                if o.kind == "box_point_join" and m.get("numOutputRows"):
                    bc_per_row.append(m.get("dataSize", 0) / m["numOutputRows"])
        acc["spark.jobs_per_op"] += o.jobs
        acc["spark.tasks_per_op"] += o.tasks
        if "live_files" in o.extra and files:
            files_frac.append(files / o.extra["live_files"])
    out = {k: v / n for k, v in acc.items()}
    out["spark.scan.rows_per_result"] = scan_rows / max(result_rows, 1)
    out["sources.icetable.files_read_frac"] = sum(files_frac) / len(files_frac) if files_frac else 0.0
    out["spark.broadcast.bytes_per_row"] = max(bc_per_row) if bc_per_row else 0.0
    return out
