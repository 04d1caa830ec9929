"""Two-parallelism scaling evidence (north-rule criterion).

No real cluster exists in this sandbox, so the N-vs-4N-executor
scaling criterion is evidenced by running the SAME heavy jobs at two
local parallelism levels (default local[8] vs local[32]) on the same
input and reporting throughput at both plus

    efficiency = (T_small / T_large) / (cores_large / cores_small)

Each level runs in its OWN subprocess (fresh JVM — no shared executor
state, mirrors separate cluster deployments); per-job wall time is
measured after a warmup action so JVM/JIT startup is excluded from the
job timings (it would never amortize differently across cluster sizes).

Jobs (the north-rule metrics):
  spatial_join   — points×boxes containment join at sf (rows/sec of
                   input points)
  poly_join      — points×octagon convex-polygon join
  tile_cut_merge — image tile assignment + pixel cut + mosaic merge
                   (images/sec)
  kde            — Gaussian-splat heatmap at level 10

Usage: python tools/scaling_bench.py [--cpus 8,32] [--sf DIR] [--n-images N]
Writes one JSON line per level plus a summary (also appended to
BENCH.md by the caller).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

# the checkout this script lives in; the worker imports it through
# PYTHONPATH, which Spark also passes on to its Python workers
# (PYTHONSAFEPATH keeps the working directory, maybe another checkout,
# off their path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
cpus = sys.argv[1]
sf_dir = sys.argv[2]
n_img = int(sys.argv[3])
scale = int(sys.argv[4])
jobs = set(sys.argv[5].split(",")) if len(sys.argv) > 5 and sys.argv[5] else None
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName(f"scaling-bench-{cpus}")
    .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 8, 16)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.driver.memory", "48g")
    # throughput GC: stop-the-world pauses are the serial fraction of a
    # local-mode join emitting billions of rows — ParallelGC collects
    # with all cores, shrinking the Amdahl term that otherwise caps the
    # many-thread leg (G1's concurrent cycles trade throughput for
    # latency the bench doesn't need)
    .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F
from geowave_spark.operators.spatial_join import box_point_join
from geowave_spark.operators.poly_join import octagon_point_join
from geowave_spark.operators.kde import kde_level
from geowave_spark.operators.tiling import tile_cut_and_merge
from geowave_spark.sources.images import images_table
from geowave_spark.sources.testgeo import customer_boxes, events_points, supplier_octagons, xy_cols

boxes = customer_boxes(spark, sf_dir)
octs = supplier_octagons(spark, sf_dir)
n_base = events_points(spark, sf_dir).count()  # warmup + base size
# scaled point side: the SAME deterministic key->coordinate derivation
# as events_points, extended to scale*N ids (identical distribution and
# hotspot skew) — big enough that compute dominates fixed overhead, so
# the two-parallelism comparison measures the jobs, not job setup
n_pts = n_base * scale
pts = spark.range(0, n_pts, numPartitions=int(cpus) * 8).select(
    F.col("id").alias("event_id"), *xy_cols(F.col("id"))
)

times, counts = {}, {}

def run(name, make_df, reuse_df=False, always=False):
    # best of 2: the first execution pays one-time JIT/codegen compile,
    # which amortizes away on a long-running cluster; the second run
    # measures steady-state throughput at this parallelism. make_df is
    # called fresh per iteration so operator-internal persists (e.g.
    # kde's grid cache) cannot leak one run's work into the next.
    # reuse_df=True (jobs with no internal persist) keeps ONE DataFrame
    # across iterations so iteration 2 re-executes the already-analyzed,
    # already-compiled plan — per-action driver fixed cost (analysis +
    # whole-stage codegen compile) is identical at every cluster size
    # and would otherwise bias the small-time leg of the efficiency
    # ratio (it never amortizes differently across cluster sizes).
    if jobs is not None and name not in jobs and not always:
        return
    best = None
    df = make_df() if reuse_df else None
    for _ in range(2):
        if name != "tile_cut_merge":
            # CacheManager matches by logical plan — without this the
            # second kde run would read the first run's persisted grid.
            # (The tile job keeps its cache: the persisted IMAGE INPUT
            # is deliberately outside the timed cut+merge.)
            spark.catalog.clearCache()
        if not reuse_df:
            df = make_df()
        t0 = time.time()
        counts[name] = df.count()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    times[name] = round(best, 3)

# same-leg machine ceiling: a pure-JVM embarrassingly-parallel job
# (range → hash → max) with no joins, no Python, no skew. Whatever
# efficiency THIS job reaches is the host's scaling ceiling for the
# leg pair (sandbox vCPUs share power/cache with neighbors); engine
# jobs are reported raw AND normalized against it.
# a selective filter keeps the hash evaluation alive under count()'s
# column pruning (count over an agg would optimize the work away)
# size the ceiling job so per-job fixed overhead (~0.5-1 s submit +
# JIT) stays a small fraction of the many-core leg — a 4B-row probe
# finishes in ~2 s at 16 cores and reads as a false 0.5 ceiling
ceil_rows = int(os.environ.get("SPARK_GRAFT_CEIL_ROWS", "4000000000"))
ceil_df = spark.range(0, ceil_rows, numPartitions=int(cpus) * 8).where(
    F.xxhash64("id") % 1_000_000_000 == 7
)
run("jvm_baseline", lambda: ceil_df, reuse_df=True, always=True)

run("spatial_join", lambda: box_point_join(pts, boxes), reuse_df=True)
from geowave_spark.index.xz import xz_box_point_join
run("xz_join", lambda: xz_box_point_join(pts, boxes), reuse_df=True)
run("poly_join", lambda: octagon_point_join(pts, octs), reuse_df=True)
run("kde", lambda: kde_level(pts, 10))
if jobs is not None and "geom_join_big" in jobs:
    # fact×fact general-geometry join: at --scale 128 BOTH sides are
    # above BC_MAX_BYTES (~80 MB tracks WKB, ~73 MB lshapes WKB); the
    # shared dimension collect (_collect_dimension) is patched to read
    # nothing, so at every scale both sides take the fact path and no
    # side is read to the driver (TieredSpatialJoin.java's own scale
    # regime). scatter_only keys skip the hotspot mode so the job
    # measures shuffle-refine scaling, not a deliberate quadratic
    # hotspot; radii/deltas are shrunk 16x to keep pair selectivity
    # scale-appropriate at 1M x 600k geometries.
    from geowave_spark.operators import geom_join as GJ
    from geowave_spark.sources.testgeo import lshapes_from_keys, tracks_from_keys

    _orig_collect = GJ._collect_dimension
    GJ._collect_dimension = lambda *a, **k: None
    try:
        trk = tracks_from_keys(
            spark, 1_000_000 * scale // 128, int(cpus) * 8,
            d_mod=16_000, d_min=3_000, scatter_only=True,
        )
        lsh = lshapes_from_keys(
            spark, 600_000 * scale // 128, int(cpus) * 8,
            r_mod=24_000, r_min=4_000, scatter_only=True,
            # quadratic key map: affine keys on BOTH sides collapse the
            # pair space to key-difference trials (zero or banded
            # overlaps) — see lshapes_from_keys docstring
            decorrelate=True,
        )
        # timed END-TO-END per iteration (build + candidate join +
        # refine): geom_geom_join's build keys each fact side once into
        # an eager localCheckpoint (the polyfill, the dominant cost) and
        # aggregates its flags and levels, so run()'s pre-t0 make_df
        # would exclude that — hand-time the whole call instead (same
        # best-of-2, same clearCache-between-iterations discipline)
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            counts["geom_join_big"] = GJ.geom_geom_join(
                trk, lsh, "intersects",
                left_key="p_partkey", right_key="s_suppkey",
            ).count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        times["geom_join_big"] = round(best, 3)
    finally:
        GJ._collect_dimension = _orig_collect
if jobs is None or "tile_cut_merge" in jobs:
    imgs = images_table(spark, n_img, w=64, h=64, partitions=int(cpus) * 4)
    imgs = imgs.persist(); imgs.count()  # materialize generation outside the timed cut+merge
    run("tile_cut_merge", lambda: tile_cut_and_merge(imgs, 600_000, tile_size=64))
if jobs is not None and "format_parse" in jobs:
    # raw-format ingest scaling (round-5 wave 13): parse a scale//4-x
    # replicated GDELT fixture tree through the full 58-column
    # split/try_cast/filter plan. Embarrassingly parallel by
    # construction (one task per file split, zero shuffle) — the job
    # evidences that the reader plans actually realize that shape.
    # The replicated tree is data PRODUCTION, built once outside the
    # timed window (same stance as the bench fixture warmups).
    import glob as _glob

    from geowave_spark.plans.store import CACHE_ROOT
    from geowave_spark.sources.formats import (
        build_dir_once,
        formats_fixture_dir,
        read_gdelt,
    )

    src = formats_fixture_dir(sf_dir) + "/gdelt"
    rep = max(scale // 4, 1)

    def replicate(tmp):
        for f in sorted(_glob.glob(src + "/*.export.csv")):
            data = open(f, "rb").read()
            base = os.path.basename(f)[: -len(".export.csv")]
            for i in range(rep):
                with open(
                    os.path.join(tmp, f"{base}_{i}.export.csv"), "wb"
                ) as out:
                    out.write(data)

    scaled = build_dir_once(
        os.path.join(
            CACHE_ROOT, f"gdelt_scaled_{os.path.basename(sf_dir.rstrip('/'))}_{rep}"
        ),
        replicate,
    )
    run("format_parse", lambda: read_gdelt(spark, scaled), reuse_df=True)

print(json.dumps({
    "cpus": int(cpus),
    "sf": sf_dir,
    "n_points": n_pts,
    "n_images": n_img,
    "times": times,
    "counts": counts,
    "throughput": {
        k: v
        for k, v in [
            ("spatial_join_pts_per_sec", round(n_pts / times["spatial_join"], 1) if "spatial_join" in times else None),
            ("poly_join_pts_per_sec", round(n_pts / times["poly_join"], 1) if "poly_join" in times else None),
            ("xz_join_pts_per_sec", round(n_pts / times["xz_join"], 1) if "xz_join" in times else None),
            ("kde_pts_per_sec", round(n_pts / times["kde"], 1) if "kde" in times else None),
            ("tile_images_per_sec", round(n_img / times["tile_cut_merge"], 1) if "tile_cut_merge" in times else None),
            ("geom_join_big_geoms_per_sec", round((1_600_000 * scale // 128) / times["geom_join_big"], 1) if "geom_join_big" in times else None),
        ]
        if v is not None
    },
}))
spark.stop()
"""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n-images", type=int, default=16000)
    ap.add_argument("--scale", type=int, default=16, help="point-side replication")
    ap.add_argument("--jobs", default="", help="comma-separated job subset")
    args = ap.parse_args()
    levels = [c.strip() for c in args.cpus.split(",")]

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYTHONSAFEPATH"] = "1"
    results = []
    for cpus in levels:
        out = subprocess.run(
            [sys.executable, "-c", WORKER, cpus, args.sf, str(args.n_images), str(args.scale), args.jobs],
            capture_output=True,
            text=True,
            timeout=3600,
            env=env,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(out.stdout[-2000:], file=sys.stderr)
            print(out.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"worker at local[{cpus}] produced no JSON")
        rec = json.loads(line[-1])
        results.append(rec)
        print(json.dumps(rec))

    if len(results) == 2:
        small, large = results
        ratio = large["cpus"] / small["cpus"]
        eff = {}
        for job in small["times"]:
            speedup = small["times"][job] / large["times"][job]
            eff[job] = round(speedup / ratio, 3)
        ceiling = eff.get("jvm_baseline")
        summary = {
            "core_ratio": ratio,
            "scaling_efficiency": eff,
            "machine_ceiling": ceiling,
            # the host's own ceiling for this leg pair, measured in the
            # SAME subprocesses with a join-free pure-JVM job — engine
            # efficiency normalized by it isolates plan-level scaling
            # from sandbox power/cache sharing
            "normalized_efficiency": (
                {
                    k: round(min(v / ceiling, 1.0) if ceiling else v, 3)
                    for k, v in eff.items()
                    if k != "jvm_baseline"
                }
                if ceiling
                else None
            ),
            "criterion": "efficiency >= 0.8 per north rule (sandbox two-parallelism evidence)",
        }
        print(json.dumps(summary))


if __name__ == "__main__":
    main()
