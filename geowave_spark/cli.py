"""Command-line surface — the `geowave` CLI analog, Spark-first.

Mirrors the reference's operation groups (core/cli + core/store/cli +
core/ingest/operations):

  ingest listplugins      ListIngestPluginsCommand.java
  ingest localtogw        LocalToGeoWaveCommand.java (+ the distributed
                          SparkToGeoWaveCommand — here they are the same
                          thing: every ingest IS a Spark job)
  type list / describe / rm   cli/type/{ListTypes,DescribeType,RemoveType}Command.java
  query                   cli/query/GWQLQuery.java with console/CSV
                          output (ConsoleQueryOutputFormat / CSVQueryOutputFormat)
  stat list               cli/stats/ListStatsCommand.java

A "store" is a directory of IceTable snapshot tables, one per type at
``<store>/<name>`` — the single-backend stance of SURVEY.md §2.1
applied to the CLI (the reference's 9 `store add` backends collapse to
a path). The CLI keeps no metadata of its own: a type is a directory
holding ``metadata/version-hint.text``, its format is a table property
and its row count the manifest's footer stats. Every write — ingest,
analytic output, DELETE — is one atomic IceTable commit, after which
the type keeps only its current snapshot (``expire_snapshots``), so
superseded data files do not pile up. Everything runs through the same
engine surfaces the driver gate checks: sources/formats.ingest_directory
→ IceTable.commit_write, api.DataStore + plans/gwql for queries,
deletes and stats.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from geowave_spark.results import BLOCK_ROWS, result_rows


def _spark(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("geowave-spark-cli")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "16")
        # applies only when this process creates the JVM (the real CLI
        # case); a 1g default heap OOMs the iterative analytics
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _table(store: str, name: str):
    """The IceTable of type ``name``, or None when the store holds no
    such type — checked before opening, since opening a table creates
    its directory."""
    from geowave_spark.sources.icetable import IceTable

    path = os.path.join(store, name)
    if not os.path.isfile(os.path.join(path, "metadata", "version-hint.text")):
        return None
    return IceTable(path)


def _type_names(store: str) -> list[str]:
    if not os.path.isdir(store):
        return []
    return [n for n in sorted(os.listdir(store)) if _table(store, n) is not None]


def _commit_type(store: str, name: str, df, fmt: str) -> int:
    """Land ``df`` as type ``name`` in one overwrite snapshot, dropping
    the type's older snapshots and their files; point types store the
    index ``cell`` column DataStore.add_type gives them. Returns the
    committed row count (manifest footer stats)."""
    from geowave_spark.api import indexed_frame
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(os.path.join(store, name))
    t.commit_write(indexed_frame(df), mode="overwrite")
    t.set_properties(format=fmt)
    t.expire_snapshots(keep_last=1)
    return t.merged_column_stats()["n_rows"]


def _datastore(spark, store: str):
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    for name in _type_names(store):
        ds.add_snapshot_type(name, _table(store, name))
    return ds


def _unknown(name: str) -> int:
    print(f"unknown type: {name}", file=sys.stderr)
    return 1


_EMIT_BLOCK_ROWS = BLOCK_ROWS


def _emit(df, fmt: str, limit: int | None, out=None) -> None:
    """Print a query result in blocks of ``_EMIT_BLOCK_ROWS`` rows, so
    the driver never holds the whole result (``results.result_rows``).

    A column prints the same way in every block, set by its Spark type
    rather than by the values one block happens to hold: integer
    columns stay integers when a block has nulls, console cells are
    each value's own text (floats as ``repr``, nulls as ``NULL``) and a
    console column is as wide as its widest cell so far, so it never
    narrows from one block to the next. Timestamps print as
    session-time-zone wall clock, as ``toPandas`` would give them (a
    collected Row would render them in the host's zone)."""
    import itertools

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType, TimestampType

    out = out if out is not None else sys.stdout  # bind at call time
    if limit is not None:
        df = df.limit(limit)
    df = df.withColumns({
        f.name: F.col(f"`{f.name}`").cast("timestamp_ntz")
        for f in df.schema.fields
        if isinstance(f.dataType, TimestampType)
    })
    ints = [
        i for i, f in enumerate(df.schema.fields)
        if isinstance(f.dataType, IntegralType)
    ]
    widths = [len(c) for c in df.columns]
    rows, n = result_rows(df), 0
    while True:
        block = list(itertools.islice(rows, _EMIT_BLOCK_ROWS))
        if n and not block:
            break
        if fmt == "csv":
            pdf = pd.DataFrame(block, columns=df.columns)
            for i in ints:
                pdf.isetitem(i, pd.array([r[i] for r in block], dtype="Int64"))
            pdf.to_csv(out, index=False, header=not n)
        else:  # console
            cells = [[_console_cell(v) for v in r] for r in block]
            for r in cells:
                widths = [max(w, len(c)) for w, c in zip(widths, r)]
            if not n:
                cells.insert(0, df.columns)
            for r in cells:
                out.write(" ".join(c.rjust(w) for c, w in zip(r, widths)) + "\n")
        n += len(block)
        if len(block) < _EMIT_BLOCK_ROWS:
            break
    if fmt != "csv":
        out.write(f"({n} rows)\n")


def _console_cell(v) -> str:
    if v is None:
        return "NULL"
    return repr(v) if isinstance(v, float) else str(v)


# ------------------------------------------------------------------ verbs


def cmd_ingest_listplugins(args) -> int:
    from geowave_spark.sources.formats import FORMATS

    for name in sorted(FORMATS):
        print(name)
    return 0


def cmd_ingest_localtogw(args) -> int:
    """localToGW: walk a directory, route files to format plugins, and
    land each format as a type (an IceTable) in the store."""
    from geowave_spark.sources.formats import ingest_directory

    spark = _spark(args.cpus)
    frames = ingest_directory(
        spark, args.src, formats=args.formats.split(",") if args.formats else None
    )
    if not frames:
        print("no ingestable files found", file=sys.stderr)
        return 1
    for fmt, df in sorted(frames.items()):
        name = args.type_prefix + fmt
        n = _commit_type(args.store, name, df, fmt)
        print(f"ingested {n} rows into type '{name}'")
    return 0


def cmd_type_list(args) -> int:
    """One line per type: name, format (a table property) and rows
    (manifest footer stats — exact, as the CLI commits no
    merge-on-read deletes)."""
    for name in _type_names(args.store):
        t = _table(args.store, name)
        fmt = t.properties().get("format", "?")
        print(f"{name}\t{fmt}\t{t.merged_column_stats()['n_rows']} rows")
    return 0


def cmd_type_describe(args) -> int:
    t = _table(args.store, args.type_name)
    if t is None:
        return _unknown(args.type_name)
    for f in t.read(_spark(args.cpus)).schema.fields:
        print(f"{f.name}\t{f.dataType.simpleString()}")
    return 0


def cmd_type_rm(args) -> int:
    if _table(args.store, args.type_name) is None:
        return _unknown(args.type_name)
    shutil.rmtree(os.path.join(args.store, args.type_name))
    print(f"removed type '{args.type_name}'")
    return 0


def cmd_query(args) -> int:
    """GWQL statement against the store's types: SELECT prints rows;
    DELETE commits one delete snapshot to the type, drops the
    pre-delete snapshots and reports the count (DataStore.gwql on a
    snapshot type — durable and atomic)."""
    spark = _spark(args.cpus)
    result = _datastore(spark, args.store).gwql(args.statement)
    if isinstance(result, int):
        from geowave_spark.plans.gwql import parse_statement

        # the parser's type name: GWQL also takes quoted names
        name = parse_statement(args.statement).table
        _table(args.store, name).expire_snapshots(keep_last=1)
        print(f"deleted {result} rows from '{name}'")
        return 0
    _emit(result, args.format, args.limit)
    return 0


def cmd_export(args) -> int:
    """`vector localexport` analog (extensions/adapters/vector/.../
    export/VectorLocalExportCommand.java — batched Avro DataFileWriter
    with deflate): export a type, optionally CQL-filtered, to one
    local Avro container (the reference's export format) or a GeoJSON
    FeatureCollection. A local single-file export is driver-side by
    nature; memory stays bounded (rows read in runs of partitions by
    ``results.result_rows`` + block flushing — the reference's
    batchSize)."""
    if _table(args.store, args.type_name) is None:
        return _unknown(args.type_name)
    ds = _datastore(_spark(args.cpus), args.store)
    df = (
        ds.cql(args.type_name, args.cql) if args.cql else ds.type(args.type_name)
    )
    if args.format == "avro":
        from geowave_spark.sources.avro import export_avro

        n = export_avro(df, args.out, block_records=args.batch_size)
    elif args.format == "shapefile":
        import numpy as np

        from geowave_spark.sources.shapefile import (
            SHAPE_POINT,
            write_shapefile,
        )

        if "x_u" not in df.columns or "y_u" not in df.columns:
            print("shapefile export needs (x_u, y_u) point geometry",
                  file=sys.stderr)
            return 1
        # dBase fields from the Spark schema: ints N(18,0), doubles
        # N(18,6), timestamps C(19) ISO, strings C(32); names truncate
        # to the 11-char dBase limit
        fields, getters = [], []
        for f in df.schema.fields:
            if f.name in ("x_u", "y_u"):
                continue
            s = f.dataType.simpleString()
            nm = f.name[:11]
            if s in ("int", "bigint", "smallint"):
                fields.append((nm, "N", 18, 0))
                getters.append((f.name, lambda v: v))
            elif s in ("double", "float"):
                fields.append((nm, "N", 18, 6))
                getters.append((f.name, lambda v: v))
            elif s == "timestamp":
                fields.append((nm, "C", 19, 0))
                getters.append(
                    (f.name, lambda v: v.isoformat(sep=" ") if v else None)
                )
            elif s == "string":
                fields.append((nm, "C", 32, 0))
                getters.append((f.name, lambda v: v))
            # other types (binary/array/map) have no dBase form: skipped
        shapes, records = [], []
        for row in result_rows(df):
            d = row.asDict()
            shapes.append(
                (SHAPE_POINT,
                 [np.array([[d["x_u"] / 1e6, d["y_u"] / 1e6]])])
            )
            records.append([g(d[name]) for name, g in getters])
        base = args.out[:-4] if args.out.endswith(".shp") else args.out
        write_shapefile(base, shapes, fields, records)
        n = len(shapes)
    else:  # geojson
        cols = [c for c in df.columns if c not in ("x_u", "y_u")]
        has_xy = "x_u" in df.columns and "y_u" in df.columns
        n = 0
        with open(args.out, "w") as f:
            f.write('{"type": "FeatureCollection", "features": [\n')
            for row in result_rows(df):
                d = row.asDict()
                geom = (
                    {
                        "type": "Point",
                        "coordinates": [d["x_u"] / 1e6, d["y_u"] / 1e6],
                    }
                    if has_xy
                    else None
                )
                props = {
                    k: (str(v) if not isinstance(
                        v, (int, float, str, bool, type(None))
                    ) else v)
                    for k, v in d.items()
                    if k in cols
                }
                feat = {
                    "type": "Feature",
                    "geometry": geom,
                    "properties": props,
                }
                f.write(("," if n else "") + json.dumps(feat) + "\n")
                n += 1
            f.write("]}\n")
    print(f"exported {n} rows from '{args.type_name}' to {args.out}")
    return 0


def cmd_analytic(args) -> int:
    """`geowave analytic <kde|kmeans|dbscan|nn>` analogs (the
    analytics CLI operations — KDECommand, KMeansSparkCommand,
    DBScanCommand, NearestNeighborCommand): run the engine operator
    over a store type's (x_u, y_u) points and land the result as a
    NEW type in the same store."""
    t = _table(args.store, args.type_name)
    if t is None:
        return _unknown(args.type_name)
    df = t.read(_spark(args.cpus))
    if "x_u" not in df.columns or "y_u" not in df.columns:
        print(f"type {args.type_name} has no (x_u, y_u) geometry",
              file=sys.stderr)
        return 1
    if args.sub == "kde":
        from geowave_spark.operators.kde import kde_level

        out = kde_level(df, args.level)
    elif args.sub == "kmeans":
        from geowave_spark.operators.clustering import kmeans_clusters

        out, centers = kmeans_clusters(df, args.k)
        for i, (cx, cy) in enumerate(centers):
            print(f"center {i}: ({cx / 1e6:.6f}, {cy / 1e6:.6f})")
    elif args.sub == "dbscan":
        from geowave_spark.operators.dbscan import dbscan

        out = dbscan(df, args.eps_u, args.min_pts, key=args.key)
    else:  # nn
        from geowave_spark.operators.nn_join import nn_self_join

        out = nn_self_join(df, args.max_dist_u, args.k, key=args.key)
    name = args.out_type
    if _table(args.store, name) is not None:
        # never clobber an existing type (and never overwrite a table
        # the lazy plan may still be reading from)
        print(
            f"type {name!r} already exists — `type rm` it first",
            file=sys.stderr,
        )
        return 1
    n = _commit_type(args.store, name, out, f"analytic:{args.sub}")
    print(f"analytic {args.sub}: {n} rows into type '{name}'")
    return 0


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def cmd_stat_list(args) -> int:
    """Per-type, per-field statistics: COUNT plus numeric MIN/MAX —
    the ListStatsCommand view over the engine's statistics surface.
    Each type is one GWQL aggregate, which the manifest's footer stats
    answer when they cover every field and one scan answers otherwise."""
    from geowave_spark.api import DataStore

    ds = DataStore(_spark(args.cpus))
    names = [args.type_name] if args.type_name else _type_names(args.store)
    for name in names:
        t = _table(args.store, name)
        if t is None:
            return _unknown(name)
        ds.add_snapshot_type(name, t)
        labels = [
            f.name
            for f in ds.type(name).schema.fields
            if f.dataType.simpleString()
            in ("int", "bigint", "double", "float", "smallint", "timestamp")
        ]
        aggs = ["COUNT(*)"] + [
            f"{fn}({_quoted(col)})" for col in labels for fn in ("MIN", "MAX")
        ]
        row = ds.gwql(f"SELECT {', '.join(aggs)} FROM {_quoted(name)}").collect()[0]
        print(f"{name}: COUNT = {row[0]}")
        for i, col in enumerate(labels):
            print(
                f"{name}.{col}: FIELD_MIN_MAX = "
                f"[{row[2 * i + 1]}, {row[2 * i + 2]}]"
            )
    return 0


# ------------------------------------------------------------------ main


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="geowave-spark",
        description="Spark-first GeoWave-equivalent CLI",
    )
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="ingest operations").add_subparsers(
        dest="sub", required=True
    )
    ing.add_parser("listplugins").set_defaults(fn=cmd_ingest_listplugins)
    lg = ing.add_parser("localtogw", help="ingest a directory into a store")
    lg.add_argument("src")
    lg.add_argument("store")
    lg.add_argument("--formats", help="comma-separated plugin subset")
    lg.add_argument("--type-prefix", default="", dest="type_prefix")
    lg.set_defaults(fn=cmd_ingest_localtogw)

    ty = sub.add_parser("type", help="type operations").add_subparsers(
        dest="sub", required=True
    )
    tl = ty.add_parser("list")
    tl.add_argument("store")
    tl.set_defaults(fn=cmd_type_list)
    td = ty.add_parser("describe")
    td.add_argument("store")
    td.add_argument("type_name")
    td.set_defaults(fn=cmd_type_describe)
    tr = ty.add_parser("rm")
    tr.add_argument("store")
    tr.add_argument("type_name")
    tr.set_defaults(fn=cmd_type_rm)

    q = sub.add_parser("query", help="run a GWQL statement")
    q.add_argument("store")
    q.add_argument("statement")
    q.add_argument("--format", choices=("console", "csv"), default="console")
    q.add_argument("--limit", type=int)
    q.set_defaults(fn=cmd_query)

    an = sub.add_parser("analytic", help="analytics operations").add_subparsers(
        dest="sub", required=True
    )

    def _an(name, **extra):
        p_ = an.add_parser(name)
        p_.add_argument("store")
        p_.add_argument("type_name")
        p_.add_argument("--out-type", required=True, dest="out_type")
        for flag, kw in extra.items():
            p_.add_argument(flag, **kw)
        p_.set_defaults(fn=cmd_analytic)
        return p_

    _an("kde", **{"--level": dict(type=int, default=8)})
    _an("kmeans", **{"--k": dict(type=int, default=8)})
    _an(
        "dbscan",
        **{
            "--eps-u": dict(type=int, required=True, dest="eps_u"),
            "--min-pts": dict(type=int, default=3, dest="min_pts"),
            "--key": dict(default="eventid"),
        },
    )
    _an(
        "nn",
        **{
            "--max-dist-u": dict(type=int, required=True, dest="max_dist_u"),
            "--k": dict(type=int, default=5),
            "--key": dict(default="eventid"),
        },
    )

    ex = sub.add_parser("export", help="vector localexport analog")
    ex.add_argument("store")
    ex.add_argument("type_name")
    ex.add_argument("--out", required=True)
    ex.add_argument(
        "--format", choices=("avro", "geojson", "shapefile"), default="avro"
    )
    ex.add_argument("--cql", help="optional (E)CQL filter")
    ex.add_argument("--batch-size", type=int, default=10_000,
                    dest="batch_size")
    ex.set_defaults(fn=cmd_export)

    st = sub.add_parser("stat", help="statistics").add_subparsers(
        dest="sub", required=True
    )
    sl = st.add_parser("list")
    sl.add_argument("store")
    sl.add_argument("--type", dest="type_name")
    sl.set_defaults(fn=cmd_stat_list)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
