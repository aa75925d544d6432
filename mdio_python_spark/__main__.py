"""Thin CLI over the library (the reference's CLI surface,
``src/mdio/__main__.py:76-88`` — note its import/export bodies call pre-v1
APIs and are stale; parity target is the library, re-exposed here).

    python -m mdio_python_spark info   <store>
    python -m mdio_python_spark import <segy> <store> --template NAME
    python -m mdio_python_spark export <store> <segy>
    python -m mdio_python_spark copy   <store> <dest>
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mdio_python_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_info = sub.add_parser("info", help="print store manifest summary")
    p_info.add_argument("store")

    p_imp = sub.add_parser("import", help="SEG-Y -> store")
    p_imp.add_argument("segy")
    p_imp.add_argument("store")
    p_imp.add_argument("--template", default="PostStack3DTime")

    p_exp = sub.add_parser("export", help="store -> SEG-Y")
    p_exp.add_argument("store")
    p_exp.add_argument("segy")

    p_cp = sub.add_parser(
        "copy",
        help="store -> store (metadata+grid by default, like `mdio copy`; "
        "opt into data with --with-traces / --with-headers)",
    )
    p_cp.add_argument("src")
    p_cp.add_argument("dest")
    p_cp.add_argument(
        "--with-traces",
        action="store_true",
        help="also copy trace data (samples + headers)",
    )
    p_cp.add_argument(
        "--with-headers",
        action="store_true",
        help="also copy header columns (no samples)",
    )
    p_cp.add_argument(
        "--overwrite", action="store_true", help="overwrite the destination"
    )

    p_zex = sub.add_parser(
        "export-zarr", help="store -> xarray-convention zarr group"
    )
    p_zex.add_argument("store")
    p_zex.add_argument("zarr")
    p_zex.add_argument(
        "--zarr-format",
        type=int,
        choices=(2, 3),
        default=2,
        help="storage spec version (the reference's global format toggle)",
    )
    p_zex.add_argument(
        "--shard-factor",
        type=int,
        default=None,
        help="v3 only: sharding_indexed with N^ndim store chunks per shard "
        "file (cuts object-store file count; read granularity unchanged)",
    )

    p_zim = sub.add_parser(
        "import-zarr", help="MDIO-shaped zarr v2 cube -> store-format trace parquet"
    )
    p_zim.add_argument("zarr")
    p_zim.add_argument("out_parquet")

    args = p.parse_args(argv)

    if args.cmd == "info":
        # manifest-only: no Spark session needed (mirrors `mdio info`)
        import os

        with open(os.path.join(args.store, "manifest.json")) as f:
            manifest = json.load(f)
        ds = manifest["dataset"]
        out = {
            "name": ds["name"],
            "apiVersion": ds["api_version"],
            "dimensions": {d["name"]: d["size"] for d in ds["dimensions"]},
            "variables": [v["name"] for v in ds["variables"]],
            "chunks": manifest["chunks"],
            "stats": next(
                (v["stats"] for v in ds["variables"] if v.get("stats")), None
            ),
            "accessViews": list(manifest.get("accessViews", {})),
        }
        print(json.dumps(out, indent=2))
        return 0

    from mdio_python_spark.session import get_spark

    spark = get_spark("mdio-spark-cli")
    if args.cmd == "import":
        from mdio_python_spark.pipelines.ingest import segy_to_store
        from mdio_python_spark.schemas import default_registry

        ds = segy_to_store(
            spark, args.segy, args.store, default_registry().get(args.template)
        )
        print(f"ingested {ds.name}: dims " + ", ".join(f"{d.name}={d.size}" for d in ds.dimensions))
    elif args.cmd == "export":
        from mdio_python_spark.pipelines.export import store_to_segy

        n = store_to_segy(spark, args.store, args.segy)
        print(f"exported {n} traces -> {args.segy}")
    elif args.cmd == "export-zarr":
        from mdio_python_spark.sources.zarr_store import store_to_zarr

        n = store_to_zarr(
            spark, args.store, args.zarr,
            zarr_format=args.zarr_format, shard_factor=args.shard_factor,
        )
        print(f"exported {n} traces -> {args.zarr} (zarr v{args.zarr_format})")
    elif args.cmd == "import-zarr":
        from mdio_python_spark.sources.zarr_store import zarr_cube_to_df

        df = zarr_cube_to_df(spark, args.zarr)
        df.write.mode("overwrite").parquet(args.out_parquet)
        print(f"imported {args.zarr} -> {args.out_parquet}")
    elif args.cmd == "copy":
        # K5 dataset copy (``src/mdio/commands/copy.py:49-80``). Like the
        # reference, the default copies the metadata + grid skeleton only;
        # ``--with-headers`` adds the header columns, ``--with-traces`` the
        # full trace data. The copy must preserve the store contract:
        # chunk-partitioned traces layout (partition pruning on the copy)
        # and any materialized access views the manifest advertises.
        import os
        import shutil

        from mdio_python_spark.sources.store import open_store

        if os.path.exists(args.dest):
            if not args.overwrite:
                print(f"{args.dest} exists (use --overwrite)", file=sys.stderr)
                return 1
            # replace, never merge: copytree(dirs_exist_ok) onto a prior
            # copy would mix old and new part-files
            shutil.rmtree(args.dest)
        st = open_store(spark, args.src)
        traces = st.traces
        if not args.with_traces:
            # drop the bulk columns (samples + the 240-byte raw header
            # blob); metadata mode keeps ONLY the schema via limit(0) so
            # the copy remains an openable store skeleton
            keep = [
                c
                for c in traces.columns
                if c not in ("samples", "raw", "raw_header")
            ]
            traces = traces.select(*keep)
            if not args.with_headers:
                traces = traces.limit(0)
        chunk_cols = [c for c in st.chunk_cols if c in traces.columns]
        if not (args.with_traces or args.with_headers):
            # an empty partitioned write emits no parquet footer and the
            # skeleton would be unreadable; one empty unpartitioned part
            # file preserves the schema
            chunk_cols = []
        writer = (
            traces.repartition(*chunk_cols) if chunk_cols else traces
        ).write.mode("overwrite").option("compression", "zstd")
        if chunk_cols:
            writer = writer.partitionBy(*chunk_cols)
        writer.parquet(f"{args.dest}/traces")
        shutil.copytree(f"{args.src}/dims", f"{args.dest}/dims")
        with open(f"{args.src}/manifest.json") as f:
            manifest = json.load(f)
        if args.with_traces:
            for view in manifest.get("accessViews", {}):
                shutil.copytree(
                    f"{args.src}/{view}", f"{args.dest}/{view}", dirs_exist_ok=True
                )
        else:
            # the manifest must not advertise payloads that were excluded
            manifest.pop("accessViews", None)
        with open(f"{args.dest}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=2, default=str)
        what = (
            "traces+headers"
            if args.with_traces
            else ("headers" if args.with_headers else "metadata")
        )
        print(f"copied {args.src} -> {args.dest} ({what})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
