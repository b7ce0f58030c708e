"""CLI: the reference app's conversion surface, minus the browser.

    python -m parquet_to_hyper_app_spark convert INPUT.parquet OUT_DIR \
        [--format parquet|orc|csv|json] [--zip] [--hyper OUT.hyper]

Replaces the reference's upload→convert→download loop
(/root/reference/app.py:178-246): scan → clean numerics → widen schema
→ write sink, with optional zip delivery and optional driver-side
Tableau Hyper export (requires tableauhyperapi).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="parquet_to_hyper_app_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    conv = sub.add_parser("convert", help="convert a parquet source through the clean/widen pipeline")
    conv.add_argument("input", help="input parquet file/directory")
    conv.add_argument("output", help="output sink directory")
    conv.add_argument("--format", default="parquet", choices=["parquet", "orc", "csv", "json"])
    conv.add_argument("--zip", action="store_true", help="zip the sink directory after writing")
    conv.add_argument("--hyper", metavar="PATH", help="also export a Tableau .hyper file (needs tableauhyperapi)")
    args = ap.parse_args(argv)

    from parquet_to_hyper_app_spark.session import build_session
    from parquet_to_hyper_app_spark.sources.convert import compress_to_zip, convert, write_hyper

    spark = build_session("convert-cli")
    try:
        out, metrics = convert(spark, args.input, args.output, fmt=args.format)
        print(f"converted {metrics['rows_processed']} rows -> {args.output} ({args.format})")
        if args.hyper:
            written = write_hyper(out, args.hyper)
            print(f"hyper export: {written} rows -> {args.hyper}")
        if args.zip:
            zip_path = compress_to_zip(args.output)
            print(f"zipped -> {zip_path}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
