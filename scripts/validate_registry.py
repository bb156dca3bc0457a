#!/usr/bin/env python3
"""Pre-handoff gate: run EVERY __spark_entry__ registry query at a
given scale factor and compare against its DuckDB oracle (when one is
declared), mimicking the external harness: row count + column names +
order-insensitive value comparison. Prints one line per query and a
final summary; exits non-zero on any failure.

Usage: python scripts/validate_registry.py SF_DIR [--only name1,name2]

An unknown flag, a missing SF_DIR or an unknown query name exits with
status 2 before any Spark session starts.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))


def parse_args(argv: list[str], names: list[str]) -> argparse.Namespace:
    """``sf_dir`` and the sorted list of queries to run (``run``)."""
    parser = argparse.ArgumentParser(
        description="Run every registry query and check it against its "
        "DuckDB oracle."
    )
    parser.add_argument("sf_dir", help="fixture directory, e.g. .../sf0.01")
    parser.add_argument(
        "--only", metavar="NAMES", help="comma-separated query names"
    )
    args = parser.parse_args(argv)
    if not Path(args.sf_dir).is_dir():
        parser.error(f"not a directory: {args.sf_dir}")
    args.run = sorted(names)
    if args.only is not None:
        only = {n for n in args.only.split(",") if n}
        if not only:
            parser.error("--only names no query")
        unknown = sorted(only - set(names))
        if unknown:
            parser.error(f"unknown query name(s): {', '.join(unknown)}")
        args.run = sorted(only)
    return args


def main() -> int:
    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    args = parse_args(sys.argv[1:], list(qs))
    sf_dir = args.sf_dir

    from oracle_harness import assert_matches_oracle, duck_connection

    from time_series_prediction_spark.session import get_spark

    spark = get_spark(app_name="registry-validate", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    failed: list[str] = []
    for name in args.run:
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                assert_matches_oracle(df, con, oracles[name], name=name)
                status = "oracle-ok"
            else:
                n = df.count()
                assert n >= 0
                status = f"rows-only({n})"
        except Exception:
            status = "FAIL"
            failed.append(name)
            traceback.print_exc(limit=3)
        print(f"{name:45s} {status:15s} {time.perf_counter() - t0:6.2f}s",
              flush=True)

    print(f"\n{len(args.run) - len(failed)}/{len(args.run)} ok at {sf_dir}")
    if failed:
        print("FAILED:", ", ".join(failed))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
