"""Optimization measurement harness: plan dumps and isolated timings.

Two subcommands:

    python tools/measure.py [--sf DIR] explain PLANS_DIR TAG q1 [q2 ...]
        Capture ``.explain("formatted")`` for each named query into
        PLANS_DIR/<query>_<TAG>.txt  (e.g. plans/r18, TAG before|after).

    python tools/measure.py [--sf DIR] time q1 [q2 ...] [--reps N]
        Isolated timing: one warm session, then per query REPS
        noop-sink executions (best + all samples printed) with the
        bench's own between-query hygiene. This is the guide §1.4
        isolation loop — time the computation, not the sink, on a
        session whose one-time costs are already paid.

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR`` and is required when that
is unset. Uses the same session factory, warmup shape and between-query
hygiene (``release_all_cached`` + JVM/Python GC) as bench.py so that
isolated numbers are comparable with bench per-query numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_geotab_spark.blocks import release_all_cached  # noqa: E402
from etl_geotab_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(spark, sf_dir: str) -> None:
    """The bench preamble's cheap parts: flagship + full-width table
    touch + pandas-UDF pool + HOF/rownum JIT probes."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.io import TABLES, load_table

    qs = entrymod.queries()
    force(qs["geotab_flagship"](spark, sf_dir))
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.agg(F.count(F.lit(1)), *[F.max(c) for c in df.columns]).collect()
    from pyspark.sql.pandas.functions import pandas_udf

    _ident = pandas_udf(lambda s: s, "long")
    spark.range(64).select(_ident(F.col("id"))).count()
    from etl_geotab_spark.functions.text import tokenize

    spark.createDataFrame([("a b c",)], "t string").select(
        F.size(tokenize(F.col("t"))).alias("n")
    ).groupBy("n").count().count()
    from etl_geotab_spark.operators.rownum import ordered_prefix_sum

    ordered_prefix_sum(
        spark.range(128).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        ["k"],
        "v",
    ).count()
    hygiene(spark)


def hygiene(spark) -> None:
    """bench.py's between-query hygiene: cached plans AND surviving
    checkpoint blocks released, then JVM and Python GC."""
    release_all_cached(spark)
    spark._jvm.System.gc()
    gc.collect()


def known(qs: dict, names: list[str]) -> list[str]:
    for n in names:
        if n not in qs:
            print(f"unknown query: {n}", file=sys.stderr)
    return [n for n in names if n in qs]


def cmd_explain(plans_dir: str, tag: str, names: list[str], sf_dir: str) -> None:
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("measure-explain")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qs = entrymod.queries()
        for n in known(qs, names):
            df = qs[n](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plans_dir, f"{n}_{tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
            hygiene(spark)
    finally:
        spark.stop()


def cmd_time(names: list[str], sf_dir: str, reps: int) -> None:
    spark = get_spark("measure-time")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        warm(spark, sf_dir)
        qs = entrymod.queries()
        results = {}
        for n in known(qs, names):
            spark.sparkContext.setJobDescription(f"measure-time:{n}")
            samples = []
            for _ in range(reps):
                t0 = time.time()
                force(qs[n](spark, sf_dir))
                samples.append(round(time.time() - t0, 3))
                hygiene(spark)
            results[n] = {"best": min(samples), "samples": samples}
            print(json.dumps({n: results[n]}))
    finally:
        spark.stop()
    print(json.dumps(results))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument(
        "--sf",
        default=sf_env,
        required=sf_env is None,
        help="fixture directory (default: $SPARK_GRAFT_SF_DIR)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    ex = sub.add_parser("explain", help="dump formatted plans")
    ex.add_argument("plans_dir")
    ex.add_argument("tag")
    ex.add_argument("queries", nargs="+")
    tm = sub.add_parser("time", help="isolated noop-sink timings")
    tm.add_argument("queries", nargs="+")
    tm.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    if args.cmd == "explain":
        cmd_explain(args.plans_dir, args.tag, args.queries, args.sf)
    else:
        cmd_time(args.queries, args.sf, args.reps)


if __name__ == "__main__":
    main()
