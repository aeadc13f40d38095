"""Dump .explain('formatted') for named queries (default: all headliners)
into plans/<round>/<query>_<tag>.txt — an optimization round's
before/after plan evidence.

Usage: python3 tools/dump_plans.py <round> <before|after> [query ...]

<round> is a round tag such as r17. The queries read the scale-factor
directory named by SPARK_GRAFT_SF_DIR (generate one with
tools/gen_sf.py). Prints this usage and exits with status 2 when an
argument or SPARK_GRAFT_SF_DIR is missing or unknown.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TAGS = ("before", "after")


def _usage(msg: str) -> None:
    print(f"dump_plans: {msg}\n\n{__doc__.strip()}", file=sys.stderr)
    sys.exit(2)


def main(argv: list[str]) -> None:
    if len(argv) < 2:
        _usage("missing <round> or <before|after>")
    rnd, tag, names = argv[0], argv[1], argv[2:]
    if not re.fullmatch(r"r\d+", rnd):
        _usage(f"unknown round {rnd!r}; expected r<number>")
    if tag not in TAGS:
        _usage(f"unknown tag {tag!r}; expected one of {', '.join(TAGS)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.isdir(sf_dir):
        _usage(f"SPARK_GRAFT_SF_DIR={sf_dir!r} is not a directory")
    from etl_migrate_api_spark.plans.registry import QUERIES, headline_names

    all_headline = headline_names()  # side effect: populates QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        _usage(f"unknown query {', '.join(unknown)}")

    from etl_migrate_api_spark.session import get_spark

    spark = get_spark(app_name=f"dump_plans_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names or all_headline:
        df = QUERIES[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        # release fences the build left behind
        spark.catalog.clearCache()
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(m.keySet().toArray()):
            r = m.get(rid)
            if r is not None:
                r.unpersist()
        print(f"wrote {name}_{tag}.txt", flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
