#!/usr/bin/env python
"""Dump .explain("formatted") for named contract queries to
.plans/<query>_<suffix>.txt at the repo root (git-ignored — plan dumps
are regenerated on demand, never committed), e.g. the before/after
plan evidence OPTIMIZATION_r14.md / _r15.md cite.  Usage:

    python plans/r14/dump_plans.py <suffix> q_a q_b ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) like bench.py.
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.normpath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", ".."))
sys.path.insert(0, REPO)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from healthkit_to_sqlite_spark.registry import queries
    from healthkit_to_sqlite_spark.session import get_spark

    spark = get_spark("dump_plans", cpus=cpus)
    qs = queries()
    out_dir = os.path.join(REPO, ".plans")
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        if n not in qs:
            print(f"SKIP {n}: not registered")
            continue
        df = qs[n](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {n} — explain(formatted), sf_dir={sf_dir}\n")
            fh.write(buf.getvalue())
        print(f"WROTE {path}")
    spark.stop()


if __name__ == "__main__":
    main()
