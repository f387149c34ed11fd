#!/usr/bin/env python
"""Capture .explain('formatted') for named declared queries into
plans/r06/<query>_<tag>.txt (judge evidence for OPTIMIZATION_r06.md).

Usage: python tools/capture_plans.py <tag> [query ...]
Defaults to the bench HEADLINE set. Uses sf0.001 so eager side jobs
(pipeline counts, store writes) stay cheap; plan SHAPE is sf-invariant.
Prints, per query, the counts of exchanges, Python evaluation nodes,
partitionings and Python map / grouped-map operators in its plan.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE  # noqa: E402
from kargo_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("KARGO_PLAN_SF", "/root/testdata/sf0.001")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="kargo_plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        txt = buf.getvalue()
        print(
            f"{name}: exchanges={txt.count('Exchange')} "
            f"batcheval={txt.count('BatchEvalPython')} "
            f"arroweval={txt.count('ArrowEvalPython')} "
            f"roundrobin={txt.count('RoundRobinPartitioning')} "
            f"hashpart={txt.count('hashpartitioning')} "
            f"mapinarrow={txt.count('MapInArrow')} "
            f"mapinpandas={txt.count('MapInPandas')} "
            f"groupsinarrow={txt.count('FlatMapGroupsInArrow')} "
            f"groupsinpandas={txt.count('FlatMapGroupsInPandas')} "
            f"-> {path}"
        )


if __name__ == "__main__":
    main()
