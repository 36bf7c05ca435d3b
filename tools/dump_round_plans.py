"""Dump .explain("formatted") output for named registry queries into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence (guide §1: capture the plan shape before and after each
change).

Usage: python tools/dump_round_plans.py ROUND TAG QUERY [QUERY ...]
       python tools/dump_round_plans.py r17 before containment_dedup fuzzy_join_names

The fixture directory comes from $SPARK_GRAFT_SF_DIR (the sf0.1 fixtures
for the committed plans).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("set SPARK_GRAFT_SF_DIR to the fixture directory")

    import __spark_entry__ as E
    from keboola_storage_duckdb_spark.session import get_spark

    spark = get_spark(app_name=f"plans-{rnd}-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    registry = E.queries()
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = registry[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        txt = buf.getvalue()
        print(f"{name}: {txt.count('Exchange')} Exchange, "
              f"{txt.count('BroadcastHashJoin')} BHJ, "
              f"{txt.count('SortMergeJoin')} SMJ, "
              f"{txt.count('EvalPython')} PyEval -> {path}")


if __name__ == "__main__":
    main()
