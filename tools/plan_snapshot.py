"""Capture .explain('formatted') for queries into an output directory.

Optimization evidence (OPTIMIZATION_r*.md): <query>_before.txt at the
pre-change commit, <query>_after.txt regenerated after the change.

Usage: PYTHONPATH=. python tools/plan_snapshot.py <out_dir> [suffix] [query ...]
  e.g. plans/r12 after semantic_dedup_ivf; suffix defaults to "before";
  with no query list, dumps the full bench set.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench
    from node_mongo2influx_spark.engine import Engine
    from node_mongo2influx_spark.plans import load_registry

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = Path(sys.argv[1])
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    if not names:
        names = [
            n
            for sec in (
                bench.HEADLINE,
                bench.EXTENDED,
                bench.EXTENDED_R4,
                bench.EXTENDED_R4B,
                bench.EXTENDED_R4C,
                bench.EXTENDED_R5,
                bench.EXTENDED_R6,
                bench.EXTENDED_R6B,
            )
            for n in sec
        ]

    eng = Engine.builder(app_name="plan-snapshot", master="local[4]")
    spark = eng.spark
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_registry()
    out.mkdir(parents=True, exist_ok=True)

    for name in names:
        df = reg[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        (out / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")


if __name__ == "__main__":
    main()
