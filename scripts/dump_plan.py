#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries into plans/<round>/.

    python scripts/dump_plan.py <round> name1,name2 suffix [sf_dir]

Writes plans/<round>/<name>_<suffix>.txt — the before/after plan
evidence for OPTIMIZATION_<round>.md (plan-shape claims there are
checked against these files).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flu_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from flu_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    rnd = sys.argv[1]
    names = sys.argv[2].split(",")
    suffix = sys.argv[3]
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump-{rnd}-plan")
    for name in names:
        df = REGISTRY[name].builder(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()


if __name__ == "__main__":
    main()
