"""Regenerate PLANS.md: the physical operator tree of every headline query.

The plan IS the product at 100 TB (tests/test_plans.py pins the
load-bearing shapes; this report makes all of them reviewable in one
place). Trees only — the detail sections of formatted explain are noisy
and change with AQE; the tree is the stable contract.

Usage: python tools/plan_report.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, SF_DIR  # noqa: E402
from proxyhouse_spark import registry  # noqa: E402
from proxyhouse_spark.session import get_spark  # noqa: E402

HEADER = """# Physical plans — headline suite

Generated by `tools/plan_report.py` against `%s`. One operator tree per
headline query (first block of `.explain("formatted")`). The load-bearing
shapes — broadcast choices, exchange counts, pushdown, zero-Cartesian —
are pinned as failing tests in `tests/test_plans.py`; this file is the
human-reviewable rollup.
"""


def main() -> None:
    spark = get_spark("plan_report")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [HEADER % SF_DIR]
    for name in HEADLINE:
        df = registry.QUERIES[name](spark, SF_DIR)
        tree = df._jdf.queryExecution().explainString(mode).split("\n\n")[0]
        out.append(f"## {name}\n\n```\n{tree}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE)} queries)")


if __name__ == "__main__":
    main()
