"""Plan audit: physical-plan features for every catalog query.

Prints, per query: number of shuffles (Exchange), broadcast joins,
whether parquet PushedFilters are non-empty where a filter exists, and
the scan's ReadSchema width (column pruning evidence). Usage:

    python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from shopify_etl_spark.plans import QUERIES  # noqa: E402
from shopify_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # no console progress bar: its stage lines on stderr would land
    # mid-line in a log that also captures stdout
    spark = get_spark(
        "explain-audit", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = spec.builder(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: PLAN ERROR {e}")
            continue
        shuffles = len(re.findall(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan))
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed_nonempty = sum(1 for p in pushed if p.strip())
        scans = re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
        widths = [s.count(":") for s in scans]  # fields = typed entries, robust to truncation
        wsc = plan.count("WholeStageCodegen")
        print(
            f"{name}: shuffles={shuffles} bhj={bhj} smj={smj} "
            f"pushed={pushed_nonempty}/{len(pushed)} scan_widths={widths} codegen={wsc}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
