"""Generate CATALOG.md — the one-page inventory of every declared query.

Merges two sources of truth into one table the reader can scan: the
catalog registry (name, oracle kind, doc first-sentence) and a live
plan-feature pass (shuffles / broadcasts / sort-merges at sf0.001).
Regenerate after adding queries::

    python tools/catalog_report.py > CATALOG.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shopify_etl_spark.plans import QUERIES  # noqa: E402
from shopify_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def first_sentence(doc: str, limit: int = 110) -> str:
    s = " ".join((doc or "").split())
    cut = s.find(". ")
    s = s[: cut + 1] if 0 < cut < limit else s[:limit]
    return s.replace("|", "\\|")


def main() -> int:
    # no console progress bar: its stage lines on stderr would land
    # mid-line in a log that also captures stdout
    spark = get_spark(
        "catalog-report", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")

    rows = []
    for name, spec in QUERIES.items():
        try:
            plan = spec.builder(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            sh = len(re.findall(
                r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan))
            bhj = plan.count("BroadcastHashJoin")
            smj = plan.count("SortMergeJoin")
            feats = f"{sh}sh/{bhj}bhj/{smj}smj"
        except Exception as e:  # noqa: BLE001
            feats = f"plan error: {str(e)[:40]}"
        oracle = "full SQL" if spec.oracle else "rows-only (pytest-pinned)"
        if spec.oracle and ("TRUE AS" in spec.oracle):
            oracle = "guarantee-gate"
        rows.append((name, oracle, feats, first_sentence(spec.doc)))
    spark.stop()

    print("# CATALOG — every declared query\n")
    print("Auto-generated by `tools/catalog_report.py` — regenerate after "
          "adding queries. Oracle kinds: **full SQL** (DuckDB recomputes "
          "the pipeline value-for-value), **guarantee-gate** (exact twins "
          "+ in-bounds flags for approximate ops), **rows-only** (pinned "
          "by pytest invariants instead). Plan column = shuffles / "
          "broadcast-hash joins / sort-merge joins at sf0.001.\n")
    print(f"{len(rows)} queries.\n")
    print("| query | oracle | plan | what it does |")
    print("|---|---|---|---|")
    for name, oracle, feats, doc in sorted(rows):
        print(f"| `{name}` | {oracle} | {feats} | {doc} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
