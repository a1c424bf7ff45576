"""Write plans/shape.json: per-query physical-plan node counts, the
plan-shape golden that tests/test_plans.py checks.

Usage:
    python tools/capture_plans.py

For every registry query in ``__spark_entry__.queries()`` at sf0.001 it
counts the nodes of ``executedPlan().toString()`` named in ``NODES``.
Queries are only PLANNED: nothing runs beyond the eager jobs their
construction itself submits (censuses, localCheckpoints). The counts do
not depend on the core count or the process, so a refactor that claims
"same plan" must leave the file byte-identical; rerun this after an
intended plan change and commit the diff.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHAPE_PATH = os.path.join(REPO, "plans", "shape.json")
SHAPE_SF_DIR = "/root/testdata/sf0.001"
REGEN_CMD = "python tools/capture_plans.py"

NODES = ("Exchange", "Sort", "Window", "SortMergeJoin", "BroadcastHashJoin",
         "HashAggregate", "Union", "ArrowEvalPython", "BatchEvalPython",
         "CollectMetrics")

# one node per line: tree glyphs, an optional codegen stage tag "*(n) ",
# then the node name
_NODE_RE = re.compile(r"^[ \t:|+\-]*(?:\*\(\d+\) )?(\w+)", re.M)


def node_counts(plan: str) -> dict:
    """{node: count} over ``NODES`` for one plan string. Names match as
    whole words, so ReusedExchange / BroadcastExchange / WindowGroupLimit
    are not counted as Exchange / Window."""
    seen = Counter(m.group(1) for m in _NODE_RE.finditer(plan))
    return {n: seen[n] for n in NODES}


def capture(spark) -> dict:
    import __spark_entry__ as entry_mod
    qs = entry_mod.queries()
    return {name: node_counts(qs[name](spark, SHAPE_SF_DIR)._jdf
                              .queryExecution().executedPlan().toString())
            for name in sorted(qs)}


def dumps(shapes: dict) -> str:
    """The file's canonical text: one query per line, stable order."""
    body = ",\n".join(f"  {json.dumps(k)}: {json.dumps(shapes[k])}"
                      for k in sorted(shapes))
    return "{\n" + body + "\n}\n"


def main():
    from omigo_data_analytics_spark import get_spark
    spark = get_spark("omigo_spark_plans")
    spark.sparkContext.setLogLevel("ERROR")
    shapes = capture(spark)
    spark.stop()
    with open(SHAPE_PATH, "w") as fh:
        fh.write(dumps(shapes))
    print(f"wrote {len(shapes)} query shapes -> {SHAPE_PATH}")


if __name__ == "__main__":
    main()
