#!/usr/bin/env python
"""Print the normalized executed plans of the headline queries and the
PLANS.md joins, one block per query, in a diffable form.

Expression ids, plan ids, Python UDF names and temporary directory names
are stripped, so two checkouts that plan the same physical operators print
the same text.  Run it from each checkout and diff the outputs:

    python tools/plan_fingerprint.py SF_DIR > plans.txt

SF_DIR is a generated TPC-H-style data directory, as ``bench.py`` reads
(sf0.001 is enough: only plans are built, no query runs).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]
# the Python workers import the package from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

# Python UDF calls, listed in their evaluation node: ``cover(geom)`` ...
_PY_NODE = re.compile(r"((?:Arrow|Batch)EvalPython|MapInPandas) (\[.*?\]|\w+\()")


def normalize(text: str) -> str:
    """``text`` with expression and plan ids, UDF names and temporary
    paths made uniform."""
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"/tmp/[\w./-]+", "/tmp/_", text)

    def udfs(m):
        return m.group(1) + " " + re.sub(r"\b\w+\(", "udf(", m.group(2))
    return "\n".join(_PY_NODE.sub(udfs, line.rstrip())
                     for line in text.splitlines())


def executed(df) -> str:
    from gen_plans_md import simple_plan
    return normalize(simple_plan(df, max_lines=None))


def main(argv: list) -> None:
    from bench import HEADLINE
    from gen_plans_md import sections
    from sedona_db_spark.plans.demo_queries import QUERIES
    from sedona_db_spark.session import get_spark

    sf_dir = argv[1]
    spark = get_spark(master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name in HEADLINE:
        print(f"=== query {name}\n{executed(QUERIES[name](spark, sf_dir))}")
    for title, _, plan in sections(spark, executed):
        print(f"=== plans {title}\n{normalize(plan)}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv)
