"""Print a digest of registered rows: what they return and how they plan.

    python tools/row_digest.py [--sf DIR] [--plan] NAME [NAME ...]

A NAME that ends in `*` selects every registered row with that prefix
(`q*` is all q rows); any other NAME must be registered. For each row,
in registry order, one JSON object maps the name to:

- `sha256`: over the schema string and the rows, each row's `repr`
  sorted, so two runs agree whatever the partition order;
- `rows`: the row count;
- `operator_counts`: the pre-AQE physical operators
  (`plans.inspect.operator_counts`, read before the row runs);
- with `--plan`, `optimized_plan`: the optimized logical plan with
  expression ids (`#123`, `#123L`) stripped.

Two checkouts that print the same JSON for a row return the same rows
through the same plan shape. Run it from each checkout's own `tools/`;
the checkout root is taken from this file's path. One known source of
`optimized_plan` noise: the order of the Expand projections that
Spark's distinct-aggregate rewrite builds can change from one process
to the next (seen on q_distinct_aggs, q_table_profile and
p_dataset_card with the same code), so compare those rows by the
other fields.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def select(names: list[str], registered: list[str]) -> list[str]:
    chosen = set()
    for n in names:
        if n.endswith("*"):
            hits = [r for r in registered if r.startswith(n[:-1])]
        elif n in registered:
            hits = [n]
        else:
            raise SystemExit(f"not registered: {n}")
        if not hits:
            raise SystemExit(f"no registered row matches {n}")
        chosen.update(hits)
    return [r for r in registered if r in chosen]


def optimized_plan(df) -> str:
    from streams_spark.plans.inspect import extended_plan

    text = extended_plan(df)
    text = text.split("== Optimized Logical Plan ==")[1]
    text = text.split("== Physical Plan ==")[0]
    return re.sub(r"#\d+L?", "", text).strip()


def digest(spark, fn, sf_dir: str, plan: bool) -> dict:
    from streams_spark.plans.inspect import operator_counts

    df = fn(spark, sf_dir)
    out = {"operator_counts": dict(sorted(operator_counts(df).items()))}
    if plan:
        out["optimized_plan"] = optimized_plan(df)
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256(df.schema.simpleString().encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    out.update(sha256=h.hexdigest(), rows=len(rows))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--plan", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from streams_spark.registry import load_all
    from streams_spark.session import get_spark

    registry = load_all()
    spark = get_spark("row-digest", shuffle_partitions=8)
    try:
        for name in select(args.names, list(registry)):
            res = digest(spark, registry[name].fn, args.sf, args.plan)
            print(json.dumps({name: res}, sort_keys=True), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
