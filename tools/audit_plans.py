"""Generate PLANAUDIT.md: a one-line physical-plan audit per registered
query — exchanges (shuffles), broadcast joins, sort-merge joins,
Python-eval stages, and whole-stage-codegen presence — so plan
regressions are visible as a diff, not an anecdote.

Queries whose *construction* runs driver-side loops (iterative training
/ scalar-probe collects) are built like any other; their audited plan is
the final returned DataFrame's (the loop's internals are covered by
tests/test_plans.py).

Usage: python tools/audit_plans.py  (writes PLANAUDIT.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

MARKS = [
    ("exch", r"Exchange"),
    ("bhj", r"BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("cart", r"CartesianProduct"),
    ("py", r"(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)"),
]


def wsc_spans(plan: str) -> int:
    """Count whole-stage-codegen SPANS in a simple-mode plan.

    Simple mode marks codegen'd operators with a ``*(N)`` prefix where N
    is the codegen stage id (formatted mode spells it ``[codegen id : N]``
    — there is no literal ``WholeStageCodegen`` token in either, which is
    why the pre-round-5 regex always counted 0). Distinct ids = distinct
    fused pipelines, so count the distinct N."""
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def main() -> None:
    spark = get_spark(app_name="audit_plans")
    rows, failures = [], []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF)
            # Execute before explaining: under AQE the un-executed plan
            # is `AdaptiveSparkPlan isFinalPlan=false` with NO codegen
            # ids and pre-coalesce exchanges — the audit would count a
            # plan that never runs. collect() (results are sf0.001-
            # sized) finalizes this DataFrame's own queryExecution.
            df.collect()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple")
        except Exception as e:  # noqa: BLE001 - audit must not abort
            failures.append((name, str(e).splitlines()[0][:100]))
            continue
        counts = {key: len(re.findall(pat, plan)) for key, pat in MARKS}
        counts["wsc"] = wsc_spans(plan)
        rows.append((name, counts))
    out = [
        "# PLANAUDIT — per-query physical-plan shape (sf0.001)",
        "",
        "Generated by `python tools/audit_plans.py`. Columns: exchanges,",
        "broadcast hash joins, sort-merge joins, broadcast-NL joins,",
        "cartesian products, Python-eval stages, whole-stage-codegen",
        "spans. Expectations: `cart` must be 0 everywhere; `py` only on",
        "the designed Arrow stages (multimodal, pandas-state streaming);",
        "checkpoint-backed results (iterative ops) audit as 0-exchange",
        "scans of their materialized output.",
        "",
        "| query | exch | bhj | smj | bnlj | cart | py | wsc |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        out.append(f"| {name} | {c['exch']} | {c['bhj']} | {c['smj']} "
                   f"| {c['bnlj']} | {c['cart']} | {c['py']} | {c['wsc']} |")
    if failures:
        out += ["", "## Build failures", ""]
        out += [f"- {n}: {m}" for n, m in failures]
    # pin the artifact to the registry: every
    # queries() entry must be accounted for — audited or an explicit
    # build failure — so a PLANAUDIT generated before a trailing commit
    # can't silently strand new queries.
    n_registry = len(entry.queries())
    assert len(rows) + len(failures) == n_registry, (
        f"audited {len(rows)} + {len(failures)} failures != registry "
        f"{n_registry} — regenerate at HEAD")
    carts = [n for n, c in rows if c["cart"]]
    out += ["", f"**Totals: {len(rows)} queries audited of "
            f"{n_registry} registered; "
            f"{len([1 for _, c in rows if c['exch'] == 0])} exchange-free; "
            f"cartesian products: {len(carts)}"
            + (f" ({', '.join(carts)})" if carts else "") + ".**"]
    with open(os.path.join(REPO, "PLANAUDIT.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANAUDIT.md ({len(rows)} queries, {len(failures)} failures)")
    spark.stop()


if __name__ == "__main__":
    main()
