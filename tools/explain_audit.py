"""Dump the physical plan of every gate query → PLANS.md.

For each `queries()` entry this records `.explain("formatted")` plus
plan-quality checks that matter at 100 TB:

* PushedFilters / ReadSchema on the parquet scans (predicate pushdown
  + column pruning actually reached the source);
* broadcast vs sort-merge joins;
* number of exchanges (shuffles) and ArrowEvalPython (Python) nodes;
* WholeStageCodegen span count.

Usage: python tools/explain_audit.py [sf_dir] > /dev/null && see PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def audit(sf_dir: str, out_path: str = os.path.join(ROOT, "PLANS.md")) -> None:
    import __spark_entry__ as entrymod
    from fineweb_modal_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical plans of every gate query (auto-generated)",
        "",
        f"`python tools/explain_audit.py {sf_dir}` — regenerate after plan",
        "changes. Summary table first; full formatted plans below.",
        "",
        "| query | shuffles | py nodes | codegen spans | broadcast joins | SMJ | scans w/ pushdown |",
        "|---|---|---|---|---|---|---|",
    ]
    details = []
    smj_gates: list[tuple[str, int]] = []
    for name, fn in qs.items():
        if name in ("events_hourly_stream", "sessionize_stream"):
            details.append(
                f"## {name}\n\nStreaming query (AvailableNow) — plan is per-microbatch; "
                "see streaming/incremental.py docstrings.\n"
            )
            lines.append(f"| {name} | (streaming) | | | | | |")
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # count operators from the detail headers only — formatted mode
        # prints each op in the tree AND as a "(N) OpName" detail block
        heads = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
        n_exchange = sum(1 for h in heads if h == "Exchange")
        n_py = sum(
            1 for h in heads
            if h in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        )
        n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        n_bhj = sum(1 for h in heads if h == "BroadcastHashJoin")
        n_smj = sum(1 for h in heads if h == "SortMergeJoin")
        n_scan = sum(1 for h in heads if h == "Scan")
        n_push = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        lines.append(
            f"| {name} | {n_exchange} | {n_py} | {n_wsc} | {n_bhj} | {n_smj} | {n_push}/{n_scan} |"
        )
        if n_smj:
            smj_gates.append((name, n_smj))
        details.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    # The summary table counts joins in the INITIAL plan. AQE re-plans
    # once exchange sizes are observed at runtime; built sides Catalyst
    # cannot size statically (UDF-output relations like semantic
    # dedup's dropped-id set) convert SMJ → broadcast then. EXECUTE
    # every SMJ-flagged gate and record the final adaptive plan's join
    # choices, so "SMJ" above is never mistaken for the runtime shape.
    aqe = [
        "",
        "## AQE final-plan join selection (SMJ-flagged gates, executed)",
        "",
        "Any join still SMJ in the final plan is a FULL OUTER join "
        "(two comparable-size snapshot/digest relations — Spark cannot "
        "broadcast full outer, and sort-merge is the correct plan for "
        "them at every scale).",
        "",
        "| query | initial SMJ | final broadcast joins | final SMJ |",
        "|---|---|---|---|",
    ]
    for name, n_smj in smj_gates:
        df = qs[name](spark, sf_dir)
        df.collect()
        ep = df._jdf.queryExecution().executedPlan().toString()
        final = ep.split("== Initial Plan ==")[0]
        aqe.append(
            f"| {name} | {n_smj} | {final.count('BroadcastHashJoin')} "
            f"| {final.count('SortMergeJoin')} |"
        )

    with open(out_path, "w") as f:
        f.write(
            "\n".join(lines) + "\n" + "\n".join(aqe) + "\n\n"
            + "\n".join(details)
        )
    print(f"wrote {out_path}")


if __name__ == "__main__":
    audit(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
