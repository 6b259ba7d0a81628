"""Physical-plan audit for the driver queries → PLANS.md.

For every `__spark_entry__.queries()` entry (minus the full crawl), record
the planning evidence that matters at 100 TB:

- PushedFilters / partition filters reach the parquet scan
- ReadSchema is pruned (no select-* scans)
- top-k finishers compile to TakeOrderedAndProject (never an
  unpartitioned Window over the full relation)
- small-side joins broadcast; no CartesianProduct anywhere
- WholeStageCodegen covers the hot expressions

It also holds the helpers the crawl's plan tests use to count Python UDF
evaluations (``python_udf_counts`` over ``sql_plans``).

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


_LIMIT_OPS = re.compile(
    r"\b(TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit)\b"
)


def _tree_depth(line: str) -> int:
    """Operator nesting depth of one printed plan line = where the operator
    name starts after the tree-drawing prefix (spaces, ':', '+', '-')."""
    return len(line) - len(line.lstrip(" :+-"))


# one Python evaluation node: ``ArrowEvalPython [udfs], [outputs], …`` in a
# tree string, ``Arguments: [udfs], [outputs], …`` in a formatted explain
_EVAL_PYTHON = re.compile(
    r"(?:(?:Arrow|Batch)EvalPython|Arguments:) \[(.*?)\], "
    r"\[((?:pythonUDF\d+#\d+L?(?:, )?)+)\]"
)


def _top_level_items(s: str) -> list[str]:
    """Split ``a(x, y)#1, b(z)#2`` on the commas outside parentheses."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def python_udf_counts(*plans: str) -> Counter:
    """Python UDF evaluation nodes per UDF name over one or more executed
    plans (``ArrowEvalPython``/``BatchEvalPython``, tree or formatted
    explain).  A node is keyed by its output attributes, so a subtree
    printed more than once (AQE's initial and final plan, a cached relation
    read by several consumers or several actions) counts once, while a UDF
    the optimizer copied into two operators counts twice."""
    nodes: dict[str, set[str]] = {}
    for plan in plans:
        for udfs, outs in _EVAL_PYTHON.findall(plan):
            for udf, out in zip(_top_level_items(udfs), outs.split(", ")):
                nodes.setdefault(udf.split("(", 1)[0], set()).add(out)
    return Counter({name: len(outs) for name, outs in nodes.items()})


def sql_plans(spark, after: int = -1) -> list[tuple[int, str]]:
    """``(execution id, physical plan)`` of every SQL execution of the
    session with an id above ``after``, in id order, from the SQL status
    store (the final AQE plan once an execution has ended)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after:
            out.append((e.executionId(), e.physicalPlanDescription()))
    return sorted(out)


def audit_plan(name: str, plan: str) -> dict:
    checks = {
        "scan_pruned": bool(re.search(r"ReadSchema: struct<[^>]{1,400}>", plan)),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        # toString marks whole-stage-codegen spans as `*(n) Op`; the
        # literal node name only appears in formatted explain output
        "codegen": "WholeStageCodegen" in plan
        or bool(re.search(r"\*\(\d+\) ", plan)),
        "broadcast_join": "BroadcastHashJoin" in plan
        or "BroadcastNestedLoopJoin" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
        "global_window": False,
    }
    # The scale-killer pattern is an UNPARTITIONED Window whose INPUT is
    # the full relation.  Plans print top-down (consumers above
    # producers), so a Window's input subtree is the lines BELOW it with
    # strictly greater tree depth.  The window is safe only if that
    # subtree already bounds the row count (TakeOrderedAndProject /
    # *Limit feeding it); a limit ABOVE the window does NOT make the
    # window's own global sort safe.
    lines = plan.splitlines()
    for idx, line in enumerate(lines):
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        spec = "\n".join(lines[idx : idx + 3])
        if "windowspecdefinition(" not in spec:
            continue
        # unpartitioned spec: windowspecdefinition(<order> ...) — the
        # first argument is an ordering (ASC/DESC), not a partition column
        head = spec.split("windowspecdefinition(", 1)[1]
        first = head.split(",", 1)[0]
        if not ("ASC" in first or "DESC" in first):
            continue
        depth = _tree_depth(line)
        bounded = False
        for sub in lines[idx + 1 :]:
            if sub.strip() and _tree_depth(sub) <= depth:
                break  # left the window's input subtree
            if _LIMIT_OPS.search(sub):
                bounded = True
                break
        if not bounded:
            checks["global_window"] = True
    return checks


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    import __spark_entry__ as E
    from distributed_web_crawling_and_indexing_system_gcp_spark.session import (
        build_session,
    )

    spark = build_session(app_name="plan_audit", master="local[8]",
                          shuffle_partitions=8)
    rows = []
    flagged = []
    for name, fn in E.queries().items():
        if name == "crawl_round":  # multi-job driver loop, not one plan
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        c = audit_plan(name, plan)
        rows.append((name, c))
        if c["cartesian"] or c["global_window"]:
            flagged.append((name, plan[:4000]))

    lines = [
        "# PLANS — physical-plan audit of the driver queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`.  Checks per query:",
        "scan schema pruned / filters pushed to parquet / WholeStageCodegen",
        "present / broadcast join used / distributed top-k",
        "(TakeOrderedAndProject) / ⚠ flags: CartesianProduct or an",
        "unpartitioned Window over the full relation.",
        "",
        "| query | pruned scan | pushdown | codegen | broadcast | TopK | ⚠ |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        warn = []
        if c["cartesian"]:
            warn.append("cartesian")
        if c["global_window"]:
            warn.append("global-window")
        lines.append(
            f"| {name} | {'✓' if c['scan_pruned'] else '—'} "
            f"| {'✓' if c['pushed_filters'] else '—'} "
            f"| {'✓' if c['codegen'] else '—'} "
            f"| {'✓' if c['broadcast_join'] else '—'} "
            f"| {'✓' if c['take_ordered'] else '—'} "
            f"| {', '.join(warn) if warn else ''} |"
        )
    n_warn = len(flagged)
    lines += ["", f"Flagged queries: {n_warn}."]
    for name, plan in flagged:
        lines += ["", f"## ⚠ {name}", "```", plan, "```"]
    Path(out_md).write_text("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, {n_warn} flagged")
    spark.stop()


if __name__ == "__main__":
    main()
