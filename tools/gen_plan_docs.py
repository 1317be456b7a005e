"""Generate PLANS.md — physical-plan evidence for the headline queries
plus the non-headline corpus-rewrite/eval operators.

Run after plan-affecting changes:  python tools/gen_plan_docs.py

For each query in ``AUDITED`` (the headline set + the rewrite/eval
extras), records the
scale-relevant facts straight from the executed plan: shuffle count,
join strategies, pushed filters, scan schemas (column pruning), window
partitioning, and Python-boundary operators. The full formatted plan is
included collapsed, so reviewers can audit the summaries.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from omicidx_gh_etl_spark.queries import REGISTRY  # noqa: E402
from omicidx_gh_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# The headline set plus the non-headline operators whose scale
# arguments deserve plan evidence (corpus-rewrite + evals).
AUDITED = (
    "mart_denormalized",       # reference's 49.4M-row join+export analogue
    "join_fact_accession",     # bronze detail×accessions join
    "agg_multikey_pricing",    # TPC-H Q1-shape aggregation
    "dedup_latest_by_key",     # window dedup
    "explode_tokens_topk",     # unnest + top-k
    "dedup_exact",
    "dedup_minhash_lsh",       # sub-quadratic near-dup path
    "dedup_simhash",
    "similarity_topk",         # brute-force ANN baseline
    "similarity_ivf_assign",   # ANN scale path
    "similarity_ivf_search",   # full ANN search (probe + cell scan)
    "text_quality",
    "text_winnow_fingerprints",  # rolling-hash fingerprints
    "range_join_events_windows",  # bin-bucketed interval join
    "sessionize_events",
    "session_window_builtin",   # native dynamic session windows
    "sketch_heavy_hitters",     # MG candidates + exact verify
    "interval_coalesce_user_spans",  # one-shuffle span merge
    "dedup_paragraphs_rewrite",
    "dedup_span_excision",
    "similarity_knn_label_probe",
    "similarity_ivf_recall",
    "join_bloom_pruned_semi",
    "text_bm25_topk",
    "text_bm25_index_serve",
    # ids_contiguous_assign deliberately absent: its builder
    # materializes (eager localCheckpoint), so the visible plan is
    # just the checkpoint scan — plan story lives in operators/ids.py
)

HEADER = """\
# PLANS — physical-plan evidence: headline queries + rewrite/eval ops

Auto-generated (`python tools/gen_plan_docs.py`) at sf0.01. The point:
the scale properties claimed in docstrings are visible in the plans
Catalyst actually produces — shuffles counted, joins named, filters
pushed, scans pruned. `tests/test_plans.py` pins the load-bearing
shapes; this file is the human-readable audit trail.

| query | shuffles | joins | scans (pruned columns) | python boundary |
|---|---|---|---|---|
"""


def _top_level_names(schema: str) -> list[str]:
    """Column names from a ReadSchema struct body, splitting only at
    depth 0 so nested/parameterized types (``props:map<string,string>``,
    ``price:decimal(12,2)``) keep their name instead of being garbled
    by a naive split on ','/':'."""
    names, depth, field = [], 0, ""
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            if field:
                names.append(field.split(":", 1)[0])
            field = ""
            continue
        field += ch
    if field:
        names.append(field.split(":", 1)[0])
    return names


def summarize(plan: str) -> dict:
    shuffles = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))
    joins = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )
        )
    )
    # greedy to the LAST '>' on the line: nested types contain '>'
    scans = re.findall(r"ReadSchema: struct<(.*)>", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    python = sorted(
        set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|(?:Python)?MapInArrow)", plan))
    )
    return {
        "shuffles": shuffles,
        "joins": joins or ["—"],
        "scans": [", ".join(_top_level_names(s)) for s in scans],
        "pushed": [p for p in pushed if p.strip()],
        "python": python or ["—"],
    }


def main() -> None:
    spark = get_spark(app_name="plan-docs", cpus=8)
    rows = []
    details = []
    for name in AUDITED:
        df = REGISTRY[name].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        scan_cell = "; ".join(s["scans"][:4]) or "—"
        if len(scan_cell) > 90:
            scan_cell = scan_cell[:87] + "…"
        rows.append(
            f"| `{name}` | {s['shuffles']} | {', '.join(s['joins'])} "
            f"| {scan_cell} | {', '.join(s['python'])} |"
        )
        formatted = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        ) if hasattr(df._sc._jvm, "PythonSQLUtils") else plan
        details.append(
            f"<details><summary><code>{name}</code> — "
            f"{s['shuffles']} shuffle(s), joins: {', '.join(s['joins'])}"
            f"</summary>\n\n```\n{formatted.strip()}\n```\n</details>\n"
        )
    out = HEADER + "\n".join(rows) + "\n\n## Full plans\n\n" + "\n".join(details)
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(out)
    print(f"wrote PLANS.md ({len(AUDITED)} queries)")


if __name__ == "__main__":
    main()
