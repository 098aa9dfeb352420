"""Registry-wide physical-plan audit: one row per t2 query with the
plan facts that matter at 100 TB — exchange count, scan count,
broadcast vs sort-merge joins, Python-eval nodes, cartesian products,
and whether the scan carries pushed filters.

FULL-LINEAGE coverage (round 10): ``localCheckpoint`` truncates
lineage, so a checkpointed query's final plan hides everything before
the barrier — r9's audit reported ``scans: 0`` for ``q_ahash_dedup``
while its entire hashing pipeline (where the r9 fused-filter trap
lived) ran pre-checkpoint.  The audit now runs each query builder
inside ``lineage.capture_checkpoints()`` and explains every captured
pre-checkpoint stage too: per-query counters are summed over the final
plan PLUS all stages, ``ckpt_stages`` records how many stages tiled the
lineage, and the fused-filter detector scans every stage's optimized
plan.

tests/test_plans.py ENFORCES the invariants (no Python in relational
queries, no cartesians, per-query exchange budgets, fused-filter-free
checkpoint prefixes); this tool makes the same facts reviewable as an
artifact: PLAN_AUDIT.json maps every query to its counts, plus a
summary block. Run after registry changes:

    python tools/plan_audit.py            # writes PLAN_AUDIT.json

Builders that serve a stored epoch index (sources/epoch.py) plan a
different lineage when the index is already built, so the audit runs
against a fresh, empty epoch cache (``SPARK_GRAFT_CACHE_DIR`` pointed
at a temporary directory, removed at exit): the counters are a
function of the checkout alone.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    cache_dir = tempfile.mkdtemp(prefix="plan-audit-cache-")
    atexit.register(shutil.rmtree, cache_dir, ignore_errors=True)
    os.environ["SPARK_GRAFT_CACHE_DIR"] = cache_dir

    from oic_options_chains_spark.lineage import capture_checkpoints
    from oic_options_chains_spark.queries import QUERIES
    from oic_options_chains_spark.session import get_spark

    spark = get_spark(app_name="oic-plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    rows: dict[str, dict] = {}
    for name in sorted(QUERIES):
        try:
            with capture_checkpoints() as stages:
                df = QUERIES[name](spark, SF_DIR)
                plan = df._jdf.queryExecution().explainString(mode)
                opt = df._jdf.queryExecution().optimizedPlan().toString()
            # every pre-checkpoint stage, explained AFTER the block (the
            # captured DataFrames keep their own QueryExecution; each
            # stage's inputs are the previous checkpoint's scan, so the
            # stages tile the lineage without double-counting)
            stage_plans = [
                (s.site, s.df._jdf.queryExecution().explainString(mode))
                for s in stages
            ]
            stage_opts = [
                s.df._jdf.queryExecution().optimizedPlan().toString()
                for s in stages
            ]
        except Exception as exc:  # noqa: BLE001 - audit must cover all
            rows[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        # fused-filter detector (round-9): a Filter whose expression is
        # enormous means the optimizer substituted a staged expression
        # PIPELINE into a per-row predicate (e.g. the size()>0 constraint
        # a non-outer Generate infers, pushed through every projection
        # onto the scan). That multiplies the pipeline's cost per input
        # row — the streaming_image_near_dup blowup class (~23 s/row
        # measured). Threshold: a legitimate predicate is < ~2k chars;
        # the fused aHash filter was ~25k. Applied over the FULL lineage:
        # the final optimized plan and every checkpointed stage's.
        fused = [
            len(line)
            for text in [opt, *stage_opts]
            for line in text.splitlines()
            if re.match(r"\s*[+:]*-? *Filter ", line) and len(line) > 4000
        ]
        # formatted mode puts node names on "(n) Node" header lines and
        # partitioning in Arguments lines. Counters sum the final plan
        # plus every pre-checkpoint stage plan (full lineage).
        texts = [plan, *(p for _, p in stage_plans)]
        headers = [
            h for t in texts for h in re.findall(r"\(\d+\) (\w+)", t)
        ]
        count = lambda needle: sum(t.count(needle) for t in texts)  # noqa: E731
        rows[name] = {
            "exchanges": headers.count("Exchange"),
            "hash_partitionings": count("hashpartitioning("),
            "range_partitionings": count("rangepartitioning("),
            "scans": count("Scan parquet"),
            "broadcast_joins": count("BroadcastHashJoin"),
            "sort_merge_joins": count("SortMergeJoin"),
            "bnl_joins": count("BroadcastNestedLoopJoin"),
            "cartesian": count("CartesianProduct"),
            "python_eval": count("EvalPython"),
            "pandas_kernels": count("MapInPandas")
            + count("FlatMapGroupsInPandas"),
            "pushed_filters": any(
                "PushedFilters: [" in t and "PushedFilters: []" not in t
                for t in texts
            ),
            "fused_filters": len(fused),
            "max_filter_expr_chars": max(fused, default=0),
            "ckpt_stages": len(stage_plans),
            "ckpt_sites": sorted({site for site, _ in stage_plans}),
        }
        print(json.dumps({"query": name, **rows[name]}), flush=True)

    audited = [r for r in rows.values() if "error" not in r]
    summary = {
        "n_queries": len(rows),
        "n_audited": len(audited),
        "n_errors": len(rows) - len(audited),
        "python_eval_total": sum(r["python_eval"] for r in audited),
        "cartesian_total": sum(r["cartesian"] for r in audited),
        "sort_merge_join_total": sum(r["sort_merge_joins"] for r in audited),
        "broadcast_join_total": sum(r["broadcast_joins"] for r in audited),
        "max_exchanges": max((r["exchanges"] for r in audited), default=0),
        "fused_filter_total": sum(r.get("fused_filters", 0) for r in audited),
        "ckpt_stage_total": sum(r.get("ckpt_stages", 0) for r in audited),
        "full_lineage": True,
        "sf_dir": SF_DIR,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.json",
    )
    with open(out, "w") as fh:
        json.dump({"summary": summary, "queries": rows}, fh, indent=1, sort_keys=True)
    print(f"# wrote {out}", file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
