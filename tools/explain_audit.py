"""Physical-plan audit: print .explain(formatted) for headline queries
and assert the plan properties that matter at 100 TB scale:

- parquet scans carry PushedFilters / pruned ReadSchema (Catalyst O2/O3)
- small dims join via BroadcastHashJoin, big keys via SortMerge/ShuffledHash
- relational hot paths sit inside WholeStageCodegen spans
- AQE is enabled on every plan

Usage: python tools/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITS = {
    # query -> properties expected in the formatted physical plan
    "q01_pricing_summary": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
    "q02_filter_project": ["PushedFilters", "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"],
    "q03_join_agg": ["BroadcastHashJoin", "HashAggregate"],
    "q04_semi_join": ["LeftSemi", "GreaterThan(l_quantity"],
    "q05_anti_join": ["LeftAnti"],
    "q06_window_topk": ["Window"],
    "q13_collect_ordered": ["ObjectHashAggregate"],
    "q19_tile_assign": ["HashAggregate"],
    # zero-shuffle broadcast-array top-k: 1-row build side + Generate
    # (posexplode) — NO Window exchange over the |C|×|S| candidate set
    "q20_haversine_knn": ["BroadcastNestedLoopJoin", "Generate"],
    "q21_bbox_pip": ["BroadcastNestedLoopJoin"],
    "q25_exact_dedup": ["HashAggregate", "ReadSchema: struct<doc_id:bigint,text:string>"],
    "q32_ann_cosine_topk": ["BroadcastNestedLoopJoin", "Window"],
    # size-aware dispatcher: at audit scale (under the broadcast cap)
    # the zero-shuffle broadcast-array scan; beyond the cap the EXACT
    # projection-banded bucket equi-join (no table broadcast) — plan
    # asserted by tests/test_round3_scale.py
    # r6 shape: numpy-matmul prefilter (MapInArrow) + broadcast-join
    # exact JVM verify of the output-sized candidates
    "q33_embedding_dups": ["MapInArrow", "BroadcastHashJoin"],
    # bucketed co-located assembly: the ref→node join must be
    # Exchange-free (bucket co-location); only the final groupBy shuffles
    "q45_bucketed_assembly": ["SortMergeJoin"],
    # as-of join: union + ONE window pass per key — no join node at all,
    # never a range/cartesian candidate set
    "q49_asof_join": ["Window", "Union"],
    # range join: bucket decomposition = a real equi-join (hash or
    # sort-merge) + Generate for the bucket explode — never nested-loop
    "q50_range_join": ["Generate"],
    # round-4 additions:
    # prefix filter: candidates from a token EQUI-join (hash/sort-merge
    # on w) — the whole point is that no all-pairs comparison exists
    "q59_prefix_filter_jaccard": ["Join", "HashAggregate"],
    # BM25 (r6 shape): one explode + tf hash aggregate, df as a
    # count-over-window on tf, the single-row (N, avgdl) stats subtree
    # attached via broadcast nested-loop (1 row — constant work), and a
    # TakeOrderedAndProject top-k instead of a global window over all
    # matching docs
    "q61_bm25_topk": ["HashAggregate", "Window", "TakeOrderedAndProject"],
    # LOCF resample: grid explode (Generate) + the as-of union/window —
    # a composition, still join-free on the temporal axis
    "q63_locf_resample": ["Generate", "Window", "Union"],
    # round-5 additions:
    # HTML extraction: a single narrow projection stage — the regexp
    # chain must run inside the scan stage with NO shuffle at all
    "q64_html_extract": ["Project"],
    # BPE budget: Python only on the DISTINCT vocab (MapInPandas after
    # the distinct's aggregate), corpus-side work stays JVM
    "q65_bpe_tokens": ["MapInPandas", "HashAggregate"],
    # balanced sharding (r6 shape): ONE hash repartition on the
    # deterministic key-prefix bucket; the global rank is the bucket's
    # broadcast-joined offset + a PER-BUCKET row_number (the Window's
    # required distribution is exactly the repartition — no extra
    # exchange, no single-partition window, no range sampling, no
    # Python stage)
    "q66_shuffle_shard": ["hashpartitioning", "Window", "BroadcastHashJoin"],
    # incremental dedup: every candidate stage is a band/bucket
    # EQUI-join (probe vs index, batch self-join)
    "q67_incremental_dedup": ["Join"],
    # composed corpus pipeline: aggregates + equi-joins end-to-end
    "q68_corpus_pipeline": ["HashAggregate", "Join"],
    # streaming-order near-dup flags: best earlier match aggregated over
    # the family's band pair join — no per-(band, bucket) Python group
    # call in the batch plan
    "q51_image_neardup_flags": ["Join", "HashAggregate"],
    "q69_text_neardup_stream_flags": ["Join", "HashAggregate"],
}

# plan fragments that must NOT appear (scale-killers)
FORBID = {
    "q20_haversine_knn": ["CartesianProduct", "Window"],
    "q33_embedding_dups": ["CartesianProduct", "Window"],
    "q49_asof_join": ["CartesianProduct", "NestedLoop", "Join"],
    "q50_range_join": ["CartesianProduct", "NestedLoop"],
    "q59_prefix_filter_jaccard": ["CartesianProduct", "NestedLoop"],
    # (BroadcastNestedLoopJoin IS expected here: the 1-row stats
    # subtree cross-joins in — constant-size build side, never a
    # data-dependent nested loop)
    "q61_bm25_topk": ["CartesianProduct"],
    "q63_locf_resample": ["CartesianProduct", "NestedLoop"],
    "q64_html_extract": ["CartesianProduct", "Exchange", "Window", "Join"],
    "q65_bpe_tokens": ["CartesianProduct", "NestedLoop", "Window"],
    "q66_shuffle_shard": ["CartesianProduct", "NestedLoop", "rangepartitioning", "MapInPandas"],
    "q67_incremental_dedup": ["CartesianProduct", "NestedLoop"],
    "q68_corpus_pipeline": ["CartesianProduct", "NestedLoop"],
    "q51_image_neardup_flags": ["FlatMapGroupsInPandas", "CartesianProduct"],
    # SortAggregate: a dedup keyed with the signature arrays, which are
    # not hash-aggregatable, sorts every candidate row
    "q69_text_neardup_stream_flags": ["FlatMapGroupsInPandas", "CartesianProduct",
                                      "SortAggregate"],
}
FORBID_ALL = ["CartesianProduct"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from osm_read_enhanced_spark.plans.queries import QUERIES, QUERIES_EXTENDED
    from osm_read_enhanced_spark.session import get_spark

    spark = get_spark(
        "explain-audit", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    print("# PLANS — physical-plan audit of headline queries")
    print()
    print("Generated by tools/explain_audit.py; asserts the plan shapes that")
    print("matter at scale (pushdown, pruning, broadcast, AQE). Codegen ids are")
    print("not visible in pre-execution AQE plans, so codegen spans are checked")
    print("implicitly via the executed-plan smoke in bench runs.")
    failures = []
    for name, expects in AUDITS.items():
        df = {**QUERIES, **QUERIES_EXTENDED}[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n## {name}\n")
        missing = [e for e in expects if e not in plan]
        forbidden = [
            f for f in FORBID.get(name, FORBID_ALL) if f in plan
        ]
        status = "OK" if not (missing or forbidden) else (
            f"MISSING: {missing} FORBIDDEN-PRESENT: {forbidden}"
        )
        print(f"expected: {expects} (forbidden: {FORBID.get(name, FORBID_ALL)}) → **{status}**\n")
        missing = missing + [f"NOT {f}" for f in forbidden]
        print("```")
        # keep the operator tree, drop the verbose per-node details
        head = plan.split("\n\n")[0]
        print(head)
        aqe = "AdaptiveSparkPlan" in plan
        has_exchange = "Exchange" in plan
        print(f"-- AdaptiveSparkPlan: {aqe} (exchanges: {has_exchange})")
        print("```")
        if missing:
            failures.append((name, missing))
        if has_exchange and not aqe:
            failures.append((name, ["AdaptiveSparkPlan"]))
    print()
    if failures:
        print(f"AUDIT FAILURES: {failures}", file=sys.stderr)
        sys.exit(1)
    print("_All audited plans show the expected physical properties._")


if __name__ == "__main__":
    main()
