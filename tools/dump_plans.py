"""Dump physical plans: the annotated PLANS.md tour, or before/after
plan files for a round's change.

    python tools/dump_plans.py
        writes PLANS.md at repo root
    python tools/dump_plans.py --round r14 --suffix before|after [--out DIR] q1 q2 ...
        writes plans/<round>/<query>_<suffix>.txt

Each PLANS.md entry prints the `.explain("formatted")` (or simple) plan
at sf0.001 with a short note on the scale-relevant property the plan
exhibits. Regenerate after any planner-visible change; the plan-shape
tests in tests/test_plans.py assert the same properties mechanically.

Round dumps take `.explain("formatted")` for the named queries: run once
at the pre-change commit (--suffix before) and once at HEAD (--suffix
after), then diff the two. Plan shape is scale-invariant, so sf0.001
shows Exchange count, join strategy, PushedFilters/ReadSchema and
codegen spans.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from icegopher_spark.queries import QUERIES  # noqa: E402
from icegopher_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# (query, explain mode, what to look for)
ENTRIES = [
    (
        "q6_forecast_revenue",
        "formatted",
        "Filter pushdown + column pruning: `PushedFilters` carries the "
        "quantity/discount/shipdate predicates into the parquet reader; "
        "`ReadSchema` lists only the 4 needed columns. At 100 TB this is "
        "the difference between scanning 3% and 100% of the table.",
    ),
    (
        "q8_national_market_share",
        "simple",
        "Eight-way star join: every dimension (part, supplier, customer, "
        "nation ×2, region) broadcasts — nation/region by explicit hint "
        "(scale-invariant), the rest picked by the 64 MB threshold/AQE so "
        "they degrade to shuffle joins at 100× instead of OOMing. The "
        "only shuffle joins the two facts (lineitem ⋈ orders).",
    ),
    (
        "asof_event_order",
        "simple",
        "As-of join WITHOUT a BroadcastNestedLoopJoin: union the two "
        "streams, one window pass with `last(..., ignoreNulls)` over "
        "(user, time) ordering. Cost is one sort-shuffle on the union, "
        "linear in rows — a BNLJ here would be |events|×|orders|.",
    ),
    (
        "dedup_exact",
        "simple",
        "Exact dedup: the exchange carries (64-bit xxhash fingerprint, "
        "id) — ~16 bytes/row regardless of document size. The text "
        "column never enters a shuffle.",
    ),
    (
        "corpus_curation",
        "simple",
        "Curation pipeline (score → filter → dedup → stats) as ONE "
        "linear plan: scoring is all whole-stage-codegen regexp/case "
        "expressions; the dedup exchange carries (fingerprint, metrics); "
        "the final stats exchange carries per-language partial "
        "aggregates. Document text stays inside the scan stage.",
    ),
    (
        "vocab_top_tokens",
        "formatted",
        "Vocabulary: `partial_count` before the exchange (map-side "
        "combine collapses the token stream to ~|vocab| rows per task) "
        "and `TakeOrderedAndProject` for top-k — no global sort.",
    ),
    (
        "dedup_ngram_jaccard",
        "simple",
        "Inverted-index Jaccard with the stop-shingle guard: a LeftAnti "
        "join drops shingle hashes whose doc-frequency exceeds the cap "
        "before the self-join, so one boilerplate line shared by 100k "
        "docs can't contribute 10^10 candidate rows. Join keys are "
        "8-byte hashes; text never shuffles.",
    ),
    (
        "sim_neardup_embeddings",
        "simple",
        "Embedding near-dup WITHOUT the O(n²) BNLJ: banded sign-LSH "
        "candidates equi-join on (band, key) ints, then exact cosine "
        "verifies survivors through unhinted shuffle joins on id. "
        "12 bands × 4 bits keeps the miss probability ≈1% at the 0.9 "
        "threshold while candidates shrink with data clustering.",
    ),
    (
        "iceberg_scan_pruned",
        "formatted",
        "Iceberg metadata pruning happened BEFORE this plan exists (the "
        "planner handed Spark an explicit pruned file list), and the "
        "residual predicate is STILL pushed to the parquet row-group "
        "reader — two pruning layers deep before any data decodes.",
    ),
    (
        "salted_join_revenue",
        "simple",
        "Skew-salted join: both sides exchange on (key, salt) — the "
        "hottest key fans out over `num_salts` reducers. Value-identical "
        "to the plain join (oracle-checked).",
    ),
    (
        "corpus_temperature_mix",
        "formatted",
        "sqrt-temperature resampling (round-5): the quota map is a "
        "broadcast of |langs| rows; the ranking window sorts payload-"
        "free (bucket, id) pairs — ReadSchema never includes text.",
    ),
    (
        "dedup_minhash_incremental",
        "simple",
        "Incremental dedup (round-5): candidates are an equi-join of the "
        "new batch's band keys against the persisted index scan; verify "
        "joins shuffle only hashed shingle longs. No nested-loop joins.",
    ),
    (
        "text_winnow_fingerprints",
        "simple",
        "Winnowing (round-9): ONE scan, one window pass partitioned by "
        "doc (rightmost-min selection is a single frame MIN over the "
        "packed key — no argmin join), distinct on the tiny selected "
        "set. Whole-stage codegen end to end; no UDFs.",
    ),
    (
        "sim_semdedup",
        "simple",
        "SemDeDup (round-9): the cluster-assignment frame is PERSISTED "
        "(InMemoryTableScan feeds all four consumers — the Arrow "
        "centroid kernel runs once); the pair join shuffles on cluster "
        "id so pairwise cosine never leaves a cluster. Adaptive cluster "
        "count keeps the per-cluster quadratic term constant (10x "
        "artifact: 11.65x fixed -> 3.27x adaptive).",
    ),
    (
        "interval_join_campaigns",
        "simple",
        "Range join (round-9): the inequality join Catalyst would run "
        "as BroadcastNestedLoop is re-expressed as explode-to-buckets + "
        "BroadcastHashJoin on __range_bucket with the exact range "
        "predicate as the join residual. Each (point, interval) pair "
        "meets exactly once (a point lives in ONE bucket) — no dedup "
        "pass. The only BNLJ in the plan is the constant-size 50x1 "
        "global-min attach.",
    ),
    (
        "fuzzy_match_partnames",
        "simple",
        "Fuzzy join (round-9): candidates from a q-gram inverted-index "
        "equi-join over DISTINCT strings (vocabulary-scale, not corpus-"
        "scale); short strings route through a bounded broadcast block; "
        "JVM levenshtein verifies. The gate's oracle is the naive "
        "all-pairs join, so the hash match proves recall 1.0.",
    ),
    (
        "graph_pagerank",
        "simple",
        "PageRank (round-9): the returned plan is ONE iteration deep — "
        "LocalTableScan/checkpoint blocks stand in for iteration k-1 "
        "because the loop localCheckpoints every pass. Without it the "
        "logical plan grows 3^k nodes (driver OOMs printing the tree "
        "at k=10; caught by this repo's own tests).",
    ),
    (
        "delta_dv_read",
        "formatted",
        "Delta deletion-vector read (round-10, executor-side decode "
        "since round-11): ONE parquet scan (filters still push down; "
        "ReadSchema carries only the projected columns + the hidden "
        "row_index), the DV mask is a BroadcastHashJoin LeftAnti on "
        "(file_path, row_index) against a MapInPandas node that "
        "decodes roaring bitmaps IN THE EXECUTORS from per-file specs "
        "(path+offset+size / inline Z85) — the driver ships one "
        "metadata-sized spec row per masked file and never touches a "
        "position. Broadcast decision comes from descriptor "
        "cardinality (in the log, no decode needed); above "
        "_DV_BROADCAST_MAX_POSITIONS the hint drops and AQE picks the "
        "join strategy (a 100M-position broadcast would OOM the "
        "driver).",
    ),
    (
        "delta_column_mapping_read",
        "formatted",
        "Delta column mapping (round-10): the scan reads PHYSICAL "
        "column names (`col-*` in ReadSchema) and one positional CAST "
        "re-labels them logical — a pure Project, no extra exchange; "
        "partition values re-attach via the same broadcast path join "
        "as plain Delta reads, keyed by physical name.",
    ),
]


def plan_of(df, mode: str) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def write_plans_md(spark) -> None:
    out = [
        "# PLANS — annotated physical plans (sf0.001, regenerate via "
        "`python tools/dump_plans.py`)",
        "",
        "Plan-shape regression tests (`tests/test_plans.py`) assert these "
        "properties mechanically; this file is the human-readable tour.",
        "",
    ]
    for name, mode, note in ENTRIES:
        df = QUERIES[name].fn(spark, SF)
        plan = plan_of(df, mode).rstrip()
        lines = plan.splitlines()
        if len(lines) > 140:  # keep the tour human-readable
            lines = lines[:140] + [f"... ({len(lines) - 140} more lines truncated)"]
            plan = "\n".join(lines)
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]
    (Path(_REPO) / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(ENTRIES)} plans)")


def write_round_plans(spark, out_dir: Path, suffix: str, names: list[str]) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        txt = plan_of(QUERIES[name].fn(spark, SF), "formatted").rstrip() + "\n"
        p = out_dir / f"{name}_{suffix}.txt"
        p.write_text(txt)
        print(f"wrote {p} ({len(txt.splitlines())} lines)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", help="dump the named queries to plans/<round>/")
    ap.add_argument("--suffix", default="after", help="before|after (default: after)")
    ap.add_argument("--out", type=Path, help="output dir (default: plans/<round>)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.round is None:
        if args.queries or args.out:
            ap.error("queries and --out need --round")
        write_plans_md(get_spark("plan-dump"))
        return
    out_dir = args.out or Path(_REPO) / "plans" / args.round
    write_round_plans(get_spark(f"plan-dump-{args.round}"), out_dir, args.suffix, args.queries)


if __name__ == "__main__":
    main()
