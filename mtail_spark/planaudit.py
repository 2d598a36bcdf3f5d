"""Shared plan-audit helpers: the single source of truth for the
streaming-replay registry and the global-window detector, used by
BOTH tests/test_plan_invariants.py (the CI gate) and
tools/scale_audit.py (the SCALE.md table) so the two can never
disagree about which queries replay eagerly or what counts as an
un-partitioned window."""

from __future__ import annotations

import contextlib
import io
import os
import re
import warnings

from mtail_spark.plans.demo_programs import DHCPD_PATH

# Queries whose construction RUNS a streaming replay (the returned
# DataFrame is the final memory-sink table — nothing left to check);
# each maps to the batch dual whose plan carries the same operator
# shape.
STREAMING_REPLAY: dict[str, str] = {
    "session_window_stream": "sessionize_events",
    "rate_anomalies_stream": "rate_anomalies",
    "dedup_exact_stream": "dedup_exact",
    "tumbling_window_stream": "tumbling_window_counts",
    "dedup_incremental_stream": "dedup_incremental",
    "band_join_stream": "band_join_counts",
    "asof_join_stream": "asof_join_last_touch",
    "sliding_window_stream": "sliding_window_stats",
    # the mergeable-sketch pairs (r9 VERDICT item 4): their returned
    # plan is only the estimate layer over the replayed state table,
    # so the stateful-aggregation shape itself is audited via the
    # batch dual that builds the same cells/registers from the same
    # source
    "hll_distinct_stream": "hll_distinct_by_type",
    "cms_counts_stream": "cms_counts",
    "quantile_sketch_stream": "quantile_sketch_by_type",
    "hll_distinct_windowed_stream": "hll_distinct_windowed",
    # the 13th pair: stream-static broadcast enrichment; the batch
    # dual carries the identical join+aggregate shape
    "segment_enrichment_stream": "segment_enrichment",
    # the 14th pair: event-time windows x HDR quantile cells
    "quantile_sketch_windowed_stream": "quantile_sketch_windowed",
}

# Queries whose construction reads a file from outside the repository
# (the reference mtail checkout), mapped to that file.  Where the file
# is absent the query cannot be built, so the whole-registry gates and
# tools/pin_plan_fingerprints.py set exactly these names aside — the
# decision is made on the path alone, never on an exception raised
# while building a query.
EXTERNAL_INPUT: dict[str, str] = {
    "mtail_prog_dhcpd": DHCPD_PATH,
    "mtail_prog_dhcpd_core": DHCPD_PATH,
}


def missing_external_inputs() -> dict[str, str]:
    """The EXTERNAL_INPUT entries whose file does not exist; warns
    with their names and paths when there are any."""
    missing = {
        name: path
        for name, path in EXTERNAL_INPUT.items()
        if not os.path.exists(path)
    }
    if missing:
        warnings.warn(
            "queries set aside, external input not found: "
            + ", ".join(f"{n} ({p})" for n, p in missing.items()),
            stacklevel=2,
        )
    return missing


def formatted_plan(df) -> str:
    """df.explain('formatted') as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_fingerprint(fmt: str, opt: str) -> dict:
    """The per-query plan-shape fingerprint: the counts a 100 TB
    review cares about, computed from the formatted physical plan and
    the optimized logical plan.  Single source of truth for
    tools/scale_audit.py (the SCALE.md table), tools/
    pin_plan_fingerprints.py (the pinned expectation), and
    tests/test_plan_invariants.py (the exact-shape CI gate) — an edit
    that quietly doubles an Exchange count is invisible to bit-parity
    and to min-basis bench noise, but not to this."""

    def c(node: str) -> int:
        # formatted explain prints each node twice (tree + details);
        # the details entry "(N) NodeName" appears exactly once per
        # physical node
        return len(re.findall(rf"\(\d+\) {node}\b", fmt))

    py = []
    for tag in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        if tag in fmt:
            py.append(tag)
    assert "BatchEvalPython" not in fmt
    return {
        "shuffles": c("Exchange"),  # \bExchange excludes BroadcastExchange
        "bhj": c("BroadcastHashJoin"),
        "smj": c("SortMergeJoin"),
        "bnlj": c("BroadcastNestedLoopJoin"),
        "cartesian": c("CartesianProduct"),
        "windows": c("Window"),
        "global_windows": len(empty_partition_windows(opt)),
        "topk": c("TakeOrderedAndProject"),
        "python": "+".join(py) if py else "-",
    }


def _first_top_level_arg(args: str) -> str:
    """First comma-separated argument at paren depth 0 — a plain
    .split(',') would truncate a computed ordering expression like
    coalesce(a, b) ASC and mask its sort keyword."""
    depth = 0
    for i, ch in enumerate(args):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            return args[:i]
    return args


def empty_partition_windows(opt_plan: str) -> list[str]:
    """windowspecdefinition(part..., order..., frame): partition
    columns carry no sort direction, order columns do — so a FIRST
    top-level argument with ASC/DESC means the partition spec is
    empty (an Exchange SinglePartition at scale)."""
    hits = []
    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", opt_plan
    ):
        first = _first_top_level_arg(m.group(1))
        if " ASC" in first or " DESC" in first:
            hits.append(m.group(1)[:80])
    return hits
