"""Full-coverage plan-shape audit: ONE line per registered query into
SCALE.md.

PLANS.md carries deep plan evidence for the headline queries;
tests/test_plan_invariants.py enforces the hard invariants (no
cartesian, no row-Python, no un-allowlisted global window) in CI.
This tool closes the gap between them: a compact, regenerable table
proving every one of the registry's queries was shape-audited, with
the counts a 100 TB review cares about (shuffles, broadcasts,
sort-merge joins, windows, Python surfaces, top-k pushdown).

Usage: python tools/scale_audit.py   (writes SCALE.md at repo root)
"""

from __future__ import annotations

import subprocess
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from mtail_spark.planaudit import (  # noqa: E402
    STREAMING_REPLAY,
    formatted_plan,
    missing_external_inputs,
    plan_fingerprint,
)
from mtail_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def audit_row(df) -> dict:
    return plan_fingerprint(
        formatted_plan(df),
        df._jdf.queryExecution().optimizedPlan().toString(),
    )


def main() -> None:
    spark = get_spark("scale-audit")
    qs = entrymod.queries()
    prod = entrymod.PRODUCTION_VARIANTS
    set_aside = missing_external_inputs()
    rows = []
    for name, fn in qs.items():
        if name in STREAMING_REPLAY:
            rows.append(
                (name, None, f"replay: audited as {STREAMING_REPLAY[name]}")
            )
            continue
        if name in set_aside:
            rows.append((name, None, f"set aside: {set_aside[name]} "
                                     "not found"))
            print(f"set aside {name}", file=sys.stderr)
            continue
        # queries with a production-shape variant are audited in THAT
        # shape (the exact demo columns exist only for the oracle gate
        # and would not ship at 100 TB); the row is marked "prod"
        shaped = prod.get(name, fn)
        df = shaped(spark, SF)
        label = f"{name} (prod)" if name in prod else name
        rows.append((label, audit_row(df), None))
        print(f"audited {label}", file=sys.stderr)

    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd="/root/repo",
    ).stdout.strip()
    out = [
        "# SCALE: plan-shape audit of every registered query",
        "",
        f"Generated by tools/scale_audit.py at commit {head} over "
        f"sf0.001 plans ({len(qs)} queries).  Columns: shuffle "
        "Exchanges / BroadcastHashJoin / SortMergeJoin / "
        "BroadcastNestedLoopJoin (1-row or k-row sides only — "
        "enforced) / CartesianProduct (must be 0 — enforced) / "
        "Window nodes (global = empty partition spec; nonzero only "
        "for the documented k-row allowlist in "
        "tests/test_plan_invariants.py) / TakeOrderedAndProject / "
        "Python surface (Arrow-batched only — enforced).  Streaming "
        "replays execute eagerly and are audited via their batch "
        "duals.  Rows marked `(prod)` audit the PRODUCTION shape "
        "from __spark_entry__.PRODUCTION_VARIANTS — the registered "
        "oracle query additionally carries an exact demo column "
        "(countDistinct / broadcast-distinct) that exists only to "
        "make sketch accuracy checkable and would not ship at "
        "100 TB.",
        "",
        "| query | shuffles | bcast HJ | SMJ | BNLJ | cartesian |"
        " windows | global win | top-k | python |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a, note in rows:
        if a is None:
            out.append(
                f"| {name} | — | — | — | — | — | — | — | — | {note} |"
            )
            continue
        out.append(
            f"| {name} | {a['shuffles']} | {a['bhj']} | {a['smj']} |"
            f" {a['bnlj']} | {a['cartesian']} | {a['windows']} |"
            f" {a['global_windows']} | {a['topk']} | {a['python']} |"
        )
    with open("/root/repo/SCALE.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote SCALE.md ({len(rows)} rows)")


if __name__ == "__main__":
    main()
