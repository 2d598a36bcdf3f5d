"""Regenerate tests/plan_fingerprints.json — the pinned per-query
plan-shape table that tests/test_plan_invariants.py enforces EXACTLY.

The invariant tests bound the dangerous shapes (no cartesian, no
row-Python, allowlisted global windows); this pin catches everything
those bounds cannot: an innocent-looking edit that doubles an Exchange
count, drops a broadcast to a sort-merge join, or grows a new Window
is invisible to bit-parity (same rows) and to min-basis bench noise
(one run), but changes the fingerprint.

Allow-change mechanism: when a plan change is INTENTIONAL, review the
test's diff output (it names the query and every changed metric),
then re-run

    python tools/pin_plan_fingerprints.py

and commit the regenerated JSON together with the code change, noting
the reason in the commit message.  The pin is computed on the same
session shape as the test session (8 cores / 8 shuffle partitions)
over the same sf0.001 plans, so tool and test can never disagree.

Queries whose external input file is absent (planaudit.EXTERNAL_INPUT)
cannot be built; their committed pins are carried over unchanged, and
their names printed, so a re-pin without that input keeps them.
"""

from __future__ import annotations

import json
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
OUT = "/root/repo/tests/plan_fingerprints.json"


def main() -> None:
    spark = get_spark("pin-plan-fingerprints", cpus=8, shuffle_partitions=8)
    # ITERATION ORDER MUST MATCH tests/test_plan_invariants.all_plans
    # exactly (registry order, then production variants) and both
    # start from an empty cache: query CONSTRUCTION has session-visible
    # side effects (persist() registrations; the connected-components
    # queries localCheckpoint-execute during construction), so a plan's
    # shape can legitimately differ after a different prefix — e.g. a
    # materialized cache carries real statistics that flip a join
    # strategy.  The pin is therefore defined as "the shape CI
    # observes": clean cache, registry order.
    spark.catalog.clearCache()
    todo = dict(entrymod.queries())
    for name, fn in entrymod.PRODUCTION_VARIANTS.items():
        todo[f"{name}@prod"] = fn
    set_aside = missing_external_inputs()
    committed = {}
    if set_aside:
        with open(OUT) as fh:
            committed = json.load(fh)
    pins = {}
    for name, fn in todo.items():
        if name in STREAMING_REPLAY:
            continue  # replays execute eagerly; audited via batch duals
        if name in set_aside:
            pins[name] = committed[name]
            print(f"carried over {name} (missing {set_aside[name]})",
                  file=sys.stderr)
            continue
        df = fn(spark, SF)
        pins[name] = plan_fingerprint(
            formatted_plan(df),
            df._jdf.queryExecution().optimizedPlan().toString(),
        )
        print(f"pinned {name}", file=sys.stderr)
    with open(OUT, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT} ({len(pins)} queries)")


if __name__ == "__main__":
    main()
