"""Child process for the one-shot workloads.

Runs the calls `python -m mtail_spark --one_shot` makes (get_spark,
compile_program, read_log_lines, CompiledProgram.run_batch, collect)
over inputs the parent generated, repeats the pass until it is steady,
then times passes for the requested seconds.  Every pass starts from
nothing: plan caches are cleared and chunkfold's cached phase-A result
is unpersisted, so no pass is served from the previous one.  The
store and the backend that ran are checked after every pass.  Results
go to a JSON file.  With --setup-only the child stops once the session
is up and the program is compiled.

    python perfbench/oneshot.py --spec SPEC.json --out OUT.json
        [--seconds S] [--trace | --setup-only]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import spans  # noqa: E402

# Warm up for at least WARMUP_MIN passes and until a pass is within
# STEADY of the one before it, for at most WARMUP_MAX_S.  Passes keep
# drifting down after that, so the fixed minimum puts every run at
# about the same point of the JVM's warm-up.
WARMUP_MIN = 8
WARMUP_MAX_S = 30.0
STEADY = 0.05
TIMED_MIN = 3
# Render the pass's store as Prometheus text for this long (at most
# RENDERS_MAX times, at least once) after each timed pass.
RENDER_BUDGET_S = 0.25
RENDERS_MAX = 100


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args()
    with open(args.spec) as f:
        spec = json.load(f)
    expected = {
        (name, tuple(tuple(kv) for kv in labels)):
            tuple(tuple(v) if isinstance(v, list) else v for v in value)
            if isinstance(value, list) else value
        for name, labels, value in spec["expected"]
    }

    tracer = None
    if args.trace:
        tracer = spans.Tracer()
        tracer.install()

    from mtail_spark import session
    from mtail_spark.compiler import api
    from mtail_spark.exporters import formats
    from mtail_spark.sources import logs

    spark = session.get_spark("mtail-spark")
    prog = api.compile_program(spec["program"], spec["program_name"])
    result = {"t_ready": time.monotonic()}
    if args.setup_only:
        _write(args.out, result)
        os._exit(0)  # the parent stops the JVM; skip a clean shutdown

    backend_calls = spans.count_backends()
    pid = os.getpid()
    sc = spark.sparkContext

    def one_pass(i: int) -> dict:
        api.clear_plan_caches()
        if tracer is not None:
            tracer.set_tag(i)
            sc.setJobGroup(f"pass-{i}", f"perfbench pass {i}")
        calls0 = dict(backend_calls)
        cpu0 = procs.tree_cpu_s(pid)
        t0 = time.monotonic()
        lines = logs.read_log_lines(spark, spec["logs"])
        df = prog.run_batch(spark, lines)
        rows = [r.asDict() for r in df.collect()]
        t1 = time.monotonic()
        cpu1 = procs.tree_cpu_s(pid)
        cache = getattr(df, "_chunkfold_cache", None)
        if cache is not None:
            cache.unpersist(blocking=True)
        ran = {b: n - calls0[b] for b, n in backend_calls.items()
               if n != calls0[b]}
        backend = "+".join(sorted(ran)) or "fold"
        diffs = gen.diff_store(rows, expected)
        if ran != {spec["backend"]: 1}:
            diffs.insert(0, f"store builds {ran}, want one "
                            f"{spec['backend']} build")
        return {"wall_s": t1 - t0, "cpu_s": cpu1 - cpu0, "rows": rows,
                "backend": backend, "diffs": diffs}

    passes = []
    warm_t0 = time.monotonic()
    i = 0
    while True:
        p = one_pass(i)
        i += 1
        p.pop("rows")
        passes.append({**p, "timed": False})
        walls = [q["wall_s"] for q in passes]
        steady = (len(walls) >= WARMUP_MIN and
                  abs(walls[-1] - walls[-2]) <= STEADY * walls[-2])
        if steady or time.monotonic() - warm_t0 > WARMUP_MAX_S:
            break

    renders = []
    timed_t0 = time.monotonic()
    n_timed = 0
    while n_timed < TIMED_MIN or time.monotonic() - timed_t0 < args.seconds:
        p = one_pass(i)
        i += 1
        n_timed += 1
        rows = p.pop("rows")
        spent, k = 0.0, 0
        while k < RENDERS_MAX and (k == 0 or spent < RENDER_BUDGET_S):
            t0 = time.perf_counter()
            body = formats.to_prometheus(rows)
            dt = time.perf_counter() - t0
            renders.append(dt)
            spent += dt
            k += 1
        p["body_bytes"] = len(body)
        passes.append({**p, "timed": True})

    result.update({
        "passes": passes,
        "renders_s": renders,
        "peak_rss_mb": procs.tree_peak_rss_mb(pid),
    })
    if tracer is not None:
        timed_ids = [k for k, q in enumerate(passes) if q["timed"]]
        result["stage"] = spans.sum_stages(
            tracer.stage_metrics(spark), [f"pass-{k}" for k in timed_ids]
        )
        result["spans"] = tracer.spans
        result["timed_tags"] = timed_ids
    _write(args.out, result)
    print(f"passes: {[round(q['wall_s'], 3) for q in passes]}",
          file=sys.stderr)
    return 0


def _write(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.exit(main())
