"""mtail-spark end-to-end benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  Generates the workload's
inputs from the seed, runs mtail-spark in fresh child processes (each
in its own process group), checks the resulting store against the one
the generator expects, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the run is made twice, untraced and then traced, and the metrics are
the per-layer numbers of the traced run plus the tracing overhead.
Workloads, metrics and the reasons for them are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import socket
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import serve  # noqa: E402
import spans  # noqa: E402

NPROC = len(os.sched_getaffinity(0))

WORKLOADS = {
    # four files of register records above the chunkfold size floor
    "oneshot_registers": {
        "kind": "oneshot", "backend": "chunkfold", "cpus": NPROC,
        "files": 4, "records_per_file": 28_000, "users": 200,
    },
    # the tailing daemon under an open-loop writer and a scraper
    "serve_tail": {
        "kind": "serve", "backend": "vector", "cpus": max(1, NPROC - 1),
        "files": 1, "paths": 500, "rate": 2000.0, "prime_lines": 100,
        "prime_s": 60.0, "warm_s": 6.0, "scrape_every_s": 0.025,
        "drain_s": 20.0,
    },
}

DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 150.0
# set-up samples per run: the measured child plus SETUPS - 1 children
# started only to set up.  A traced run makes two runs back to back,
# so each samples set-up once to stay inside the time limit.
SETUPS = 3
TRACED_SETUPS = 1

END_TO_END = [
    ("setup_s", "s"),
    ("freshness_p50_s", "s"),
    ("cpu_s_per_mline", "s/Mline"),
    ("export_p50_ms", "ms"),
]

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("compiler.compile_program_s", "s"),
    ("compiler.run_batch_s", "s"),
    ("compiler.py4j_calls_per_run_batch", "count"),
    ("sources.logs.read_log_lines_s", "s"),
    ("oneshot.first_pass_s", "s"),
    ("spark.exec.executor_cpu_s_per_mline", "s/Mline"),
    ("spark.exec.tasks", "count"),
    ("spark.exec.max_task_share", "ratio"),
    ("spark.exec.shuffle_write_mb", "MB"),
    ("spark.exec.shuffle_read_mb", "MB"),
    ("spark.exec.spill_mb", "MB"),
    ("sources.filetail.poll_ms_p50", "ms"),
    ("sources.filetail.lag_kb_p50", "KB"),
    ("sources.spool.files_end", "count"),
    ("streaming.progress.trigger_ms_p50", "ms"),
    ("streaming.progress.latest_offset_ms_p50", "ms"),
    ("streaming.progress.latest_offset_growth_ms_per_min", "ms/min"),
    ("streaming.progress.get_batch_ms_p50", "ms"),
    ("streaming.progress.add_batch_ms_p50", "ms"),
    ("streaming.progress.batches", "count"),
    ("streaming.progress.rows_per_batch_p50", "count"),
    ("streaming.store.merge_batch_ms_p50", "ms"),
    ("streaming.store.rows_ms_p50", "ms"),
    ("streaming.store.series_end", "count"),
    ("exporters.to_prometheus_ms_p50", "ms"),
    ("exporters.body_kb", "KB"),
    ("proc.peak_rss_mb", "MB"),
    ("gen.lateness_p99_ms", "ms"),
    *[(f"trace.overhead_pct.{m}", "%") for m, _ in END_TO_END],
    ("trace.passes", "count"),
    ("trace.batches", "count"),
    ("trace.spans", "count"),
]


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..1)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def med(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


class Run:
    """One workload run: a scratch directory inside the checkout and
    the environment every child gets."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, setups: int, tag: str):
        self.root = root
        self.name = workload
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.setups = setups
        self.dir = os.path.join(root, ".perfbench_work", tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "in", "out"):
            os.makedirs(os.path.join(self.dir, sub))
        tmp = os.path.join(self.dir, "tmp")
        self.env = dict(os.environ)
        self.env.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(self.w["cpus"]),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        self.log = os.path.join(self.dir, "out", "child.log")

    def spawn(self, argv: list[str]):
        return procs.spawn([sys.executable, *argv], self.env, self.dir,
                           self.log)

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log, errors="replace") as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


# ------------------------------------------------------------------ one-shot

def oneshot_inputs(run: Run) -> dict:
    w, indir = run.w, os.path.join(run.dir, "in")
    paths, expected, n_lines = gen.write_txn_logs(
        indir, run.seed, w["files"], w["records_per_file"], w["users"])
    return {
        "program": gen.TXN_PROG,
        "program_name": f"{run.name}.mtail",
        "logs": os.path.join(indir, "*.log"),
        "backend": w["backend"],
        "n_lines": n_lines,
        "expected": [[k[0], list(k[1]), v] for k, v in expected.items()],
    }


def _oneshot_child(run: Run, argv: list[str], out: str) -> dict:
    """Run one one-shot child to its end; returns its result with
    setup_s, the time from spawn until it was ready."""
    t_spawn = time.monotonic()
    proc = run.spawn(argv + ["--out", out])
    groups = set()
    try:
        rc, groups = procs.wait(proc, CHILD_TIMEOUT_S)
    finally:
        procs.reap(proc, groups=groups)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(
            f"one-shot child exited with {rc}:\n{run.log_tail()}")
    with open(out) as f:
        result = json.load(f)
    result["setup_s"] = result["t_ready"] - t_spawn
    return result


def run_oneshot(run: Run) -> dict:
    spec = oneshot_inputs(run)
    spec_path = os.path.join(run.dir, "in", "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    argv = [os.path.join(HERE, "oneshot.py"), "--spec", spec_path,
            "--seconds", str(run.seconds)]
    setups = [
        _oneshot_child(run, argv + ["--setup-only"],
                       os.path.join(run.dir, "out", f"setup{k}.json"))
        ["setup_s"]
        for k in range(run.setups - 1)
    ]
    result = _oneshot_child(run, argv + (["--trace"] if run.trace else []),
                            os.path.join(run.dir, "out", "oneshot.json"))
    result["setups_s"] = setups + [result["setup_s"]]
    result["n_lines"] = spec["n_lines"]
    return result


def oneshot_metrics(res: dict) -> tuple[dict, dict, dict]:
    """-> (end-to-end metrics, sample counts, accounting)."""
    timed = [p for p in res["passes"] if p["timed"]]
    walls = [p["wall_s"] for p in timed]
    n = res["n_lines"]
    renders_ms = [r * 1e3 for r in res["renders_s"]]
    cpu = sum(p["cpu_s"] for p in timed)
    e2e = {
        "setup_s": med(res["setups_s"]),
        # every line of a pass becomes visible when its pass ends
        "freshness_p50_s": med(walls),
        "cpu_s_per_mline": cpu / (len(timed) * n / 1e6),
        "export_p50_ms": med(renders_ms),
    }
    counts = {
        "setup_s": len(res["setups_s"]),
        "freshness_p50_s": len(walls),
        "cpu_s_per_mline": len(timed),
        "export_p50_ms": len(renders_ms),
    }
    failed = [p for p in res["passes"] if p["diffs"]]
    acct = {
        "attempted": len(res["passes"]),
        "failed": len(failed),
        "diffs": failed[0]["diffs"][:5] if failed else [],
        "backend": " ".join(sorted({p["backend"] for p in res["passes"]})),
        "detail": {
            "throughput_klines_per_s": n / med(walls) / 1e3,
            "slowest_pass_s": max(walls),
            "render_p99_ms": pct(renders_ms, 0.99),
            "input_lines": n,
            "warmup_passes": len(res["passes"]) - len(timed),
            "timed_passes": len(timed),
            "pass_walls_s": " ".join(f"{p['wall_s']:.2f}"
                                     for p in res["passes"]),
        },
    }
    return e2e, counts, acct


def oneshot_layers(res: dict) -> dict:
    spans = res["spans"]
    timed = set(res["timed_tags"])
    k = max(1, len(timed))

    def durs(name, only_timed=True):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and "end" in s
                and (not only_timed or s["tag"] in timed)]

    run_batch = [s for s in spans
                 if s["name"] == "compiler.run_batch" and s["tag"] in timed]
    st = res["stage"]
    body = [p["body_bytes"] for p in res["passes"] if p["timed"]]
    return {
        "session.get_spark_s": sum(durs("session.get_spark", False)),
        "compiler.compile_program_s": sum(
            durs("compiler.compile_program", False)),
        "compiler.run_batch_s": med(durs("compiler.run_batch")),
        "compiler.py4j_calls_per_run_batch": med(
            [s["py4j"] for s in run_batch]),
        "sources.logs.read_log_lines_s": med(
            durs("sources.logs.read_log_lines")),
        "oneshot.first_pass_s": res["passes"][0]["wall_s"],
        "spark.exec.executor_cpu_s_per_mline":
            st["cpu_s"] / (k * res["n_lines"] / 1e6),
        "spark.exec.tasks": st["tasks"] / k,
        "spark.exec.max_task_share": st["max_task_share"],
        "spark.exec.shuffle_write_mb": st["shuffle_write_b"] / k / 2**20,
        "spark.exec.shuffle_read_mb": st["shuffle_read_b"] / k / 2**20,
        "spark.exec.spill_mb": st["spill_b"] / k / 2**20,
        "exporters.to_prometheus_ms_p50": 1e3 * med(
            durs("exporters.to_prometheus", False)),
        "exporters.body_kb": med(body) / 1024,
        "proc.peak_rss_mb": res["peak_rss_mb"],
        "trace.passes": len(res["passes"]),
        "trace.spans": len(spans),
    }


# --------------------------------------------------------------------- serve

def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_ready(proc, port: int, deadline: float) -> bool:
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            return False
        try:
            serve.get_metrics(port, timeout=2.0)
            return True
        except OSError:
            time.sleep(0.05)
    return False


def run_serve(run: Run) -> dict:
    w = run.w
    progs = os.path.join(run.dir, "in", "progs")
    logdir = os.path.join(run.dir, "in", "logs")
    os.makedirs(progs)
    os.makedirs(logdir)
    with open(os.path.join(progs, "access.mtail"), "w") as f:
        f.write(gen.ACCESS_PROG)
    n_files = w["files"]
    paths = [os.path.join(logdir, f"app{i}.log") for i in range(n_files)]
    for p in paths:  # the files exist before the daemon starts
        open(p, "w").close()
    per_file = w["prime_lines"] + math.ceil(
        w["rate"] * (w["warm_s"] + run.seconds) / n_files)
    src = gen.AccessLog(run.seed, w["paths"])
    srcs = [f"app{i}" for i in range(n_files)]
    per = [src.lines(s, per_file) for s in srcs]
    lines = [per[i % n_files][i // n_files] for i in range(per_file * n_files)]
    exp = gen.AccessExpect()
    for ls in per:
        exp.add(ls)
    expected = exp.store()

    spans_out = os.path.join(run.dir, "out", "spans.json")

    def start():
        """Spawn a daemon; -> (process, port, seconds until /metrics
        answered)."""
        port = _free_port()
        cli = ["--progs", progs, "--logs", os.path.join(logdir, "*.log"),
               "--port", str(port)]
        if run.trace:
            argv = [os.path.join(HERE, "traced_serve.py"), spans_out, *cli]
        else:
            argv = ["-m", "mtail_spark", *cli]
        t_spawn = time.monotonic()
        proc = run.spawn(argv)
        if not _wait_ready(proc, port, t_spawn + CHILD_TIMEOUT_S / 2):
            procs.reap(proc)
            raise RuntimeError(
                f"daemon never served /metrics:\n{run.log_tail()}")
        return proc, port, time.monotonic() - t_spawn

    # set-up samples from daemons that serve no lines: the logs are
    # still empty, and each daemon spools into a fresh temp directory
    setups = []
    for _ in range(run.setups - 1):
        proc, _port, setup_s = start()
        procs.reap(proc, grace_s=0)  # nothing to shut down cleanly
        setups.append(setup_s)
    proc, port, setup_s = start()
    try:
        res = _drive(run, proc, port, paths, srcs, lines, expected,
                     spans_out)
    finally:
        procs.reap(proc)
    res["setups_s"] = setups + [setup_s]
    return res


def _drive(run, proc, port, paths, srcs, lines, expected, spans_out):
    w = run.w
    # Prime: the first lines of every file go in at once, and the clock
    # starts when the cold first micro-batch has counted them, so no
    # backlog from the cold batch carries into the measured window.
    prime = w["prime_lines"] * len(paths)
    t_prime = time.monotonic()
    serve.append(paths, lines, 0, prime)
    deadline = t_prime + w["prime_s"]
    while True:
        try:
            seqs = serve.parse_seqs(serve.get_metrics(port).decode())
        except OSError:
            seqs = {}
        if all(seqs.get(s, 0) >= w["prime_lines"] for s in srcs):
            break
        if time.monotonic() > deadline:
            raise RuntimeError(f"primed lines never showed:\n{run.log_tail()}")
        time.sleep(0.1)
    prime_s = time.monotonic() - t_prime
    t0 = time.monotonic() + 0.2
    lo, hi = t0 + w["warm_s"], t0 + w["warm_s"] + run.seconds
    generator = serve.Generator(paths, lines, w["rate"], t0, start=prime)
    scraper = serve.Scraper(port, w["scrape_every_s"], t0)
    generator.start()
    scraper.start()
    time.sleep(max(0.0, lo - time.monotonic()))
    cpu0 = procs.tree_cpu_s(proc.pid)
    time.sleep(max(0.0, hi - time.monotonic()))
    cpu1 = procs.tree_cpu_s(proc.pid)
    generator.join()
    # drain: keep scraping until every file's last line shows, or give up
    per_file = len(lines) // len(paths)
    deadline = time.monotonic() + w["drain_s"]
    while time.monotonic() < deadline and any(
            scraper.seen(s) < per_file for s in srcs):
        time.sleep(0.05)
    scraper.stop_event.set()
    scraper.join()
    for err in (generator.error, scraper.error):
        if err is not None:
            raise err
    final = serve.get_metrics(port).decode()
    final_rows = serve.parse_store(final)
    peak_rss = procs.tree_peak_rss_mb(proc.pid)
    procs.reap(proc)
    traced = None
    if run.trace:
        with open(spans_out) as f:
            traced = json.load(f)
    fresh, unseen = serve.freshness(srcs, generator, scraper.scrapes, lo, hi)
    window = [s for s in scraper.scrapes if lo <= s[0] < hi]
    win_lines = [i for i in range(len(lines)) if lo <= generator.due(i) < hi]
    return {
        "prime_s": prime_s,
        "fresh": fresh, "unseen": unseen,
        "window_scrapes": window, "n_window_lines": len(win_lines),
        "cpu_s": cpu1 - cpu0, "window_s": hi - lo,
        "lateness_s": [generator.written_at[i] - generator.due(i)
                       for i in win_lines],
        "diffs": gen.diff_store(final_rows, expected),
        "final_series": len(final_rows),
        "final_body": len(final), "peak_rss_mb": peak_rss,
        "traced": traced, "lo": lo, "hi": hi,
    }


def serve_metrics(res: dict) -> tuple[dict, dict, dict]:
    fresh = res["fresh"] or [float("inf")]
    lat_ms = [(s[1] - s[0]) * 1e3 for s in res["window_scrapes"] if s[2]]
    failed_scrapes = sum(1 for s in res["window_scrapes"] if not s[2])
    n = res["n_window_lines"]
    e2e = {
        "setup_s": med(res["setups_s"]),
        "freshness_p50_s": med(fresh),
        "cpu_s_per_mline": res["cpu_s"] / (n / 1e6),
        "export_p50_ms": med(lat_ms, float("inf")),
    }
    counts = {
        "setup_s": len(res["setups_s"]),
        "freshness_p50_s": len(res["fresh"]),
        "cpu_s_per_mline": 1,
        "export_p50_ms": len(lat_ms),
    }
    acct = {
        "attempted": n + len(res["window_scrapes"]),
        "failed": res["unseen"] + failed_scrapes,
        "diffs": res["diffs"][:5],
        # only the traced daemon shows which store builder ran
        "backend": "unobserved",
        "detail": {
            "prime_s": res["prime_s"],
            "freshness_p99_s": pct(fresh, 0.99),
            "daemon_cpu_cores": res["cpu_s"] / res["window_s"],
            "scrape_p99_ms": pct(lat_ms, 0.99) if lat_ms else float("inf"),
            "window_lines": n,
            "unseen_lines": res["unseen"],
            "window_scrapes": len(res["window_scrapes"]),
            "failed_scrapes": failed_scrapes,
            "gen_lateness_p99_ms": 1e3 * pct(res["lateness_s"], 0.99),
        },
    }
    return e2e, counts, acct


def serve_backend(res: dict) -> tuple[str, list]:
    """The backend the traced daemon ran, from its store-builder spans:
    -> (label, failures).  Only vector plans may be built, and the
    micro-batches that finish in the window must have built them."""
    tr = res["traced"]
    lo, hi = res["lo"], res["hi"]
    builds, in_window = {}, 0
    for s in tr["spans"]:
        name = s["name"]
        if name.startswith("compiler.") and name.endswith("_store"):
            b = name[len("compiler."):-len("_store")]
            builds[b] = builds.get(b, 0) + 1
            in_window += b == "vector" and lo <= s["start"] < hi
    batches = sum(1 for p in tr["progress"] if lo <= p["t"] < hi)
    diffs = []
    if set(builds) != {"vector"} or in_window < max(1, batches - 1):
        diffs.append(f"store builds {builds}, {in_window} vector builds "
                     f"in the window for {batches} micro-batches")
    return "+".join(sorted(builds)) or "none", diffs


def serve_layers(res: dict) -> dict:
    tr = res["traced"]
    lo, hi = res["lo"], res["hi"]
    trace_spans = tr["spans"]

    def durs(name, windowed=True):
        return [s["end"] - s["start"] for s in trace_spans
                if s["name"] == name and "end" in s
                and (not windowed or lo <= s["start"] < hi)]

    run_batch = [s for s in trace_spans if s["name"] == "compiler.run_batch"
                 and "end" in s and lo <= s["start"] < hi]
    prog = [p for p in tr["progress"] if lo <= p["t"] < hi]

    def prog_ms(key):
        return med([p["ms"].get(key, 0) for p in prog])

    growth = 0.0
    if len(prog) >= 2:
        xs = [p["t"] / 60.0 for p in prog]
        ys = [p["ms"].get("latestOffset", 0) for p in prog]
        mx, my = statistics.fmean(xs), statistics.fmean(ys)
        sxx = sum((x - mx) ** 2 for x in xs)
        if sxx > 0:
            growth = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    lag = [b for t, b in tr["samples"].get("lag_bytes", []) if lo <= t < hi]
    # executor work of the micro-batches that finished in the window
    st = spans.sum_stages(tr.get("stage") or {},
                          [f"batch-{p['batch']}" for p in prog])
    total_lines = sum(p["rows"] for p in prog) or 1
    batches = max(1, len(prog))
    return {
        "session.get_spark_s": sum(durs("session.get_spark", False)),
        "compiler.compile_program_s": sum(
            durs("compiler.compile_program", False)),
        "compiler.run_batch_s": med(durs("compiler.run_batch")),
        "compiler.py4j_calls_per_run_batch": med(
            [s["py4j"] for s in run_batch]),
        "spark.exec.executor_cpu_s_per_mline":
            st["cpu_s"] / (total_lines / 1e6),
        "spark.exec.tasks": st["tasks"] / batches,
        "spark.exec.max_task_share": st["max_task_share"],
        "spark.exec.shuffle_write_mb": st["shuffle_write_b"] / batches / 2**20,
        "spark.exec.shuffle_read_mb": st["shuffle_read_b"] / batches / 2**20,
        "spark.exec.spill_mb": st["spill_b"] / batches / 2**20,
        "sources.filetail.poll_ms_p50": 1e3 * med(
            durs("sources.filetail.poll_once")),
        "sources.filetail.lag_kb_p50": med(lag) / 1024,
        "sources.spool.files_end": tr.get("spool_files_end", 0),
        "streaming.progress.trigger_ms_p50": prog_ms("triggerExecution"),
        "streaming.progress.latest_offset_ms_p50": prog_ms("latestOffset"),
        "streaming.progress.latest_offset_growth_ms_per_min": growth,
        "streaming.progress.get_batch_ms_p50": prog_ms("getBatch"),
        "streaming.progress.add_batch_ms_p50": prog_ms("addBatch"),
        "streaming.progress.batches": len(prog),
        "streaming.progress.rows_per_batch_p50": med(
            [p["rows"] for p in prog]),
        "streaming.store.merge_batch_ms_p50": 1e3 * med(
            durs("streaming.store.merge_batch")),
        "streaming.store.rows_ms_p50": 1e3 * med(
            durs("streaming.store.rows")),
        "streaming.store.series_end": res["final_series"],
        "exporters.to_prometheus_ms_p50": 1e3 * med(
            durs("exporters.to_prometheus")),
        "exporters.body_kb": res["final_body"] / 1024,
        "proc.peak_rss_mb": res["peak_rss_mb"],
        "gen.lateness_p99_ms": 1e3 * pct(res["lateness_s"], 0.99),
        "trace.batches": len(tr["progress"]),
        "trace.spans": len(trace_spans),
    }


# ---------------------------------------------------------------------- main

def measure(root, workload, seed, seconds, trace, setups, tag):
    run = Run(root, workload, seed, seconds, trace, setups, tag)
    try:
        if run.w["kind"] == "oneshot":
            res = run_oneshot(run)
            e2e, counts, acct = oneshot_metrics(res)
            layers = oneshot_layers(res) if trace else {}
        else:
            res = run_serve(run)
            e2e, counts, acct = serve_metrics(res)
            layers = {}
            if trace:
                layers = serve_layers(res)
                acct["backend"], diffs = serve_backend(res)
                acct["diffs"] += diffs
    finally:
        run.cleanup()
    return e2e, counts, acct, layers


def report(workload, label, e2e, counts, acct) -> None:
    w = WORKLOADS[workload]
    print(f"# {workload} ({label}): backend={acct['backend']} "
          f"(want {w['backend']}) SPARK_GRAFT_CPUS={w['cpus']} "
          f"SPARK_DRIVER_MEM={DRIVER_MEM}")
    units = dict(END_TO_END)
    for name, val in e2e.items():
        print(f"#   {name:<18} {val:12.4f} {units[name]:<8} "
              f"n={counts[name]}")
    for name, val in acct["detail"].items():
        if isinstance(val, float):
            val = f"{val:12.4f}"
        print(f"#   {name:<18} {val:>12}")
    print(f"#   attempted={acct['attempted']} failed={acct['failed']}")
    for d in acct["diffs"]:
        print(f"#   check failed: {d}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops the children it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mtail_spark", "__main__.py")):
        print(f"perfbench: no mtail_spark package under {root}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    shutil.rmtree(os.path.join(root, ".perfbench_work"), ignore_errors=True)

    try:
        # with --trace 1 the untraced run comes first, back to back
        # with the traced one, so the overhead compares like with like
        setups = TRACED_SETUPS if args.trace else SETUPS
        e2e, counts, acct, _ = measure(root, args.workload, args.seed,
                                       args.seconds, False, setups,
                                       "untraced")
        report(args.workload, "untraced", e2e, counts, acct)
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END}
        if args.trace:
            t_e2e, t_counts, t_acct, layers = measure(
                root, args.workload, args.seed, args.seconds, True, setups,
                "traced")
            report(args.workload, "traced", t_e2e, t_counts, t_acct)
            for m, _ in END_TO_END:
                layers[f"trace.overhead_pct.{m}"] = (
                    100.0 * (t_e2e[m] - e2e[m]) / e2e[m])
            acct["attempted"] += t_acct["attempted"]
            acct["failed"] += t_acct["failed"]
            acct["diffs"] += t_acct["diffs"]
            metrics = {m: {"value": float(layers.get(m, 0.0)), "unit": u}
                       for m, u in PER_LAYER}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(os.path.join(root, ".perfbench_work"),
                      ignore_errors=True)
    correct = acct["failed"] == 0 and not acct["diffs"]
    print(json.dumps({
        "correct": correct,
        "attempted": acct["attempted"],
        "failed": acct["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
