"""Throughput comparison for the register-RMW program class across
all three backends: chunkfold (chunkfold.py — the auto-routed backend
for this class on large inputs), vectorized (stratified
scalar-register window columns, codegen.py:_plan_registers), and the
sequential per-line Python fold.

The program is reference examples/mysql_slowqueries.mtail (or
rsyncd.mtail with --rsyncd) over a synthetic log.  Without the
reference corpus the in-package txn demo program
(plans/demo_programs.TXN_PROG) runs over synthetic BEGIN / AMOUNT /
COMMIT records instead, and the set-aside corpus program is named
under "skipped".

chunkfold is timed twice: over a whole-file read
(read_log_lines' wholetext path: one exact chunk per file) and over a
splittable read (the speculative phases A and B, the shape of a file
over WHOLETEXT_MAX_BYTES).

Usage: python tools/bench_mysql_backends.py [n_records] [--fold] [--rsyncd]
Prints one JSON line with seconds (median of 3) and lines/sec for each
run; store equality across runs is asserted.
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EX = "/root/reference/examples/mysql_slowqueries.mtail"

USERS = ["dbuser", "webuser", "batchuser", "adminuser"]
HOSTS = ["dbhost", "host%d" % 1, "host2", "host3", "host4", "web9"]
VERBS = ["UPDATE", "INSERT", "SELECT", "DELETE"]
SERVICES = ["servicename", "outbox", "billing", "search"]


def render_log(path: str, n_records: int) -> int:
    """Deterministic synthetic slow-query log exercising every branch:
    full/uninstrumented/partial+end query shapes, Time headers, the
    no-user prefix.  Returns line count."""
    n = 0
    with open(path, "w") as f:
        def w(s):
            nonlocal n
            f.write(s + "\n")
            n += 1

        # lines before any User@Host: the `user == ""` stop path
        w("# Time: 080401  0:08:01")
        w("# administrator command: Quit;")
        for i in range(n_records):
            u = USERS[i % len(USERS)]
            h = HOSTS[i % len(HOSTS)]
            v = VERBS[(i // 3) % len(VERBS)]
            svc = SERVICES[i % len(SERVICES)]
            qt = (i * 7) % 40
            lt = (i * 3) % 5
            if i % 97 == 0:
                w("# Time: 080401  %d:%02d:%02d"
                  % (i // 3600 % 10, i // 60 % 60, i % 60))
            w(f"# User@Host: {u}[{u}] @ {h} [192.0.2.{i % 250}]")
            w(f"# Query_time: {qt}  Lock_time: {lt}  Rows_sent: 1  "
              f"Rows_examined: {i % 1000}")
            w(f"SET timestamp={1207033681 + i};")
            m = i % 5
            if m in (0, 1):
                w(f"{v} t{i % 13} SET x = {i} # {svc};")
            elif m == 2:
                w(f"{v} t{i % 13} SET x = {i} WHERE y = {i % 7};")
            else:
                # split query: partial line(s) then an end line
                w(f"{v} t{i % 13} SET x = {i},")
                w(f"    y = {i % 7} WHERE z = 1"
                  + (f" # {svc};" if m == 3 else ";"))
    return n


RSYNCD_EX = "/root/reference/examples/rsyncd.mtail"


def render_txn_log(path: str, n_records: int) -> int:
    """Synthetic BEGIN / AMOUNT / COMMIT records for TXN_PROG: every
    7th COMMIT is dropped (the record's state leaks into the next
    BEGIN) and every 11th is doubled (the second hits the `else`
    branch).  Returns line count."""
    n = 0
    with open(path, "w") as f:
        for i in range(n_records):
            t = 1207033681 + i
            dt = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t))
            lines = [f"{dt} BEGIN user={i % 97}",
                     f"{dt} AMOUNT cents={(i * 7919) % 100000}"]
            lines += [f"{dt} COMMIT"] * ((i % 7 != 0) + (i % 11 == 0))
            f.write("\n".join(lines) + "\n")
            n += len(lines)
    return n


def render_rsyncd_log(path: str, n_records: int, overlap: int = 64) -> int:
    """Synthetic rsyncd session log: `overlap` concurrent pids cycle
    through connect -> transfer -> close, exercising the DIMENSIONED
    register (connection_time[pid]: write at connect, read+del at
    close) across interleaved sessions.  Returns line count."""
    n = 0
    with open(path, "w") as f:
        def w(s):
            nonlocal n
            f.write(s + "\n")
            n += 1

        state = {}  # slot -> (pid, phase)
        pid_seq = 8000
        for i in range(n_records * 3):
            slot = i % overlap
            pid, phase = state.get(slot, (None, 2))
            t = 60 + (i // 37) % 86000
            stamp = (f"2011/02/{22 + t // 86400:02d} "
                     f"{t // 3600 % 24:02d}:{t // 60 % 60:02d}:{t % 60:02d}")
            if phase == 2:  # open a new session
                pid_seq += 1
                pid = pid_seq
                state[slot] = (pid, 0)
                w(f"{stamp} [{pid}] connect from h{slot}.example.com "
                  f"(192.168.0.{slot % 250})")
            elif phase == 0:
                state[slot] = (pid, 1)
                w(f"{stamp} [{pid}] send h{slot}.example.com "
                  f"[192.168.0.{slot % 250}] mod{i % 7} () f{i % 13}.bin "
                  f"{(i * 131) % 100000}")
            else:
                state[slot] = (pid, 2)
                w(f"{stamp} [{pid}] sent {(i * 17) % 9999} bytes  "
                  f"received {(i * 7) % 999} bytes  total size "
                  f"{(i * 131) % 100000}")
    return n


def main():
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    run_fold = "--fold" in sys.argv
    which = "rsyncd" if "--rsyncd" in sys.argv else "mysql"

    from mtail_spark.compiler.api import compile_program
    from mtail_spark.session import get_spark
    from mtail_spark.sources.logs import read_log_lines
    from mtail_spark.store import rows_from_df

    out = {}
    corpus, render = {"rsyncd": (RSYNCD_EX, render_rsyncd_log),
                      "mysql": (EX, render_log)}[which]
    if os.path.exists(corpus):
        prog = compile_program(
            open(corpus).read(), os.path.basename(corpus)
        )
    else:
        from mtail_spark.plans.demo_programs import TXN_PROG

        out["skipped"] = {
            os.path.basename(corpus): f"{corpus} is missing; ran "
            "plans/demo_programs.TXN_PROG instead"
        }
        which, render = "txn", render_txn_log
        prog = compile_program(TXN_PROG, "demo_txn.mtail")
    assert prog.vectorizable
    assert prog.chunkfoldable

    spark = get_spark()
    stores = {}
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, f"{which}.log")
        nlines = render(path, n_records)
        out["prog"] = which
        out["lines"] = nlines

        def run(backend, whole):
            # whole=False: the splittable read, the 100 TB-shaped path
            # (any file over WHOLETEXT_MAX_BYTES auto-routes there)
            df = read_log_lines(spark, path, exact_order=whole)
            t0 = time.monotonic()
            store = prog.run_batch(
                spark, df, backend=backend, cache_plan=False
            )
            rows = rows_from_df(store)
            dt = time.monotonic() - t0
            cache = getattr(store, "_chunkfold_cache", None)
            if cache is not None:
                cache.unpersist()
            return dt, rows

        runs = {
            "chunkfold_whole": ("chunkfold", True),
            "chunkfold_split": ("chunkfold", False),
            "vector": ("vector", False),
        }
        if run_fold:
            runs["fold"] = ("fold", True)
        # warm the JVM/session first
        for backend, whole in runs.values():
            run(backend, whole)
        for key, (backend, whole) in runs.items():
            times = []
            for _ in range(3):
                dt, rows = run(backend, whole)
                times.append(dt)
            dt = sorted(times)[1]
            out[f"{key}_sec"] = round(dt, 2)
            out[f"{key}_klines_per_sec"] = round(nlines / dt / 1e3, 1)
            stores[key] = {
                (r.name, r.labels): (r.value, r.ts) for r in rows
            }
        base = stores["chunkfold_whole"]
        out["stores_match"] = all(s == base for s in stores.values())
        if not out["stores_match"]:
            for bk, s in stores.items():
                diff = {k for k in s.keys() | base.keys()
                        if s.get(k) != base.get(k)}
                for k in sorted(diff)[:5]:
                    print("DIFF", bk, k, s.get(k), base.get(k),
                          file=sys.stderr)
        if run_fold:
            out["speedup_vs_fold"] = round(
                out["fold_sec"] / out["chunkfold_split_sec"], 1
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
