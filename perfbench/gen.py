"""Deterministic workload inputs and the stores they must produce.

Every generator takes a seed and returns plain Python data; the same
seed gives byte-identical log files and the same expected store.  All
metric values are integers, so sums compare exactly.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
import time

BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z

# ---------------------------------------------------------------- access log

ACCESS_PROG = r"""counter http_requests_total by method, code
counter http_path_requests_total by path
counter http_server_errors_total
histogram http_response_bytes buckets 256, 1024, 4096, 16384, 65536
gauge bench_seq by src

/^(?P<dt>\S+) src=(?P<src>\S+) seq=(?P<seq>\d+) (?P<method>[A-Z]+) (?P<path>\S+) (?P<code>\d{3}) (?P<bytes>\d+)$/ {
  strptime($dt, "2006-01-02T15:04:05")
  http_requests_total[$method][$code]++
  http_path_requests_total[$path]++
  http_response_bytes = $bytes
  $code >= 500 {
    http_server_errors_total++
  }
  bench_seq[$src] = $seq
}
"""

BUCKETS = (256, 1024, 4096, 16384, 65536)
METHODS = ("GET", "POST", "PUT", "DELETE")
METHOD_W = (70, 20, 7, 3)
CODES = ("200", "201", "301", "304", "404", "500", "503")
CODE_W = (60, 8, 5, 12, 10, 3, 2)


class AccessLog:
    """Access-log line source: Zipf-distributed paths, per-stream
    sequence numbers starting at 1, one-second timestamps that only
    move forward within a stream.  Each line names its stream
    (`src=`), so the `bench_seq` gauge says how far each stream has
    been counted."""

    def __init__(self, seed: int, n_paths: int):
        self.rng = random.Random(seed)
        cum = list(itertools.accumulate(
            1.0 / (k + 1) ** 1.1 for k in range(n_paths)
        ))
        self._path_cum = cum
        self._paths = [f"/p/{k}" for k in range(n_paths)]

    def lines(self, src: str, n: int) -> list[str]:
        r = self.rng
        paths = r.choices(self._paths, cum_weights=self._path_cum, k=n)
        methods = r.choices(METHODS, weights=METHOD_W, k=n)
        codes = r.choices(CODES, weights=CODE_W, k=n)
        out = []
        for i in range(n):
            seq = i + 1
            dt = _iso(BASE_EPOCH + seq // 50)
            size = int(2 ** (r.random() * 17))
            out.append(
                f"{dt} src={src} seq={seq} {methods[i]} {paths[i]} "
                f"{codes[i]} {size}"
            )
        return out


def _iso(epoch: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(epoch))


class AccessExpect:
    """Accumulates the store ACCESS_PROG must produce for the lines
    fed to it, keyed like store_key() keys a result row."""

    def __init__(self):
        self.by_mc: dict = {}
        self.by_path: dict = {}
        self.errors = 0
        self.hist = [0] * (len(BUCKETS) + 1)
        self.hist_sum = 0
        self.seq: dict = {}

    def add(self, lines: list[str]) -> None:
        for ln in lines:
            _, src, seq, method, path, code, size = ln.split(" ")
            k = (method, code)
            self.by_mc[k] = self.by_mc.get(k, 0) + 1
            self.by_path[path] = self.by_path.get(path, 0) + 1
            if int(code) >= 500:
                self.errors += 1
            b = int(size)
            self.hist[bisect.bisect_left(BUCKETS, b)] += 1
            self.hist_sum += b
            self.seq[src[4:]] = int(seq[4:])

    def store(self) -> dict:
        exp = {}
        for (m, c), v in self.by_mc.items():
            exp[("http_requests_total", (("code", c), ("method", m)))] = v
        for p, v in self.by_path.items():
            exp[("http_path_requests_total", (("path", p),))] = v
        exp[("http_server_errors_total", ())] = self.errors
        exp[("http_response_bytes", ())] = (
            tuple(self.hist), sum(self.hist), self.hist_sum
        )
        for src, s in self.seq.items():
            exp[("bench_seq", (("src", src),))] = s
        return exp


# ------------------------------------------------------ transaction records

TXN_PROG = r"""hidden text cur_user
hidden gauge pending
hidden gauge tmp_cents

counter cents_by_user by user
counter commits_total
counter skipped_commits

/^(?P<dt>\S+) BEGIN user=(?P<user>\d+)/ {
  strptime($dt, "2006-01-02T15:04:05")
  cur_user = $user
  pending = 1
  tmp_cents = 0
}

/^(?P<dt>\S+) AMOUNT cents=(?P<cents>\d+)/ {
  strptime($dt, "2006-01-02T15:04:05")
  tmp_cents = $cents
}

/^(?P<dt>\S+) COMMIT/ {
  strptime($dt, "2006-01-02T15:04:05")
  pending == 1 {
    pending = 0
    cents_by_user[cur_user] += tmp_cents
    commits_total++
  } else {
    skipped_commits++
  }
}
"""


def write_txn_logs(dirpath: str, seed: int, n_files: int,
                   records_per_file: int, n_users: int) -> tuple:
    """BEGIN / AMOUNT / COMMIT records.  About one COMMIT in eight is
    dropped (the record's state leaks into the next BEGIN, which
    resets it) and about one in ten is duplicated (the second one
    hits the `else` branch, or fires when the first was dropped).
    Each file starts with a BEGIN, so no record depends on state
    carried across files.  Returns (paths, expected store, lines)."""
    os.makedirs(dirpath, exist_ok=True)
    r = random.Random(seed)
    cents: dict = {}
    commits = skipped = 0
    paths, total = [], 0
    for i in range(n_files):
        p = os.path.join(dirpath, f"txn{i}.log")
        out = []
        t = BASE_EPOCH + i * 86400
        for _ in range(records_per_file):
            t += 1
            dt = _iso(t)
            user = str(r.randrange(n_users))
            amount = r.randrange(1, 100000)
            out.append(f"{dt} BEGIN user={user} session={r.getrandbits(32):08x}")
            out.append(f"{dt} AMOUNT cents={amount}")
            pending = True
            n_commit = 0 if r.random() < 0.125 else 1
            if r.random() < 0.1:
                n_commit += 1
            for _c in range(n_commit):
                out.append(f"{dt} COMMIT")
                if pending:
                    pending = False
                    cents[user] = cents.get(user, 0) + amount
                    commits += 1
                else:
                    skipped += 1
        with open(p, "w") as f:
            f.write("\n".join(out) + "\n")
        paths.append(p)
        total += len(out)
    exp = {("cents_by_user", (("user", u),)): v for u, v in cents.items()}
    exp[("commits_total", ())] = commits
    exp[("skipped_commits", ())] = skipped
    return paths, exp, total


# ------------------------------------------------------------- comparison

def store_key(row: dict) -> tuple:
    return (row["name"], tuple(sorted((row["labels"] or {}).items())))


def store_value(row: dict):
    if row["kind"] == "histogram":
        counts = tuple(int(b["count"]) for b in row["buckets"] or [])
        return counts, int(row["bucket_count"] or 0), int(row["bucket_sum"] or 0)
    v = row["value_i"] if row["value_i"] is not None else row["value_f"]
    return int(v) if v is not None else None


def diff_store(rows, expected: dict, ignore=("mtail_",)) -> list[str]:
    """Differences between result rows and an expected store; empty
    when they match.  Rows whose name starts with an `ignore` prefix
    (the engine's own self-metrics) are not part of the program's
    store."""
    got = {}
    for r in rows:
        if r["name"].startswith(ignore):
            continue
        got[store_key(r)] = store_value(r)
    out = []
    for k in sorted(set(got) | set(expected), key=repr):
        if got.get(k) != expected.get(k):
            out.append(f"{k}: got {got.get(k)!r} want {expected.get(k)!r}")
    return out
