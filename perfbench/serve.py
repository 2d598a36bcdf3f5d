"""Load side of the serve_tail workload.

An open-loop generator thread appends pre-generated access-log lines
to the tailed files on a fixed schedule, and a scraper thread GETs
/metrics on a fixed cadence.  Both run in the benchmark's process,
never in the daemon's.  Each line carries a per-file sequence number
that the program exports as the `bench_seq` gauge, so a scrape tells
which lines of each file are already in the store.
"""

from __future__ import annotations

import http.client
import re
import threading
import time

_SEQ_RE = re.compile(r'^bench_seq\{([^}]*)\} (\d+)', re.M)
_SRC_RE = re.compile(r'src="([^"]*)"')
_LINE_RE = re.compile(r'^([A-Za-z_:][A-Za-z0-9_:]*)(?:\{(.*)\})? (\S+)$')
_LABEL_RE = re.compile(r'([A-Za-z_][A-Za-z0-9_]*)="((?:[^"\\]|\\.)*)"')


def get_metrics(port: int, timeout: float = 10.0) -> bytes:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", "/metrics")
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise OSError(f"/metrics answered {resp.status}")
        return body
    finally:
        conn.close()


def parse_seqs(body: str) -> dict:
    out = {}
    for labels, val in _SEQ_RE.findall(body):
        m = _SRC_RE.search(labels)
        if m:
            out[m.group(1)] = int(val)
    return out


def parse_store(body: str) -> list[dict]:
    """Prometheus text -> rows shaped like the engine's store rows
    (the fields gen.diff_store reads), without the `prog` label."""
    hist_names = set(re.findall(r"^# TYPE (\S+) histogram$", body, re.M))
    rows, hists = [], {}
    for line in body.splitlines():
        m = _LINE_RE.match(line)
        if not m:
            continue
        name, lab, val = m.groups()
        labels = dict(_LABEL_RE.findall(lab or ""))
        labels.pop("prog", None)
        base, _, suffix = name.rpartition("_")
        if base not in hist_names:
            rows.append({"name": name, "labels": labels, "kind": "counter",
                         "value_i": int(float(val)), "value_f": None})
            continue
        le = labels.pop("le", None)
        h = hists.setdefault((base, tuple(sorted(labels.items()))), {
            "name": base, "labels": labels, "kind": "histogram",
            "cum": [], "bucket_sum": 0.0, "bucket_count": 0})
        if suffix == "bucket":
            h["cum"].append((float(le), int(val)))
        elif suffix == "sum":
            h["bucket_sum"] = float(val)
        else:
            h["bucket_count"] = int(val)
    for h in hists.values():
        prev, h["buckets"] = 0, []
        for _le, cum in sorted(h.pop("cum")):
            h["buckets"].append({"count": cum - prev})
            prev = cum
        rows.append(h)
    return rows


def append(paths: list[str], lines: list[str], lo: int, hi: int) -> None:
    """Append lines[lo:hi] to their files (line i goes to paths[i % n])."""
    n = len(paths)
    for k, path in enumerate(paths):
        first = lo + (k - lo) % n
        chunk = lines[first:hi:n]
        if chunk:
            with open(path, "ab") as f:
                f.write(("\n".join(chunk) + "\n").encode())


class Generator(threading.Thread):
    """Appends lines[i] to paths[i % n] when line i falls due at
    t0 + (i - start) / rate, regardless of how the daemon keeps up.
    Lines before `start` were written earlier."""

    def __init__(self, paths: list[str], lines: list[str], rate: float,
                 t0: float, start: int = 0):
        super().__init__(daemon=True)
        self.paths = paths
        self.lines = lines
        self.rate = rate
        self.t0 = t0
        self.start_at = start
        self.written_at = [0.0] * len(lines)
        self.error: BaseException | None = None

    def due(self, i: int) -> float:
        return self.t0 + (i - self.start_at) / self.rate

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # reported by the caller
            self.error = e

    def _run(self) -> None:
        i = self.start_at
        total = len(self.lines)
        while i < total:
            now = time.monotonic()
            j = min(total, self.start_at + int((now - self.t0) * self.rate) + 1)
            if j > i:
                append(self.paths, self.lines, i, j)
                t = time.monotonic()
                for k in range(i, j):
                    self.written_at[k] = t
                i = j
            if i < total:
                time.sleep(max(0.0, min(0.005, self.due(i) - time.monotonic())))


class Scraper(threading.Thread):
    """GETs /metrics every `every` seconds on a fixed schedule.  Each
    scrape is timed from when it was due, so a stalled server also
    delays the scrapes queued behind it."""

    def __init__(self, port: int, every: float, t0: float):
        super().__init__(daemon=True)
        self.port = port
        self.every = every
        self.t0 = t0
        self.scrapes: list[tuple] = []  # (due, done, ok, seqs, body_len)
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            k = 0
            while not self.stop_event.is_set():
                due = self.t0 + k * self.every
                k += 1
                wait = due - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                try:
                    body = get_metrics(self.port).decode()
                    ok = True
                except OSError:
                    body, ok = "", False
                done = time.monotonic()
                self.scrapes.append((due, done, ok, parse_seqs(body),
                                     len(body)))
        except BaseException as e:  # reported by the caller
            self.error = e

    def seen(self, src: str) -> int:
        for s in reversed(self.scrapes):
            if s[2]:
                return s[3].get(src, 0)
        return 0


def freshness(srcs: list[str], gen: Generator, scrapes: list[tuple],
              lo: float, hi: float) -> tuple[list[float], int]:
    """Per line due in [lo, hi): done-time of the first scrape that
    shows the line's stream at or past the line's sequence, minus the
    line's due time.  Stream k is written to file k.  Returns
    (freshness list, lines never seen)."""
    n = len(srcs)
    ok = [s for s in scrapes if s[2]]
    out, unseen = [], 0
    for fi, src in enumerate(srcs):
        ptr, best = 0, 0
        seq = 0
        for i in range(fi, len(gen.lines), n):
            seq += 1
            d = gen.due(i)
            if d < lo or d >= hi:
                continue
            while best < seq and ptr < len(ok):
                best = max(best, ok[ptr][3].get(src, 0))
                ptr += 1
            if best >= seq:
                out.append(ok[ptr - 1][1] - d)
            else:
                unseen += 1
    return out, unseen
