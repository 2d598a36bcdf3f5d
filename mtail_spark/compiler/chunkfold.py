"""Chunk-parallel fold ("chunkfold") backend, and the ordered fold.

Register-RMW programs (cross-line scalar hidden-metric state, e.g.
reference examples/mysql_slowqueries.mtail) are order-sensitive, so
the plain fold runs each FILE through one sequential task — a 100 GB
file folds on one core.  The vectorized window plan
(codegen.py:_plan_registers) parallelizes them but pays a large
per-line expression constant (stratified carry windows; ~460
core-us/line on mysql_slowqueries vs the fold interpreter's ~26).
This backend combines fold constants with chunk parallelism.

exact path — a chunk that holds a whole file has a known incoming
  state: the initial one.  read_log_lines reads every file under
  WHOLETEXT_MAX_BYTES whole and marks the relation
  (sources.logs.is_whole_file_relation), so each file is such a
  chunk.  ONE Spark action runs the per-file fold with the exact
  interpreter (Interp.feed over a plain Store), a per-task audit that
  each file's line numbers start at 0 and step by 1 inside one
  partition, and the cross-file merge — no persist, no audit job, no
  replay.  A failed audit reruns the call on the speculative path.
  The ordered fold (fold_store) is the same exact path behind a
  by-file exchange, which gives by construction what the audit
  checks.

phase A — speculative, for split files and any other relation:
  mapInPandas over (filename, chunk) runs the normal per-line
  interpreter SPECULATIVELY with tri-state scalar registers. A
  register written earlier in the chunk is Known; a read of a
  chunk-incoming (Unknown) register raises NeedState, which aborts the
  line — its partial effects are rolled back through an undo journal —
  records the raw line for replay together with a snapshot of the
  currently-Known registers, and marks every register Unknown again
  (taint: the deferred line may write any of them). A line that
  completes without NeedState only read chunk-local state, so its
  metric effects are valid unconditionally; registers written by later
  non-deferred lines win over any deferred line's potential writes
  exactly as they would have in a sequential fold.  In log-shaped
  data registers re-resolve within a handful of lines (mysql: the
  next "# User@Host" / "SET timestamp=" record header), so deferral
  is O(record length) per chunk, not O(chunk).

phase B — executor-side, grouped by file, and only when some chunk
  deferred a line: each chunk's summary (final Known register values +
  the deferred raw lines, NEVER the chunk's data) is replayed strictly
  in chunk order through the same interpreter — one applyInPandas
  group per file, parallel across files — inside the merge job: before
  each deferred line its snapshot overlays the running register state
  (values written by non-deferred lines between two deferred lines),
  the line executes with full knowledge, and after a chunk's deferred
  lines the chunk's finals overwrite the state for the next chunk.
  This yields the deferred lines' metric effects under the true
  incoming state. The driver sees only slim audit tuples (file, chunk,
  max_line, disorder, deferred count) — O(chunks) small rows;
  snapshots and raw deferred lines never leave the executors.

merge — one SQL text per program (merge_sql, memoized on the
  CompiledProgram): chunk partial stores collapse per file
  (counters/histograms additively with the datum timestamp taken at
  the last (chunk, line) update; gauge/timer/text pick the last
  (chunk, line) write), then merge across files with the fold's
  semantics, so chunkfold output is identical to the sequential fold
  by construction wherever both are defined.

Scope (chunkfold_unsupported_reason): all metric READS and `del`s
must target HIDDEN metrics (registers) — scalar or dimensioned
(per-key session state, the rsyncd/vsftpd pattern: Known-ness is
tracked per register ENTRY, and an unfired threatened site of a
dimensioned register taints the whole register since its key
expression is unevaluated).  Exported metrics accept additive
updates (++/--/+= on counters, = on histograms) and last-write
assignments (= on gauge/timer/text) in statement position.  Anything
else — exported-metric reads, non-additive exported RMW, hidden
histograms — is outside the class and keeps its existing route
(vectorized window plan or the sequential fold).

Reference semantics mirrored: per-line execution order
internal/runtime/vm/vm.go:962-989; runtime-error-kills-line-only
vm.go:97-129; `stop` vm.go:353-354.

Scaling: phase A parallelism is total_lines / CHUNK_LINES (or one
task per scan split in zero-exchange mode) over a raw three-column
exchange at most.  The only sequential work is phase B's per-FILE
replay, bounded by deferred-prefix length x the file's chunk count —
store-sized per chunk, never line-sized — running executor-side and
parallel across files.  Driver traffic is O(chunks) slim audit
tuples with no payloads: 100 TB at 128 MB splits is ~800k four-field
rows (~tens of MB), and sizing splits toward 1 GB cuts it another
8x.  Register-state snapshots scale with the chunk's LIVE
register-entry cardinality (per-key session state), not with chunk
length.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mtail_spark.compiler import ast as A
from mtail_spark.compiler.checker import CheckedProgram
from mtail_spark.compiler.interp import Interp, LineError, Runtime, StopLine, Store

# Lines per chunk: parallelism within one file scales as
# lines/CHUNK_LINES; phase B's control traffic scales as
# files*chunks*(registers + deferred prefix).  32768 lines (~3 MB of
# text) keeps both ends comfortable from 1 MB to 100 GB files.
CHUNK_LINES = 32768

# Auto-routing floor: below this input size the vectorized window
# plan / plain fold win on fixed overheads (the speculative path pays
# a persisted phase A and an audit job); above it the window
# plan's ~16x higher per-line constant dominates (measured
# tools/bench_mysql_backends.py: 4.1 s vs 34.6 s at 37 MB).
CHUNKFOLD_MIN_BYTES = 8 << 20


class NeedState(Exception):
    """Phase-A read of a register whose chunk-incoming value is
    unknown: the line rolls back and defers to the driver replay."""


# --------------------------------------------------------------- gate


def chunkfold_unsupported_reason(prog: CheckedProgram) -> str | None:
    """None when the program is in the chunkfold class, else why not.

    The class: cross-chunk state must live ONLY in registers (hidden
    metrics, scalar or dimensioned, reconstructible per chunk by the
    replay — hidden histograms excepted, their value is a bucket
    list), and every exported-metric update must be chunk-mergeable
    (additive for counter/histogram, last-write for gauge/timer/text)
    with its value unconsumed."""
    metrics = prog.metrics

    def target_info(e):
        name = e.lhs.name
        mi = metrics.get(name)
        if mi is None:
            return name, None
        return name, mi

    err: list[str] = []

    def fail(msg):
        if not err:
            err.append(msg)

    for name, mi in metrics.items():
        # a hidden histogram's value is a bucket-count list — not
        # representable in the chunk state snapshots (and reading one
        # is not meaningful DSL anyway)
        if mi.decl.hidden and mi.decl.kind == "histogram":
            fail(f"hidden histogram {name}")

    def walk_expr(e, stmt_root=False):
        if isinstance(e, A.IndexedExpr):
            # read position: must be a register (scalar or dimensioned)
            name, mi = target_info(e)
            if mi is None or not mi.decl.hidden:
                fail(f"reads exported metric {name}")
            for ix in e.index:
                walk_expr(ix)
        elif isinstance(e, A.BinaryExpr):
            if e.op in ("=", "+="):
                t = e.lhs
                if isinstance(t, A.IndexedExpr):
                    name, mi = target_info(t)
                    if mi is not None and not mi.decl.hidden:
                        kind = mi.decl.kind
                        if not stmt_root:
                            fail(f"consumes exported write {name}")
                        if e.op == "+=" and kind not in (
                            "counter", "histogram"
                        ):
                            fail(f"+= on exported {kind} {name}")
                        if e.op == "=" and kind == "counter":
                            fail(f"= on exported counter {name}")
                    for ix in t.index:
                        walk_expr(ix)
                else:
                    walk_expr(t)
                walk_expr(e.rhs)
            else:
                walk_expr(e.lhs)
                walk_expr(e.rhs)
        elif isinstance(e, A.UnaryExpr):
            if e.op in ("++", "--") and isinstance(e.expr, A.IndexedExpr):
                name, mi = target_info(e.expr)
                if mi is not None and not mi.decl.hidden:
                    if not stmt_root:
                        fail(f"consumes exported RMW {name}")
                    if mi.decl.kind not in ("counter", "histogram"):
                        fail(f"++ on exported {mi.decl.kind} {name}")
                for ix in e.expr.index:
                    walk_expr(ix)
            else:
                walk_expr(e.expr)
        elif isinstance(e, A.BuiltinCall):
            for a in e.args:
                walk_expr(a)

    def walk_stmt(s):
        if isinstance(s, A.StmtList):
            for x in s.stmts:
                walk_stmt(x)
        elif isinstance(s, A.CondStmt):
            if not isinstance(s.cond, A.OtherwiseCond):
                walk_expr(s.cond)
            if s.truth:
                walk_stmt(s.truth)
            if s.els:
                walk_stmt(s.els)
        elif isinstance(s, A.ExprStmt):
            walk_expr(s.expr, stmt_root=True)
        elif isinstance(s, A.DelStmt):
            name = s.target.lhs.name
            mi = metrics.get(name)
            if mi is None or not mi.decl.hidden:
                fail(f"del of exported metric {name}")
            for ix in s.target.index:
                walk_expr(ix)

    walk_stmt(prog.stmts)
    return err[0] if err else None


# ------------------------------------------------------------- stores


def _snap_datum(d):
    if d is None:
        return None
    if isinstance(d[0], list):  # histogram: [counts, count, sum, ts]
        return [list(d[0])] + d[1:]
    return list(d)


class TrackingStore(Store):
    """Store + per-datum last-update (chunk, line) tags + an undo
    journal.  Base for the phase-A speculative store and the phase-B
    replay store (where the tags order replayed writes against chunk
    partials in the merge)."""

    def __init__(self, prog: CheckedProgram):
        super().__init__(prog)
        self.last_upd: dict[tuple, tuple] = {}
        self.journal: list = []
        self.cur_chunk = 0
        self.cur_line = -1
        self._hidden = {
            n for n, mi in prog.metrics.items() if mi.decl.hidden
        }

    def _pre_write(self, name, labels):
        self.journal.append((
            name, labels,
            _snap_datum(self.data[name].get(labels)),
            self.last_upd.get((name, labels)),
        ))

    def _tag(self, name, labels):
        self.last_upd[(name, labels)] = (self.cur_chunk, self.cur_line)

    def inc(self, name, labels, delta, ts_us):
        self._pre_write(name, labels)
        super().inc(name, labels, delta, ts_us)
        self._tag(name, labels)

    def set(self, name, labels, value, ts_us):
        self._pre_write(name, labels)
        super().set(name, labels, value, ts_us)
        self._tag(name, labels)

    def observe(self, name, labels, v, ts_us):
        self._pre_write(name, labels)
        super().observe(name, labels, v, ts_us)
        self._tag(name, labels)

    def delete(self, name, labels):
        self._pre_write(name, labels)
        super().delete(name, labels)

    def begin_line(self, line_no: int):
        self.cur_line = line_no
        self.journal.clear()

    def rollback_line(self):
        for name, labels, prev, prev_upd in reversed(self.journal):
            if prev is None:
                self.data[name].pop(labels, None)
            else:
                self.data[name][labels] = prev
            if prev_upd is None:
                self.last_upd.pop((name, labels), None)
            else:
                self.last_upd[(name, labels)] = prev_upd
        self.journal.clear()


class SpecStore(TrackingStore):
    """Phase-A tri-state store: a register ENTRY (scalar: labels=();
    dimensioned: one per label tuple) is Known only after a write (or
    del: deleted reads back as the typed zero, a DEFINED value)
    within the chunk; reading an Unknown one raises NeedState.
    Exported metrics never gate (the class check bars reading them),
    and their chunk-local values are deltas/last writes merged
    later."""

    def __init__(self, prog: CheckedProgram):
        super().__init__(prog)
        # register name -> set of Known label tuples this chunk
        self.known: dict[str, set] = {}
        self._known_line: list[tuple] = []  # Known-adds of this line
        # scalar-only programs can retire speculation entirely once
        # every register is Known (see _AllKnownStore)
        self._scalar_only = all(
            not prog.metrics[n].decl.keys for n in self._hidden
        )
        # storage type per non-histogram metric for the fast-mode
        # set() hot path (exact-type check, no coercion)
        _pytypes = {"Int": int, "Float": float, "String": str}
        self._vt = {
            n: _pytypes[mi.vtype]
            for n, mi in prog.metrics.items()
            if mi.decl.kind != "histogram" and mi.vtype in _pytypes
        }

    def _gate(self, name, labels):
        if name in self._hidden and labels not in self.known.get(
            name, ()
        ):
            raise NeedState(name)

    def _learn(self, name, labels):
        if name in self._hidden:
            s = self.known.setdefault(name, set())
            if labels not in s:
                s.add(labels)
                self._known_line.append((name, labels))
                if self._scalar_only and len(self.known) == len(
                    self._hidden
                ):
                    # every register Known -> NeedState is impossible
                    # for the rest of the chunk; retire the
                    # speculation tax (mid-line swap is safe: the
                    # only rollback trigger is NeedState)
                    self.journal.clear()
                    self.__class__ = _AllKnownStore

    def get(self, name, labels):
        self._gate(name, labels)
        return super().get(name, labels)

    def inc(self, name, labels, delta, ts_us):
        self._gate(name, labels)  # RMW reads the previous value
        super().inc(name, labels, delta, ts_us)

    def set(self, name, labels, value, ts_us):
        super().set(name, labels, value, ts_us)
        self._learn(name, labels)

    def delete(self, name, labels):
        super().delete(name, labels)
        self._learn(name, labels)

    def begin_line(self, line_no: int):
        super().begin_line(line_no)
        self._known_line.clear()

    def rollback_line(self):
        super().rollback_line()
        for name, labels in self._known_line:
            self.known.get(name, set()).discard(labels)
        self._known_line.clear()

    def snapshot(self) -> dict:
        """Known register entry values at the current point (recorded
        with a deferred line so the replay sees exactly this state)."""
        return {
            (name, labels): Store.get(self, name, labels)
            for name, entries in self.known.items()
            for labels in entries
        }


class _AllKnownStore(SpecStore):
    """Post-speculation fast mode for SCALAR-only register programs:
    once every register is Known, `_gate` can never trip (a scalar
    register has exactly one entry, and `del` keeps it Known — a
    deleted entry reads back as the typed zero, a DEFINED value), so
    NeedState — the ONLY rollback trigger — is impossible for the
    rest of the chunk.  SpecStore._learn swaps the instance's
    __class__ here the moment the last register becomes Known, which
    retires the per-op speculation tax (gate checks, the undo
    journal + datum snapshots, Known bookkeeping) with zero per-call
    flag tests.  Data layout, merge tags, and `known` are untouched,
    so chunk output is bit-identical to the slow path (asserted
    across backends in test_chunkfold.py / test_fuzz_consistency.py).
    Profiled on mysql_slowqueries phase A: the speculation tax was
    ~40% of single-thread line time."""

    def get(self, name, labels):
        d = self.data[name].get(labels)
        if d is not None:
            return d[0]
        return Store.get(self, name, labels)

    def inc(self, name, labels, delta, ts_us):
        d = self.data[name].get(labels)
        if d is not None and type(d[0]) in (int, float):
            d[0] += delta
            d[1] = ts_us
        else:
            Store.inc(self, name, labels, delta, ts_us)
        self.last_upd[(name, labels)] = (self.cur_chunk, self.cur_line)

    def set(self, name, labels, value, ts_us):
        # hot path: value already the storage type (srcgen emits
        # typed values for statically-known expressions); histograms
        # have no _vt entry and fall through to Store.set -> observe
        if type(value) is self._vt.get(name):
            d = self.data[name].get(labels)
            if d is None:
                d = self._datum(name, labels)
            d[0] = value
            d[1] = ts_us
        else:
            Store.set(self, name, labels, value, ts_us)
        self.last_upd[(name, labels)] = (self.cur_chunk, self.cur_line)

    def observe(self, name, labels, v, ts_us):
        Store.observe(self, name, labels, v, ts_us)
        self.last_upd[(name, labels)] = (self.cur_chunk, self.cur_line)

    def delete(self, name, labels):
        Store.delete(self, name, labels)

    def begin_line(self, line_no: int):
        self.cur_line = line_no


# --------------------------------------------------- state serialization


def _dump_state(state: dict) -> str:
    """{(name, labels): value} -> JSON (typed; labels as a list)."""
    out = []
    for (n, labels), v in state.items():
        if isinstance(v, bool):
            rec = [n, list(labels), "i", int(v)]
        elif isinstance(v, int):
            rec = [n, list(labels), "i", v]
        elif isinstance(v, float):
            rec = [n, list(labels), "f", v]
        else:
            rec = [n, list(labels), "s", str(v)]
        out.append(rec)
    out.sort(key=lambda r: (r[0], r[1]))
    return json.dumps(out)


def _load_state(s: str) -> dict:
    out = {}
    for n, labels, t, v in json.loads(s):
        out[(n, tuple(labels))] = (
            int(v) if t == "i" else float(v) if t == "f" else str(v)
        )
    return out


def _apply_state(st: Store, state: dict) -> None:
    for (name, labels), v in state.items():
        st._datum(name, labels)[0] = v


# -------------------------------------------------------------- export

# One row per datum of a chunk's partial store (row_type 0), plus, on
# the speculative path, each chunk's finals (1) and deferred lines (2).
# The exact path's rows are the same shape: a whole file is one chunk.
# Labels travel as their values in key order and histogram counts as
# an array padded to the program's widest histogram; kind, vtype,
# label keys and bucket bounds are compile-time constants that the
# merge SQL puts back.
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("src_file", T.StringType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("row_type", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
        T.StructField("value_i", T.LongType(), True),
        T.StructField("value_f", T.DoubleType(), True),
        T.StructField("value_s", T.StringType(), True),
        T.StructField("counts", T.ArrayType(T.LongType()), True),
        T.StructField("bucket_count", T.LongType(), True),
        T.StructField("bucket_sum", T.DoubleType(), True),
        T.StructField("ts_us", T.LongType(), True),
        T.StructField("last_line", T.LongType(), True),
        T.StructField("payload_json", T.StringType(), True),
    ]
)

_COLS = [f.name for f in CHUNK_SCHEMA.fields]


def _blank_row(src_file, chunk, row_type):
    r = dict.fromkeys(_COLS)
    r["src_file"], r["chunk"], r["row_type"] = src_file, chunk, row_type
    return r


def _partials_with_tags(st: Store, src_file: str) -> list[dict]:
    """Exported datums of one store as partial rows (mirrors
    Store.export_rows).  A TrackingStore's rows carry its (chunk,
    last_line) merge tags; zero-init scalar counter/histogram rows,
    and every row of a plain Store, carry (-1, -1), so any tagged
    update outranks them."""
    prog = st.prog
    tags = getattr(st, "last_upd", {})
    width = max(map(len, st.bucket_maxes.values()), default=0)
    rows: list[dict] = []
    for name, mi in prog.metrics.items():
        if mi.decl.hidden:
            continue
        export_name = mi.decl.exported_name or name
        kind, vt = mi.decl.kind, mi.vtype
        datums = dict(st.data[name])
        if not mi.decl.keys and () not in datums:
            if kind == "counter":
                datums[()] = [0.0 if vt == "Float" else 0, 0]
            elif kind == "histogram":
                n = len(st.bucket_maxes[name])
                datums[()] = [[0] * n, 0, 0.0, None]
        for labels, d in datums.items():
            ch, ln = tags.get((name, labels), (-1, -1))
            r = _blank_row(src_file, ch, 0)
            r["name"] = export_name
            r["labels"] = list(labels)
            r["last_line"] = ln
            if kind == "histogram":
                r["counts"] = d[0] + [0] * (width - len(d[0]))
                r["bucket_count"], r["bucket_sum"] = d[1], d[2]
                r["ts_us"] = d[3]
            else:
                if vt == "Int":
                    r["value_i"] = int(d[0])
                elif vt == "Float":
                    r["value_f"] = float(d[0])
                else:
                    r["value_s"] = str(d[0])
                r["ts_us"] = d[1]
            rows.append(r)
    return rows


# ------------------------------------------------------------- phase A


def _salvage(it: Interp, rt, st: SpecStore, line: str):
    """Speculative salvage on NeedState.

    The pre-abort prefix of an aborted line is EXACT execution (it
    never read unknown state, or it would have aborted earlier), so
    register writes that fired in it are the truth — unless a site
    that has NOT fired yet could still write the same register after
    the abort point.  A site can only fire on a line its dominating
    pattern conditions match (Interp.reg_sites), giving a cheap sound
    threat test: dominating regex already evaluated false on this
    line -> can't fire; unevaluated -> test the raw line (or assume
    fire for subject'd patterns).  Returns (written-values, threat
    set).  Without this refinement every deferral forgets all
    registers and chunk-start deferral cascades through the whole
    chunk (mysql: settime(time) and the user=="" stop guard touch
    every line, so knowledge could never accumulate)."""
    fired_sids = {sid for sid, _labels in rt.fired}
    written = {}
    for sid, labels in rt.fired:
        g, _doms = it.reg_sites[sid]
        written[(g, labels)] = Store.get(st, g, labels)
    # threat is REGISTER-level: an unfired dimensioned site's key
    # expression is unevaluated, so any entry of that register could
    # be the one it writes
    threat: set = set()
    for sid, (g, doms) in enumerate(it.reg_sites):
        if sid in fired_sids or g in threat:
            continue
        could_fire = True
        for rid in doms:
            m = rt.matches.get(rid, Ellipsis)
            if m is not Ellipsis:
                if m is None:  # condition already evaluated false
                    could_fire = False
                    break
                continue
            if it.subjects[rid] is not None:
                continue  # matches a register-derived subject: assume
            if it.res[rid].search(line) is None:
                could_fire = False
                break
        if could_fire:
            threat.add(g)
    return written, threat


def _mk_runtime(it: Interp, store: Store, now_us: int, filename: str):
    syslog_year = None
    if it.syslog_use_current_year:
        from mtail_spark.compiler.gotime import epoch_us_year

        syslog_year = epoch_us_year(now_us)
    rt = Runtime(store, now_us, syslog_year=syslog_year)
    rt.filename = filename
    return rt


def _worker_prog(src: str, name: str, use_year: bool, tz):
    """Worker-process-level compile cache: Spark reuses Python workers
    across partitions and stages, so a 64-split scan would otherwise
    re-parse + re-close-compile the program 64 times (tens of ms each
    against a ~25 us/line fold).  The cache must live on the IMPORTED
    module (persistent in the worker process), not a closure's pickled
    globals (fresh per task)."""
    from mtail_spark.compiler.checker import check as _check

    import mtail_spark.compiler.chunkfold as _cfmod

    cache = getattr(_cfmod, "_WORKER_PROGS", None)
    if cache is None:
        cache = _cfmod._WORKER_PROGS = {}
    ck = (hash(src), name, use_year, tz)
    hit = cache.get(ck)
    if hit is None:
        prog = _check(src, name)
        hit = (prog, Interp(prog, use_year, tz=tz))
        if len(cache) > 8:
            cache.clear()
        cache[ck] = hit
    return hit


def _phase_a_fn(src: str, name: str, use_year: bool, tz, now_us: int):
    """mapInPandas closure: speculative fold per (filename, chunk)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        prog, it = _worker_prog(src, name, use_year, tz)
        # (filename, chunk) -> [rt, SpecStore, deferred, max_line,
        # disorder]; max_line/disorder feed the driver's contiguity
        # audit of zero-exchange chunks (finals row value_i/value_f)
        states: dict = {}
        for pdf in batches:
            if "__chunk" in pdf.columns:
                groups = pdf.groupby(["filename", "__chunk"], sort=False)
            else:
                # zero-exchange mode: this partition is one contiguous
                # split per file; the chunk id is the split's first
                # line_no (file-wide monotonic), so chunk ids order
                # identically to line order.
                groups = (
                    ((fname, None), sub)
                    for fname, sub in pdf.groupby("filename", sort=False)
                )
            for (fname, ch), sub in groups:
                key = (fname, ch)
                lnos = sub["line_no"].to_numpy()
                if not len(lnos):
                    continue
                stt = states.get(key)
                if stt is None:
                    st = SpecStore(prog)
                    st.cur_chunk = int(
                        ch if ch is not None else lnos[0]
                    )
                    rt = _mk_runtime(it, st, now_us, fname)
                    stt = states[key] = [rt, st, [], -1, False]
                rt, st, deferred = stt[0], stt[1], stt[2]
                if lnos[0] <= stt[3] or (
                    len(lnos) > 1 and (np.diff(lnos) <= 0).any()
                ):
                    stt[4] = True
                stt[3] = max(stt[3], int(lnos[-1]))
                program = it.program
                for line_no, line in zip(
                    lnos.tolist(), sub["line"].tolist()
                ):
                    rt.line_no = line_no
                    rt.line = line
                    rt.matches = {}
                    rt.ts_us = None
                    rt.fired.clear()
                    st.begin_line(line_no)
                    try:
                        program(rt)
                    except NeedState:
                        written, threat = _salvage(it, rt, st, line)
                        st.rollback_line()
                        deferred.append(
                            (line_no, line, _dump_state(st.snapshot()))
                        )
                        for g in threat:
                            st.known.pop(g, None)
                        for (g, labels), v in written.items():
                            if g not in threat:
                                st._datum(g, labels)[0] = v
                                st.known.setdefault(g, set()).add(
                                    labels
                                )
                    except (StopLine, LineError):
                        pass
        out: list[dict] = []
        for (fname, _ch), (rt, st, deferred, max_line, disorder) in (
            states.items()
        ):
            ch = st.cur_chunk
            out.extend(_partials_with_tags(st, fname))
            fin = _blank_row(fname, ch, 1)
            fin["payload_json"] = _dump_state(st.snapshot())
            fin["last_line"] = 1 << 62  # sorts after the chunk's deferred
            fin["value_i"] = max_line
            fin["value_f"] = 1.0 if disorder else 0.0
            fin["bucket_count"] = len(deferred)  # 0 everywhere: no phase B
            out.append(fin)
            for line_no, line, snap in deferred:
                dr = _blank_row(fname, ch, 2)
                dr["last_line"] = int(line_no)
                dr["value_s"] = line
                dr["payload_json"] = snap
                out.append(dr)
        if out:
            yield pd.DataFrame(out, columns=_COLS)

    return fn


# ------------------------------------------------------------- phase B


def _replay_file(
    prog: CheckedProgram, it: Interp, fname: str, rows, now_us: int
) -> list[dict]:
    """Sequential replay of ONE file's deferred lines under true
    incoming state.  `rows` are that file's control rows — finals
    (row_type 1) + deferred (row_type 2) — as attribute-access records
    in any order.  Output: tagged partial rows for the deferred
    lines' metric effects (one row per touched datum)."""
    rows = sorted(rows, key=lambda r: (r.chunk, r.last_line or 0))
    st = TrackingStore(prog)
    rt = _mk_runtime(it, st, now_us, fname)
    touched = False
    for r in rows:
        if r.row_type == 2:
            _apply_state(st, _load_state(r.payload_json))
            st.cur_chunk, st.cur_line = r.chunk, r.last_line
            rt.line_no = r.last_line
            rt.line = r.value_s
            rt.matches = {}
            rt.ts_us = None
            rt.fired.clear()
            st.journal.clear()
            touched = True
            try:
                it.program(rt)
            except (StopLine, LineError):
                pass
        else:  # finals: true end-of-chunk state for the next chunk
            _apply_state(st, _load_state(r.payload_json))
    if not touched:
        return []
    # zero-init rows already came from every phase-A chunk; emit only
    # datums the replay actually updated
    return [
        row
        for row in _partials_with_tags(st, fname)
        if row["last_line"] != -1
    ]


def _replay_fn(src: str, name: str, use_year: bool, tz, now_us: int):
    """applyInPandas closure: phase B replay, one group per src_file.
    Each file's replay is inherently sequential (it IS the fold of the
    deferred lines), but files replay in parallel and — the point at
    scale — register snapshots and deferred raw lines stay on the
    executors; the driver never sees phase-B payloads at all."""

    def fn(pdf):
        import pandas as pd

        prog, it = _worker_prog(src, name, use_year, tz)
        fname = pdf["src_file"].iat[0] if len(pdf) else ""
        out = _replay_file(
            prog, it, fname, list(pdf.itertuples(index=False)), now_us
        )
        return pd.DataFrame(out, columns=_COLS)

    return fn


# ------------------------------------------------------------- exact


def _exact_fn(src: str, name: str, use_year: bool, tz, now_us: int,
              audit=None):
    """mapInPandas closure: fold each file of the partition with the
    exact interpreter (a plain Store), from the initial state, in
    arrival order.

    With `audit` (an accumulator) the partition must hold each file it
    sees whole: the file's line numbers start at 0 and step by 1.
    Lines the JVM prefilter nulled count for the audit only; a file
    with no other line gets no store, as under fold_store's filter.
    The first file that breaks it adds 1 to the accumulator
    and ends the fold; the caller discards the result."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        prog, it = _worker_prog(src, name, use_year, tz)
        runtimes: dict = {}
        nxt: dict = {}
        ok = True
        for pdf in batches:
            if not ok:
                continue  # drain the input
            for fname, sub in pdf.groupby("filename", sort=False):
                lnos = sub["line_no"].to_numpy()
                lines = sub["line"]
                if audit is not None:
                    if (lnos[0] != nxt.get(fname, 0)
                            or (np.diff(lnos) != 1).any()):
                        audit.add(1)
                        ok = False
                        break
                    nxt[fname] = int(lnos[-1]) + 1
                    keep = lines.notna().to_numpy()
                    if not keep.all():
                        lnos, lines = lnos[keep], lines[keep]
                        if not len(lnos):
                            continue  # as if filtered: no store yet
                rt = runtimes.get(fname)
                if rt is None:
                    rt = runtimes[fname] = it.new_runtime(
                        now_us=now_us, filename=fname
                    )
                it.feed(rt, zip(lnos.tolist(), lines.tolist()))
        if ok and runtimes:
            yield pd.DataFrame(
                [
                    r
                    for fname, rt in runtimes.items()
                    for r in _partials_with_tags(rt.store, fname)
                ],
                columns=_COLS,
            )

    return fn


# --------------------------------------------------------------- merge


def merge_sql(cprog, view: str, chunked: bool) -> str:
    """The store of a fold's partial rows (CHUNK_SCHEMA, over temp
    view `view`) as ONE SQL text.

    chunked: a file's chunk partials first collapse per file —
    counters and histograms add up, gauge/timer/text keep the write
    of the last line, and a datum's timestamp is its last update's.
    Across files counters and histograms add up, gauge/timer/text take
    the write with the latest (ts, file), and the timestamp is the
    latest.  Zero rows of the keyless counters and histograms enter as
    one more, file-less, relation, so an empty input still yields
    them; an untouched counter carries the epoch-0 timestamp."""
    from mtail_spark.compiler.codegen import (
        _bucket_maxes,
        _values_sql,
        exported_metrics,
        per_metric_sql,
        sq,
        store_select_sql,
    )

    exported = exported_metrics(cprog.checked)

    def hist(mi):
        return mi.decl.kind == "histogram"

    counters = ", ".join(
        sq(n) for n, mi in exported.items() if mi.decl.kind == "counter"
    )
    has_lww = any(
        mi.decl.kind not in ("counter", "histogram")
        for mi in exported.values()
    )
    width = max(
        (len(_bucket_maxes(mi)) for mi in exported.values() if hist(mi)),
        default=0,
    )
    bs = [f"b{k}" for k in range(width)]

    def pick(col, order):
        # counters add up; gauge/timer/text take the value of the row
        # with the greatest `order`
        keep = f"max_by({col}, {order})"
        if not has_lww:
            return f"sum({col})"
        if not counters:
            return keep
        return (f"IF(name IN ({counters}), "
                f"sum(IF(name IN ({counters}), {col}, NULL)), {keep})")

    def values(order):
        vs = f"max_by(value_s, {order})" if has_lww else "NULL"
        return (f"{pick('value_i', order)} AS value_i, "
                f"{pick('value_f', order)} AS value_f, {vs} AS value_s, "
                + "".join(f"sum({b}) AS {b}, " for b in bs)
                + "sum(bucket_count) AS bucket_count, "
                "sum(bucket_sum) AS bucket_sum")

    cols = [("src_file", "STRING"), ("name", "STRING"),
            ("labels", "ARRAY<STRING>"), ("value_i", "BIGINT"),
            ("value_f", "DOUBLE"), ("value_s", "STRING")]
    cols += [(b, "BIGINT") for b in bs]
    cols += [("bucket_count", "BIGINT"), ("bucket_sum", "DOUBLE"),
             ("ts_us", "BIGINT"), ("last_line", "BIGINT")]
    rows = (
        "SELECT src_file, name, labels, value_i, value_f, value_s, "
        + "".join(f"counts[{k}] AS {b}, " for k, b in enumerate(bs))
        + f"bucket_count, bucket_sum, ts_us, last_line FROM {view} "
        "WHERE row_type = 0"
    )
    zero = []
    for nm, mi in exported.items():
        if mi.decl.keys or mi.decl.kind not in ("counter", "histogram"):
            continue
        c = mi.decl.kind == "counter"
        zero.append(
            ["NULL", sq(nm), "array()",
             "0" if c and mi.vtype != "Float" else "NULL",
             "0.0" if c and mi.vtype == "Float" else "NULL", "NULL"]
            + ["NULL"] * width
            + ["NULL" if c else "0", "NULL" if c else "0.0", "NULL", "-1"]
        )
    if zero:
        rows += f" UNION ALL {_values_sql(zero, cols)}"
    ctes = [f"__p AS ({rows})"]
    if chunked:
        ctes.append(
            "__f AS (SELECT src_file, name, labels, "
            f"{values('last_line')}, max_by(ts_us, last_line) AS ts_us "
            "FROM __p GROUP BY src_file, name, labels)"
        )
    ctes.append(
        f"__s AS (SELECT name, labels, "
        f"{values('struct(ts_us, src_file)')}, max(ts_us) AS ts_us, "
        f"count(src_file) AS n_files FROM {'__f' if chunked else '__p'} "
        "GROUP BY name, labels)"
    )

    def per_metric(fn, default="NULL"):
        return per_metric_sql(exported, fn, default)

    select = store_select_sql(
        cprog, exported, lambda k, _m: bs[k],
        value_i=per_metric(
            lambda mi: "value_i"
            if not hist(mi) and mi.vtype == "Int" else None
        ),
        value_f=per_metric(
            lambda mi: "value_f"
            if not hist(mi) and mi.vtype == "Float" else None
        ),
        value_s=per_metric(
            lambda mi: "value_s"
            if not hist(mi) and mi.vtype == "String" else None
        ),
        bucket_count=per_metric(
            lambda mi: "bucket_count" if hist(mi) else None
        ),
        bucket_sum=per_metric(lambda mi: "bucket_sum" if hist(mi) else None),
        ts_us=per_metric(
            lambda mi: "IF(n_files = 0, 0, ts_us)"
            if mi.decl.kind == "counter" else None,
            "ts_us",
        ),
    )
    return f"WITH {', '.join(ctes)} SELECT {select} FROM __s"


def _merged(cprog, partials: DataFrame, chunked: bool) -> DataFrame:
    """The store of `partials` through merge_sql, whose text is built
    once per program and memoized on it: a call registers the view,
    runs one `spark.sql` and drops the view."""
    view = f"__mtail_partials_{id(cprog)}"
    key = ("merge", chunked)
    text = cprog._store_sql.get(key)
    if text is None:
        text = cprog._store_sql[key] = merge_sql(cprog, view, chunked)
    sess = partials.sparkSession
    partials.createOrReplaceTempView(view)
    store = sess.sql(text)
    sess.catalog.dropTempView(view)
    return store


def _prefilter_sql(cprog, spark) -> str | None:
    """SQL condition on `line` that every line which can change the
    store meets (CompiledProgram._fold_prefilter_patterns), or None;
    memoized on the program."""
    from mtail_spark.compiler.codegen import sq

    key = ("prefilter",)
    if key not in cprog._store_sql:
        pats = cprog._fold_prefilter_patterns()
        ok = pats and cprog._java_compilable(spark, pats)
        cprog._store_sql[key] = (
            " OR ".join(f"line RLIKE {sq(p)}" for p in pats) if ok else None
        )
    return cprog._store_sql[key]


def _exact_args(cprog, now_us):
    return (cprog.src, cprog.name, cprog.syslog_use_current_year,
            cprog.override_timezone, now_us)


# ---------------------------------------------------------------- run


def fold_store(
    cprog, spark: SparkSession, log_lines: DataFrame, now_us: int = 0
) -> DataFrame:
    """The ordered fold: chunkfold's one-chunk case behind a by-file
    exchange.  Every file lands whole in one partition, sorted by
    line_no, and folds from the initial state with the exact
    interpreter — sequential within a file, parallel across files,
    per-task memory bounded by the Arrow batch plus the stores.  The
    exchange gives what the whole-file audit checks, so this serves
    any program over any ordered relation.  Lazy, like the vectorized
    store."""
    from mtail_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    cond = _prefilter_sql(cprog, spark)
    if cond:
        log_lines = log_lines.filter(cond)
    partials = (
        log_lines.repartition("filename")
        .sortWithinPartitions("filename", "line_no")
        .mapInPandas(_exact_fn(*_exact_args(cprog, now_us)),
                     schema=CHUNK_SCHEMA)
    )
    return _merged(cprog, partials, chunked=False)


def chunkfold_store(
    cprog, spark: SparkSession, log_lines: DataFrame, now_us: int = 0
) -> DataFrame:
    """Run a register-RMW program chunk-parallel.

    A whole-file read (sources.logs.is_whole_file_relation) takes the
    exact path: every file is one chunk whose incoming state is the
    initial one, so ONE Spark action folds each file exactly, audits
    its line numbers per task and merges the stores, with no persist,
    no audit job and no replay.  The rows come back as a local
    relation.  Any other relation, or a failed audit, runs the
    speculative phases A and B."""
    from mtail_spark.session import ensure_workers_can_import
    from mtail_spark.sources.logs import is_whole_file_relation

    ensure_workers_can_import(spark)
    if is_whole_file_relation(log_lines):
        store = _exact_whole_files(cprog, spark, log_lines, now_us)
        if store is not None:
            return store
    return _speculative_store(cprog, spark, log_lines, now_us)


def _exact_whole_files(cprog, spark, log_lines, now_us):
    """The exact path's store, or None when a task's audit failed."""
    sess = log_lines.sparkSession
    audit = sess.sparkContext.accumulator(0)
    cond = _prefilter_sql(cprog, spark)
    if cond:
        # the audit needs every line number; only the text goes
        log_lines = log_lines.selectExpr(
            "filename", "line_no", f"IF({cond}, line, NULL) AS line"
        )
    partials = log_lines.mapInPandas(
        _exact_fn(*_exact_args(cprog, now_us), audit=audit),
        schema=CHUNK_SCHEMA,
    )
    store = _merged(cprog, partials, chunked=False)
    rows = store._jdf.collectAsList()
    if audit.value:
        return None
    return DataFrame(
        sess._jsparkSession.createDataFrame(rows, store._jdf.schema()),
        sess,
    )


def _audit_chunks(finals) -> bool:
    """True when every file's zero-exchange chunks are internally
    ordered and pairwise non-overlapping line ranges — the contiguity
    phase A's speculation depends on.  Input-partition ordering is a
    documented property of the text source we rely on elsewhere, but
    an arbitrary caller-provided relation (parquet-backed, reordered)
    can break it, so it is VERIFIED from each chunk's (first, max)
    line rather than trusted.  `finals` are the SLIM finals rows
    (src_file, chunk, value_i=max_line, value_f=disorder flag) — the
    driver's only phase-B traffic, O(chunks) small tuples with no
    payloads."""
    byfile: dict = {}
    for r in finals:
        if r.value_f:  # in-chunk disorder flagged executor-side
            return False
        byfile.setdefault(r.src_file, []).append((r.chunk, r.value_i))
    for spans in byfile.values():
        spans.sort()
        for (c1, m1), (c2, _m2) in zip(spans, spans[1:]):
            if m1 >= c2:
                return False
    return True


def _speculative_store(
    cprog,
    spark: SparkSession,
    log_lines: DataFrame,
    now_us: int = 0,
    _force_exchange: bool = False,
) -> DataFrame:
    """Phases A and B.  Semi-eager: phase A executes once (persisted
    at its store-sized output) and its slim finals are collected for
    the contiguity audit; the returned DataFrame reads the persisted
    partials, plus phase B's replay rows when some chunk deferred a
    line, through the merge."""
    from mtail_spark.session import (
        _parse_byte_size,
        estimated_local_input_bytes,
    )

    cond = _prefilter_sql(cprog, spark)
    if cond:
        log_lines = log_lines.filter(cond)

    # Size text-scan splits to cluster parallelism for phase A (text
    # has no row groups, so ensure_parallelism's parquet path doesn't
    # apply), and decide the chunking mode: when the scan itself plans
    # enough splits, the splits ARE the chunks — Spark's text source
    # lists a file's splits in offset order (the same guarantee
    # sources/logs.py's splittable line numbering rests on), so each
    # scan partition is one contiguous per-file line range and phase A
    # needs NO exchange and NO sort at all.  Otherwise (in-memory
    # relations, few-split scans) fall back to an explicit
    # line_no-bucketed exchange.  The split size is restored once
    # phase A has run.
    mpb = "spark.sql.files.maxPartitionBytes"
    par = spark.sparkContext.defaultParallelism
    est = estimated_local_input_bytes(log_lines)
    splits = restore = None
    if est:
        orig = spark.conf.get(mpb, "128MB")
        cur = _parse_byte_size(orig)
        want = min(max(est // (par * 2), 131072), cur)
        if want != cur:
            spark.conf.set(mpb, str(want))
            restore = orig
        splits = max(1, est // want)
    zero_exchange = (
        not _force_exchange
        and splits is not None
        and splits >= max(2, par // 2)
    )
    if zero_exchange:
        chunked = log_lines  # zero-exchange: scan splits are chunks
    else:
        chunked = (
            log_lines.withColumn(
                "__chunk",
                F.floor(
                    F.col("line_no") / F.lit(CHUNK_LINES)
                ).cast("long"),
            )
            .repartition(F.col("filename"), F.col("__chunk"))
            .sortWithinPartitions("filename", "__chunk", "line_no")
        )
    fn = _phase_a_fn(*_exact_args(cprog, now_us))
    df_a = chunked.mapInPandas(fn, schema=CHUNK_SCHEMA).persist()
    # Job 1 materializes phase A and brings back ONLY the slim audit
    # tuples — O(chunks) rows of (file, chunk, max_line, disorder,
    # deferred lines).  Register snapshots and deferred raw lines
    # never leave the executors.
    try:
        finals = (
            df_a.filter(F.col("row_type") == 1)
            .select("src_file", "chunk", "value_i", "value_f",
                    "bucket_count")
            .collect()
        )
    finally:
        if restore is not None:
            spark.conf.set(mpb, restore)
    if zero_exchange and not _audit_chunks(finals):
        # the caller's relation doesn't deliver contiguous in-order
        # per-file ranges per partition: redo with an explicit
        # line_no-bucketed exchange (sound for any ordered relation)
        df_a.unpersist()
        return _speculative_store(
            cprog, spark, log_lines, now_us, _force_exchange=True
        )

    # The merge job's inputs are store-sized rows spread over one
    # cached partition PER CHUNK; without narrowing, each branch pays
    # a task per chunk (648 chunks -> ~1300 near-empty tasks, ~5 s of
    # pure scheduling at 30M lines/10x-split sizing).  coalesce is a
    # narrow read over the cache — no shuffle, parallelism capped at
    # the cluster width either way by the store-agg exchange.
    partials = df_a.coalesce(max(2, par // 2))
    if any(r.bucket_count for r in finals):
        # Phase B: per-file replay of the deferred lines as a grouped
        # map over the persisted control rows, inside the merge job.
        # One file's replay is sequential (it IS the fold of that
        # file's deferred lines); files replay in parallel.
        replayed = (
            partials.filter(F.col("row_type") != 0)
            .groupBy("src_file")
            .applyInPandas(
                _replay_fn(*_exact_args(cprog, now_us)),
                schema=CHUNK_SCHEMA,
            )
        )
        partials = partials.unionByName(replayed)
    out = _merged(cprog, partials, chunked=True)
    # keep a handle so callers/tests can unpersist the phase-A cache
    out._chunkfold_cache = df_a
    return out
