"""Reference interpreter backend: compiles a CheckedProgram into
per-line Python closures and folds them over ordered lines.

This is the engine's general backend — it implements the full DSL
semantics including cross-line hidden-metric state, `del`, `stop`,
`otherwise` matched-flag scoping, and runtime-error-kills-line-only
(reference internal/runtime/vm/vm.go:97-129, 962-989).  The Spark
execution shape is applyInPandas over filename groups sorted by
line_no: parallel across files, sequential within a file — the only
order the DSL's state model requires.

The vectorized DataFrame backend (codegen.py) is preferred whenever
the program has no cross-line state; this fold exists for the rest.
"""

from __future__ import annotations

import re

from mtail_spark.compiler import ast as A
from mtail_spark.compiler.checker import CheckedProgram
from mtail_spark.compiler.gotime import parse_go_time_us
from mtail_spark.store import DatumRow

US = 1_000_000


class LineError(Exception):
    """Runtime error: terminates processing of the current line only
    (reference vm.go:97-129)."""


class StopLine(Exception):
    """`stop` statement (reference vm.go:353-354)."""


def go_float_str(f: float) -> str:
    """Go strconv.FormatFloat(f, 'g', -1, 64) for label coercion."""
    if f != f or f in (float("inf"), float("-inf")):
        return {float("inf"): "+Inf", float("-inf"): "-Inf"}.get(f, "NaN")
    s = repr(f)
    if s.endswith(".0"):
        s = s[:-2]
    return s


def label_str(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return go_float_str(v)
    return str(v)


def to_num(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            try:
                return float(v)
            except ValueError:
                return None
    return None


def go_int_div(a, b):
    if b == 0:
        raise LineError("division by zero")
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def go_mod(a, b):
    if b == 0:
        raise LineError("mod by zero")
    return a - go_int_div(a, b) * b


def go_float_div(a, b):
    """Go float division: IEEE ±Inf/NaN on zero divisor, never an
    error (reference vm.go:639-663 Fdiv)."""
    import math

    try:
        return a / b
    except ZeroDivisionError:
        if a == 0 or a != a:
            return float("nan")
        neg = (a < 0) != (math.copysign(1.0, b) < 0)
        return float("-inf") if neg else float("inf")


def go_float_mod(a, b):
    """Go math.Mod: sign of the dividend; NaN on zero divisor or Inf
    dividend (reference vm.go:659-660)."""
    import math

    try:
        return math.fmod(a, b)
    except ValueError:
        return float("nan")


class Store:
    """In-memory metric store for one fold (one file / one stream)."""

    def __init__(self, prog: CheckedProgram):
        self.prog = prog
        self.data: dict[str, dict[tuple, list]] = {
            name: {} for name in prog.metrics
        }
        # histogram bucket upper bounds, reference codegen.go:128-156:
        # (0,b0] if b0>0, then (b_i,b_i+1] for the declared list, then +Inf
        self.bucket_maxes: dict[str, list[float]] = {}
        for name, mi in prog.metrics.items():
            if mi.decl.kind == "histogram":
                edges = sorted(mi.decl.buckets)
                maxes = []
                if edges and edges[0] > 0:
                    maxes.append(edges[0])
                maxes.extend(edges[1:])
                maxes.append(float("inf"))
                self.bucket_maxes[name] = maxes

    def _datum(self, name: str, labels: tuple):
        d = self.data[name].get(labels)
        if d is None:
            mi = self.prog.metrics[name]
            if mi.decl.kind == "histogram":
                n_ranges = len(self.bucket_maxes[name])
                d = [[0] * n_ranges, 0, 0.0, None]  # counts, count, sum, ts
            elif mi.vtype == "Float":
                d = [0.0, None]
            elif mi.vtype == "String":
                d = ["", None]
            else:
                d = [0, None]
            self.data[name][labels] = d
        return d

    def inc(self, name, labels, delta, ts_us):
        d = self.data[name].get(labels)
        if d is None:
            d = self._datum(name, labels)
        v = d[0]
        # hot path: numeric datum (always, unless a string metric was
        # incremented — then fall through to the coercion + error)
        if type(v) is int or type(v) is float:
            d[0] = v + delta
        else:
            nd = to_num(v)
            if nd is None:
                raise LineError(f"cannot increment non-numeric {name}")
            d[0] = nd + delta
        d[1] = ts_us

    def set(self, name, labels, value, ts_us):
        mi = self.prog.metrics[name]
        if mi.decl.kind == "histogram":
            self.observe(name, labels, value, ts_us)
            return
        if mi.vtype == "Int":
            if type(value) is int:
                pass  # hot path: already the storage type
            elif isinstance(value, str):
                # strict integer parse: Go PopInt uses ParseInt, so a
                # float-looking string is a runtime error, not a
                # truncation (reference vm.go:131-150)
                try:
                    value = int(value, 10)
                except ValueError:
                    raise LineError(f"cannot set {name} to {value!r}")
            else:
                nv = to_num(value)
                if nv is None:
                    raise LineError(f"cannot set {name} to {value!r}")
                value = int(nv)
        elif mi.vtype == "Float":
            nv = to_num(value)
            if nv is None:
                raise LineError(f"cannot set {name} to {value!r}")
            value = float(nv)
        else:
            value = label_str(value) if not isinstance(value, str) else value
        d = self._datum(name, labels)
        d[0] = value
        d[1] = ts_us

    def get(self, name, labels):
        d = self.data[name].get(labels)
        if d is None:
            d = self._datum(name, labels)
        return d[0]

    def observe(self, name, labels, v, ts_us):
        """Route v into the first bucket whose max >= v
        (reference datum/buckets.go:42-57)."""
        nv = to_num(v)
        if nv is None:
            raise LineError(f"cannot observe {v!r}")
        v = float(nv)
        d = self._datum(name, labels)
        maxes = self.bucket_maxes[name]
        idx = next((i for i, mx in enumerate(maxes) if v <= mx), len(maxes) - 1)
        d[0][idx] += 1
        d[1] += 1
        d[2] += v
        d[3] = ts_us

    def delete(self, name, labels):
        self.data[name].pop(labels, None)

    def gc(self, now_us: int) -> int:
        """`del ... after` TTL expiry + `limit N` eviction over this
        store's datums (reference store.go:156-203: expire stale
        labeled datums; evict oldest-stamped above the limit).  Keys
        are DECLARED metric names, matching self.data."""
        removed = 0
        for name, ttl_s in self.prog.expiries.items():
            datums = self.data.get(name)
            if not datums:
                continue
            mi = self.prog.metrics[name]
            ts_i = 3 if mi.decl.kind == "histogram" else 1
            cutoff = now_us - int(ttl_s * US)
            for labels in [
                k for k, d in datums.items()
                if k and (d[ts_i] or 0) < cutoff
            ]:
                del datums[labels]
                removed += 1
        for name, mi in self.prog.metrics.items():
            limit = mi.decl.limit
            if not limit:
                continue
            datums = self.data.get(name) or {}
            ts_i = 3 if mi.decl.kind == "histogram" else 1
            keys = [k for k in datums if k]
            if len(keys) > limit:
                keys.sort(key=lambda k: datums[k][ts_i] or 0)
                for k in keys[: len(keys) - limit]:
                    del datums[k]
                    removed += 1
        return removed

    def export_rows(self, prog_name: str) -> list[DatumRow]:
        out = []
        for name, mi in self.prog.metrics.items():
            if mi.decl.hidden:
                continue
            export_name = mi.decl.exported_name or name
            kind = mi.decl.kind
            keys = mi.decl.keys
            datums = dict(self.data[name])
            if not keys and kind == "counter" and () not in datums:
                datums[()] = [0.0 if mi.vtype == "Float" else 0, 0]
            if not keys and kind == "histogram" and () not in datums:
                self._datum(name, ())
                datums = dict(self.data[name])
            for labels, d in datums.items():
                lab = tuple(sorted(zip(keys, labels)))
                if kind == "histogram":
                    buckets = tuple(zip(self.bucket_maxes[name], d[0]))
                    out.append(
                        DatumRow(
                            prog_name, export_name, kind, "Buckets", lab,
                            (buckets, d[1], d[2]), d[3],
                        )
                    )
                else:
                    out.append(
                        DatumRow(
                            prog_name, export_name, kind, mi.vtype, lab,
                            d[0], d[1]
                        )
                    )
        return out


class Runtime:
    __slots__ = ("line", "filename", "line_no", "matches", "ts_us", "store",
                 "now_us", "syslog_year", "fired")

    def __init__(self, store, now_us, syslog_year=None):
        self.store = store
        self.now_us = now_us
        self.syslog_year = syslog_year
        self.matches = {}
        self.ts_us = None
        self.line = ""
        self.filename = ""
        self.line_no = 0
        # register-write sites that fired on the current line, as
        # (sid into Interp.reg_sites, labels tuple) — consumed by the
        # chunkfold backend's speculative salvage; the plain fold
        # never reads it.  A site fires at most once per line (the
        # DSL has no loops), so a list needs no dedup.
        self.fired = []


class Interp:
    """AST -> closure compiler + fold executor."""

    def __init__(self, prog: CheckedProgram, syslog_use_current_year=False,
                 tz: str | None = None):
        self.tz = tz
        self.prog = prog
        self.syslog_use_current_year = syslog_use_current_year
        from mtail_spark.compiler.literals import required_literal

        self.res = {r.id: re.compile(r.pattern) for r in prog.regexes}
        # C-speed substring prefilter per regex: `lit not in s` proves
        # search() would return None without running the regex engine
        # (Go's RE2 does the same literal-prefix skip natively)
        self.re_lit = {r.id: required_literal(r.pattern)
                       for r in prog.regexes}
        self.subjects = {
            r.id: (self._c_expr(r.subject) if r.subject is not None else None)
            for r in prog.regexes
        }
        # Register-write site table for the chunkfold backend's
        # speculative salvage: sid -> (register name, dominating regex
        # ids).  A site's DOMINATING regexes are the pattern conditions
        # on truth branches enclosing it — the site can only fire on a
        # line those regexes match, which lets the chunk-parallel fold
        # prove "no unfired site can still write register g on this
        # line".  Populated during closure compilation below; the
        # closures record fired sids on rt.fired (a set; the plain
        # fold pays one set.add per register write and never reads
        # it).
        self.reg_sites: list[tuple] = []
        # AST-occurrence -> sid map so the srcgen backend reuses the
        # exact site ids these closures allocated (decorator bodies
        # are deep-copied at splice, so id() is unique per occurrence)
        self.site_by_node: dict[int, int] = {}
        self._doms: tuple = ()
        self.program = self._c_block(prog.stmts.stmts)
        # Faster equivalent program: one exec()-compiled function
        # instead of the closure tree (same semantics, ~170 fewer
        # Python calls per line).  Falls back to the closures when
        # the generator declines; MTAIL_SPARK_INTERP=closures forces
        # the fallback for A/B and equivalence testing.
        self.closure_program = self.program
        self.chunk_program = None
        # *_fast: store access inlined to datum-dict ops, rt.fired
        # dropped — valid only when type(rt.store) is exactly Store
        # (feed / streaming/stateful.py check before selecting)
        self.fast_program = None
        self.fast_chunk_program = None
        from mtail_spark.compiler.srcgen import generate

        gen = generate(self)
        if gen is not None:
            (self.program, self.chunk_program,
             self.fast_program, self.fast_chunk_program) = gen

    def _implied_rids(self, e) -> set:
        """Regex ids a condition's TRUTH implies matched the line."""
        if isinstance(e, A.PatternLit):
            return {e.regex_id}
        if isinstance(e, A.UnaryExpr) and e.op == "MATCH":
            return self._implied_rids(e.expr)
        if isinstance(e, A.BinaryExpr):
            if e.op == "&&":
                return self._implied_rids(e.lhs) | self._implied_rids(e.rhs)
            if e.op == "=~" and isinstance(e.rhs, A.PatternLit):
                return {e.rhs.regex_id}
        return set()

    def _reg_site(self, name: str):
        """Allocate a write-site id for hidden (register) targets —
        scalar or dimensioned; None for exported metrics."""
        mi = self.prog.metrics.get(name)
        if mi is None or not mi.decl.hidden:
            return None
        sid = len(self.reg_sites)
        self.reg_sites.append((name, self._doms))
        return sid

    # ------------------------------------------------------------ running

    def new_runtime(self, now_us=0, filename="") -> Runtime:
        """Fresh per-stream fold state (store + line registers)."""
        syslog_year = None
        if self.syslog_use_current_year:
            from mtail_spark.compiler.gotime import epoch_us_year

            syslog_year = epoch_us_year(now_us)
        rt = Runtime(Store(self.prog), now_us, syslog_year=syslog_year)
        rt.filename = filename
        return rt

    def feed(self, rt: Runtime, rows) -> None:
        """Fold (line_no, line) or (filename, line_no, line) rows into
        an existing runtime — callers may feed a stream in chunks; all
        cross-line state lives on `rt`."""
        if self.chunk_program is not None:
            from itertools import chain

            rows = iter(rows)
            first = next(rows, None)
            if first is None:
                return
            if len(first) == 2:
                # generated whole-chunk loop: per-line resets +
                # error-kills-line handled inside one Python frame.
                # Exact-Store runtimes take the store-inlined variant
                # (subclasses — chunkfold SpecStore — need the
                # virtual calls).
                fn = self.chunk_program
                if (self.fast_chunk_program is not None
                        and type(rt.store) is Store):
                    fn = self.fast_chunk_program
                fn(rt, chain((first,), rows))
                return
            rows = chain((first,), rows)
        program = self.program
        if self.fast_program is not None and type(rt.store) is Store:
            program = self.fast_program  # never appends to rt.fired
        for row in rows:
            if len(row) == 3:
                rt.filename, rt.line_no, rt.line = row
            else:
                rt.line_no, rt.line = row
            rt.matches = {}
            rt.ts_us = None
            # fired is only consumed by the chunkfold salvage path;
            # clear per line so long folds / long-lived serve runtimes
            # don't accumulate O(total register writes) memory.
            rt.fired.clear()
            try:
                program(rt)
            except (StopLine, LineError):
                pass

    def run_lines(self, rows, prog_name=None, now_us=0, filename=""):
        """rows: iterable of (line_no, line) or (filename, line_no, line).
        Returns export DatumRows."""
        rt = self.new_runtime(now_us=now_us, filename=filename)
        self.feed(rt, rows)
        return rt.store.export_rows(prog_name or self.prog.name)

    # ----------------------------------------------------------- compiling

    def _c_block(self, stmts):
        items = []
        for s in stmts:
            items.append(self._c_stmt(s))

        def run_block(rt, _items=items):
            matched = False
            for kind, fn in _items:
                if kind == "cond":
                    if fn(rt):
                        matched = True
                elif kind == "otherwise":
                    if not matched:
                        fn(rt)
                        matched = True
                else:
                    fn(rt)
        return run_block

    def _c_stmt(self, s):
        if isinstance(s, A.StmtList):
            blk = self._c_block(s.stmts)
            return ("plain", blk)
        if isinstance(s, A.CondStmt):
            if isinstance(s.cond, A.OtherwiseCond):
                body = self._c_block(s.truth.stmts if s.truth else [])
                return ("otherwise", body)
            cond = self._c_expr(s.cond)
            saved = self._doms
            self._doms = saved + tuple(
                sorted(self._implied_rids(s.cond) - set(saved))
            )
            truth = self._c_block(s.truth.stmts if s.truth else [])
            self._doms = saved  # else branch implies nothing
            els = self._c_block(s.els.stmts) if s.els else None

            def run_cond(rt, cond=cond, truth=truth, els=els):
                if bool(cond(rt)):
                    truth(rt)
                    return True
                if els is not None:
                    els(rt)
                return False
            return ("cond", run_cond)
        if isinstance(s, A.ExprStmt):
            e = self._c_expr(s.expr)
            return ("plain", lambda rt, e=e: e(rt))
        if isinstance(s, A.StopStmt):
            def do_stop(rt):
                raise StopLine()
            return ("plain", do_stop)
        if isinstance(s, A.DelStmt):
            t = s.target
            name = t.lhs.name
            idx = [self._c_label(ix) for ix in t.index]
            expiry = s.expiry_s
            sid = self._reg_site(name) if expiry is None else None
            if sid is not None:
                self.site_by_node[id(s)] = sid

            def do_del(rt, name=name, idx=idx, expiry=expiry, sid=sid):
                labels = tuple(f(rt) for f in idx)
                if expiry is None:
                    rt.store.delete(name, labels)
                    if sid is not None:
                        rt.fired.append((sid, labels))
                # `del after` marks a TTL; GC runs hourly in the
                # reference so one-shot folds never apply it.
            return ("plain", do_del)
        raise ValueError(f"cannot compile statement {type(s).__name__}")

    def _c_label(self, e):
        f = self._c_expr(e)
        return lambda rt, f=f: label_str(f(rt))

    def _match_fn(self, regex_id):
        rx = self.res[regex_id]
        subj = self.subjects[regex_id]
        lit = self.re_lit.get(regex_id)

        def do_match(rt, rx=rx, subj=subj, regex_id=regex_id, lit=lit):
            s = rt.line if subj is None else subj(rt)
            if not isinstance(s, str):
                s = label_str(s)
            m = rx.search(s) if (lit is None or lit in s) else None
            rt.matches[regex_id] = m
            return m is not None
        return do_match

    def _c_expr(self, e):
        if isinstance(e, A.IntLit):
            return lambda rt, v=e.value: v
        if isinstance(e, A.FloatLit):
            return lambda rt, v=e.value: v
        if isinstance(e, A.StringLit):
            return lambda rt, v=e.value: v
        if isinstance(e, A.PatternLit):
            return self._match_fn(e.regex_id)
        if isinstance(e, A.Capref):
            rid, g, vt = e.regex_id, e.group, e.vtype

            def capref(rt, rid=rid, g=g, vt=vt):
                m = rt.matches.get(rid)
                if m is None:
                    raise LineError(f"capref ${g} without match")
                v = m.group(g)
                if v is None:
                    v = ""
                if vt == "Int":
                    try:
                        return int(v)
                    except ValueError:
                        raise LineError(f"bad int {v!r}")
                if vt == "Float":
                    try:
                        return float(v)
                    except ValueError:
                        raise LineError(f"bad float {v!r}")
                return v
            return capref
        if isinstance(e, A.UnaryExpr):
            return self._c_unary(e)
        if isinstance(e, A.BinaryExpr):
            return self._c_binary(e)
        if isinstance(e, A.BuiltinCall):
            return self._c_builtin(e)
        if isinstance(e, A.IndexedExpr):
            name = e.lhs.name
            idx = [self._c_label(ix) for ix in e.index]

            def read(rt, name=name, idx=idx):
                return rt.store.get(name, tuple(f(rt) for f in idx))
            return read
        if isinstance(e, A.OtherwiseCond):
            return lambda rt: True
        raise ValueError(f"cannot compile expr {type(e).__name__}")

    def _c_unary(self, e):
        if e.op == "MATCH":
            return self._c_expr(e.expr)
        if e.op == "!":
            f = self._c_expr(e.expr)
            return lambda rt, f=f: not bool(f(rt))
        if e.op == "~":
            f = self._c_expr(e.expr)
            return lambda rt, f=f: ~int(f(rt))
        if e.op in ("++", "--"):
            target = e.expr
            name = target.lhs.name
            idx = [self._c_label(ix) for ix in target.index]
            delta = 1 if e.op == "++" else -1
            sid = self._reg_site(name)
            if sid is not None:
                self.site_by_node[id(e)] = sid

            def inc(rt, name=name, idx=idx, delta=delta, sid=sid):
                labels = tuple(f(rt) for f in idx)
                rt.store.inc(name, labels, delta, rt.ts_us)
                if sid is not None:
                    rt.fired.append((sid, labels))
                return rt.store.get(name, labels)
            return inc
        raise ValueError(f"bad unary {e.op}")

    def _c_binary(self, e):
        op = e.op
        if op in ("=", "+="):
            target = e.lhs
            if not isinstance(target, A.IndexedExpr):
                raise ValueError("assignment target must be a metric")
            name = target.lhs.name
            idx = [self._c_label(ix) for ix in target.index]
            rhs = self._c_expr(e.rhs)
            sid = self._reg_site(name)
            if sid is not None:
                self.site_by_node[id(e)] = sid
            if op == "=":
                def setv(rt, name=name, idx=idx, rhs=rhs, sid=sid):
                    labels = tuple(f(rt) for f in idx)
                    v = rhs(rt)
                    rt.store.set(name, labels, v, rt.ts_us)
                    if sid is not None:
                        rt.fired.append((sid, labels))
                    return v
                return setv

            def addv(rt, name=name, idx=idx, rhs=rhs, sid=sid):
                labels = tuple(f(rt) for f in idx)
                v = to_num(rhs(rt))
                if v is None:
                    raise LineError("non-numeric +=")
                rt.store.inc(name, labels, v, rt.ts_us)
                if sid is not None:
                    rt.fired.append((sid, labels))
                return rt.store.get(name, labels)
            return addv
        if op in ("=~", "!~"):
            if isinstance(e.rhs, A.PatternLit):
                m = self._match_fn(e.rhs.regex_id)
                if op == "=~":
                    return m
                return lambda rt, m=m: not m(rt)
            raise ValueError("dynamic match subject not supported")
        if op == "&&":
            l, r = self._c_expr(e.lhs), self._c_expr(e.rhs)
            return lambda rt, l=l, r=r: bool(l(rt)) and bool(r(rt))
        if op == "||":
            l, r = self._c_expr(e.lhs), self._c_expr(e.rhs)
            return lambda rt, l=l, r=r: bool(l(rt)) or bool(r(rt))
        l, r = self._c_expr(e.lhs), self._c_expr(e.rhs)
        if op in ("<", "<=", ">", ">=", "==", "!="):
            def cmpf(rt, l=l, r=r, op=op):
                return self._compare(l(rt), r(rt), op)
            return cmpf

        def arith(rt, l=l, r=r, op=op):
            return self._arith(l(rt), r(rt), op)
        return arith

    @staticmethod
    def _compare(a, b, op):
        if isinstance(a, str) or isinstance(b, str):
            na, nb = to_num(a), to_num(b)
            if na is not None and nb is not None:
                a, b = na, nb
            elif isinstance(a, str) and isinstance(b, str):
                pass
            else:
                raise LineError(f"cannot compare {a!r} {b!r}")
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == ">":
            return a > b
        if op == ">=":
            return a >= b
        if op == "==":
            return a == b
        return a != b

    @staticmethod
    def _arith(a, b, op):
        if op == "+" and isinstance(a, str) and isinstance(b, str):
            return a + b
        na, nb = to_num(a), to_num(b)
        if na is None or nb is None:
            raise LineError(f"non-numeric operands {a!r} {b!r}")
        a, b = na, nb
        both_int = isinstance(a, int) and isinstance(b, int)
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            return go_int_div(a, b) if both_int else go_float_div(a, b)
        if op == "%":
            return go_mod(a, b) if both_int else go_float_mod(a, b)
        if op == "**":
            return a ** b
        ia, ib = int(a), int(b)
        if op == "&":
            return ia & ib
        if op == "|":
            return ia | ib
        if op == "^":
            return ia ^ ib
        if op == "<<":
            return ia << ib
        if op == ">>":
            return ia >> ib
        raise LineError(f"bad op {op}")

    def _c_builtin(self, e):
        n = e.name
        args = e.args
        if n == "len":
            f = self._c_expr(args[0])
            return lambda rt, f=f: len(f(rt))
        if n == "tolower":
            f = self._c_expr(args[0])
            return lambda rt, f=f: str(f(rt)).lower()
        if n == "getfilename":
            return lambda rt: rt.filename
        if n == "timestamp":
            def ts(rt):
                base = rt.ts_us if rt.ts_us is not None else rt.now_us
                return base // US
            return ts
        if n == "settime":
            f = self._c_expr(args[0])

            def settime(rt, f=f):
                v = to_num(f(rt))
                if v is None:
                    raise LineError("settime non-numeric")
                rt.ts_us = int(v) * US
            return settime
        if n == "strptime":
            f = self._c_expr(args[0])
            layout = args[1].value
            use_year = self.syslog_use_current_year
            tz = self.tz

            def strptime(rt, f=f, layout=layout, use_year=use_year, tz=tz):
                v = f(rt)
                try:
                    rt.ts_us = parse_go_time_us(
                        str(v), layout,
                        now_year=rt.syslog_year if use_year else None,
                        tz=tz,
                    )
                except ValueError as ex:
                    raise LineError(f"strptime failed: {ex}")
            return strptime
        if n == "strtol":
            f = self._c_expr(args[0])
            base = args[1].value

            def strtol(rt, f=f, base=base):
                try:
                    return int(str(f(rt)), base)
                except ValueError:
                    raise LineError("strtol failed")
            return strtol
        if n == "int":
            f = self._c_expr(args[0])

            def toint(rt, f=f):
                v = to_num(f(rt))
                if v is None:
                    raise LineError("int() failed")
                return int(v)
            return toint
        if n == "float":
            f = self._c_expr(args[0])

            def tofloat(rt, f=f):
                v = to_num(f(rt))
                if v is None:
                    raise LineError("float() failed")
                return float(v)
            return tofloat
        if n == "string":
            f = self._c_expr(args[0])
            return lambda rt, f=f: label_str(f(rt))
        if n == "bool":
            f = self._c_expr(args[0])
            return lambda rt, f=f: f(rt)
        if n == "subst":
            old, new, val = args
            fv = self._c_expr(val)
            fn = self._c_expr(new)
            if isinstance(old, A.PatternLit):
                rx = self.res[old.regex_id]

                def rsubst(rt, rx=rx, fn=fn, fv=fv):
                    repl = str(fn(rt))
                    return rx.sub(lambda m: repl, str(fv(rt)))
                return rsubst
            fo = self._c_expr(old)

            def subst(rt, fo=fo, fn=fn, fv=fv):
                return str(fv(rt)).replace(str(fo(rt)), str(fn(rt)))
            return subst
        raise ValueError(f"unknown builtin {n}")
