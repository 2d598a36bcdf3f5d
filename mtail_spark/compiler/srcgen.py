"""Source-generating backend for the per-line interpreter: compile a
CheckedProgram to ONE Python function via exec().

The closure-tree interpreter (interp.py) pays ~170 Python calls per
line on a mid-size program — block dispatch, per-node lambdas, label
genexprs, to_num round-trips.  CPython can't inline across closures,
so that dispatch IS the fold backend's steady-state cost (profiled:
no single node >12%, everything is call overhead).  This module walks
the same AST and emits the whole program as straight-line Python with
branches, then exec()s it once per compile: per line there is exactly
one Python call (the generated function) plus the unavoidable
regex/store calls.

Semantics are the closure backend's, preserved mechanically:

- evaluation order is identical (labels before RHS, left-to-right,
  cond fully evaluated before branching, short-circuit via real
  `if` nesting when the RHS has side effects);
- `rt.matches` is maintained exactly as closures do (written on every
  pattern evaluation, read via .get for caprefs) because the
  chunkfold salvage path (_salvage, chunkfold.py) inspects it on
  aborted lines, and NeedState from a speculative store must see the
  same partial state;
- `rt.fired` append sites reuse the SAME site ids the closure
  compiler allocated (interp.Interp.site_by_node) — decorator bodies
  are deep-copied at splice time (checker.py), so id(node) is unique
  per occurrence;
- runtime errors raise the same LineError at the same points; `stop`
  compiles to `return` (equivalent to StopLine at this scope);
- arithmetic/comparison fall back to the closure helpers (_arith /
  _compare) whenever static types don't prove both operands numeric;
  the static typing below mirrors checker._expr_type and treats
  "unknown" as unspecializable, never as a license to change
  behavior.

Any AST shape the generator doesn't cover returns None and the
closure program stays in charge (whole-program fallback — no partial
mixing of backends except the deliberately-contained `subst` closure,
which allocates no write sites).

The fold/chunkfold Spark paths re-check + re-compile worker-side from
program SOURCE (api.py fold_chunks, chunkfold._phase_a_fn), so the
generated function never needs to pickle.
"""

from __future__ import annotations

import os

from mtail_spark.compiler import ast as A
from mtail_spark.compiler.gotime import parse_go_time_us
from mtail_spark.compiler.interp import (
    US,
    Interp,
    LineError,
    go_float_div,
    go_float_mod,
    go_int_div,
    go_mod,
    label_str,
    to_num,
)

NUMERIC = {"Int", "Float", "Bool"}

_BUILTIN_TYPE = {
    "len": "Int", "strtol": "Int", "timestamp": "Int", "int": "Int",
    "float": "Float", "string": "String", "tolower": "String",
    "subst": "String", "getfilename": "String", "settime": None,
}


class _Unsupported(Exception):
    pass


def _uses_subst(node) -> bool:
    """Generic AST walk: does any subtree contain a subst() call?
    (Its closure fallback reads rt.matches, so fast mode must keep
    the dict maintained.)  Walks dataclass fields and list items."""
    if isinstance(node, A.BuiltinCall) and node.name == "subst":
        return True
    if isinstance(node, (list, tuple)):
        return any(_uses_subst(x) for x in node)
    if hasattr(node, "__dict__"):
        return any(
            _uses_subst(v)
            for v in vars(node).values()
            if isinstance(v, (list, tuple)) or hasattr(v, "__dict__")
        )
    return False


class _Gen:
    def __init__(self, it: Interp, base_ind: int = 1,
                 stop_stmt: str = "return", fast: bool = False):
        self.it = it
        self.prog = it.prog
        self.lines: list[str] = []
        self.ind = base_ind
        self.stop_stmt = stop_stmt
        # fast mode: the runtime store is EXACTLY interp.Store (plain
        # fold / stateful streaming), so metric access inlines to
        # direct datum-dict operations hoisted per metric (no method
        # dispatch; the chunkfold SpecStore's gating/journal semantics
        # need the virtual calls and keep the non-fast variants).
        # Fast code also drops rt.fired bookkeeping entirely — only
        # the chunkfold salvage path ever reads it.
        self.fast = fast
        self.metric_vars: dict[str, str] = {}
        # fast mode: per-regex dedicated match locals replace the
        # rt.matches dict (reset to None per line by the wrapper) —
        # UNLESS the program contains a subst() fallback closure,
        # which reads rt.matches for caprefs inside its arguments.
        self.match_vars: dict[int, str] = {}
        self.need_matches_dict = (not fast) or _uses_subst(
            [it.prog.stmts.stmts]
            + [r.subject for r in it.prog.regexes if r.subject is not None]
        )
        self.n_tmp = 0
        self.n_blk = 0
        self.globals: dict = {
            "LineError": LineError,
            "label_str": label_str,
            "to_num": to_num,
            "go_int_div": go_int_div,
            "go_mod": go_mod,
            "go_float_div": go_float_div,
            "go_float_mod": go_float_mod,
            "parse_go_time_us": parse_go_time_us,
            "US": US,
            "_compare": Interp._compare,
            "_arith": Interp._arith,
        }
        for rid, rx in it.res.items():
            self.globals[f"RX{rid}"] = rx
        self.n_const = 0

    # ------------------------------------------------------------ emission

    def tmp(self) -> str:
        self.n_tmp += 1
        return f"_t{self.n_tmp}"

    def dvar(self, name: str) -> str:
        """Per-metric datum-dict local (fast mode): hoisted as
        `Dn = store.data[name]` in the function preamble."""
        v = self.metric_vars.get(name)
        if v is None:
            v = f"_D{len(self.metric_vars)}"
            self.metric_vars[name] = v
        return v

    def emit(self, s: str) -> None:
        self.lines.append("    " * self.ind + s)

    def const(self, obj) -> str:
        self.n_const += 1
        name = f"C{self.n_const}"
        self.globals[name] = obj
        return name

    def capture(self, fn):
        """Compile a sub-expression into a side buffer; returns
        (expr, emitted-lines).  Used to detect pure RHSs for
        short-circuit ops.  Captured lines carry the CURRENT indent;
        only replay them at the same level."""
        saved = self.lines
        self.lines = []
        expr = fn()
        captured, self.lines = self.lines, saved
        return expr, captured

    # ------------------------------------------------------------- typing

    def etype(self, e):
        """Static value type mirroring checker._expr_type; None =
        unknown (never specialize)."""
        if isinstance(e, A.IntLit):
            return "Int"
        if isinstance(e, A.FloatLit):
            return "Float"
        if isinstance(e, A.StringLit):
            return "String"
        if isinstance(e, A.Capref):
            return e.vtype or "String"
        if isinstance(e, (A.PatternLit, A.OtherwiseCond)):
            return "Bool"
        if isinstance(e, A.UnaryExpr):
            if e.op in ("!", "MATCH"):
                return "Bool"
            if e.op == "~":
                return "Int"
            if e.op in ("++", "--"):
                return self.etype(e.expr)
            return None
        if isinstance(e, A.IndexedExpr):
            mi = self.prog.metrics.get(e.lhs.name)
            if mi is None:
                return None
            return mi.vtype if mi.vtype in ("Int", "Float", "String") else None
        if isinstance(e, A.BuiltinCall):
            if e.name == "bool":
                return self.etype(e.args[0])
            return _BUILTIN_TYPE.get(e.name)
        if isinstance(e, A.BinaryExpr):
            op = e.op
            if op in ("<", "<=", ">", ">=", "==", "!=", "&&", "||",
                      "=~", "!~"):
                return "Bool"
            if op in ("&", "|", "^", "<<", ">>"):
                return "Int"
            if op in ("=", "+="):
                return self.etype(e.lhs)
            lt, rt_ = self.etype(e.lhs), self.etype(e.rhs)
            if lt is None or rt_ is None:
                return None
            if op == "+" and lt == "String" and rt_ == "String":
                return "String"
            if "String" in (lt, rt_):
                return None
            if op == "/":
                # Int/Int stays Int (go_int_div); any Float -> Float
                return "Float" if "Float" in (lt, rt_) else "Int"
            if op == "%":
                return "Float" if "Float" in (lt, rt_) else "Int"
            if op == "**":
                # int**negative-int is a Python float; don't claim Int
                return "Float" if "Float" in (lt, rt_) else None
            return "Float" if "Float" in (lt, rt_) else "Int"
        return None

    # -------------------------------------------------------- expressions

    def match_var(self, rid: int) -> str:
        """Evaluate regex `rid` against its subject (or the line),
        record in rt.matches, return the local holding the match.
        A required-literal `in` prefilter (literals.required_literal)
        skips the regex engine when the search provably fails."""
        reg = self.prog.regexes[rid]
        lit = self.it.re_lit.get(rid)
        if self.fast:
            # dedicated per-regex local: re-assigned at every
            # evaluation site, reset to None per line by the wrapper;
            # caprefs read it directly instead of the matches dict
            m = self.match_vars.setdefault(rid, f"_m_re{rid}")
        else:
            m = self.tmp()
        if reg.subject is None:
            sv = "line"
        else:
            s = self.ex(reg.subject)
            sv = self.tmp()
            self.emit(f"{sv} = {s}")
            self.emit(f"if not isinstance({sv}, str): "
                      f"{sv} = label_str({sv})")
        if lit is None:
            self.emit(f"{m} = RX{rid}.search({sv})")
        else:
            self.emit(f"{m} = RX{rid}.search({sv}) "
                      f"if {lit!r} in {sv} else None")
        if self.need_matches_dict:
            self.emit(f"matches[{rid}] = {m}")
        return m

    def labels_tuple(self, target: A.IndexedExpr) -> str:
        parts = []
        for ix in target.index:
            x = self.ex(ix)
            if self.etype(ix) == "String":
                parts.append(x)
            else:
                parts.append(f"label_str({x})")
        if not parts:
            return "()"
        return "(" + ", ".join(parts) + ("," if len(parts) == 1 else "") + ")"

    def write_site(self, node, name: str):
        """Closure-allocated site id for this AST occurrence (None for
        exported metrics)."""
        return self.it.site_by_node.get(id(node))

    def emit_inc(self, name: str, labt: str, delta: str) -> None:
        """Statement-position metric increment.  Fast mode: direct
        datum mutation when the datum exists and is numeric (the Store
        fallback covers first-touch creation and the non-numeric
        LineError path with identical semantics)."""
        if not self.fast:
            self.emit(f"store.inc({name!r}, {labt}, {delta}, rt.ts_us)")
            return
        d = self.tmp()
        self.emit(f"{d} = {self.dvar(name)}.get({labt})")
        self.emit(f"if {d} is not None and "
                  f"(type({d}[0]) is int or type({d}[0]) is float):")
        self.ind += 1
        self.emit(f"{d}[0] += {delta}")
        self.emit(f"{d}[1] = rt.ts_us")
        self.ind -= 1
        self.emit("else:")
        self.ind += 1
        self.emit(f"store.inc({name!r}, {labt}, {delta}, rt.ts_us)")
        self.ind -= 1

    def emit_set(self, name: str, labt: str, v: str) -> None:
        """Statement-position metric assignment.  Fast mode: direct
        datum mutation when the value already has the metric's storage
        type (Store.set would store it unchanged); histograms and
        coercions fall back to the virtual call (observe / typed
        parse / LineError)."""
        mi = self.prog.metrics[name]
        pyt = {"Int": "int", "Float": "float", "String": "str"}.get(
            mi.vtype
        )
        if not self.fast or mi.decl.kind == "histogram" or pyt is None:
            self.emit(f"store.set({name!r}, {labt}, {v}, rt.ts_us)")
            return
        d = self.tmp()
        self.emit(f"{d} = {self.dvar(name)}.get({labt})")
        self.emit(f"if {d} is not None and type({v}) is {pyt}:")
        self.ind += 1
        self.emit(f"{d}[0] = {v}")
        self.emit(f"{d}[1] = rt.ts_us")
        self.ind -= 1
        self.emit("else:")
        self.ind += 1
        self.emit(f"store.set({name!r}, {labt}, {v}, rt.ts_us)")
        self.ind -= 1

    def ex(self, e, need: bool = True) -> str:
        if isinstance(e, A.IntLit):
            return repr(e.value)
        if isinstance(e, A.FloatLit):
            return repr(e.value)
        if isinstance(e, A.StringLit):
            return repr(e.value)
        if isinstance(e, A.PatternLit):
            m = self.match_var(e.regex_id)
            return f"({m} is not None)"
        if isinstance(e, A.Capref):
            return self.ex_capref(e)
        if isinstance(e, A.UnaryExpr):
            return self.ex_unary(e, need)
        if isinstance(e, A.BinaryExpr):
            return self.ex_binary(e, need)
        if isinstance(e, A.BuiltinCall):
            return self.ex_builtin(e, need)
        if isinstance(e, A.IndexedExpr):
            lab = self.labels_tuple(e)
            if self.fast:
                # single expression (order-preserving like the inline
                # store.get): datum lists are always truthy, .get miss
                # falls through to _datum (create-on-read zero-init,
                # exactly Store.get).  The label expr re-evaluates on
                # the miss branch only; labels are pure.
                return (f"({self.dvar(e.lhs.name)}.get({lab}) or "
                        f"store._datum({e.lhs.name!r}, {lab}))[0]")
            return f"store.get({e.lhs.name!r}, {lab})"
        if isinstance(e, A.OtherwiseCond):
            return "True"
        raise _Unsupported(type(e).__name__)

    def ex_capref(self, e: A.Capref) -> str:
        if self.fast:
            # the per-line None reset makes the local always bound
            m = self.match_vars.setdefault(
                e.regex_id, f"_m_re{e.regex_id}"
            )
        else:
            m = self.tmp()
            self.emit(f"{m} = matches.get({e.regex_id})")
        self.emit(f"if {m} is None: "
                  f"raise LineError('capref without match')")
        v = self.tmp()
        g = e.group if isinstance(e.group, int) else repr(e.group)
        self.emit(f"{v} = {m}.group({g}) or ''")
        if e.vtype == "Int":
            self.emit("try:")
            self.ind += 1
            self.emit(f"{v} = int({v})")
            self.ind -= 1
            self.emit("except ValueError:")
            self.ind += 1
            self.emit(f"raise LineError('bad int')")
            self.ind -= 1
        elif e.vtype == "Float":
            self.emit("try:")
            self.ind += 1
            self.emit(f"{v} = float({v})")
            self.ind -= 1
            self.emit("except ValueError:")
            self.ind += 1
            self.emit(f"raise LineError('bad float')")
            self.ind -= 1
        return v

    def ex_unary(self, e: A.UnaryExpr, need: bool) -> str:
        if e.op == "MATCH":
            return self.ex(e.expr, need)
        if e.op == "!":
            return f"(not {self.ex(e.expr)})"
        if e.op == "~":
            return f"(~int({self.ex(e.expr)}))"
        if e.op in ("++", "--"):
            target = e.expr
            if not isinstance(target, A.IndexedExpr):
                raise _Unsupported("inc target")
            name = target.lhs.name
            labt = self.tmp()
            self.emit(f"{labt} = {self.labels_tuple(target)}")
            delta = 1 if e.op == "++" else -1
            self.emit_inc(name, labt, repr(delta))
            sid = self.write_site(e, name)
            if sid is not None and not self.fast:
                self.emit(f"fired.append(({sid}, {labt}))")
            if need:
                v = self.tmp()
                if self.fast:
                    self.emit(f"{v} = ({self.dvar(name)}.get({labt}) or "
                              f"store._datum({name!r}, {labt}))[0]")
                else:
                    self.emit(f"{v} = store.get({name!r}, {labt})")
                return v
            return "None"
        raise _Unsupported(f"unary {e.op}")

    def ex_binary(self, e: A.BinaryExpr, need: bool) -> str:
        op = e.op
        if op in ("=", "+="):
            return self.ex_assign(e, need)
        if op in ("=~", "!~"):
            if not isinstance(e.rhs, A.PatternLit):
                raise _Unsupported("dynamic match")
            # subject'd regex: the checker rewrote `expr =~ /re/` into
            # a subject regex, so the match fn handles the lhs
            m = self.match_var(e.rhs.regex_id)
            return (f"({m} is not None)" if op == "=~"
                    else f"({m} is None)")
        if op in ("&&", "||"):
            l = self.ex(e.lhs)
            self.ind += 1
            r, captured = self.capture(lambda: self.ex(e.rhs))
            self.ind -= 1
            if not captured:
                py = "and" if op == "&&" else "or"
                return f"(bool({l}) {py} bool({r}))"
            res = self.tmp()
            if op == "&&":
                self.emit(f"{res} = False")
                self.emit(f"if {l}:")
            else:
                self.emit(f"{res} = True")
                self.emit(f"if not {l}:")
            self.ind += 1
            self.lines.extend(captured)
            self.emit(f"{res} = bool({r})")
            self.ind -= 1
            return res
        l, r = self.ex(e.lhs), self.ex(e.rhs)
        lt, rt_ = self.etype(e.lhs), self.etype(e.rhs)
        both_num = lt in NUMERIC and rt_ in NUMERIC
        if op in ("<", "<=", ">", ">=", "==", "!="):
            if both_num:
                return f"({l} {op} {r})"
            # String/String where one side is a literal that can't
            # parse as a number: _compare's numeric-fallback path
            # (both sides must parse) is unreachable, so the plain
            # string operator is exact.  Covers the ubiquitous
            # `$cap == ""` guards without a helper call per line.
            if lt == "String" and rt_ == "String" and any(
                isinstance(x, A.StringLit) and to_num(x.value) is None
                for x in (e.lhs, e.rhs)
            ):
                return f"({l} {op} {r})"
            return f"_compare({l}, {r}, {op!r})"
        # arithmetic
        if op == "+" and lt == "String" and rt_ == "String":
            return f"({l} + {r})"
        if not both_num:
            return f"_arith({l}, {r}, {op!r})"
        if op in ("+", "-", "*", "**"):
            return f"({l} {op} {r})"
        if op == "/":
            fn = "go_int_div" if (lt == rt_ == "Int" or
                                  {lt, rt_} <= {"Int", "Bool"}) \
                else "go_float_div"
            return f"{fn}({l}, {r})"
        if op == "%":
            fn = "go_mod" if {lt, rt_} <= {"Int", "Bool"} \
                else "go_float_mod"
            return f"{fn}({l}, {r})"
        if op in ("&", "|", "^", "<<", ">>"):
            li = l if lt == "Int" else f"int({l})"
            ri = r if rt_ == "Int" else f"int({r})"
            return f"({li} {op} {ri})"
        raise _Unsupported(f"binary {op}")

    def ex_assign(self, e: A.BinaryExpr, need: bool) -> str:
        target = e.lhs
        if not isinstance(target, A.IndexedExpr):
            raise _Unsupported("assign target")
        name = target.lhs.name
        labt = self.tmp()
        self.emit(f"{labt} = {self.labels_tuple(target)}")
        v = self.tmp()
        self.emit(f"{v} = {self.ex(e.rhs)}")
        sid = self.write_site(e, name)
        if e.op == "=":
            self.emit_set(name, labt, v)
            if sid is not None and not self.fast:
                self.emit(f"fired.append(({sid}, {labt}))")
            return v if need else "None"
        # +=
        if self.etype(e.rhs) in NUMERIC:
            self.emit_inc(name, labt, v)
        else:
            vn = self.tmp()
            self.emit(f"{vn} = to_num({v})")
            self.emit(f"if {vn} is None: "
                      f"raise LineError('non-numeric +=')")
            self.emit_inc(name, labt, vn)
        if sid is not None and not self.fast:
            self.emit(f"fired.append(({sid}, {labt}))")
        if need:
            rv = self.tmp()
            if self.fast:
                self.emit(f"{rv} = ({self.dvar(name)}.get({labt}) or "
                          f"store._datum({name!r}, {labt}))[0]")
            else:
                self.emit(f"{rv} = store.get({name!r}, {labt})")
            return rv
        return "None"

    def ex_builtin(self, e: A.BuiltinCall, need: bool) -> str:
        n = e.name
        if n == "len":
            return f"len({self.ex(e.args[0])})"
        if n == "tolower":
            x = self.ex(e.args[0])
            if self.etype(e.args[0]) == "String":
                return f"({x}).lower()"
            return f"str({x}).lower()"
        if n == "getfilename":
            return "rt.filename"
        if n == "timestamp":
            return "((rt.ts_us if rt.ts_us is not None else rt.now_us)" \
                   " // US)"
        if n == "settime":
            x = self.ex(e.args[0])
            if self.etype(e.args[0]) in NUMERIC:
                self.emit(f"rt.ts_us = int({x}) * US")
            else:
                v = self.tmp()
                self.emit(f"{v} = to_num({x})")
                self.emit(f"if {v} is None: "
                          f"raise LineError('settime non-numeric')")
                self.emit(f"rt.ts_us = int({v}) * US")
            return "None"
        if n == "strptime":
            x = self.ex(e.args[0])
            layout = e.args[1].value
            ny = ("rt.syslog_year" if self.it.syslog_use_current_year
                  else "None")
            tz = repr(self.it.tz)
            self.emit("try:")
            self.ind += 1
            self.emit(f"rt.ts_us = parse_go_time_us(str({x}), "
                      f"{layout!r}, now_year={ny}, tz={tz})")
            self.ind -= 1
            self.emit("except ValueError:")
            self.ind += 1
            self.emit("raise LineError('strptime failed')")
            self.ind -= 1
            return "None"
        if n == "strtol":
            x = self.ex(e.args[0])
            base = e.args[1].value
            v = self.tmp()
            self.emit("try:")
            self.ind += 1
            self.emit(f"{v} = int(str({x}), {base})")
            self.ind -= 1
            self.emit("except ValueError:")
            self.ind += 1
            self.emit("raise LineError('strtol failed')")
            self.ind -= 1
            return v
        if n == "int":
            x = self.ex(e.args[0])
            if self.etype(e.args[0]) in NUMERIC:
                return f"int({x})"
            v = self.tmp()
            self.emit(f"{v} = to_num({x})")
            self.emit(f"if {v} is None: raise LineError('int() failed')")
            return f"int({v})"
        if n == "float":
            x = self.ex(e.args[0])
            if self.etype(e.args[0]) in NUMERIC:
                return f"float({x})"
            v = self.tmp()
            self.emit(f"{v} = to_num({x})")
            self.emit(f"if {v} is None: "
                      f"raise LineError('float() failed')")
            return f"float({v})"
        if n == "string":
            return f"label_str({self.ex(e.args[0])})"
        if n == "bool":
            return self.ex(e.args[0], need)
        if n == "subst":
            # contained closure fallback: subst subtrees are pure
            # (no write sites), so the closure allocates nothing
            fn = self.const(self.it._c_builtin(e))
            return f"{fn}(rt)"
        raise _Unsupported(f"builtin {n}")

    # --------------------------------------------------------- statements

    def suite(self, fn) -> None:
        """Emit an indented suite; guarantee at least one statement
        (a `del after` marker, e.g., emits nothing)."""
        self.ind += 1
        before = len(self.lines)
        fn()
        if len(self.lines) == before:
            self.emit("pass")
        self.ind -= 1

    def block(self, stmts: list) -> None:
        has_otherwise = any(
            isinstance(s, A.CondStmt) and isinstance(s.cond, A.OtherwiseCond)
            for s in stmts
        )
        mvar = None
        if has_otherwise:
            self.n_blk += 1
            mvar = f"_m{self.n_blk}"
            self.emit(f"{mvar} = False")
        for s in stmts:
            self.stmt(s, mvar)

    def stmt(self, s, mvar) -> None:
        if isinstance(s, A.StmtList):
            self.block(s.stmts)
            return
        if isinstance(s, A.CondStmt):
            if isinstance(s.cond, A.OtherwiseCond):
                self.emit(f"if not {mvar}:")

                def otherwise_body():
                    self.emit(f"{mvar} = True")
                    self.block(s.truth.stmts if s.truth else [])

                self.suite(otherwise_body)
                return
            c = self.ex(s.cond)
            self.emit(f"if {c}:")

            def truth_body():
                if mvar is not None:
                    self.emit(f"{mvar} = True")
                if s.truth and s.truth.stmts:
                    self.block(s.truth.stmts)

            self.suite(truth_body)
            if s.els is not None:
                self.emit("else:")
                self.suite(lambda: self.block(s.els.stmts))
            return
        if isinstance(s, A.ExprStmt):
            x = self.ex(s.expr, need=False)
            if not (x == "None" or x.startswith("_t") or
                    x in ("True", "False") or x[0].isdigit()):
                self.emit(x)
            return
        if isinstance(s, A.StopStmt):
            self.emit(self.stop_stmt)
            return
        if isinstance(s, A.DelStmt):
            t = s.target
            name = t.lhs.name
            if s.expiry_s is not None:
                # `del after` marks a TTL; nothing to do per line
                # (matching the closure backend)
                return
            labt = self.tmp()
            self.emit(f"{labt} = {self.labels_tuple(t)}")
            self.emit(f"store.delete({name!r}, {labt})")
            sid = self.it.site_by_node.get(id(s))
            if sid is not None and not self.fast:
                self.emit(f"fired.append(({sid}, {labt}))")
            return
        raise _Unsupported(type(s).__name__)


def _hoists(g: _Gen) -> list[str]:
    """Fast-mode preamble: one datum-dict local per touched metric."""
    return [
        f"    {var} = _data[{name!r}]"
        for name, var in g.metric_vars.items()
    ]


def generate(it: Interp):
    """Compile it.prog into (run_line, run_chunk, run_line_fast,
    run_chunk_fast); returns None when the AST uses something the
    generator doesn't cover (closure program stays in charge).

    run_line(rt) is call-compatible with the closure program (the
    chunkfold/stateful paths drive lines one at a time with their own
    per-line state resets).  run_chunk(rt, rows) additionally inlines
    the fold driver loop — per-line attribute resets, the
    error-kills-line try, and `stop` as `continue` — saving the
    remaining per-line Python call for the plain fold path (feed).

    The *_fast variants additionally inline store get/inc/set to
    direct datum-dict operations and drop rt.fired bookkeeping; they
    are valid ONLY when type(rt.store) is exactly interp.Store (the
    chunkfold SpecStore's gating/undo-journal semantics require the
    virtual calls, and only its salvage path reads rt.fired) — the
    callers (Interp.feed, streaming/stateful.py) check."""
    if os.environ.get("MTAIL_SPARK_INTERP") == "closures":
        return None
    from mtail_spark.compiler.interp import StopLine

    g = _Gen(it)
    try:
        g.block(it.prog.stmts.stmts)
    except _Unsupported:
        return None
    body = g.lines or ["    pass"]
    src = "\n".join(
        [
            "def run_line(rt):",
            "    store = rt.store",
            "    line = rt.line",
            "    matches = rt.matches",
            "    fired = rt.fired",
        ]
        + body
    )

    gc = _Gen(it, base_ind=3, stop_stmt="continue")
    try:
        gc.block(it.prog.stmts.stmts)
    except _Unsupported:
        gc = None
    chunk_src = None
    if gc is not None:
        chunk_body = gc.lines or ["            pass"]
        chunk_src = "\n".join(
            [
                "def run_chunk(rt, rows):",
                "    store = rt.store",
                "    fired = rt.fired",
                "    for _lno, _line in rows:",
                "        rt.line_no = _lno",
                "        line = rt.line = _line",
                "        matches = rt.matches = {}",
                "        rt.ts_us = None",
                "        fired.clear()",
                "        try:",
            ]
            + chunk_body
            + [
                "        except (StopLine, LineError):",
                "            pass",
            ]
        )

    def _mreset(g_, ind):
        """Per-line None reset of the dedicated match locals."""
        if not g_.match_vars:
            return []
        return [ind + " = ".join(
            sorted(g_.match_vars.values())
        ) + " = None"]

    gf = _Gen(it, fast=True)
    try:
        gf.block(it.prog.stmts.stmts)
    except _Unsupported:
        gf = None
    fast_src = None
    if gf is not None:
        fast_src = "\n".join(
            [
                "def run_line_fast(rt):",
                "    store = rt.store",
                "    _data = store.data",
            ]
            + _hoists(gf)
            + ["    line = rt.line"]
            + (["    matches = rt.matches"]
               if gf.need_matches_dict else [])
            + _mreset(gf, "    ")
            + (gf.lines or ["    pass"])
        )

    gcf = _Gen(it, base_ind=3, stop_stmt="continue", fast=True)
    try:
        gcf.block(it.prog.stmts.stmts)
    except _Unsupported:
        gcf = None
    fast_chunk_src = None
    if gcf is not None:
        fast_chunk_src = "\n".join(
            [
                "def run_chunk_fast(rt, rows):",
                "    store = rt.store",
                "    _data = store.data",
            ]
            + _hoists(gcf)
            + [
                "    for _lno, _line in rows:",
                "        rt.line_no = _lno",
                "        line = rt.line = _line",
            ]
            + (["        matches = rt.matches = {}"]
               if gcf.need_matches_dict else [])
            + ["        rt.ts_us = None"]
            + _mreset(gcf, "        ")
            + ["        try:"]
            + (gcf.lines or ["            pass"])
            + [
                "        except (StopLine, LineError):",
                "            pass",
            ]
        )

    # Each variant execs into its OWN copy of its generator's globals:
    # per-generator constants are counter-named (C1..Cn), so a shared
    # namespace is only safe while every variant happens to emit
    # const() calls in identical AST order — a future fast-mode branch
    # that adds or reorders one would silently rebind a constant under
    # an already-compiled sibling function.
    def _exec_into(gen, fsrc, fname, tag):
        if fsrc is None or gen is None:
            return None
        gns = dict(gen.globals)
        gns["StopLine"] = StopLine
        exec(compile(fsrc, f"<{tag}:{it.prog.name}>", "exec"), gns)
        built = gns[fname]
        built.__mtail_src__ = fsrc
        return built

    fn = _exec_into(g, src, "run_line", "srcgen")

    def _build(fsrc, fname, tag):
        gen = {"run_chunk": gc, "run_line_fast": gf,
               "run_chunk_fast": gcf}[fname]
        return _exec_into(gen, fsrc, fname, tag)

    chunk_fn = _build(chunk_src, "run_chunk", "srcgen-chunk")
    fast_fn = _build(fast_src, "run_line_fast", "srcgen-fast")
    fast_chunk_fn = _build(
        fast_chunk_src, "run_chunk_fast", "srcgen-fastchunk"
    )
    return fn, chunk_fn, fast_fn, fast_chunk_fn
