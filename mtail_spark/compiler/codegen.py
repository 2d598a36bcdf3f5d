"""Vectorized backend: compile a CheckedProgram into a Spark SQL plan.

Instead of interpreting bytecode per line (reference
internal/runtime/vm/vm.go:336-958), the whole program becomes:

1. ONE flat SELECT over log_lines (generated SQL text with lateral
   column aliases, so every match flag / capture / guard / liveness
   bit is a named subexpression computed once): per line it yields an
   ARRAY of update-event structs — one slot per metric-update site,
   NULL when that site's guard is false.
2. `explode` of the event array -> a narrow update-event stream
   (site, labels, value, ts, order key).
3. ONE shuffle: groupBy (name, labels, bucket) computing every kind's
   aggregate in a single pass — sum for counters, max_by(line order)
   for last-write-wins gauges, bucket counts for histograms.  Map-side
   partial aggregation means the exchange carries store-sized data.
4. Final per-kind assembly happens driver-side: the aggregate is one
   row per label tuple x bucket — the same fits-in-RAM-store
   assumption the reference makes (internal/metrics/store.go).

Emitting SQL text (not layered Column objects) keeps the logical plan
a single Project: withColumn cascades at this expression count make
Catalyst's fixed-point optimizer and task binaries blow up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mtail_spark.compiler import ast as A
from mtail_spark.compiler.checker import CheckedProgram, strip_group_names
from mtail_spark.compiler.gotime import normalize_spaces, to_java, year_shift_us
from mtail_spark.store import STORE_SCHEMA

US = 1_000_000


class VectorizeError(ValueError):
    """Program shape the vectorized backend cannot express."""


def sq(s: str) -> str:
    """SQL single-quoted string literal with Spark's C-style escapes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _const_eval(e):
    """Best-effort compile-time constant evaluation (the reference does
    this in its optimizer pass, reference opt/opt.go:17-170)."""
    if isinstance(e, A.IntLit):
        return e.value
    if isinstance(e, A.FloatLit):
        return e.value
    if isinstance(e, A.BinaryExpr):
        l, r = _const_eval(e.lhs), _const_eval(e.rhs)
        if l is None or r is None:
            return None
        try:
            return {
                "+": lambda: l + r, "-": lambda: l - r, "*": lambda: l * r,
                "/": lambda: l // r if isinstance(l, int) and isinstance(r, int) else l / r,
                "%": lambda: l % r, "**": lambda: l ** r,
                "&": lambda: l & r, "|": lambda: l | r, "^": lambda: l ^ r,
                "<<": lambda: l << r, ">>": lambda: l >> r,
            }[e.op]()
        except (KeyError, ZeroDivisionError, TypeError):
            return None
    return None


# Unit-separator delimiter for the single-pass capture extraction.
# Lines containing it take the per-group regexp_extract fallback
# branch, so correctness never depends on it being absent.
_SEP = "\x1f"


def _bucket_maxes(mi):
    edges = sorted(mi.decl.buckets)
    maxes = []
    if edges and edges[0] > 0:
        maxes.append(edges[0])
    maxes.extend(edges[1:])
    maxes.append(float("inf"))
    return maxes


class _Site:
    def __init__(self, seq, metric, op, labels, value, guard, ts_sql, le=None):
        self.seq = seq
        self.metric = metric
        self.op = op  # inc | add | set | observe
        self.labels = labels  # list[str] SQL
        self.value = value  # str SQL or None
        self.guard = guard  # str SQL (boolean)
        self.ts_sql = ts_sql  # str SQL (BIGINT µs or NULL)
        self.le = le  # str SQL for bucket bound (observe)


class _RegOp:
    """A cross-line-register operation: set/del events feed the
    carry window, reads are anchor rows that receive the carried
    value."""

    def __init__(self, seq, reg_id, metric, kind, labels, value=None,
                 guard=None, read_id=None, const_val=None):
        self.seq = seq
        self.reg_id = reg_id
        self.metric = metric
        self.kind = kind  # 0=set 1=del 2=read
        self.labels = labels  # list[str] SQL
        self.value = value  # str SQL (set only), coerced to metric type
        self.guard = guard  # str SQL
        self.read_id = read_id  # int (read only)
        # compile-time constant of a set's RHS when known (used by the
        # self-cycle relaxation in _stratify)
        self.const_val = const_val




def _read_metric_names(prog: CheckedProgram) -> set:
    """Names of metrics READ in expression position (the cross-line
    registers: hidden state carried between lines)."""
    out: set = set()

    def walk_expr(e, is_target=False):
        if isinstance(e, A.IndexedExpr):
            if not is_target:
                out.add(e.lhs.name)
            for ix in e.index:
                walk_expr(ix)
        elif isinstance(e, A.BinaryExpr):
            if e.op in ("=", "+="):
                walk_expr(e.lhs, is_target=True)
            else:
                walk_expr(e.lhs)
            walk_expr(e.rhs)
        elif isinstance(e, A.UnaryExpr):
            walk_expr(e.expr, is_target=e.op in ("++", "--"))
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
            walk_expr(s.expr)
        elif isinstance(s, A.DelStmt):
            for ix in s.target.index:
                walk_expr(ix)

    walk_stmt(prog.stmts)
    return out


class Vectorizer:
    """CheckedProgram -> (defs SQL, update-event sites)."""

    def __init__(
        self,
        prog: CheckedProgram,
        now_us: int = 0,
        syslog_year: int | None = None,
        tz: str | None = None,
    ):
        # IANA zone for zone-less strptime wall clocks (reference
        # --override_timezone); None = UTC
        self.tz = tz
        self.prog = prog
        self.now_us = now_us
        # --syslog_use_current_year: patch yearless strptime results to
        # this year instead of Go's year-0 default (reference
        # vm.go:309-332 ParseTime).
        self.syslog_year = syslog_year
        self.sites: list[_Site] = []
        self.ts_entries: list[tuple[str, str]] = []
        # Cross-line registers: HIDDEN gauge/text metrics read in
        # expression position (rsyncd's connection_time[pid],
        # vsftpd's direction).  Their set/del/read ops become a
        # window-carried event relation instead of store sites; reads
        # of anything else raise VectorizeError (fold backend).
        # op_seq orders every op in statement order so intra-line
        # set-then-read resolves correctly.
        self.op_seq = 0
        self.read_names = _read_metric_names(prog)
        self.registers: dict[str, int] = {}
        for n in sorted(self.read_names):
            mi = prog.metrics.get(n)
            if (
                mi is not None
                and mi.decl.hidden
                and mi.decl.kind in ("gauge", "text", "timer")
            ):
                self.registers[n] = len(self.registers)
        self.regops: list[_RegOp] = []
        self.reads: list[_RegOp] = []
        # Dimensioned registers (declared with keys, e.g. rsyncd's
        # connection_time by pid) resolve through the event-relation
        # carry window; SCALAR registers resolve as chained window
        # COLUMNS over the line relation itself (_plan_registers) —
        # no explode/pivot/join, one sort per file shared by every
        # register and stratum.
        self.dim_regs: set = {
            rid for n, rid in self.registers.items()
            if prog.metrics[n].decl.keys
        }
        self.dim_regops: list[_RegOp] = []
        self.dim_reads: list[_RegOp] = []
        # One dict per dependency stratum (see _plan_registers):
        # {"fired": [(reg_id, fired CASE sql)], "nulls": [(reg_id,
        # typed-NULL sql)], "reads": [(colname, read CASE sql)]}
        self.scalar_strata: list[dict] = []
        # rid -> (cmp_op, const, cmp_sql) for bare-scalar-register vs
        # constant compares (candidate self-cycle relaxations; see
        # _relax_self_cycle for the soundness argument — the domain
        # rules make the compare's polarity in the guard irrelevant)
        self.read_cmp: dict[int, tuple] = {}
        self._cur_guard: str = "TRUE"
        # Liveness via a KILL SET instead of a recursive alive chain:
        # each `stop` or runtime-error condition contributes one
        # independent kill event; a site is alive iff no kill before it
        # fired.  Kills on already-dead lines are idempotent, so this
        # is equivalent to the reference's sequential abort — and it
        # keeps the expression DAG depth constant (Catalyst plans are
        # trees; recursive alive chains explode exponentially when
        # shared subexpressions get re-inlined).
        self.kills: list[str] = []
        self._pending_errs: list[str] = []
        # Hoisted shared subexpressions (regex matches, capture
        # extracts, strptime parses): one named column per distinct
        # site, emitted as layered sub-selects under the event-array
        # projection.  Catalyst plans are trees — without the hoist a
        # regexp_extract referenced from N array slots is evaluated N
        # times per line; behind a projection boundary CollapseProject
        # keeps non-cheap multiply-referenced aliases, so each site
        # runs once per line inside the same codegen stage.
        # (name, sql, depth): depth orders layers when a shared expr
        # references another shared col (dhcpd's match-on-$message).
        self.shared: list[tuple[str, str, int]] = []
        self._shared_by_sql: dict[str, str] = {}
        self._shared_depth: dict[str, int] = {}

    def _shared_col(self, sql: str, prefix: str) -> str:
        name = self._shared_by_sql.get(sql)
        if name is not None:
            return name
        import re as _re

        depth = 1
        for n, d in self._shared_depth.items():
            if d >= depth and _re.search(rf"\b{_re.escape(n)}\b", sql):
                depth = max(depth, d + 1)
        name = f"__x{len(self._shared_by_sql)}_{prefix}"
        self._shared_by_sql[sql] = name
        self._shared_depth[name] = depth
        self.shared.append((name, sql, depth))
        return name

    def shared_layers_sql(self, base: str) -> str:
        """Wrap `base` in one sub-select per dependency depth adding
        the hoisted columns."""
        if not self.shared:
            return base
        src = base
        for i, depth in enumerate(
            sorted({d for _, _, d in self.shared})
        ):
            cols = ", ".join(
                f"{sql} AS {name}"
                for name, sql, d in self.shared
                if d == depth
            )
            src = f"(SELECT *, {cols} FROM {src}) AS __l{i}"
        return src

    def _next_seq(self) -> int:
        s = self.op_seq
        self.op_seq += 1
        return s

    def _alive(self, upto: int | None = None) -> str:
        ks = self.kills if upto is None else self.kills[:upto]
        if not ks:
            return "TRUE"
        return "(NOT (" + " OR ".join(ks) + "))"

    # -------------------------------------------------------------- regex

    def _subject(self, rid: int) -> str:
        info = self.prog.regexes[rid]
        if info.subject is None:
            return "line"
        sql, _t = self._expr(info.subject)
        return f"CAST({sql} AS STRING)"

    def _java_pattern(self, rid: int) -> str:
        return strip_group_names(self.prog.regexes[rid].pattern)

    def _rex_cols(self, rid: int) -> tuple[str, str, str]:
        """Single-pass capture extraction for a regex site.

        One regexp_replace rewrites the FIRST match into a
        \\x1f-delimited string of every group ('' groups preserved),
        so match flag + all caprefs cost ONE regex execution per line
        instead of 1 (RLIKE) + one regexp_extract per group.  Lines
        that already contain \\x1f route to the classic per-group
        branch (has_sep), so this is a pure optimization, not a
        semantics change.

        When the pattern has a required literal (literals.py), the
        regex execution is gated behind `instr(subj, lit) > 0` — a
        vectorized substring scan.  A line without the literal cannot
        match, and regexp_replace would have returned the subject
        unchanged, so the gate substitutes `subj` directly.  With many
        sites per program (dhcpd: 27) most lines match at most one
        site; every other site then costs one instr instead of one
        full regex scan per line.  Returns (has_sep, replaced, split)
        shared column names."""
        from mtail_spark.compiler.literals import (
            required_literal,
            required_prefix,
        )

        info = self.prog.regexes[rid]
        subj = self._subject(rid)
        pat = self._java_pattern(rid)
        ngroups = info.n_groups
        # wrapper consumes the whole subject around the FIRST match
        # (leftmost, like regexp_extract); original group g becomes
        # wrapper group g+1, the full match is wrapper group 1
        wrapper = f"(?s)^.*?({pat}).*$"
        repl = "".join(_SEP + f"${g}" for g in range(1, ngroups + 2))
        has_sep = self._shared_col(
            f"(instr({subj}, {sq(_SEP)}) > 0)", "hs"
        )
        # Reject gate, strongest first: an anchored literal PREFIX
        # rejects with one bounded memcmp (no subject scan); else a
        # required literal anywhere rejects with one instr scan.  A
        # line failing the gate cannot match, and regexp_replace
        # would have returned the subject unchanged, so the gate
        # substitutes `subj` directly.
        pref = required_prefix(info.pattern)
        lit = required_literal(info.pattern)
        if pref is not None and (lit is None or len(pref) >= 6):
            reject = (
                f"WHEN NOT startswith({subj}, {sq(pref)}) "
                f"THEN {subj} "
            )
        elif lit:
            reject = f"WHEN instr({subj}, {sq(lit)}) = 0 THEN {subj} "
        else:
            reject = ""
        replaced = self._shared_col(
            f"CASE WHEN {has_sep} THEN NULL {reject}ELSE "
            f"regexp_replace({subj}, {sq(wrapper)}, {sq(repl)}) END",
            "r",
        )
        split = self._shared_col(f"split({replaced}, {sq(_SEP)})", "g")
        return has_sep, replaced, split

    def _alt_col(self, rid: int) -> str | None:
        """Matched-branch column for an anchored literal-alternation
        pattern (`^(lit1|lit2|...)`): a first-match CASE over
        startswith replaces the regex engine entirely.  Java tries
        alternation branches left to right at the anchor, so the
        first listed branch that prefixes the subject IS the match
        (and group 1 == group 0 == that branch).  NULL when no branch
        matches or the subject is NULL."""
        from mtail_spark.compiler.literals import literal_alternation

        alts = literal_alternation(self.prog.regexes[rid].pattern)
        if alts is None:
            return None
        subj = self._subject(rid)
        whens = " ".join(
            f"WHEN startswith({subj}, {sq(a)}) THEN {sq(a)}"
            for a in alts
        )
        return self._shared_col(f"(CASE {whens} END)", "a")

    def _match_col(self, rid: int) -> str:
        subj = self._subject(rid)
        pat = self._java_pattern(rid)
        alt = self._alt_col(rid)
        if alt is not None:
            # NULL subject must yield NULL like RLIKE, not FALSE
            return self._shared_col(
                f"(CASE WHEN {subj} IS NULL THEN "
                f"CAST(NULL AS BOOLEAN) ELSE {alt} IS NOT NULL END)",
                "m",
            )
        has_sep, replaced, _split = self._rex_cols(rid)
        return self._shared_col(
            f"(CASE WHEN {has_sep} THEN ({subj} RLIKE {sq(pat)}) "
            f"ELSE startswith({replaced}, {sq(_SEP)}) END)",
            "m",
        )

    def _capref_col(self, rid: int, group: int, vtype: str) -> str:
        subj = self._subject(rid)
        pat = self._java_pattern(rid)
        alt = self._alt_col(rid) if group <= 1 else None
        if alt is not None:
            # group 0 (full match) and group 1 (the alternation) are
            # both the matched branch; '' on non-matching lines like
            # regexp_extract
            raw = self._shared_col(f"coalesce({alt}, '')", "c")
        else:
            has_sep, _replaced, split = self._rex_cols(rid)
            # non-matching lines yield '' like regexp_extract does
            raw = self._shared_col(
                f"(CASE WHEN {has_sep} "
                f"THEN regexp_extract({subj}, {sq(pat)}, {group}) "
                f"ELSE coalesce(try_element_at({split}, {group + 2}), "
                f"'') END)",
                "c",
            )
        if vtype == "Int":
            raw = f"TRY_CAST({raw} AS BIGINT)"
        elif vtype == "Float":
            raw = f"TRY_CAST({raw} AS DOUBLE)"
        if vtype in ("Int", "Float"):
            # A typed capref whose text does not convert (incl. the empty
            # string from a non-participating optional group) is a
            # runtime error when evaluated (reference vm.go:97-129).
            self._pending_errs.append(f"({raw} IS NULL)")
        return raw

    # ------------------------------------------------------- time register

    def _ts_at_site(self) -> str:
        sql = "CAST(NULL AS BIGINT)"
        for guard, expr in self.ts_entries:
            sql = f"CASE WHEN {guard} THEN {expr} ELSE {sql} END"
        return sql

    # ------------------------------------------------------------- exprs

    def _label_str(self, sql: str, vtype: str) -> str:
        if vtype == "Int":
            return f"CAST(CAST({sql} AS BIGINT) AS STRING)"
        if vtype == "Float":
            # Go 'g' formatting strips the trailing .0
            return (
                f"regexp_replace(CAST(CAST({sql} AS DOUBLE) AS STRING),"
                f" '\\\\.0$', '')"
            )
        return f"CAST({sql} AS STRING)"

    def _bool(self, sql: str) -> str:
        return f"coalesce(CAST({sql} AS BOOLEAN), FALSE)"

    def _num(self, sql: str, t: str) -> str:
        if t in ("Int", "Float", "Bool"):
            return sql
        # A string operand that does not convert to a number is a
        # runtime error when evaluated (reference vm.go PopInt/PopFloat
        # -> errorf; interp.py to_num -> LineError).
        conv = f"TRY_CAST({sql} AS DOUBLE)"
        self._pending_errs.append(f"({conv} IS NULL)")
        return conv

    def _expr(self, e):
        """Returns (sql, static_type)."""
        if isinstance(e, A.IntLit):
            return f"CAST({e.value} AS BIGINT)", "Int"
        if isinstance(e, A.FloatLit):
            return f"CAST({e.value!r} AS DOUBLE)", "Float"
        if isinstance(e, A.StringLit):
            return sq(e.value), "String"
        if isinstance(e, A.Capref):
            return self._capref_col(e.regex_id, e.group, e.vtype), e.vtype
        if isinstance(e, A.PatternLit):
            return self._match_col(e.regex_id), "Bool"
        if isinstance(e, A.UnaryExpr):
            if e.op == "MATCH":
                return self._expr(e.expr)
            if e.op == "!":
                c, _ = self._expr(e.expr)
                return f"(NOT {self._bool(c)})", "Bool"
            if e.op == "~":
                c, _ = self._expr(e.expr)
                return f"(~CAST({c} AS BIGINT))", "Int"
            raise VectorizeError(f"unary {e.op} in expression")
        if isinstance(e, A.BinaryExpr):
            return self._binary(e)
        if isinstance(e, A.BuiltinCall):
            return self._builtin(e)
        if isinstance(e, A.IndexedExpr):
            return self._reg_read(e)
        raise VectorizeError(f"expr {type(e).__name__}")

    def _reg_read(self, e: A.IndexedExpr):
        """Read of a cross-line register: emit a read-anchor event;
        the value arrives as a joined per-line column.  A datum that
        was never set (or was deleted) reads as the typed zero — the
        reference's GetDatum zero-init (vm.go Dload); the created
        datum is invisible because registers are hidden."""
        name = e.lhs.name
        mi = self.prog.metrics.get(name)
        reg_id = self.registers.get(name)
        if mi is None or reg_id is None:
            raise VectorizeError(f"read of non-register metric {name}")
        labels = self._label_cols(e)
        rid = len(self.reads)
        op = _RegOp(
            self._next_seq(), reg_id, mi, 2, labels,
            guard=f"({self._cur_guard} AND {self._alive()})",
            read_id=rid,
        )
        self.reads.append(op)
        self.regops.append(op)
        vt = mi.vtype
        if vt == "Int":
            return f"coalesce(__reg_r{rid}, CAST(0 AS BIGINT))", "Int"
        if vt == "Float":
            return f"coalesce(__reg_r{rid}, CAST(0.0 AS DOUBLE))", "Float"
        return f"coalesce(__reg_r{rid}, '')", "String"

    def _binary(self, e):
        op = e.op
        if op in ("=~", "!~"):
            if not isinstance(e.rhs, A.PatternLit):
                raise VectorizeError("dynamic match")
            m = self._match_col(e.rhs.regex_id)
            return (m if op == "=~" else f"(NOT {m})"), "Bool"
        if op in ("&&", "||"):
            l, _ = self._expr(e.lhs)
            lb = self._bool(l)
            mark = len(self._pending_errs)
            r, _ = self._expr(e.rhs)
            rb = self._bool(r)
            gate = lb if op == "&&" else f"(NOT {lb})"
            for i in range(mark, len(self._pending_errs)):
                self._pending_errs[i] = f"({gate} AND {self._pending_errs[i]})"
            sqlop = "AND" if op == "&&" else "OR"
            return f"({lb} {sqlop} {rb})", "Bool"
        n0 = len(self.reads)
        l, lt = self._expr(e.lhs)
        n1 = len(self.reads)
        r, rt = self._expr(e.rhs)
        n2 = len(self.reads)
        if op in ("<", "<=", ">", ">=", "==", "!="):
            sqlop = {"==": "=", "!=": "!="}.get(op, op)
            if op in ("==", "!="):
                # bare-scalar-register vs constant: remember the read
                # id, constant, and exact SQL for _relax_self_cycle
                def _bare_reg(x):
                    return (
                        isinstance(x, A.IndexedExpr)
                        and not x.index
                        and x.lhs.name in self.registers
                    )

                rid = k = None
                if (n1 == n0 + 1 and _bare_reg(e.lhs)
                        and _const_eval(e.rhs) is not None):
                    rid, k = n0, _const_eval(e.rhs)
                elif (n2 == n1 + 1 and _bare_reg(e.rhs)
                        and _const_eval(e.lhs) is not None):
                    rid, k = n1, _const_eval(e.lhs)
                if rid is not None and lt != "String" and rt != "String":
                    cmp_sql = f"({self._num(l, lt)} {sqlop} {self._num(r, rt)})"
                    self.read_cmp[rid] = (sqlop, k, cmp_sql)
                    return cmp_sql, "Bool"
            if lt == "String" and rt == "String":
                # Polymorphic compare: when BOTH sides parse as numbers
                # compare numerically, else compare as strings
                # (reference vm.go compare: ParseInt/ParseFloat first,
                # compareString as the fallback).
                ln = f"TRY_CAST({l} AS DOUBLE)"
                rn = f"TRY_CAST({r} AS DOUBLE)"
                return (
                    f"CASE WHEN {ln} IS NOT NULL AND {rn} IS NOT NULL "
                    f"THEN ({ln} {sqlop} {rn}) "
                    f"ELSE ({l} {sqlop} {r}) END",
                    "Bool",
                )
            l, r = self._num(l, lt), self._num(r, rt)
            return f"({l} {sqlop} {r})", "Bool"
        if op == "+" and lt == "String" and rt == "String":
            return f"concat({l}, {r})", "String"
        ln, rn = self._num(l, lt), self._num(r, rt)
        both_int = lt != "Float" and rt != "Float"
        t = "Int" if both_int else "Float"
        if op in ("+", "-", "*"):
            return f"({ln} {op} {rn})", t
        if op == "/":
            if both_int:
                # Integer divide by zero is a runtime error that kills
                # the line (reference vm.go:686); the CASE keeps ANSI
                # mode from throwing for the whole job.
                self._pending_errs.append(f"(({rn}) = 0)")
                # Go int division truncates toward zero
                return (
                    f"CASE WHEN {rn} = 0 THEN NULL ELSE "
                    f"CAST(CAST({ln} AS DOUBLE) / CAST({rn} AS DOUBLE)"
                    f" AS BIGINT) END",
                    "Int",
                )
            # Go float division by zero yields ±Inf/NaN, not an error
            # (vm.go:639-663 Fdiv); Spark ANSI would throw, so guard.
            return (
                f"CASE WHEN ({rn}) = 0 THEN "
                f"CASE WHEN ({ln}) > 0 THEN CAST('Infinity' AS DOUBLE) "
                f"WHEN ({ln}) < 0 THEN CAST('-Infinity' AS DOUBLE) "
                f"ELSE CAST('NaN' AS DOUBLE) END "
                f"ELSE ({ln} / {rn}) END",
                "Float",
            )
        if op == "%":
            if both_int:
                # Integer mod by zero kills the line (vm.go:691-694);
                # guard so ANSI mode does not throw job-wide.
                self._pending_errs.append(f"(({rn}) = 0)")
                return f"CASE WHEN ({rn}) = 0 THEN NULL ELSE ({ln} % {rn}) END", t
            # Go math.Mod(x, 0) == NaN (no error)
            return (
                f"CASE WHEN ({rn}) = 0 THEN CAST('NaN' AS DOUBLE) "
                f"ELSE ({ln} % {rn}) END",
                t,
            )
        if op == "**":
            if both_int:
                return f"CAST(power({ln}, {rn}) AS BIGINT)", "Int"
            return f"power({ln}, {rn})", "Float"
        il, ir = f"CAST({ln} AS BIGINT)", f"CAST({rn} AS BIGINT)"
        if op in ("&", "|", "^"):
            return f"({il} {op} {ir})", "Int"
        if op in ("<<", ">>"):
            bits = _const_eval(e.rhs)
            if bits is None:
                raise VectorizeError("non-constant shift amount")
            fn = "shiftleft" if op == "<<" else "shiftright"
            return f"{fn}({il}, {int(bits)})", "Int"
        raise VectorizeError(f"op {op}")

    def _builtin(self, e):
        n = e.name
        if n == "len":
            c, _ = self._expr(e.args[0])
            return f"CAST(length(CAST({c} AS STRING)) AS BIGINT)", "Int"
        if n == "tolower":
            c, _ = self._expr(e.args[0])
            return f"lower(CAST({c} AS STRING))", "String"
        if n == "getfilename":
            return "filename", "String"
        if n == "timestamp":
            ts = self._ts_at_site()
            eff = f"coalesce({ts}, CAST({self.now_us} AS BIGINT))"
            # floor division to seconds, exact on longs (negative-safe)
            return (
                f"CAST((({eff}) - pmod(({eff}), {US})) DIV {US} AS BIGINT)",
                "Int",
            )
        if n == "strtol":
            c, _ = self._expr(e.args[0])
            base = e.args[1].value
            return (
                f"TRY_CAST(conv(CAST({c} AS STRING), {base}, 10) AS BIGINT)",
                "Int",
            )
        if n == "int":
            c, t = self._expr(e.args[0])
            return f"CAST({self._num(c, t)} AS BIGINT)", "Int"
        if n == "float":
            c, t = self._expr(e.args[0])
            return f"CAST({self._num(c, t)} AS DOUBLE)", "Float"
        if n == "string":
            c, t = self._expr(e.args[0])
            return self._label_str(c, t), "String"
        if n == "bool":
            return self._expr(e.args[0])
        if n == "subst":
            old, new, val = e.args
            cv, _ = self._expr(val)
            cv = f"CAST({cv} AS STRING)"
            if isinstance(old, A.PatternLit):
                if not isinstance(new, A.StringLit):
                    raise VectorizeError("dynamic subst replacement")
                pat = self._java_pattern(old.regex_id)
                lit = new.value.replace("\\", "\\\\").replace("$", "\\$")
                return f"regexp_replace({cv}, {sq(pat)}, {sq(lit)})", "String"
            co, _ = self._expr(old)
            cn, _ = self._expr(new)
            return (
                f"replace({cv}, CAST({co} AS STRING), CAST({cn} AS STRING))",
                "String",
            )
        raise VectorizeError(f"builtin {n} in expression")

    # --------------------------------------------------------- statements

    def compile(self):
        self._block(self.prog.stmts.stmts, "TRUE")
        if self.reads:
            import re as _re

            for _name, sql, _d in self.shared:
                if _re.search(r"__reg_r\d+", sql):
                    # a register read feeding a regex subject would
                    # need the join below the shared layer
                    raise VectorizeError(
                        "register read feeds a regex subject"
                    )
            self._plan_registers()

    # ------------------------------------------- register stratification

    @staticmethod
    def _read_refs(*sqls) -> set:
        import re as _re

        out: set = set()
        for s in sqls:
            if s:
                out.update(int(m) for m in _re.findall(r"__reg_r(\d+)", s))
        return out

    def _op_deps(self, op: _RegOp) -> set:
        """Read ids a register event's SQL depends on.  Read anchors
        only depend through their LABELS (their guards were forced
        TRUE when register-dependent, and the value is produced by
        the window, not the projection)."""
        if op.kind == 2:
            return self._read_refs(*op.labels)
        return self._read_refs(op.guard, op.value, *op.labels)

    def _typed_zero(self, mi):
        return {"Int": 0, "Float": 0.0}.get(mi.vtype, "")

    def _relax_self_cycle(self, reg_id: int, self_rids: set) -> None:
        """Substitute TRUE for self-read compares in a register's write
        guards when provably value-preserving.  Sound when every write
        to the register stores a compile-time constant and, for each
        write `R = c` whose guard embeds a compare `R == K` (resp.
        `R != K`), the register's value domain D — typed zero plus
        every written constant — satisfies D <= {K, c} (resp. K == c).
        Then whenever the compare is FALSE at its anchor, the anchor
        value already equals c, so any divergence between the
        substituted and true guard fires/suppresses only no-op writes;
        whenever it is TRUE, substitution equals evaluation.  The
        compare's polarity inside the guard (else branches, otherwise
        negations, NOT(kill) wrappers) therefore doesn't matter.
        mtail example: mysql_slowqueries.mtail's
        `partial == 1 { partial = 0 ... }` over domain {0, 1}."""
        writes = [
            op for op in self.regops
            if op.reg_id == reg_id and op.kind != 2
        ]
        if any(op.kind == 1 for op in writes):
            raise VectorizeError("register del in self-dependent cycle")
        if any(op.labels for op in writes):
            raise VectorizeError("dimensioned register self-cycle")
        if any(op.const_val is None for op in writes):
            raise VectorizeError("non-constant write in register self-cycle")
        mi = writes[0].metric
        domain = {self._typed_zero(mi)}
        domain.update(op.const_val for op in writes)
        for op in writes:
            if self._read_refs(op.value) & self_rids:
                raise VectorizeError("register value reads itself")
            srefs = self._read_refs(op.guard) & self_rids
            for rid in srefs:
                cmp = self.read_cmp.get(rid)
                if cmp is None:
                    raise VectorizeError(
                        "register self-read outside a relaxable compare"
                    )
                cop, k, cmp_sql = cmp
                if cop == "=":
                    if not domain <= {k, op.const_val}:
                        raise VectorizeError(
                            "register self-cycle domain not collapsible"
                        )
                elif cop == "!=":
                    if k != op.const_val:
                        raise VectorizeError(
                            "register self-cycle domain not collapsible"
                        )
                else:
                    raise VectorizeError("register self-read compare op")
                op.guard = op.guard.replace(cmp_sql, "TRUE")
            if self._read_refs(op.guard) & self_rids:
                raise VectorizeError(
                    "register self-read survives relaxation"
                )

    def _zero_lit(self, mi) -> str:
        return {
            "Int": "CAST(0 AS BIGINT)",
            "Float": "CAST(0.0 AS DOUBLE)",
        }.get(mi.vtype, "''")

    def _cast_reg(self, mi, sql: str) -> str:
        t = {"Int": "BIGINT", "Float": "DOUBLE"}.get(mi.vtype, "STRING")
        return f"CAST({sql} AS {t})"

    def _write_case(self, ops, tail: str, mi) -> str:
        """Reverse-seq CASE over fired set/del ops (del reads back as
        the typed zero — registers are hidden, so 'deleted' and
        'zero-initialized on next read' are observationally equal)."""
        if not ops:
            return tail
        arms = "".join(
            f"WHEN {op.guard} THEN "
            + (self._zero_lit(mi) if op.kind == 1
               else self._cast_reg(mi, op.value))
            + " "
            for op in sorted(ops, key=lambda o: -o.seq)
        )
        return f"CASE {arms}ELSE {tail} END"

    def _plan_registers(self, max_strata: int = 6) -> None:
        """Resolve register reads.

        SCALAR registers (no keys) become window COLUMNS on the line
        relation: per register a carried value
        `last(<fired-write CASE>, true) OVER (PARTITION BY filename
        ORDER BY line_no ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`,
        and per read an inline CASE over same-line earlier-seq writes
        falling back to the carry.  Registers whose writes read other
        registers stack as chained window layers (strata) over the
        SAME sort — mysql_slowqueries' user -> tmp_*/partial ->
        service chain is three layers, one file-order sort total.
        Self-cycles are first removed by _relax_self_cycle; remaining
        cycles are genuinely sequential value chains -> fold backend.

        DIMENSIONED registers (rsyncd's connection_time[pid]) keep the
        event-relation carry window (explode -> window per (filename,
        reg, labels) -> pivot -> join): their partition key is the
        label value, which only exists per event row.  Their ops may
        read scalar registers (those are line columns below the event
        projection); reads of other dimensioned registers only appear
        in anchor guards, where emitting the anchor unconditionally is
        a sound superset (every consumer of the read re-gates)."""
        read_reg = {op.read_id: op.reg_id for op in self.reads}
        dim = self.dim_regs

        # --- dimensioned: validate + collect for the event machinery
        for op in self.regops:
            if op.reg_id not in dim:
                continue
            if op.kind == 2:
                if any(
                    read_reg[r] in dim
                    for r in self._read_refs(*op.labels)
                ):
                    raise VectorizeError(
                        "dimensioned read label reads a dimensioned register"
                    )
                if any(
                    read_reg[r] in dim
                    for r in self._read_refs(op.guard)
                ):
                    op.guard = "TRUE"
                self.dim_reads.append(op)
            else:
                if any(
                    read_reg[r] in dim for r in self._op_deps(op)
                ):
                    raise VectorizeError(
                        "dimensioned register op depends on a dimensioned read"
                    )
            self.dim_regops.append(op)

        # --- scalar: self-relax, stratify, emit layers
        scalar = {op.reg_id for op in self.regops} - dim
        scalar |= {read_reg[r] for r in read_reg} - dim
        for g in sorted(scalar):
            self_rids = set()
            for op in self.regops:
                if op.reg_id == g and op.kind != 2:
                    self_rids |= {
                        r for r in self._op_deps(op)
                        if read_reg[r] == g
                    }
            if self_rids:
                self._relax_self_cycle(g, self_rids)
        deps: dict[int, set] = {g: set() for g in scalar}
        for op in self.regops:
            if op.reg_id in dim:
                continue
            for r in self._op_deps(op):
                h = read_reg[r]
                if h in dim:
                    raise VectorizeError(
                        "scalar register op depends on a dimensioned read"
                    )
                deps[op.reg_id].add(h)
        stratum: dict[int, int] = {}
        remaining = dict(deps)
        level = 0
        while remaining:
            ready = [
                g for g, ds in remaining.items()
                if all(h in stratum for h in ds)
            ]
            if not ready:
                raise VectorizeError("register dependency cycle")
            if level >= max_strata:
                raise VectorizeError("register strata exceed limit")
            for g in ready:
                stratum[g] = level
                del remaining[g]
            level += 1

        by_reg: dict[int, list] = {g: [] for g in scalar}
        metric_of: dict[int, object] = {}
        for op in self.regops:
            if op.reg_id in scalar:
                metric_of.setdefault(op.reg_id, op.metric)
                if op.kind != 2:
                    by_reg[op.reg_id].append(op)
        self.scalar_strata = []
        for k in range(level):
            regs_k = sorted(g for g in scalar if stratum[g] == k)
            st = {"fired": [], "nulls": [], "reads": []}
            for g in regs_k:
                mi = metric_of[g]
                ops = by_reg[g]
                if ops:
                    st["fired"].append(
                        (g, self._write_case(ops, "NULL", mi))
                    )
                else:
                    st["nulls"].append((g, self._cast_reg(mi, "NULL")))
                for rop in self.reads:
                    if rop.reg_id != g:
                        continue
                    prior = [o for o in ops if o.seq < rop.seq]
                    st["reads"].append(
                        (
                            f"__reg_r{rop.read_id}",
                            self._write_case(
                                prior, f"__carry{g}", mi
                            ),
                        )
                    )
            self.scalar_strata.append(st)

    # Rows per carry chunk.  Parallelism within a single log file
    # scales as lines/CHUNK; the cross-chunk exchange scales as
    # files*chunks rows — both fine from 1 MB to 100 GB files.
    CHUNK_LINES = 32768

    def chunked_base_sql(self, view: str) -> str:
        """Bucket the RAW line relation into fixed-size chunks of the
        per-file order and hash-exchange on (filename, __chunk).

        This runs BELOW the shared regex layers on purpose: the raw
        relation is three narrow columns, so (a) the exchange ships
        ~line-sized rows instead of the regex-extracted wide relation
        (measured 113 MiB vs 1.5 GiB per 1M syslog lines), and (b)
        every chunk-summary branch needs exactly these columns, so
        column pruning cannot specialize the exchange per branch and
        Spark reuses ONE shuffle for all of them."""
        return (
            "(SELECT /*+ REPARTITION(filename, __chunk) */ * FROM "
            f"(SELECT *, CAST(FLOOR(line_no / {self.CHUNK_LINES}) AS BIGINT)"
            f" AS __chunk FROM {view}) AS __cki) AS __ck"
        )

    def scalar_layers_sql(self, base: str, chunked: bool = True) -> str:
        """Resolve scalar-register carries.

        chunked=True — a chunk-parallel two-phase prefix scan over the
        chunk-partitioned relation (chunked_base_sql):

        1. per chunk, the carry is a window over ROWS UNBOUNDED
           PRECEDING AND 1 PRECEDING — parallel across chunks, and
           the chunk exchange already provides the required
           distribution, so no further full-data exchange is planned;
        2. per chunk, the LAST fired write (hash-aggregable
           max-of-(line_no, value) struct over non-null fired values)
           forms a summary relation of files*chunks rows;
        3. a tiny per-file window over the summaries computes each
           chunk's incoming value (classic scan combine: "last
           non-null" is associative), broadcast-joined back;
        4. a row's carry = coalesce(within-chunk carry, chunk prefix).

        Strata chain left-to-right on the same partitioning; the
        summary branches re-derive their inputs from the (reused)
        chunk exchange with regex columns pruned to what each
        stratum's write guards need.

        chunked=False — one window per file (`PARTITION BY filename`),
        which serializes each file through a single task.  That is the
        faster plan for small inputs (goldens, streaming micro-
        batches): no summary branches, no joins, one sort shared by
        every stratum.  vectorized_store picks by estimated input
        size; a 100 GB file MUST take the chunked path or the whole
        relation lands on one core."""
        if not getattr(self, "scalar_strata", None):
            return base
        src = base
        if not chunked:
            fwin = (
                "OVER (PARTITION BY filename ORDER BY line_no "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            )
            for k, st in enumerate(self.scalar_strata):
                cols = [
                    f"last({sql}, true) {fwin} AS __carry{g}"
                    for g, sql in st["fired"]
                ] + [f"{sql} AS __carry{g}" for g, sql in st["nulls"]]
                if cols:
                    src = (
                        f"(SELECT *, {', '.join(cols)} FROM {src})"
                        f" AS __d{k}"
                    )
                if st["reads"]:
                    rsel = ", ".join(
                        f"{sql} AS {name}" for name, sql in st["reads"]
                    )
                    src = f"(SELECT *, {rsel} FROM {src}) AS __r{k}"
            return src
        lwin = (
            "OVER (PARTITION BY a.filename, a.__chunk ORDER BY a.line_no "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        )
        pwin = (
            "OVER (PARTITION BY filename ORDER BY __chunk "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        )
        for k, st in enumerate(self.scalar_strata):
            if st["fired"]:
                fsel = ", ".join(
                    f"{sql} AS __f{g}" for g, sql in st["fired"]
                )
                a = f"(SELECT *, {fsel} FROM {src})"
                # max over a (line_no, value) struct = last fired
                # write in the chunk; declarative max stays in
                # HashAggregate (max_by planned a per-branch
                # SortAggregate over the full line relation)
                ssel = ", ".join(
                    f"max(IF(__f{g} IS NOT NULL, "
                    f"struct(line_no AS o, __f{g} AS v), NULL)).v"
                    f" AS __s{g}"
                    for g, _sql in st["fired"]
                )
                s = (
                    f"(SELECT filename, __chunk, {ssel} FROM {a} AS __a{k} "
                    "GROUP BY filename, __chunk)"
                )
                psel = ", ".join(
                    f"last(__s{g}, true) {pwin} AS __p{g}"
                    for g, _sql in st["fired"]
                )
                p = f"(SELECT filename, __chunk, {psel} FROM {s} AS __s{k})"
                csel = ", ".join(
                    f"coalesce(last(a.__f{g}, true) {lwin}, p.__p{g})"
                    f" AS __carry{g}"
                    for g, _sql in st["fired"]
                )
                nsel = "".join(
                    f", {sql} AS __carry{g}" for g, sql in st["nulls"]
                )
                src = (
                    f"(SELECT /*+ BROADCAST(p) */ a.*, {csel}{nsel} "
                    f"FROM {a} a LEFT JOIN {p} p "
                    "ON a.filename = p.filename AND a.__chunk = p.__chunk"
                    f") AS __d{k}"
                )
            elif st["nulls"]:
                nsel = ", ".join(
                    f"{sql} AS __carry{g}" for g, sql in st["nulls"]
                )
                src = f"(SELECT *, {nsel} FROM {src}) AS __d{k}"
            if st["reads"]:
                rsel = ", ".join(
                    f"{sql} AS {name}" for name, sql in st["reads"]
                )
                src = f"(SELECT *, {rsel} FROM {src}) AS __r{k}"
        return src

    def _kill(self, sql: str) -> None:
        self.kills.append(sql)

    def _drain_errs(self, eval_guard: str):
        """Record pending runtime-error conditions as kill events fired
        when the expression was (structurally) evaluated."""
        if not self._pending_errs:
            return
        err = " OR ".join(self._pending_errs)
        self._pending_errs = []
        self._kill(f"coalesce(({eval_guard}) AND ({err}), FALSE)")

    def _block(self, stmts, guard: str):
        """Compile with STRUCTURAL guards only (cond nesting, else,
        otherwise); liveness joins at each site via the kill set."""
        prior: list[str] = []
        for s in stmts:
            self._cur_guard = guard
            if isinstance(s, A.StmtList):
                self._block(s.stmts, guard)
            elif isinstance(s, A.CondStmt):
                if isinstance(s.cond, A.OtherwiseCond):
                    neg = " AND ".join(
                        f"(NOT coalesce({p}, FALSE))" for p in prior
                    ) or "TRUE"
                    g = f"({guard} AND {neg})"
                    if s.truth:
                        self._block(s.truth.stmts, g)
                    prior.append(g)
                else:
                    cond, _ = self._expr(s.cond)
                    q = self._bool(cond)
                    self._drain_errs(guard)
                    g = f"({guard} AND {q})"
                    if s.truth:
                        self._block(s.truth.stmts, g)
                    if s.els:
                        self._block(s.els.stmts, f"({guard} AND (NOT {q}))")
                    prior.append(g)
            elif isinstance(s, A.ExprStmt):
                self._action(s.expr, guard)
            elif isinstance(s, A.StopStmt):
                self._kill(f"coalesce({guard}, FALSE)")
            elif isinstance(s, A.DelStmt):
                self._del_stmt(s, guard)
            else:
                raise VectorizeError(f"stmt {type(s).__name__}")

    def _del_stmt(self, s: A.DelStmt, guard: str):
        name = s.target.lhs.name
        labels = self._label_cols(s.target)
        self._drain_errs(guard)
        if s.expiry_s is not None:
            # `del ... after` marks a TTL; the reference applies it in
            # the hourly GC sweep, which one-shot runs never reach
            # (interp do_del does the same).  Label expressions were
            # still evaluated for runtime-error parity.
            return
        if name not in self.registers:
            raise VectorizeError(f"del of non-register metric {name}")
        mi = self.prog.metrics[name]
        g = f"({guard} AND {self._alive()})"
        self.regops.append(
            _RegOp(self._next_seq(), self.registers[name], mi, 1, labels,
                   guard=g)
        )

    def _reg_write(self, name: str, mi, labels, value: str, guard: str,
                   const_val=None):
        g = f"({guard} AND {self._alive()})"
        self.regops.append(
            _RegOp(self._next_seq(), self.registers[name], mi, 0, labels,
                   value=value, guard=g, const_val=const_val)
        )

    def _action(self, e, guard: str):
        if isinstance(e, A.UnaryExpr) and e.op in ("++", "--"):
            t = e.expr
            name = t.lhs.name
            mi = self.prog.metrics[name]
            if name in self.registers:
                # read-modify-write on a register is a sequential
                # value chain (each write depends on the carried value
                # being written) — one window pass cannot express it
                raise VectorizeError(f"register rmw {name}")
            labels = self._label_cols(t)
            self._drain_errs(guard)
            delta = "CAST(1 AS BIGINT)" if e.op == "++" else "CAST(-1 AS BIGINT)"
            self._add_site(mi, "inc", labels, delta, guard)
            return
        if isinstance(e, A.BinaryExpr) and e.op == "+=":
            t = e.lhs
            name = t.lhs.name
            mi = self.prog.metrics[name]
            if name in self.registers:
                raise VectorizeError(f"register rmw {name}")
            labels = self._label_cols(t)
            v, vt = self._expr(e.rhs)
            self._drain_errs(guard)
            self._add_site(mi, "add", labels, self._num(v, vt), guard)
            return
        if isinstance(e, A.BinaryExpr) and e.op == "=":
            t = e.lhs
            name = t.lhs.name
            mi = self.prog.metrics[name]
            if name in self.registers:
                labels = self._label_cols(t)
                v, vt = self._expr(e.rhs)
                v, vt = self._coerce_set(mi, v, vt)
                self._drain_errs(guard)
                self._reg_write(name, mi, labels, v, guard,
                                const_val=_const_eval(e.rhs))
                return
            labels = self._label_cols(t)
            v, vt = self._expr(e.rhs)
            if mi.decl.kind == "histogram":
                v = self._num(v, vt)
                self._drain_errs(guard)
                self._add_site(mi, "observe", labels, v, guard)
            else:
                v, vt = self._coerce_set(mi, v, vt)
                self._drain_errs(guard)
                self._add_site(mi, "set", labels, v, guard, vtype=vt)
            return
        if isinstance(e, A.BuiltinCall) and e.name == "strptime":
            self._strptime(e, guard)
            return
        if isinstance(e, A.BuiltinCall) and e.name == "settime":
            v, vt = self._expr(e.args[0])
            v = self._num(v, vt)
            self._drain_errs(guard)
            self.ts_entries.append(
                (f"({guard} AND {self._alive()})",
                 f"(CAST({v} AS BIGINT) * {US})")
            )
            return
        if isinstance(e, A.UnaryExpr) and e.op == "MATCH":
            return  # bare match statement has no vectorized side effect
        raise VectorizeError(f"action {type(e).__name__}")

    def _strptime(self, e, guard: str):
        sub, _ = self._expr(e.args[0])
        self._drain_errs(guard)
        layout = e.args[1].value
        java, fields = to_java(normalize_spaces(layout))
        subject = f"regexp_replace(CAST({sub} AS STRING), ' +', ' ')"
        # '' (a capref from a non-matching line) can never parse:
        # skip the normalize+parse work instead of letting the
        # formatter fail on it — on multi-site programs most lines hit
        # this branch for most strptime sites
        parsed = self._shared_col(
            f"CASE WHEN CAST({sub} AS STRING) = '' THEN NULL "
            f"ELSE try_to_timestamp({subject}, {sq(java)}) END",
            "t",
        )
        us = f"unix_micros({parsed})"
        if "year" not in fields and "year2" not in fields:
            # Java defaulted the year to 1970; Go defaults to year 0 —
            # unless --syslog_use_current_year patches yearless results
            # to the current year (reference vm.go:309-332).
            to_year = self.syslog_year if self.syslog_year is not None else 0
            sh1 = year_shift_us(1970, 1) - year_shift_us(to_year, 1)
            sh3 = year_shift_us(1970, 3) - year_shift_us(to_year, 3)
            us = (
                f"({us} - CASE WHEN month({parsed}) <= 2 "
                f"THEN {sh1} ELSE {sh3} END)"
            )
        if self.tz and "zone" not in fields:
            # --override_timezone: the (possibly year-patched) wall
            # clock is local time in tz; an explicit zone in the
            # layout wins (Go ParseInLocation).  DST resolves at the
            # final date — mirrors gotime.parse_go_time_us.
            us = (
                f"unix_micros(to_utc_timestamp(timestamp_micros({us}),"
                f" {sq(self.tz)}))"
            )
        # runtime-error-kills-line: a failed parse (executed + null)
        # aborts the rest of the line (reference vm.go:97-129)
        g = f"({guard} AND {self._alive()})"
        self.ts_entries.append((f"({g} AND {parsed} IS NOT NULL)", us))
        self._kill(
            f"coalesce({guard} AND {parsed} IS NULL, FALSE)"
        )

    def _coerce_set(self, mi, v: str, vt: str):
        """Coerce a `metric = value` RHS to the metric's storage type.
        A string that fails numeric conversion is a runtime error that
        kills the line (reference vm.go:513-526 Iset/Fset via
        PopInt/PopFloat -> errorf)."""
        if mi.vtype == "Int":
            if vt in ("Int", "Bool"):
                return f"CAST({v} AS BIGINT)", "Int"
            conv = f"TRY_CAST({v} AS BIGINT)"
            self._pending_errs.append(f"({conv} IS NULL)")
            return conv, "Int"
        if mi.vtype == "Float":
            if vt in ("Int", "Float", "Bool"):
                return f"CAST({v} AS DOUBLE)", "Float"
            conv = f"TRY_CAST({v} AS DOUBLE)"
            self._pending_errs.append(f"({conv} IS NULL)")
            return conv, "Float"
        # text/string metric: Go-style label string coercion
        return self._label_str(v, vt), "String"

    def _label_cols(self, t: A.IndexedExpr):
        out = []
        for ix in t.index:
            c, vt = self._expr(ix)
            out.append(self._label_str(c, vt))
        return out

    def _add_site(self, mi, op, labels, value, guard, vtype=None):
        g = f"({guard} AND {self._alive()})"
        ts = self._ts_at_site()
        le = None
        if op == "observe":
            maxes = _bucket_maxes(mi)
            le = "CAST('Infinity' AS DOUBLE)"
            for mx in reversed(maxes[:-1]):
                le = (
                    f"CASE WHEN {value} <= CAST({mx!r} AS DOUBLE) "
                    f"THEN CAST({mx!r} AS DOUBLE) ELSE {le} END"
                )
        self.sites.append(
            _Site(self._next_seq(), mi, op, labels, value, g, ts, le)
        )


def _event_sql(s: _Site, vtype: str) -> str:
    vi = "CAST(NULL AS BIGINT)"
    vf = "CAST(NULL AS DOUBLE)"
    vs = "CAST(NULL AS STRING)"
    if s.op in ("inc", "add"):
        if vtype == "Float":
            vf = f"CAST({s.value} AS DOUBLE)"
        else:
            vi = f"CAST({s.value} AS BIGINT)"
    elif s.op == "set":
        # value pre-coerced to the metric type by _coerce_set (failed
        # conversions already recorded as line-kill events there)
        if vtype == "Float":
            vf = f"CAST({s.value} AS DOUBLE)"
        elif vtype == "Int":
            vi = f"CAST({s.value} AS BIGINT)"
        else:
            vs = f"CAST({s.value} AS STRING)"
    elif s.op == "observe":
        vf = f"CAST({s.value} AS DOUBLE)"
    labels = (
        f"array({', '.join(s.labels)})" if s.labels
        else "CAST(array() AS ARRAY<STRING>)"
    )
    le = s.le if s.le is not None else "CAST(NULL AS DOUBLE)"
    ev = (
        f"named_struct('site', {s.seq}, 'labels', {labels}, 'vi', {vi}, "
        f"'vf', {vf}, 'vs', {vs}, 'le', {le}, 'ts_us', {s.ts_sql})"
    )
    return f"CASE WHEN {s.guard} THEN {ev} END"


def _reg_event_sql(op: _RegOp) -> str:
    vi = "CAST(NULL AS BIGINT)"
    vf = "CAST(NULL AS DOUBLE)"
    vs = "CAST(NULL AS STRING)"
    if op.kind == 0:
        if op.metric.vtype == "Float":
            vf = f"CAST({op.value} AS DOUBLE)"
        elif op.metric.vtype == "Int":
            vi = f"CAST({op.value} AS BIGINT)"
        else:
            vs = f"CAST({op.value} AS STRING)"
    labels = (
        f"array({', '.join(op.labels)})" if op.labels
        else "CAST(array() AS ARRAY<STRING>)"
    )
    rid = op.read_id if op.read_id is not None else -1
    ev = (
        f"named_struct('reg', {op.reg_id}, 'seq', {op.seq}, "
        f"'kind', {op.kind}, 'read_id', {rid}, 'labels', {labels}, "
        f"'vi', {vi}, 'vf', {vf}, 'vs', {vs})"
    )
    return f"CASE WHEN {op.guard} THEN {ev} END"


def vectorized_store(
    compiled, spark: SparkSession, log_lines: DataFrame, now_us: int = 0
) -> DataFrame:
    """Run a vectorizable program, returning the STORE_SCHEMA frame."""
    prog = compiled.checked
    syslog_year = None
    if getattr(compiled, "syslog_use_current_year", False):
        from mtail_spark.compiler.gotime import epoch_us_year

        syslog_year = epoch_us_year(now_us)
    vz = Vectorizer(
        prog, now_us=now_us, syslog_year=syslog_year,
        tz=getattr(compiled, "override_timezone", None),
    )
    vz.compile()

    site_meta = {
        s.seq: (s.metric.decl.exported_name or s.metric.name, s.metric, s.op)
        for s in vz.sites
    }

    # Scalar-register programs route by input size: big inputs take
    # the chunk-parallel prefix scan (their parallelism comes from the
    # chunk exchange — a second raw shuffle would be pure waste),
    # small inputs and micro-batches (size unknown -> None) keep the
    # cheaper per-file window.
    chunk_registers = False
    if vz.scalar_strata:
        from mtail_spark.session import estimated_local_input_bytes

        nbytes = estimated_local_input_bytes(log_lines)
        chunk_registers = nbytes is not None and nbytes > 64 * 1024 * 1024

    # The per-line work (regex extraction, strptime, typed casts) is
    # CPU-heavy, so parallelism must match the cluster even when the
    # source planned few splits.  Order is carried as data
    # (filename, line_no), so the repartition is semantics-preserving;
    # streaming micro-batch frames are left alone.
    if not chunk_registers:
        from mtail_spark.session import ensure_parallelism

        log_lines = ensure_parallelism(log_lines, spark)

    agg_rows = []
    if vz.sites:
        ev_sqls = [_event_sql(s, s.metric.vtype) for s in vz.sites]
        # plain array with NULL slots for unfired sites; nulls are
        # dropped AFTER explode.  (array_filter with a lambda is a
        # CodegenFallback expression — using it here forced the whole
        # projection into interpreted evaluation and disabled
        # subexpression elimination of the shared regex calls.)
        evs = f"array({', '.join(ev_sqls)})"
        view = f"__mtail_lines_{abs(id(vz)) % 10**9}"
        # use the input frame's own session: under foreachBatch the
        # batch DataFrame belongs to a cloned micro-batch session whose
        # temp views the outer session cannot see
        sess = log_lines.sparkSession
        log_lines.createOrReplaceTempView(view)
        # Scalar registers resolve as window-column layers on the line
        # relation itself (see _plan_registers / scalar_layers_sql).
        # Big inputs: raw lines are chunk-partitioned once, regex
        # extraction runs above that exchange, and every stratum's
        # carry windows share the same distribution.
        if chunk_registers:
            src = vz.scalar_layers_sql(
                vz.shared_layers_sql(vz.chunked_base_sql(view))
            )
        else:
            src = vz.scalar_layers_sql(
                vz.shared_layers_sql(view), chunked=False
            )
        pviews = []
        if vz.dim_regops:
            # DIMENSIONED cross-line registers: a second event relation
            # carries hidden-metric set/del/read ops; a window per
            # (filename, register, labels) ordered by (line_no, seq)
            # resolves each read to the last prior set (del masks),
            # and the read values join back per line.  This is the
            # Spark shape for rsyncd-style connection stitching:
            # parallel across register label values instead of
            # sequential per file.
            from pyspark.sql import Window as _W

            revs = (
                "array("
                + ", ".join(_reg_event_sql(op) for op in vz.dim_regops)
                + ")"
            )
            reg_flat = sess.sql(
                f"SELECT filename, line_no, {revs} AS revs FROM {src}"
            )
            R = (
                reg_flat.select(
                    "filename", "line_no",
                    F.explode_outer("revs").alias("e"),
                )
                .filter(F.col("e").isNotNull())
                .select(
                    "filename", "line_no", "e.reg", "e.seq", "e.kind",
                    "e.read_id", "e.labels", "e.vi", "e.vf", "e.vs",
                )
            )
            w = (
                _W.partitionBy("filename", "reg", "labels")
                .orderBy("line_no", "seq")
                .rowsBetween(_W.unboundedPreceding, -1)
            )
            carried = F.last(
                F.when(
                    F.col("kind") <= 1, F.struct("kind", "vi", "vf", "vs")
                ),
                ignorenulls=True,
            ).over(w)
            reads_df = (
                R.withColumn("c", carried)
                .filter(F.col("kind") == 2)
                .select(
                    "filename", "line_no", "read_id",
                    F.when(F.col("c.kind") == 0, F.col("c.vi")).alias("cvi"),
                    F.when(F.col("c.kind") == 0, F.col("c.vf")).alias("cvf"),
                    F.when(F.col("c.kind") == 0, F.col("c.vs")).alias("cvs"),
                )
            )
            aggs = []
            for rop in vz.dim_reads:
                col = {"Int": "cvi", "Float": "cvf"}.get(
                    rop.metric.vtype, "cvs"
                )
                aggs.append(
                    F.max(
                        F.when(
                            F.col("read_id") == rop.read_id, F.col(col)
                        )
                    ).alias(f"__reg_r{rop.read_id}")
                )
            piv = reads_df.groupBy("filename", "line_no").agg(*aggs)
            pview = f"__mtail_regs_{abs(id(vz)) % 10**9}"
            piv.createOrReplaceTempView(pview)
            pviews.append(pview)
            flat = sess.sql(
                f"SELECT t.filename, t.line_no, {evs} AS evs "
                f"FROM (SELECT * FROM {src}) AS t LEFT JOIN {pview} p "
                f"ON t.filename = p.filename AND t.line_no = p.line_no"
            )
        else:
            flat = sess.sql(
                f"SELECT filename, line_no, {evs} AS evs FROM {src}"
            )

        # explode_OUTER, not explode: GenerateExec's whole-stage
        # codegen inlines the (large) generator expression tree into
        # the consuming code, re-evaluating the fused projection per
        # output — measured ~10x slower on this shape.  outer=true
        # routes to the row-at-a-time GenerateExec, which evaluates
        # the event array once per line.  (The r1 design worked
        # around the same pathology with a persist() of the event
        # array, paying ~10 us/line of columnar-cache build tax per
        # run; this shape needs no barrier at all.)  Null slots —
        # and the extra null row outer emits for all-null lines —
        # are dropped by the filter.
        events = (
            flat.select(
                "filename", "line_no", F.explode_outer("evs").alias("e")
            )
            .filter(F.col("e").isNotNull())
            .select(
                "filename",
                "line_no",
                F.col("e.site").alias("site"),
                F.col("e.labels").alias("labels"),
                F.col("e.vi").alias("vi"),
                F.col("e.vf").alias("vf"),
                F.col("e.vs").alias("vs"),
                F.col("e.le").alias("le"),
                F.col("e.ts_us").alias("ts_us"),
            )
        )
        name_col = F.lit(None).cast("string")
        for seq, (nm, _mi, _op) in site_meta.items():
            name_col = F.when(F.col("site") == seq, F.lit(nm)).otherwise(
                name_col
            )
        # w=1 marks a real event; synthetic zero-init events carry w=0
        # so they touch no sum/count while guaranteeing their metric's
        # group exists (see below)
        events = events.withColumn("name", name_col).withColumn(
            "w", F.lit(1)
        )

        # Zero-init scalar counters + keyless histograms (reference
        # codegen.go:109-156) enter the stream as IDENTITY EVENTS —
        # one tiny local-relation row per keyless metric, unioned
        # after the explode.  vi/vf are the additive identity (0) at
        # epoch ts 0 with order2 below any real line, so a touched
        # metric's sums and last-write timestamps are unchanged while
        # an untouched one still yields its zero row.  This needs no
        # second plan branch (an anti-join re-executed the whole
        # scan+regex+explode upstream) and no window pass: the union
        # flows into the same aggregation.
        zero_ev = []
        for mname, mi in prog.metrics.items():
            if mi.decl.hidden or mi.decl.keys:
                continue
            nm = mi.decl.exported_name or mname
            if mi.decl.kind == "counter":
                # ts_us NULL, not 0: year-0 syslog timestamps are
                # NEGATIVE epoch micros, so a literal 0 would win the
                # cross-file max over real writes.  The untouched
                # counter's epoch-0 timestamp is reconstructed in the
                # final select from n_obs == 0.
                zero_ev.append((
                    "", -1, -1, [],
                    0 if mi.vtype != "Float" else None,
                    0.0 if mi.vtype == "Float" else None,
                    None, None, None, nm, 0,
                ))
            elif mi.decl.kind == "histogram":
                zero_ev.append((
                    "", -1, -1, [], None, None, None, None, None, nm, 0,
                ))
        if zero_ev:
            events = events.unionByName(
                sess.createDataFrame(zero_ev, schema=events.schema)
            )

        # Two-phase aggregation; within a file the last PROCESSED
        # write wins ((line_no, site) packed into one BIGINT order),
        # across files the datum with the latest (ts, filename) wins —
        # exactly the fold backend's merge_partial_stores semantics
        # (api.py), so multi-file results are deterministic and
        # backend-independent.  line_no restarts per file, so a single
        # cross-file max_by(line_no) would be arbitrary.
        #
        # Every stage-A aggregate is a PRIMITIVE max_by/sum: a group
        # holds one metric's events only, so the last-write fields can
        # be picked per column (all max_bys share the same unique
        # ordering and therefore the same row) instead of via one
        # max_by(struct(...)) — whose non-mutable buffer forced
        # SortAggregate over the full event stream (measured ~2x the
        # agg cost in r3).  A string buffer column (lvs) only enters
        # when the program has a String-typed metric.
        n_span = 1 << max(6, (max(s.seq for s in vz.sites) + 1)
                          .bit_length())
        order2 = F.col("line_no") * n_span + F.col("site")
        has_text = any(s.metric.vtype == "String" for s in vz.sites)
        # last-write columns only exist when the program has
        # last-write metrics: stage B's cross-file pick orders by a
        # struct, whose non-mutable buffer plans SortAggregate — free
        # on the store-sized stage B, but pure waste for counter-only
        # programs (dhcpd), which stay all-primitive HashAggregate
        has_lww = any(
            s.metric.decl.kind not in ("counter", "histogram")
            for s in vz.sites
        )
        all_bounds = sorted({
            m
            for mi in (s.metric for s in vz.sites)
            if mi.decl.kind == "histogram"
            for m in _bucket_maxes(mi)
        })
        from mtail_spark.sources.logs import is_single_file_relation

        if is_single_file_relation(log_lines):
            # ONE verifiable file (literal filename or a single-file
            # read): the cross-file merge level is the identity, so
            # the whole store collapses to a single aggregation —
            # order2 is file-wide unique, last-write picks and bucket
            # pivots happen directly, and the plan drops one exchange
            # and two HashAggregates.  Every primitive here composes
            # to exactly stage A∘B below (sums associative; max_by
            # over one file == stage A's pick, stage B's one-row merge
            # the identity; zero-init events carry w=0/order2<0 so
            # they can never win a pick or perturb a sum).
            aggs_s = [
                F.sum("vi").alias("sum_i"),
                F.sum("vf").alias("sum_f"),
                F.sum("w").alias("n_obs"),
                F.max_by("ts_us", order2).alias("last_ts"),
            ]
            if has_lww:
                aggs_s.append(F.max_by("vi", order2).alias("lvi"))
                aggs_s.append(F.max_by("vf", order2).alias("lvf"))
            if has_text:
                aggs_s.append(F.max_by("vs", order2).alias("lvs"))
            for k, b in enumerate(all_bounds):
                aggs_s.append(
                    F.sum(
                        F.when(F.col("le") == F.lit(b), F.col("w"))
                    ).alias(f"__b{k}")
                )
            final = events.groupBy("name", "labels").agg(*aggs_s)
        else:
            aggs_a = [
                F.sum("vi").alias("sum_i"),
                F.sum("vf").alias("sum_f"),
                F.sum("w").alias("n_obs"),
                F.max_by("ts_us", order2).alias("last_ts"),
            ]
            if has_lww:
                aggs_a.append(F.max_by("vi", order2).alias("lvi"))
                aggs_a.append(F.max_by("vf", order2).alias("lvf"))
            if has_text:
                aggs_a.append(F.max_by("vs", order2).alias("lvs"))
            per_file = events.groupBy(
                "name", "labels", "le", "filename"
            ).agg(*aggs_a)

            # Stage B merges files AND a histogram's per-le rows in
            # one store-sized aggregation: bucket counts come out as
            # one conditional sum per distinct compile-time bucket
            # bound, so no per-le grouping level and no collected map
            # is needed.
            file_ord = F.struct(F.col("last_ts"), F.col("filename"))
            aggs_b = [
                F.sum("sum_i").alias("sum_i"),
                F.sum("sum_f").alias("sum_f"),
                F.sum("n_obs").alias("n_obs"),
                F.max("last_ts").alias("last_ts"),
            ]
            if has_lww:
                aggs_b.append(F.max_by("lvi", file_ord).alias("lvi"))
                aggs_b.append(F.max_by("lvf", file_ord).alias("lvf"))
            if has_text:
                aggs_b.append(F.max_by("lvs", file_ord).alias("lvs"))
            for k, b in enumerate(all_bounds):
                aggs_b.append(
                    F.sum(
                        F.when(F.col("le") == F.lit(b), F.col("n_obs"))
                    ).alias(f"__b{k}")
                )
            final = per_file.groupBy("name", "labels").agg(*aggs_b)

        for pv in pviews:
            sess.catalog.dropTempView(pv)
        sess.catalog.dropTempView(view)

    # ---- Spark-side store assembly (r4).  The r3 design collected the
    # event aggregate to the driver (Arrow), assembled STORE_SCHEMA
    # rows in a Python loop, and re-uploaded them via createDataFrame —
    # a driver round trip measured at ~1.5-2 s per run on a 40k-tuple
    # store (dhcpd sf0.1).  All of that logic is store-sized relational
    # work, so it now runs inside the same plan and the caller's
    # collect reads the result directly: one job, no intermediate
    # driver materialization.  Metric metadata (kind, vtype, label
    # keys, bucket bounds) is compile-time constant and enters the
    # plan as per-name CASE chains over the program's metric names.
    by_name: dict = {}
    for seq, (nm, mi, _op) in site_meta.items():
        by_name[nm] = mi

    _BUCKETS_T = "array<struct<le:double,count:bigint>>"

    def _dispatch(fn, rtype, default="NULL"):
        """name -> per-metric constant/column, as one CASE chain."""
        col = F.expr(f"CAST({default} AS {rtype})")
        for nm, mi in by_name.items():
            v = fn(nm, mi)
            if v is not None:
                col = F.when(F.col("name") == nm, v).otherwise(col)
        return col

    def _sql_double(v: float) -> str:
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"

    store_df = None
    if vz.sites:
        hidden_names = [
            nm for nm, mi in by_name.items() if mi.decl.hidden
        ]
        if hidden_names:
            final = final.filter(~F.col("name").isin(hidden_names))

        def _labels_map(nm, mi):
            if not mi.decl.keys:
                return None
            return F.map_from_arrays(
                F.array(*[F.lit(k) for k in mi.decl.keys]),
                F.col("labels"),
            )

        def _buckets_col(nm, mi):
            if mi.decl.kind != "histogram":
                return None
            entries = ", ".join(
                f"named_struct('le', {_sql_double(m)}, 'count', "
                f"CAST(coalesce(__b{all_bounds.index(m)}, 0) AS BIGINT))"
                for m in _bucket_maxes(mi)
            )
            return F.expr(f"array({entries})")

        is_hist = _dispatch(
            lambda nm, mi: F.lit(mi.decl.kind == "histogram"), "boolean"
        )
        is_counter = _dispatch(
            lambda nm, mi: F.lit(mi.decl.kind == "counter"), "boolean"
        )
        vt = _dispatch(lambda nm, mi: F.lit(mi.vtype), "string")
        lvi_col = F.col("lvi") if has_lww else F.lit(None).cast("bigint")
        lvf_col = F.col("lvf") if has_lww else F.lit(None).cast("double")
        lvs_col = F.col("lvs") if has_text else F.lit(None).cast("string")
        store_df = final.select(
            F.lit(compiled.name).alias("prog"),
            F.col("name"),
            _dispatch(lambda nm, mi: F.lit(mi.decl.kind), "string")
            .alias("kind"),
            _dispatch(
                lambda nm, mi: F.lit(
                    "Buckets" if mi.decl.kind == "histogram" else mi.vtype
                ),
                "string",
            ).alias("vtype"),
            # unlabelled metrics carry an empty map, as the folds do
            _dispatch(_labels_map, "map<string,string>", "map()")
            .alias("labels"),
            F.when(is_counter & (vt == "Int"), F.col("sum_i"))
            .when(~is_counter & ~is_hist, lvi_col)
            .alias("value_i"),
            F.when(is_counter & (vt == "Float"), F.col("sum_f"))
            .when(~is_counter & ~is_hist, lvf_col)
            .alias("value_f"),
            F.when(~is_counter & ~is_hist, lvs_col).alias("value_s"),
            _dispatch(_buckets_col, _BUCKETS_T).alias("buckets"),
            F.when(is_hist, F.col("n_obs")).alias("bucket_count"),
            F.when(is_hist, F.coalesce(F.col("sum_f"), F.lit(0.0)))
            .alias("bucket_sum"),
            # untouched (zero-init-only) counters carry the epoch-0
            # timestamp (golden hash requires it); touched metrics
            # keep the timestamp of their last real write
            F.when(is_counter & (F.col("n_obs") == 0), F.lit(0))
            .otherwise(F.col("last_ts"))
            .alias("ts_us"),
        )
        return store_df

    # No update sites at all: the store is just the zero-init rows.
    zero_rows = []
    for mname, mi in prog.metrics.items():
        if mi.decl.hidden or mi.decl.keys:
            continue
        nm = mi.decl.exported_name or mname
        if mi.decl.kind == "counter":
            zero_rows.append(
                {
                    "prog": compiled.name, "name": nm, "kind": "counter",
                    "vtype": mi.vtype, "labels": {},
                    "value_i": 0 if mi.vtype != "Float" else None,
                    "value_f": 0.0 if mi.vtype == "Float" else None,
                    "value_s": None, "buckets": None, "bucket_count": None,
                    "bucket_sum": None, "ts_us": 0,
                }
            )
        elif mi.decl.kind == "histogram":
            zero_rows.append(
                {
                    "prog": compiled.name, "name": nm, "kind": "histogram",
                    "vtype": "Buckets", "labels": {},
                    "value_i": None, "value_f": None, "value_s": None,
                    "buckets": [
                        {"le": mx, "count": 0} for mx in _bucket_maxes(mi)
                    ],
                    "bucket_count": 0, "bucket_sum": 0.0, "ts_us": None,
                }
            )
    return spark.createDataFrame(zero_rows, STORE_SCHEMA)
