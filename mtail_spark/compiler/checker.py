"""Semantic analysis for the mtail DSL.

Performs (mirroring reference internal/runtime/compiler/checker/
checker.go:45-878, in AST-to-AST form):

- symbol collection: metric declarations, pattern constants, decorators
- decorator splicing: each `@deco { block }` becomes a deep copy of the
  decorator body with `next` replaced by the decorated block
- pattern resolution: const refs concatenated into one pattern string
  per site, translated into the dialect every backend reads as RE2
  (translate_regex), regex compiled (validation), and capture groups
  registered
- capref resolution: each $n / $name bound to (regex_id, group) using
  lexical scoping over condition nesting
- type inference: capture-group types from regex character sets
  (reference types.go:539-577 semantics), metric value types from
  their update sites
- strptime layout validation (reference checker.go:802-829)
- program classification: cross-line state detection, which selects
  the execution backend (vectorized vs ordered fold)
"""

from __future__ import annotations

import copy
import re
from dataclasses import dataclass, field

from mtail_spark.compiler import ast as A
from mtail_spark.compiler.gotime import to_python as layout_to_python
from mtail_spark.compiler.parser import parse

# Go regexp/syntax's Perl and POSIX classes (perl_groups.go) as code
# point ranges.  RE2 defines them over ASCII whatever the input;
# Python `re` widens \d \w \s to Unicode and java.util.regex takes
# \x0B into \s, so translate_regex writes them out as explicit sets.
_PERL = {
    "d": [(0x30, 0x39)],
    "s": [(0x09, 0x0A), (0x0C, 0x0D), (0x20, 0x20)],
    "w": [(0x30, 0x39), (0x41, 0x5A), (0x5F, 0x5F), (0x61, 0x7A)],
}
_POSIX = {
    "alnum": [(0x30, 0x39), (0x41, 0x5A), (0x61, 0x7A)],
    "alpha": [(0x41, 0x5A), (0x61, 0x7A)],
    "ascii": [(0x00, 0x7F)],
    "blank": [(0x09, 0x09), (0x20, 0x20)],
    "cntrl": [(0x00, 0x1F), (0x7F, 0x7F)],
    "digit": [(0x30, 0x39)],
    "graph": [(0x21, 0x7E)],
    "lower": [(0x61, 0x7A)],
    "print": [(0x20, 0x7E)],
    "punct": [(0x21, 0x2F), (0x3A, 0x40), (0x5B, 0x60), (0x7B, 0x7E)],
    "space": [(0x09, 0x0D), (0x20, 0x20)],
    "upper": [(0x41, 0x5A)],
    "word": _PERL["w"],
    "xdigit": [(0x30, 0x39), (0x41, 0x46), (0x61, 0x66)],
}
_WORD = "[0-9A-Za-z_]"
# RE2's \b, \B and end of text; Java's $ also matches before a final
# \r or \u0085 and Python's before a final \n
_BOUNDARY = f"(?:(?<={_WORD})(?!{_WORD})|(?<!{_WORD})(?={_WORD}))"
_NOT_BOUNDARY = f"(?:(?<={_WORD})(?={_WORD})|(?<!{_WORD})(?!{_WORD}))"
_END = "(?!(?s:.))"
_ESCAPE = re.compile(r"\\(?:x\{[0-9A-Fa-f]*\}|x[0-9A-Fa-f]{0,2}|.)", re.S)
_FLAGS = re.compile(r"\(\?([a-zA-Z]*)(?:-([a-zA-Z]*))?([:)])")
_REPEAT = re.compile(r"\{\d+(?:,\d*)?\}")
_POSIX_CLASS = re.compile(r"\[:(\^?)([a-z]+):\]")


def _code_point(c: int) -> str:
    ch = chr(c)
    if ch.isascii() and (ch.isalnum() or ch == "_"):
        return ch
    if ch in "\t\n\r":
        return repr(ch)[1:-1]
    if c <= 0xFF:
        return f"\\x{c:02x}"
    if c <= 0xFFFF:
        return f"\\u{c:04x}"
    # above U+FFFF the two engines spell escapes differently; both
    # read the character itself
    return ch


def _hex_escape(esc: str) -> str:
    """RE2's \\x{hex} as the code point itself, in text both engines
    read; any other escape unchanged (an empty or out-of-range
    \\x{...} is left for re.compile to reject, as RE2 does)."""
    if esc.startswith("\\x{") and len(esc) > 4:
        c = int(esc[3:-1], 16)
        if c <= 0x10FFFF:
            return _code_point(c)
    return esc


def _class_body(ranges, negate: bool = False) -> str:
    """Ranges as class-body text, or their complement over all of
    Unicode when `negate` (a \\D inside [...] cannot be a [^...])."""
    if negate:
        comp, nxt = [], 0
        for lo, hi in ranges:
            if lo > nxt:
                comp.append((nxt, lo - 1))
            nxt = hi + 1
        ranges = comp + [(nxt, 0x10FFFF)]
    return "".join(
        f"{_code_point(lo)}-{_code_point(hi)}" if hi > lo + 1
        else "".join(map(_code_point, range(lo, hi + 1)))
        for lo, hi in ranges
    )


def _class_char(p: str, j: int) -> tuple[str, int]:
    """One class member at p[j], as text both engines read as that
    one character: [ & ^ - ] are escaped (Java reads [ and && as
    class union and intersection)."""
    if p[j] == "\\" and j + 1 < len(p):
        m = _ESCAPE.match(p, j)
        return (r"\x0b" if m[0] == r"\v" else _hex_escape(m[0])), m.end()
    if p[j] in "[]^-&":
        return "\\" + p[j], j + 1
    return p[j], j + 1


def _translate_class(p: str, i: int, out: list) -> int:
    """Translate the RE2 class opening at p[i]; returns the index
    after it."""
    j = i + 1
    neg = p.startswith("^", j)
    j += neg
    body = []
    first = True  # a leading ] is a member
    while j < len(p) and (p[j] != "]" or first):
        first = False
        m = _POSIX_CLASS.match(p, j)
        if m and m[2] in _POSIX:
            body.append(_class_body(_POSIX[m[2]], bool(m[1])))
            j = m.end()
            continue
        if p[j] == "\\" and p[j + 1 : j + 2].lower() in ("d", "s", "w"):
            e = p[j + 1]
            body.append(_class_body(_PERL[e.lower()], e.isupper()))
            j += 2
            continue
        lo, j = _class_char(p, j)
        if p.startswith("-", j) and p[j + 1 : j + 2] not in ("]", ""):
            hi, j = _class_char(p, j + 1)
            lo = f"{lo}-{hi}"
        body.append(lo)
    if j >= len(p):  # unterminated: leave it for re.compile to reject
        out.append(p[i:])
        return j
    out.append("[" + "^" * neg + "".join(body) + "]")
    return j + 1


def translate_regex(pattern: str) -> str:
    """RE2 -> the one dialect java.util.regex and Python `re` both
    read as RE2 does.  Every backend runs (and every literal gate
    analyses) this text.

    - \\d \\w \\s, their negations and the POSIX [[:name:]] classes
      become explicit ASCII sets, inside [...] too (a negation there
      as complement ranges);
    - \\b \\B become ASCII lookarounds, \\v the vertical tab;
    - `.` becomes [^\\n] (Java's also rejects \\r and \\u0085), `$`
      and \\z the end of text only, and under (?m) `^` `$` break at
      \\n only;
    - inside classes [ & ^ - ] are escaped, and a { that cannot start
      a repeat is a literal, as in RE2;
    - \\x{hex} becomes its code point, inside [...] too, and the text
      of \\Q...\\E one escaped literal per character (RE2 allows
      \\Q only outside classes);
    - a flag group that turns `i` on turns `u` on too, so Java folds
      case by Unicode rules (the Kelvin sign is a k), as RE2 does.
    The (?P<name>) syntax is shared by RE2 and Python; the Spark
    backend strips names (Java group-name charset is narrower)."""
    out = []
    flags = [""]  # inline flags in force, one entry per open group
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            m = _ESCAPE.match(pattern, i)
            e = m[0][1]
            i = m.end()
            if e == "Q":
                end = pattern.find("\\E", i)
                end = len(pattern) if end < 0 else end
                out.extend(_code_point(ord(ch)) for ch in pattern[i:end])
                i = end + 2
            elif e.lower() in ("d", "s", "w"):
                neg = "^" if e.isupper() else ""
                out.append(f"[{neg}{_class_body(_PERL[e.lower()])}]")
            else:
                out.append({
                    "b": _BOUNDARY, "B": _NOT_BOUNDARY, "z": _END,
                    "v": r"\x0b",
                }.get(e, _hex_escape(m[0])))
        elif c == "[":
            i = _translate_class(pattern, i, out)
        elif c in ".$^":
            fl = flags[-1]
            out.append({
                ".": "(?s:.)" if "s" in fl else r"[^\n]",
                "$": r"(?![^\n])" if "m" in fl else _END,
                "^": r"(?<![^\n])" if "m" in fl else "^",
            }[c])
            i += 1
        elif c == "(":
            fl = flags[-1]
            m = _FLAGS.match(pattern, i)
            if m:
                fl = "".join(
                    f for f in set(fl + m[1]) if f not in (m[2] or "")
                )
                # RE2 and Python fold case by Unicode rules, Java's
                # (?i) by ASCII only unless u rides along
                u = "u" if "i" in m[1] and "u" not in m[1] else ""
                out.append("(?" + m[1] + u + m[0][2 + len(m[1]):])
                i = m.end()
                if m[3] == ")":
                    flags[-1] = fl
                    continue
            else:
                out.append(c)
                i += 1
            flags.append(fl)
        elif c == ")":
            if len(flags) > 1:
                flags.pop()
            out.append(c)
            i += 1
        elif c == "{":
            m = _REPEAT.match(pattern, i)
            out.append(m[0] if m else r"\{")
            i = m.end() if m else i + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_group_names(pattern: str) -> str:
    """Convert named groups to plain numbered groups (for java.util.regex,
    which rejects names like legacy_date). Number order is unchanged."""
    return re.sub(r"\(\?P<[A-Za-z_][A-Za-z0-9_]*>", "(", pattern)


class CheckError(ValueError):
    pass


@dataclass
class RegexInfo:
    id: int
    pattern: str  # translate_regex's output, read alike by Java and Python
    n_groups: int = 0
    group_types: dict = field(default_factory=dict)  # group_no -> vtype
    subject: object = None  # AST expr the regex applies to; None = line
    compiled: object = None


@dataclass
class MetricInfo:
    decl: A.VarDecl
    vtype: str = "Int"

    @property
    def name(self):
        return self.decl.name


@dataclass
class CheckedProgram:
    name: str
    stmts: A.StmtList = None
    metrics: dict = field(default_factory=dict)
    regexes: list = field(default_factory=list)
    cross_line_state: bool = False
    uses_getfilename: bool = False
    # metric name -> `del ... after` duration in seconds (state TTL,
    # reference store.go:156-180 GC semantics)
    expiries: dict = field(default_factory=dict)


# ------------------------------------------------- capture group analysis


def _find_group_spans(pattern: str):
    """Source spans of each capturing group's body, by group number."""
    spans = {}
    stack = []  # (group_no or None, body_start)
    n = 0
    i = 0
    L = len(pattern)
    while i < L:
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if c == "[":
            # char class: scan to unescaped ]
            j = i + 1
            if j < L and pattern[j] == "^":
                j += 1
            if j < L and pattern[j] == "]":
                j += 1
            while j < L and pattern[j] != "]":
                if pattern[j] == "\\":
                    j += 1
                j += 1
            i = j + 1
            continue
        if c == "(":
            m = re.match(r"\(\?P<[A-Za-z_][A-Za-z0-9_]*>", pattern[i:])
            if m:
                n += 1
                stack.append((n, i + m.end() - i + 0))
                stack[-1] = (n, i + m.end())
                i += m.end()
                continue
            if pattern.startswith("(?", i):
                # non-capturing / flags group
                m2 = re.match(r"\(\?[a-zA-Z:=!-]*", pattern[i:])
                stack.append((None, i + (m2.end() if m2 else 2)))
                i += m2.end() if m2 else 2
                continue
            n += 1
            stack.append((n, i + 1))
            i += 1
            continue
        if c == ")":
            if stack:
                g, start = stack.pop()
                if g is not None:
                    spans[g] = (start, i)
            i += 1
            continue
        i += 1
    return spans


def _charset_info(src: str):
    """Approximate the set of characters a subpattern can match and
    whether it is a 'bare char class'.  Returns (chars, has_other,
    top_is_bare_class, n_dots, has_alternation)."""
    chars = set()
    has_other = False
    i = 0
    L = len(src)
    atoms = 0
    only_class = True
    n_dots = 0
    has_alt = False
    while i < L:
        c = src[i]
        if c == "\\":
            nxt = src[i + 1] if i + 1 < L else ""
            if nxt == "d":
                chars.update("0123456789")
            elif nxt == ".":
                chars.add(".")
                n_dots += 1
            elif nxt in "wsWSD" or nxt in "bBAZ":
                has_other = True
            else:
                chars.add(nxt)
            atoms += 1
            only_class = False
            i += 2
        elif c == "[":
            j = i + 1
            neg = False
            if j < L and src[j] == "^":
                neg = True
                j += 1
            body_start = j
            if j < L and src[j] == "]":
                j += 1
            while j < L and src[j] != "]":
                if src[j] == "\\":
                    j += 1
                j += 1
            body = src[body_start:j]
            if neg:
                has_other = True
            else:
                k = 0
                while k < len(body):
                    if body[k] == "\\":
                        nx = body[k + 1] if k + 1 < len(body) else ""
                        if nx == "d":
                            chars.update("0123456789")
                        elif nx in "wsWSD":
                            has_other = True
                        else:
                            chars.add(nx)
                        k += 2
                    elif k + 2 < len(body) and body[k + 1] == "-":
                        lo, hi = body[k], body[k + 2]
                        if ord(hi) - ord(lo) < 200:
                            chars.update(chr(x) for x in range(ord(lo), ord(hi) + 1))
                        k += 3
                    else:
                        if body[k] == ".":
                            n_dots += 1
                        chars.add(body[k])
                        k += 1
            atoms += 1
            i = j + 1
        elif c in "+*?":
            only_class = False
            i += 1
        elif c == "{":
            j = src.find("}", i)
            only_class = False
            i = (j + 1) if j >= 0 else i + 1
        elif c == "(":
            only_class = False
            i += 1
        elif c == ")":
            i += 1
        elif c == "|":
            has_alt = True
            only_class = False
            i += 1
        elif c == ".":
            has_other = True
            atoms += 1
            only_class = False
            i += 1
        else:
            if c == ".":
                n_dots += 1
            chars.add(c)
            atoms += 1
            only_class = False
            i += 1
    top_is_bare_class = atoms == 1 and only_class
    return chars, has_other, top_is_bare_class, n_dots, has_alt


def infer_group_type(pattern: str, group: int) -> str:
    """Int / Float / String per the reference's charset rule
    (reference types.go:556-577)."""
    spans = _find_group_spans(pattern)
    if group not in spans:
        return "String"
    src = pattern[spans[group][0] : spans[group][1]]
    chars, has_other, bare_class, n_dots, has_alt = _charset_info(src)
    if has_other or not chars:
        return "String"
    digits = set("0123456789")
    signs = set("+-")
    if chars <= signs:
        return "String"
    if chars <= digits | signs:
        if not (chars & digits):
            return "String"
        if bare_class or has_alt:
            return "String"
        return "Int"
    if chars <= digits | signs | set(".eE"):
        if src.count(".") > 1 and n_dots > 1:
            return "String"
        return "Float"
    return "String"


# --------------------------------------------------------------- checker


class Checker:
    def __init__(self, name: str):
        self.name = name
        self.metrics: dict[str, MetricInfo] = {}
        self.consts: dict[str, str] = {}
        self.decos: dict[str, A.StmtList] = {}
        self.regexes: list[RegexInfo] = []
        self.cross_line = False
        self.uses_getfilename = False

    def run(self, stmts: A.StmtList) -> CheckedProgram:
        # pass 1: collect consts + decorators + metric decls (decls may
        # appear inside any block; the store is program-global)
        kept = self._collect(stmts)
        # pass 2: splice decorators
        spliced = [self._splice(s) for s in kept.stmts]
        body = A.StmtList(stmts=spliced)
        # pass 3: resolve patterns + caprefs with lexical scope
        self._walk_block(body, scope=[{}])
        # pass 4: metric value types from update sites
        self._infer_metric_types(body)
        expiries = {}
        for node in A.walk(body):
            if isinstance(node, A.DelStmt) and node.expiry_s is not None:
                expiries[node.target.lhs.name] = node.expiry_s
        prog = CheckedProgram(
            name=self.name,
            stmts=body,
            metrics=self.metrics,
            regexes=self.regexes,
            cross_line_state=self.cross_line,
            uses_getfilename=self.uses_getfilename,
            expiries=expiries,
        )
        return prog

    def _collect(self, block: A.StmtList) -> A.StmtList:
        out = []
        for s in block.stmts:
            if isinstance(s, A.ConstDef):
                self.consts[s.name] = self._resolve_pattern_parts(s.pattern)
            elif isinstance(s, A.DecoDecl):
                s.block = self._collect(s.block)
                self.decos[s.name] = s.block
            elif isinstance(s, A.VarDecl):
                self.metrics[s.name] = MetricInfo(decl=s)
            elif isinstance(s, A.CondStmt):
                if s.truth:
                    s.truth = self._collect(s.truth)
                if s.els:
                    s.els = self._collect(s.els)
                out.append(s)
            elif isinstance(s, A.DecoStmt):
                s.block = self._collect(s.block)
                out.append(s)
            elif isinstance(s, A.StmtList):
                out.append(self._collect(s))
            else:
                out.append(s)
        return A.StmtList(stmts=out)

    # -- decorator splicing (reference checker.go:177-222, codegen.go:286-311)

    def _splice(self, node):
        if isinstance(node, A.DecoStmt):
            if node.name not in self.decos:
                raise CheckError(f"unknown decorator @{node.name}")
            deco_body = copy.deepcopy(self.decos[node.name])
            inner = A.StmtList(
                stmts=[self._splice(s) for s in node.block.stmts]
            )
            return A.StmtList(stmts=self._replace_next(deco_body, inner).stmts)
        if isinstance(node, A.CondStmt):
            node.truth = A.StmtList(
                stmts=[self._splice(s) for s in node.truth.stmts]
            ) if node.truth else None
            node.els = A.StmtList(
                stmts=[self._splice(s) for s in node.els.stmts]
            ) if node.els else None
            return node
        return node

    def _replace_next(self, block: A.StmtList, inner: A.StmtList) -> A.StmtList:
        out = []
        for s in block.stmts:
            if isinstance(s, A.NextStmt):
                out.append(inner)
            elif isinstance(s, A.CondStmt):
                s.truth = self._replace_next(s.truth, inner) if s.truth else None
                s.els = self._replace_next(s.els, inner) if s.els else None
                out.append(s)
            else:
                out.append(s)
        return A.StmtList(stmts=out)

    # -- pattern + capref resolution

    def _resolve_pattern_parts(self, pat: A.PatternLit) -> str:
        parts = []
        for p in pat.parts:
            if isinstance(p, str):
                parts.append(p)
            elif isinstance(p, A.IdTerm):
                if p.name not in self.consts:
                    raise CheckError(f"unknown pattern const {p.name}")
                parts.append(self.consts[p.name])
            else:
                raise CheckError(f"bad pattern part {p!r}")
        return "".join(parts)

    def _register_regex(self, pat: A.PatternLit, subject=None) -> RegexInfo:
        raw = self._resolve_pattern_parts(pat)
        translated = translate_regex(raw)
        try:
            compiled = re.compile(translated)
        except re.error as e:
            raise CheckError(f"bad regex /{raw}/: {e}") from e
        info = RegexInfo(
            id=len(self.regexes),
            pattern=translated,
            n_groups=compiled.groups,
            subject=subject,
            compiled=compiled,
        )
        for g in range(1, compiled.groups + 1):
            info.group_types[g] = infer_group_type(translated, g)
        info.group_types[0] = "String"
        info.name_to_group = dict(compiled.groupindex)
        self.regexes.append(info)
        pat.pattern = translated
        pat.regex_id = info.id
        return info

    def _walk_block(self, block: A.StmtList, scope: list):
        """scope: stack of dicts mapping capref key -> (regex_id, group,
        vtype).  Numbered and named refs share the namespace with keys
        'n:<num>' and 'name:<id>'."""
        for s in block.stmts:
            self._walk_stmt(s, scope)

    def _walk_stmt(self, s, scope):
        if isinstance(s, A.StmtList):
            self._walk_block(s, scope)
        elif isinstance(s, A.CondStmt):
            frame: dict = {}
            scope.append(frame)
            # a bare pattern-const name in condition position is an
            # implicit line match (`PREFIX { ... }`, docs/Language.md)
            if (
                isinstance(s.cond, A.IndexedExpr)
                and not s.cond.index
                and s.cond.lhs.name in self.consts
            ):
                s.cond = A.UnaryExpr(
                    pos=s.cond.pos,
                    op="MATCH",
                    expr=A.PatternLit(
                        pos=s.cond.pos,
                        parts=[A.IdTerm(pos=s.cond.pos, name=s.cond.lhs.name)],
                    ),
                )
            if not isinstance(s.cond, A.OtherwiseCond) and s.cond is not None:
                self._walk_expr(s.cond, scope, cond_position=True)
            if s.truth:
                self._walk_block(s.truth, scope)
            scope.pop()
            if s.els:
                self._walk_block(s.els, scope)
        elif isinstance(s, A.ExprStmt):
            self._walk_expr(s.expr, scope)
        elif isinstance(s, A.DelStmt):
            self.cross_line = True
            self._walk_expr(s.target, scope)
        elif isinstance(s, (A.NextStmt, A.StopStmt)):
            pass
        elif isinstance(s, A.VarDecl):
            pass
        else:
            raise CheckError(f"unexpected statement {type(s).__name__}")

    def _activate(self, info: RegexInfo, scope):
        frame = scope[-1]
        for g in range(0, info.n_groups + 1):
            frame[f"n:{g}"] = (info.id, g, info.group_types.get(g, "String"))
        for nm, g in info.name_to_group.items():
            frame[f"name:{nm}"] = (info.id, g, info.group_types.get(g, "String"))

    def _lookup(self, key, scope):
        for frame in reversed(scope):
            if key in frame:
                return frame[key]
        return None

    def _walk_expr(self, e, scope, cond_position=False):
        if isinstance(e, A.UnaryExpr):
            if e.op == "MATCH" and isinstance(e.expr, A.PatternLit):
                info = self._register_regex(e.expr, subject=None)
                self._activate(info, scope)
            else:
                self._walk_expr(e.expr, scope, cond_position)
        elif isinstance(e, A.BinaryExpr):
            if e.op in ("=~", "!~"):
                self._walk_expr(e.lhs, scope)
                if isinstance(e.rhs, A.PatternLit):
                    info = self._register_regex(e.rhs, subject=e.lhs)
                    self._activate(info, scope)
                elif isinstance(e.rhs, A.IndexedExpr) and not e.rhs.index:
                    # match against a pattern const used as expression
                    nm = e.rhs.lhs.name
                    if nm in self.consts:
                        pat = A.PatternLit(parts=[self.consts[nm]])
                        e.rhs = pat
                        info = self._register_regex(pat, subject=e.lhs)
                        self._activate(info, scope)
                    else:
                        self._walk_expr(e.rhs, scope)
                else:
                    self._walk_expr(e.rhs, scope)
            else:
                self._walk_expr(e.lhs, scope, cond_position)
                self._walk_expr(e.rhs, scope, cond_position)
        elif isinstance(e, A.PatternLit):
            info = self._register_regex(e.pattern and e or e, subject=None)
            self._activate(info, scope)
        elif isinstance(e, A.Capref):
            key = f"name:{e.ref}" if e.named else f"n:{e.ref}"
            hit = self._lookup(key, scope)
            if hit is None:
                raise CheckError(f"capture group reference ${e.ref} not defined")
            e.regex_id, e.group, e.vtype = hit
        elif isinstance(e, A.BuiltinCall):
            if e.name == "getfilename":
                self.uses_getfilename = True
            if e.name == "strptime":
                if len(e.args) != 2 or not isinstance(e.args[1], A.StringLit):
                    raise CheckError("strptime needs (expr, literal layout)")
                # compile-time layout validation
                layout_to_python(e.args[1].value)
            for a in e.args:
                self._walk_expr(a, scope)
        elif isinstance(e, A.IndexedExpr):
            if e.lhs.name in self.consts and not e.index:
                # bare pattern const in condition position: implicit match
                pass
            elif e.lhs.name not in self.metrics:
                raise CheckError(f"undeclared identifier {e.lhs.name}")
            for ix in e.index:
                self._walk_expr(ix, scope)
        elif isinstance(e, (A.IntLit, A.FloatLit, A.StringLit, A.OtherwiseCond)):
            pass
        else:
            raise CheckError(f"unexpected expression {type(e).__name__}")

    # -- metric types

    def _expr_type(self, e) -> str:
        if isinstance(e, A.IntLit):
            return "Int"
        if isinstance(e, A.FloatLit):
            return "Float"
        if isinstance(e, A.StringLit):
            return "String"
        if isinstance(e, A.Capref):
            return e.vtype or "String"
        if isinstance(e, A.BuiltinCall):
            return {
                "len": "Int", "strtol": "Int", "timestamp": "Int",
                "int": "Int", "float": "Float", "string": "String",
                "tolower": "String", "subst": "String",
                "getfilename": "String", "settime": "Int", "bool": "Int",
            }.get(e.name, "String")
        if isinstance(e, A.IndexedExpr):
            mi = self.metrics.get(e.lhs.name)
            return mi.vtype if mi else "String"
        if isinstance(e, A.UnaryExpr):
            return self._expr_type(e.expr)
        if isinstance(e, A.BinaryExpr):
            if e.op in ("<", ">", "<=", ">=", "==", "!=", "&&", "||", "=~", "!~"):
                return "Int"
            lt, rt = self._expr_type(e.lhs), self._expr_type(e.rhs)
            if "Float" in (lt, rt):
                return "Float"
            if lt == "String" or rt == "String":
                # arithmetic on strings falls back to runtime conversion;
                # result numeric (reference vm.go loose coercion)
                return "Int"
            return "Int"
        return "String"

    def _infer_metric_types(self, body):
        # two passes so metric-to-metric assignments stabilize
        for _ in range(2):
            for node in A.walk(body):
                target = None
                val_type = None
                if isinstance(node, A.BinaryExpr) and node.op in ("=", "+="):
                    target = node.lhs
                    val_type = self._expr_type(node.rhs)
                if target is None:
                    continue
                if isinstance(target, A.IndexedExpr):
                    mi = self.metrics.get(target.lhs.name)
                    if mi is None:
                        continue
                    if mi.decl.kind == "text":
                        mi.vtype = "String"
                    elif mi.decl.kind == "histogram":
                        mi.vtype = "Buckets"
                    elif val_type == "Float":
                        mi.vtype = "Float"
                    elif val_type == "String" and mi.vtype != "Float":
                        # mtail would coerce; counters stay numeric
                        if mi.decl.kind in ("gauge", "timer") and False:
                            mi.vtype = "String"
        for mi in self.metrics.values():
            if mi.decl.kind == "text":
                mi.vtype = "String"
            elif mi.decl.kind == "histogram":
                mi.vtype = "Buckets"

    def _detect_cross_line(self, body):
        pass


def check(src: str, name: str = "prog") -> CheckedProgram:
    stmts = parse(src)
    chk = Checker(name)
    prog = chk.run(stmts)
    # cross-line state: a metric read as an rvalue anywhere
    reads = _metric_reads(prog.stmts, chk)
    if reads:
        prog.cross_line_state = True
    return prog


def _metric_reads(body, chk) -> bool:
    """True if any metric value is *read* (rvalue use): condition use,
    RHS of assignment, builtin arg, or index expression."""
    found = []

    def visit_expr(e, is_target=False):
        if isinstance(e, A.IndexedExpr):
            if not is_target and e.lhs.name in chk.metrics:
                found.append(e.lhs.name)
            for ix in e.index:
                visit_expr(ix)
        elif isinstance(e, A.BinaryExpr):
            if e.op in ("=", "+="):
                visit_expr(e.lhs, is_target=True)
                # ... but index exprs of the target are reads of caprefs only
                if isinstance(e.lhs, A.IndexedExpr):
                    for ix in e.lhs.index:
                        visit_expr(ix)
                visit_expr(e.rhs)
            else:
                visit_expr(e.lhs)
                visit_expr(e.rhs)
        elif isinstance(e, A.UnaryExpr):
            if e.op in ("++", "--"):
                visit_expr(e.expr, is_target=True)
                if isinstance(e.expr, A.IndexedExpr):
                    for ix in e.expr.index:
                        visit_expr(ix)
            else:
                visit_expr(e.expr) if not isinstance(e.expr, A.PatternLit) else None
        elif isinstance(e, A.BuiltinCall):
            for a in e.args:
                visit_expr(a)
        elif isinstance(e, A.PatternLit):
            if e.regex_id is not None:
                subj = None
            return

    def visit_stmt(s):
        if isinstance(s, A.StmtList):
            for x in s.stmts:
                visit_stmt(x)
        elif isinstance(s, A.CondStmt):
            if s.cond is not None and not isinstance(s.cond, A.OtherwiseCond):
                visit_expr(s.cond)
            if s.truth:
                visit_stmt(s.truth)
            if s.els:
                visit_stmt(s.els)
        elif isinstance(s, A.ExprStmt):
            visit_expr(s.expr)
        elif isinstance(s, A.DelStmt):
            found.append("del")

    visit_stmt(body)
    return found
