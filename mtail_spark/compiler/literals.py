"""Literal gates for regex sites, derived from the pattern's parse tree.

A pattern like `DHCPACK on (\\S+) to (\\S+)` can only match lines that
contain "DHCPACK on ", so a substring test (a vectorized `instr` on
the JVM, `in` in the interpreters) can skip the regex engine on every
other line.  At 27 sites per program (dhcpd) most lines match at most
one site, so most regex executions are skipped.  This is the
literal-factoring trick of RE2's prefix analysis and Hyperscan's
literal decomposition.

Every pattern reaches the backends in the one dialect that
`checker.translate_regex` writes, which java.util.regex and Python
`re` read alike.  So one analysis serves all of them: Python's own
parser turns that text into a tree, and each gate below reads the
tree.  Syntax is never guessed, and the parser's own rewrites
(common branch prefixes factored out, single-char branches merged
into a set) are sound to read through.

Each gate claims only what holds for every match and returns None
otherwise.  A gate that claims too little skips an optimisation; one
that claims too much drops lines.  Case-insensitive patterns get no
gate.
"""

from __future__ import annotations

import re

try:
    import re._parser as _sre
except ImportError:  # pragma: no cover - Python < 3.11
    import sre_parse as _sre

_REPEATS = {_sre.MAX_REPEAT, _sre.MIN_REPEAT}
# literal_alternation's CASE gets one WHEN per word; past this many
# the regex is left to the engine
_MAX_WORDS = 256
if hasattr(_sre, "POSSESSIVE_REPEAT"):
    _REPEATS.add(_sre.POSSESSIVE_REPEAT)


def _parse(pattern: str):
    try:
        tree = _sre.parse(pattern)
    except re.error:
        return None
    if tree.state.flags & re.IGNORECASE:
        return None
    return tree


def _plain(av) -> bool:
    """A SUBPATTERN whose literals match only themselves."""
    return not av[1] & re.IGNORECASE


def required_literal(pattern: str, min_len: int = 3) -> str | None:
    """Longest literal substring of at least `min_len` characters that
    appears in every match of `pattern`, or None.

    Literal runs are read inside groups and inside repeats that occur
    at least once; alternations, classes, optional repeats and
    assertions end a run and contribute nothing."""
    tree = _parse(pattern)
    if tree is None:
        return None
    runs: list[str] = []

    def walk(seq) -> None:
        cur: list[str] = []
        for op, av in seq:
            if op is _sre.LITERAL:
                cur.append(chr(av))
                continue
            runs.append("".join(cur))
            cur = []
            if op is _sre.SUBPATTERN and _plain(av):
                walk(av[3])
            elif op in _REPEATS and av[0] >= 1:
                walk(av[2])
        runs.append("".join(cur))

    walk(tree)
    best = max(runs, key=len)
    return best if len(best) >= min_len else None


def required_prefix(pattern: str, min_len: int = 3) -> str | None:
    """Literal every match of a `^`-anchored pattern starts with, or
    None.  A stronger reject gate than `required_literal`:
    `startswith(subj, pref)` is one bounded memcmp where `instr`
    scans the whole subject.  A top-level alternation is one BRANCH
    node (after the parser factors out any prefix its branches
    share), so it ends the prefix like any other non-literal."""
    tree = _parse(pattern)
    if (
        tree is None
        or tree.state.flags & re.MULTILINE
        or not len(tree)
        or tree[0] != (_sre.AT, _sre.AT_BEGINNING)
    ):
        return None
    out: list[str] = []

    def walk(seq) -> bool:
        """Append seq's guaranteed prefix; True iff seq is all of it."""
        for op, av in seq:
            if op is _sre.LITERAL:
                out.append(chr(av))
            elif op is _sre.SUBPATTERN and _plain(av):
                if not walk(av[3]):
                    return False
            else:
                if op in _REPEATS and av[0] >= 1:
                    walk(av[2])
                return False
        return True

    walk(tree[1:])
    p = "".join(out)
    return p if len(p) >= min_len else None


def literal_alternation(pattern: str) -> list[str] | None:
    """The strings a pattern of the form `^( ... )` can match, in the
    order a backtracking engine tries them, when the group is its only
    capturing group and holds a finite language of non-empty literals
    (`^(balanced|balancing|DHCPACK|...)`, the dhcpd request-command
    shape); else None.

    For such a pattern the whole regex engine can be replaced by a
    first-match CASE over `startswith`: alternation is leftmost-first,
    so the first listed string that prefixes the subject is the full
    match and group 1.  Nothing may follow the group, or backtracking
    could go on to later strings."""
    tree = _parse(pattern)
    if (
        tree is None
        or tree.state.flags & re.MULTILINE
        or tree.state.groups != 2
        or len(tree) != 2
        or tree[0] != (_sre.AT, _sre.AT_BEGINNING)
        or tree[1][0] is not _sre.SUBPATTERN
        or not _plain(tree[1][1])
    ):
        return None

    def language(seq) -> list[str] | None:
        words = [""]
        for op, av in seq:
            if op is _sre.LITERAL:
                alts = [chr(av)]
            elif op is _sre.IN and all(o is _sre.LITERAL for o, _ in av):
                alts = [chr(v) for _, v in av]
            elif op is _sre.BRANCH:
                alts = []
                for branch in av[1]:
                    sub = language(branch)
                    if sub is None:
                        return None
                    alts += sub
            elif op is _sre.SUBPATTERN and av[0] is None and _plain(av):
                alts = language(av[3])
                if alts is None:
                    return None
            else:
                return None
            words = [w + a for w in words for a in alts]
            if len(words) > _MAX_WORDS:
                return None
        return words

    words = language(tree[1][1][3])
    if words is None or len(words) < 2 or "" in words:
        return None
    return words
