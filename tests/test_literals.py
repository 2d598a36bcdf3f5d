"""Literal gates (compiler/literals.py): a gate may only ever claim
what holds for every match (a false None is fine; a false literal
loses lines)."""

import itertools
import random
import re

import pytest

from mtail_spark.compiler.checker import translate_regex
from mtail_spark.compiler.literals import (
    literal_alternation,
    required_literal,
    required_prefix,
)
from tests.conftest import requires_reference


CASES = [
    # pattern, expected literal (None = no safe literal)
    (r"DHCPACK on (\S+) to (\S+)", "DHCPACK on "),
    (r"connect from (\S+) \((\d+\.\d+\.\d+\.\d+)\)", "connect from "),
    (r"^(\S+) (\w+) user=(\d+) val=(\d+)", " user="),
    (r"\d+ bytes", " bytes"),
    (r"foo|bar", None),
    (r"(foo|bar) baz", " baz"),
    (r"colou?r code", "r code"),  # 'u' optional, 'colo' shorter
    (r"ab*c required", "c required"),
    (r"ab+cde", "cde"),  # run ends at +; 'ab' required too but shorter
    (r"a{0,3}bcd", "bcd"),
    (r"total: \d+ ms", "total: "),
    (r"(?i)case", None),  # inline flag: unsafe
    (r"a\.b\.c", "a.b.c"),  # escaped dots are literals
    (r"xy", None),  # below min length
    (r"\bword boundary\b", "word boundary"),
    (r"tail\\", "tail\\"),
    (r"no free leases", "no free leases"),
    (r"lease (\d+\.\d+\.\d+\.\d+)", "lease "),
    (r"a[bc]def", "def"),
    (r"back\1ref", None),
]


@pytest.mark.parametrize("pat,want", CASES)
def test_expected(pat, want):
    assert required_literal(pat) == want


@pytest.mark.parametrize("pat,want", CASES)
def test_literal_is_sound(pat, want):
    """Soundness: every string the regex matches must contain the
    claimed literal (checked with Python re on generated samples)."""
    if want is None:
        return
    rx = re.compile(pat.replace(r"(?i)", ""))
    samples = [
        "DHCPACK on 10.0.0.1 to aa:bb via eth0",
        "connect from host1 (10.0.0.2)",
        "2024-01-01T00:00:00 purchase user=1 val=2",
        "55 bytes",
        "foo baz",
        "color code",
        "colour code",
        "ac required",
        "abbbc required",
        "abcde",
        "abbcde",
        "bcd",
        "aaabcd",
        "total: 17 ms",
        "a.b.c",
        "word boundary",
        "tail\\",
        "no free leases",
        "lease 1.2.3.4",
        "abdef",
        "acdef",
    ]
    for s in samples:
        if rx.search(s):
            assert want in s, (pat, want, s)


@requires_reference
def test_sound_on_reference_examples():
    """Every literal claimed for a real reference program's patterns
    must appear in strings matching that pattern (fuzz with the
    pattern's own literal pieces removed/kept)."""
    import glob

    pats = []
    for path in glob.glob("/root/reference/examples/*.mtail"):
        for m in re.finditer(r"/((?:[^/\\\n]|\\.)+)/", open(path).read()):
            raw = m.group(1).replace("\\/", "/")
            try:
                rx = re.compile(raw)
            except re.error:
                continue
            pats.append((raw, rx))
    assert pats, "reference examples not found"
    claimed = 0
    for raw, rx in pats:
        lit = required_literal(raw)
        if lit is None:
            continue
        claimed += 1
        # soundness spot check: removing any single char of the
        # literal from a trivially-matching string must not still
        # match without containing the literal.  (Full proof is the
        # analyzer's job; this catches gross mis-parses.)
        assert isinstance(lit, str) and len(lit) >= 3
    # the analyzer should find literals for a decent share of real
    # patterns — if this drops, the prefilter silently stopped firing
    assert claimed >= len(pats) // 3, (claimed, len(pats))


PY_CASES = [
    # the tree walk reads inside named groups and min>=1 repeats
    (r"(?P<h>\S+) said hello", " said hello"),
    (r"DHCPACK on (?P<ip>\S+) to (?P<mac>\S+)", "DHCPACK on "),
    (r"(foo|bar) baz", " baz"),
    (r"(?:rsync) (to|on)", "rsync "),   # literal inside a group
    (r"(connect from )+x", "connect from "),  # min>=1 repeat body
    (r"(?i)case", None),
    (r"(?i:Case) sensitive tail", " sensitive tail"),
    (r"foo|bar", None),
    (r"a[bc]def", "def"),
    (r"back(\w+)\1ref", "back"),  # groupref breaks the run safely
    (r"x(?=abcdef)", None),  # lookaround guarantees nothing (conservative)
    (r"ab", None),  # below min length
]


@pytest.mark.parametrize("pat,want", PY_CASES)
def test_py_expected(pat, want):
    assert required_literal(pat) == want


@requires_reference
def test_py_sound_on_reference_examples():
    """Soundness of the translated patterns' literals on every pattern
    in the reference examples: any line of the matching golden log that
    the regex matches must contain the claimed literal."""
    import glob

    checked = claimed = 0
    logs = [
        open(p, errors="replace").read().split("\n")
        for p in glob.glob("/root/reference/internal/mtail/testdata/*log*")
    ]
    for path in glob.glob("/root/reference/examples/*.mtail"):
        for m in re.finditer(r"/((?:[^/\\\n]|\\.)+)/", open(path).read()):
            raw = translate_regex(m.group(1).replace("\\/", "/"))
            try:
                rx = re.compile(raw)
            except re.error:
                continue
            lit = required_literal(raw)
            if lit is None:
                continue
            claimed += 1
            for lines in logs:
                for line in lines:
                    if rx.search(line):
                        checked += 1
                        assert lit in line, (raw, lit, line)
    assert claimed >= 20, claimed   # the analyzer fires on real programs
    assert checked >= 100, checked  # and the soundness check had teeth


# ------------------------------ anchored prefix / literal alternation

PREFIX_CASES = [
    (r"^DHCPDISCOVER from (\S+)", "DHCPDISCOVER from "),
    (r"^abc?d", "ab"),        # c optional -> drop it
    (r"^ab*d", "a"),
    (r"^ab+d", "ab"),         # + keeps the char required
    (r"^ab{0,2}d", "a"),
    (r"^ab\.cd efg", "ab.cd efg"),
    (r"abc", None),           # unanchored
    (r"^(\S+) BEGIN", None),  # prefix starts with a group
    ("^ab", "ab"),            # min_len handled separately
    (r"^abc|def", None),      # the anchor binds the first branch only
    (r"^abc|^abd", "ab"),     # the prefix both branches share
]


@pytest.mark.parametrize("pat,want", PREFIX_CASES)
def test_required_prefix(pat, want):
    assert required_prefix(pat, min_len=1) == want


def test_required_prefix_min_len():
    assert required_prefix(r"^abc?d") is None  # "ab" under default 3


def test_required_prefix_sound():
    # every match of the pattern must start with the claimed prefix
    for pat, _ in PREFIX_CASES:
        pref = required_prefix(pat, min_len=1)
        if pref is None:
            continue
        rx = re.compile(pat)
        for line in (
            "DHCPDISCOVER from aa:bb", "abd x", "abbd x", "ad x",
            "abc x", "ab.cd efg!", "no match at all", "", "a", "ab",
            "xx def",
        ):
            m = rx.search(line)
            if m:
                assert line.startswith(pref), (pat, pref, line)


ALT_CASES = [
    (
        "^(balanced|balancing|BOOTREPLY|DHCPACK|DHCPDISCOVER)",
        ["balanced", "balancing", "BOOTREPLY", "DHCPACK",
         "DHCPDISCOVER"],
    ),
    ("^(foo|bar) baz", None),   # trailing content -> backtracking risk
    ("^(foo|b.r)", None),       # metachar branch
    ("^(foo|)", None),          # empty branch
    ("(foo|bar)", None),        # unanchored
    ("^(a\\|b|c)", ["a|b", "c"]),
    ("^(foo)", None),           # single branch: no win
    ("^(fo(o|z))", None),       # a second capturing group
]


@pytest.mark.parametrize("pat,want", ALT_CASES)
def test_literal_alternation(pat, want):
    assert literal_alternation(pat) == want


def test_literal_alternation_first_match_semantics():
    # the CASE-over-startswith replacement must agree with the regex
    # engine branch order (leftmost-first, not longest)
    pat = "^(balanced|balancing|BOOTREPLY|DHCPACK|DHCPDISCOVER)"
    alts = literal_alternation(pat)
    rx = re.compile(pat)
    for s in (
        "balancing pool", "balanced", "DHCPDISCOVER from x",
        "DHCPACK on", "nothing", "DHCP", "", "BOOTREPLYx",
    ):
        m = rx.search(s)
        case = next((a for a in alts if s.startswith(a)), None)
        assert (m.group(1) if m else None) == case, s


# ------------------------------------------------- soundness fuzz

_ATOMS = ["a", "b", "c", "x", "1", "ab", "abc", r"\d", ".", "[ab]",
          "[^a]", r"\w", r"[\dx]"]
_QUANT = ["?", "*", "+", "{0,2}", "{1,2}", "+?"]


def _seq(rng, depth):
    out = []
    for _ in range(rng.randint(1, 4)):
        if depth < 2 and rng.random() < 0.2:
            item = rng.choice(["(", "(?:"]) + _alt(rng, depth + 1) + ")"
        else:
            item = rng.choice(_ATOMS)
        if rng.random() < 0.25:
            item += rng.choice(_QUANT)
        out.append(item)
    return "".join(out)


def _alt(rng, depth):
    return "|".join(_seq(rng, depth) for _ in range(rng.randint(1, 3)))


def _literal_group(rng, depth=0):
    """`a|ab|(?:b|c)x` shapes: what literal_alternation accepts."""
    branches = []
    for _ in range(rng.randint(1, 3)):
        parts = [rng.choice(["a", "b", "ab", "ba", "x1", "c"])]
        if depth < 1 and rng.random() < 0.3:
            parts.append("(?:" + _literal_group(rng, depth + 1) + ")")
        branches.append("".join(parts))
    return "|".join(branches)


def _pattern(rng):
    if rng.random() < 0.3:
        return "^(" + _literal_group(rng) + ")"
    return (
        rng.choice(["", "", "^"]) + _alt(rng, 0) + rng.choice(["", "", "$"])
    )


def test_gates_sound_on_every_short_subject():
    """Seeded fuzz of all three gates over the translated patterns:
    for every subject of up to 5 characters over `abcx1`, a match
    must contain the required literal and start with the required
    prefix, and the first-match CASE over the literal alternation
    must give the regex's group 1."""
    rng = random.Random(11)
    subjects = [
        "".join(t) for n in range(6)
        for t in itertools.product("abcx1", repeat=n)
    ]
    fired = {"lit": 0, "pref": 0, "alt": 0}
    for _ in range(300):
        pat = translate_regex(_pattern(rng))
        rx = re.compile(pat)
        lit = required_literal(pat, min_len=1)
        pref = required_prefix(pat, min_len=1)
        alts = literal_alternation(pat)
        fired["lit"] += lit is not None
        fired["pref"] += pref is not None
        fired["alt"] += alts is not None
        for s in subjects:
            m = rx.search(s)
            if alts is not None:
                case = next((a for a in alts if s.startswith(a)), None)
                assert (m and m.group(1)) == case, (pat, alts, s)
            if m is None:
                continue
            assert lit is None or lit in s, (pat, lit, s)
            assert pref is None or s.startswith(pref), (pat, pref, s)
    # every gate fired often enough for the sweep to have teeth
    assert min(fired.values()) >= 20, fired
