"""srcgen backend (compiler/srcgen.py): the exec()-compiled
single-function program must be observationally identical to the
closure-tree interpreter — same stores, same error-kills-line
behavior, same site ids — on examples, goldens, edge programs, and
fuzzed inputs."""

import glob
import os
import random

import pytest
from hypothesis import given, settings, strategies as st

from mtail_spark.compiler.checker import check
from mtail_spark.compiler.interp import Interp
from tests.conftest import requires_reference

TD = "/root/reference/internal/mtail/testdata"
EX = "/root/reference/examples"


def _two_interps(src, name, use_year=False, tz=None):
    prog = check(src, name)
    os.environ["MTAIL_SPARK_INTERP"] = "closures"
    try:
        closures = Interp(prog, use_year, tz=tz)
    finally:
        del os.environ["MTAIL_SPARK_INTERP"]
    gen = Interp(prog, use_year, tz=tz)
    assert gen.program is not gen.closure_program, "srcgen declined"
    assert gen.chunk_program is not None
    return closures, gen


def _rows(it, lines, filename="f"):
    return sorted(
        map(repr, it.run_lines(list(enumerate(lines)),
                               filename=filename))
    )


def test_all_examples_generate():
    for path in sorted(glob.glob(f"{EX}/*.mtail")):
        prog = check(open(path).read(), os.path.basename(path))
        it = Interp(prog, False)
        assert it.program is not it.closure_program, path
        assert it.chunk_program is not None, path
        assert "__mtail_src__" in vars(it.program)


GOLDEN = [
    ("rsyncd.mtail", "rsyncd.log"),
    ("sftp.mtail", "sftp_chroot.log"),
    ("ntpd.mtail", "ntp4"),
    ("ntpd_peerstats.mtail", "xntp3_peerstats"),
    ("apache_combined.mtail", "apache-combined.log"),
    ("apache_common.mtail", "apache-common.log"),
    ("vsftpd.mtail", "vsftpd_log"),
    ("lighttpd.mtail", "lighttpd_access.log"),
    ("mysql_slowqueries.mtail", "mysql_slowqueries.log"),
]


@requires_reference
@pytest.mark.parametrize("progf,logf", GOLDEN,
                         ids=[f"{p}-{l}" for p, l in GOLDEN])
def test_srcgen_equals_closures_on_goldens(progf, logf):
    src = open(f"{EX}/{progf}").read()
    closures, gen = _two_interps(src, progf)
    lines = open(f"{TD}/{logf}", errors="replace").read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    assert _rows(closures, lines) == _rows(gen, lines)


def test_site_ids_match_closure_allocation():
    """rt.fired must carry the SAME sids from both backends — the
    chunkfold salvage correctness hinges on it."""
    src = """
hidden gauge acc
hidden text who by u
counter out by u

/^u (?P<u>[a-z]+) (?P<n>\\d+)/ {
  who[$u] = $u
  acc = $n
  out[$u] += acc
  del who[$u]
}
"""
    closures, gen = _two_interps(src, "sites.mtail")
    line = "u ab 7"

    def fired(it):
        rt = it.new_runtime()
        rt.line, rt.line_no, rt.matches, rt.ts_us = line, 0, {}, None
        it.program(rt)
        return list(rt.fired)

    a, b = fired(closures), fired(gen)
    assert a == b and len(a) == 3  # who= , acc= , del who


EDGE_PROG = """
counter errs
counter lines_total
counter divs
gauge ratio
text last
counter stopped
counter other

/^stopline/ {
  stopped++
  stop
}

/^n (?P<a>\\d+) (?P<b>\\d+)/ {
  divs++
  ratio = $a / $b
}

/^f (?P<x>\\d+\\.\\d+)/ {
  ratio = $x / 0.0
}

/^s (?P<w>[a-z]*)/ {
  $w == "" {
    errs++
  } else {
    last = subst("x", "y", $w)
  }
  otherwise {
    other++
  }
}

/^badcap (?P<v>\\d*)/ {
  ratio = strtol($v, 16)
}

lines_total++
"""

edge_line_st = st.one_of(
    st.just("stopline"),
    st.from_regex(r"n [0-9]{1,3} [0-9]{1,2}", fullmatch=True),
    st.just("n 5 0"),          # int div-by-zero -> LineError kills line
    st.from_regex(r"f [0-9]\.[0-9]", fullmatch=True),  # float/0 -> inf
    st.from_regex(r"s [a-z]{0,4}", fullmatch=True),
    st.just("s "),
    st.just("badcap "),        # strtol('') -> LineError
    st.from_regex(r"badcap [0-9a-f]{1,4}", fullmatch=True),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=30,
    ),
)

_edge = _two_interps(EDGE_PROG, "edge.mtail")


@settings(max_examples=30, deadline=None)
@given(st.lists(edge_line_st, min_size=0, max_size=40))
def test_srcgen_edge_semantics_fuzz(lines):
    closures, gen = _edge
    assert _rows(closures, lines) == _rows(gen, lines)


def test_run_chunk_equals_run_line():
    """feed's generated whole-chunk loop must fold identically to
    driving run_line one line at a time (the chunkfold contract)."""
    _, gen = _two_interps(EDGE_PROG, "edge.mtail")
    lines = ["n 4 2", "garbage", "s abc", "stopline", "n 5 0",
             "f 1.5", "badcap ff", "s "]
    rt1 = gen.new_runtime()
    gen.feed(rt1, list(enumerate(lines)))  # run_chunk path
    rt2 = gen.new_runtime()
    from mtail_spark.compiler.interp import LineError, StopLine

    for i, ln in enumerate(lines):  # manual per-line run_line drive
        rt2.line_no, rt2.line = i, ln
        rt2.matches, rt2.ts_us = {}, None
        rt2.fired.clear()
        try:
            gen.program(rt2)
        except (StopLine, LineError):
            pass
    assert sorted(map(repr, rt1.store.export_rows("p"))) == \
        sorted(map(repr, rt2.store.export_rows("p")))


def test_fast_variants_generated_and_selected():
    """The store-inlined fast variants exist, differ from the virtual
    ones, drop rt.fired bookkeeping, and feed() selects them for an
    exact-Store runtime with identical results."""
    _, gen = _two_interps(EDGE_PROG, "edge.mtail")
    assert gen.fast_program is not None
    assert gen.fast_chunk_program is not None
    fsrc = gen.fast_chunk_program.__mtail_src__
    assert "_data[" in fsrc            # hoisted datum dicts
    assert "fired" not in fsrc         # no chunkfold scratch
    lines = ["n 4 2", "garbage", "s abc", "stopline", "n 5 0",
             "f 1.5", "badcap ff", "s "]
    rt_fast = gen.new_runtime()
    gen.feed(rt_fast, list(enumerate(lines)))
    saved = gen.fast_chunk_program, gen.fast_program
    gen.fast_chunk_program = gen.fast_program = None
    try:
        rt_virt = gen.new_runtime()
        gen.feed(rt_virt, list(enumerate(lines)))
    finally:
        gen.fast_chunk_program, gen.fast_program = saved
    assert rt_fast.store.data == rt_virt.store.data


def test_fast_keeps_matches_dict_for_subst():
    """subst()'s contained closure reads rt.matches for caprefs, so a
    program using subst must keep the dict maintained in fast mode —
    and still fold identically to the closures."""
    src = (
        'counter c by k\n'
        '/v=(\\d+)/ {\n'
        '  c[subst("0", "Z", $1)]++\n'
        '}\n'
    )
    closures, gen = _two_interps(src, "subst.mtail")
    assert "matches[" in gen.fast_chunk_program.__mtail_src__
    lines = ["v=10", "v=7", "nothing", "v=100"]
    assert _rows(closures, lines) == _rows(gen, lines)


def test_fast_create_on_read_zero_init():
    """A fast-mode register/metric READ of a never-written label must
    create the zero-init datum exactly like Store.get."""
    src = (
        'counter total\n'
        'hidden gauge reg\n'
        '/x/ { total = total + 1\n'
        '  reg = reg + 2\n'
        '}\n'
    )
    closures, gen = _two_interps(src, "cor.mtail")
    lines = ["x", "y", "x x"]
    assert _rows(closures, lines) == _rows(gen, lines)


def test_srcgen_equals_closures_on_mgen_programs():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import mgen

    rng = random.Random(1234)
    line_rng = random.Random(99)
    for _ in range(25):
        src = mgen.valid(rng)
        lines = [
            f"{''.join(line_rng.choice('abc') for _ in range(2))} "
            f"{line_rng.randint(0, 120)}"
            for _ in range(60)
        ] + ["not matching", ""]
        closures, gen = _two_interps(src, "gen.mtail")
        assert _rows(closures, lines) == _rows(gen, lines), src
