"""Formatter / AST-dump parity (reference cmd/mfmt + cmd/mdot).

The contract is re-parsability and idempotence, checked across every
reference example program: format(x) parses, compiles, and formats to
itself; the compiled store of the formatted program equals that of
the original on sample lines."""

import glob
import os

import pytest

from mtail_spark.compiler.api import compile_program
from mtail_spark.compiler.unparse import dot_source, format_source
from tests.conftest import requires_reference

EX = "/root/reference/examples"
EXAMPLES = sorted(glob.glob(f"{EX}/*.mtail"))


@requires_reference
@pytest.mark.parametrize(
    "path", EXAMPLES, ids=[os.path.basename(p) for p in EXAMPLES]
)
def test_format_roundtrip(path):
    src = open(path).read()
    name = os.path.basename(path)
    once = format_source(src)
    if os.path.basename(path) != "nocode.mtail":  # comments-only file
        assert once.strip(), name
    # idempotent: formatting already-formatted text is a fixpoint
    assert format_source(once) == once, name
    # semantics-preserving: same store on the same lines
    orig = compile_program(src, name)
    fmt = compile_program(once, name)
    lines = [
        "nothing to see here",
        "2006/01/02 15:04:05 [1234] connect from host (10.0.0.1)",
        "Apr  7 13:43:00 host1 daemon[42]: some message 123",
    ]
    assert fmt.run_local(lines) == orig.run_local(lines), name


@requires_reference
@pytest.mark.parametrize(
    "path", EXAMPLES[:4], ids=[os.path.basename(p) for p in EXAMPLES[:4]]
)
def test_dot_output(path):
    dot = dot_source(open(path).read(), os.path.basename(path))
    assert dot.startswith("digraph")
    assert dot.rstrip().endswith("}")
    assert "->" in dot and "StmtList" in dot


def test_duration_rendering():
    from mtail_spark.compiler.unparse import _dur

    assert _dur(3600) == "1h0m0s"
    assert _dur(90) == "1m30s"
    assert _dur(30) == "30s"
    assert _dur(0.3) == "300ms"
    assert _dur(86400) == "24h0m0s"


def test_format_preserves_hidden_as_limit_buckets():
    src = (
        'hidden gauge g by k\n'
        'counter c as "c-total" limit 5\n'
        'histogram h by t buckets 1, 2.5, 10\n'
    )
    out = format_source(src)
    assert "hidden gauge g by k" in out
    assert 'counter c as "c-total" limit 5' in out
    assert "histogram h by t buckets 1, 2.5, 10" in out
