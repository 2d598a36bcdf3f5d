"""Compiler-stage tests: lexer/parser/checker over the reference's
example corpus plus targeted unit cases (reference test families:
lexer_test.go, parser_test.go, checker_test.go, types_test.go)."""

import glob

import pytest

from mtail_spark.compiler.checker import CheckError, check, infer_group_type
from mtail_spark.compiler.lexer import Lexer
from mtail_spark.compiler.parser import ParseError, parse
from tests.conftest import requires_reference

EXAMPLES = sorted(glob.glob("/root/reference/examples/*.mtail"))


@requires_reference
@pytest.mark.parametrize(
    "path", EXAMPLES, ids=[p.split("/")[-1] for p in EXAMPLES]
)
def test_all_reference_examples_compile(path):
    prog = check(open(path).read(), path.split("/")[-1])
    assert prog.stmts is not None


def test_lexer_tokens():
    lx = Lexer('counter x\n/re/ { x += $1 * 2 }\ndel m after 24h\n')
    kinds = []
    while True:
        t = lx.next()
        if t.kind == "EOF":
            break
        kinds.append(t.kind)
    assert "KEYWORD" in kinds and "CAPREF" in kinds and "DURATION" in kinds


def test_duration_literal():
    lx = Lexer("1h30m")
    t = lx.next()
    assert t.kind == "DURATION" and t.value == 5400.0


def test_capref_type_inference():
    # reference types.go:556-577 charset rules
    assert infer_group_type(r"(\d+)", 1) == "Int"
    assert infer_group_type(r"(\d{3})", 1) == "Int"
    assert infer_group_type(r"(-?\d+)", 1) == "Int"
    assert infer_group_type(r"(\d+\.\d+)", 1) == "Float"
    assert infer_group_type(r"(-?\d+\.\d+)", 1) == "Float"
    assert infer_group_type(r"([0-9a-f]+)", 1) == "String"
    assert infer_group_type(r"(\S+)", 1) == "String"
    assert infer_group_type(r"(.*)", 1) == "String"
    assert infer_group_type(r"(\w+\s+\d+)", 1) == "String"


def test_decorator_splice_and_const():
    src = """
counter hits
const PAT /h(?P<x>\\d+)/
def wrap {
  /^w/ {
    next
  }
}
@wrap {
  PAT {
    hits++
  }
}
"""
    prog = check(src, "t")
    assert len(prog.regexes) == 2
    assert not prog.cross_line_state


def test_cross_line_detection():
    src = "hidden gauge st\ncounter out\n/a/ {\n  st = 1\n}\n/b/ {\n  out += st\n}\n"
    assert check(src, "t").cross_line_state
    src2 = "counter c\n/a/ {\n  c++\n}\n"
    assert not check(src2, "t").cross_line_state


def test_errors():
    with pytest.raises((CheckError, ParseError)):
        check("/a/ {\n  undeclared_metric++\n}\n", "t")
    with pytest.raises(CheckError):
        check("counter c\n/(?P<x/ {\n  c++\n}\n", "t")  # bad regex
    with pytest.raises(CheckError):
        check("counter c\n/a/ {\n  c += $9\n}\n", "t")  # no such capref


def test_metric_vtype_inference():
    src = (
        "gauge i\ngauge f\ncounter t\n"
        "/(\\d+) (\\d+\\.\\d+)/ {\n  i = $1\n  f = $2\n  t++\n}\n"
    )
    prog = check(src, "t")
    assert prog.metrics["i"].vtype == "Int"
    assert prog.metrics["f"].vtype == "Float"
    assert prog.metrics["t"].vtype == "Int"


def test_parse_expression_shapes():
    # shift/bitwise precedence chain, ** , unary minus, nested index
    src = (
        "counter c by a, b\ngauge g\n"
        "/(?P<s>[0-9a-f]+) (?P<v>\\d+)/ {\n"
        "  g = (strtol($s, 16) >> (16 - 5)) & ((2 ** 5) - 1)\n"
        "  c[$s][$v] += $v * -1\n"
        "}\n"
    )
    prog = check(src, "t")
    assert prog.metrics["c"].decl.keys == ["a", "b"]


def test_compile_limits():
    """Reference cmd/mtail --max_regexp_length / --max_recursion_depth
    compile-time guards (main.go:69-70)."""
    import pytest

    from mtail_spark.compiler.api import compile_program
    from mtail_spark.compiler.checker import CheckError

    long_re = "counter c\n/" + "a" * 2000 + "/ { c++ }\n"
    with pytest.raises(CheckError, match="max_regexp_length"):
        compile_program(long_re, "long.mtail")
    compile_program(long_re, "long_ok.mtail", max_regexp_length=0)
    deep = ("counter c\n" + "/x/ {\n" * 120 + "c++\n" + "}\n" * 120)
    with pytest.raises(CheckError, match="max_recursion_depth"):
        compile_program(deep, "deep.mtail")
    compile_program(deep, "deep_ok.mtail", max_recursion_depth=0)
