"""Every backend matches as Go's RE2 does.

mtail matches with RE2, whose \\d \\w \\s and \\b are ASCII, whose `$`
is the end of the text and whose `.` is any character but \\n.  Left
to themselves, java.util.regex (the vectorized backend and the fold
prefilter) and Python `re` (fold, chunkfold, run_local) each differ
from RE2 somewhere on these lines.  Each row's expected lines are
written by hand from RE2's definitions, not taken from any backend.
"""

import pytest

from mtail_spark.compiler import chunkfold as CF
from mtail_spark.compiler.api import compile_program
from mtail_spark.store import rows_from_df

# (case, RE2 pattern, the LINES it matches under RE2)
ROWS = [
    # \d is [0-9]: Arabic-Indic digits are not digits
    ("digits", r"^(\d+) x$", {"34 x"}),
    ("digits_class", r"^([\d]+) x$", {"34 x"}),
    # \s is [\t\n\f\r ]: \r is in it, NBSP and \x0B are not
    ("space", r"^a\sb$", {"a b", "a\rb"}),
    ("space_class", r"^a[\s]b$", {"a b", "a\rb"}),
    # \w is [0-9A-Za-z_]
    ("word", r"^\w+!$", {"ab!"}),
    ("not_nonword", r"^[^\W]+!$", {"ab!"}),
    # $ is the end of the text only: not before a final \r, \u0085
    # or \u2028 (Java) or \n (Python)
    ("end", r"^a$", {"a"}),
    # . is any character but \n (Java's also rejects \r and \u0085)
    ("dot", r"^a.b$", {"a b", "a\u00a0b", "a\x0bb", "a\rb", "a\u0085b"}),
    # \b is an ASCII word boundary: one lies between t and é, none
    # between a space and é
    ("boundary", r"\bé", {"été!"}),
]

LINES = [
    "34 x", "\u0663\u0664 x", "a b", "a\u00a0b", "a\x0bb", "ab!",
    "été!", "a", "a\r", "a\u0085", "a\u2028", "a\rb", "a\u0085b",
    " é",
]

SRC = "counter hits by case\n" + "".join(
    f'/{pat}/ {{\n  hits["{case}"]++\n}}\n' for case, pat, _m in ROWS
)

EXPECTED = {
    case: sum(line in matched for line in LINES)
    for case, _p, matched in ROWS
}


@pytest.mark.parametrize("interp", ["srcgen", "closures"])
@pytest.mark.parametrize("backend",
                         ["vector", "fold", "chunkfold", "run_local"])
def test_backends_match_as_re2(spark, monkeypatch, backend, interp):
    if interp == "closures":
        # the driver's interpreter and the executors' folds alike
        monkeypatch.setenv("MTAIL_SPARK_INTERP", "closures")
        monkeypatch.setitem(
            spark.sparkContext.environment, "MTAIL_SPARK_INTERP",
            "closures",
        )
    prog = compile_program(SRC, f"dialect_{interp}.mtail")
    if backend == "run_local":
        rows = prog.run_local(LINES, filename="dialect.log")
    else:
        assert prog.vectorizable and prog.chunkfoldable
        monkeypatch.setattr(CF, "CHUNK_LINES", 4)
        df = spark.createDataFrame(
            [("dialect.log", i, ln) for i, ln in enumerate(LINES)],
            "filename string, line_no long, line string",
        )
        out = prog.run_batch(spark, df, backend=backend, cache_plan=False)
        rows = rows_from_df(out)
        cache = getattr(out, "_chunkfold_cache", None)
        if cache is not None:
            cache.unpersist()
    assert {dict(r.labels)["case"]: r.value for r in rows} == EXPECTED
