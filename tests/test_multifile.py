"""Multi-file batch semantics: the fold backend runs per file and the
partial stores merge deterministically (counters add across files —
the reference's single store accumulates across all tailed logs)."""

from pyspark.sql import functions as F

from mtail_spark.compiler.api import compile_program
from mtail_spark.sources.logs import read_log_lines
from mtail_spark.store import rows_from_df
from tests.conftest import requires_reference

TD = "/root/reference/internal/mtail/testdata"
EX = "/root/reference/examples"


@requires_reference
def test_vsftpd_two_logs_merge(spark, tmp_path):
    src = open(f"{EX}/vsftpd.mtail").read()
    prog = compile_program(src, "vsftpd.mtail")
    # vsftpd now vectorizes (register windows); run_batch below
    # exercises the default vector path, and a second run pins the
    # fold + merge path — both must match the per-file run_local sums

    singles = {}
    for logf in ("vsftpd_log", "vsftpd_xferlog"):
        lines = open(f"{TD}/{logf}", errors="replace").read().split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        singles[logf] = {
            (r.name, r.labels): r
            for r in prog.run_local(lines, filename=f"{TD}/{logf}")
        }

    # both files in one glob -> one merged store
    import shutil

    d = tmp_path / "logs"
    d.mkdir()
    shutil.copy(f"{TD}/vsftpd_log", d / "vsftpd_log")
    shutil.copy(f"{TD}/vsftpd_xferlog", d / "vsftpd_xferlog")
    for backend in ("vector", "fold"):
        merged_df = prog.run_batch(
            spark, read_log_lines(spark, str(d)), backend=backend
        )
        merged = {(r.name, r.labels): r for r in rows_from_df(merged_df)}

        checked = 0
        for key in set(singles["vsftpd_log"]) | set(singles["vsftpd_xferlog"]):
            a = singles["vsftpd_log"].get(key)
            b = singles["vsftpd_xferlog"].get(key)
            if (a and a.kind == "counter") or (b and b.kind == "counter"):
                want = (a.value if a else 0) + (b.value if b else 0)
                assert merged[key].value == want, (
                    backend, key, want, merged[key],
                )
                checked += 1
        assert checked >= 10


def test_vectorized_multifile(spark, tmp_path):
    """The vectorized backend is file-agnostic: counters aggregate over
    the union of lines regardless of file layout."""
    (tmp_path / "a.log").write_text("x 1\nx 2\n")
    (tmp_path / "b.log").write_text("x 3\n")
    prog = compile_program(
        "counter n\ncounter total\n/x (?P<v>\\d+)/ {\n  n++\n  total += $v\n}\n",
        "t.mtail",
    )
    df = prog.run_batch(spark, read_log_lines(spark, str(tmp_path)))
    vals = {r["name"]: r["value_i"] for r in df.collect()}
    assert vals["n"] == 3 and vals["total"] == 6


def test_auto_route_by_file_size(spark, tmp_path, monkeypatch):
    """A file over WHOLETEXT_MAX_BYTES must auto-route to the
    splittable reader, and the resulting STORE must be identical to
    the wholetext path's on the same input."""
    import mtail_spark.sources.logs as logs
    from mtail_spark.compiler.api import compile_program

    # multi-MB fixture: interleaved matching/non-matching lines
    p = tmp_path / "big.log"
    with open(p, "w") as f:
        for i in range(120_000):
            f.write(f"ev type{i % 5} val={i % 997}\n")
            if i % 3 == 0:
                f.write("noise line\n")
    assert p.stat().st_size > 1 << 20

    prog = compile_program(
        """
counter vals by t
gauge last by t
/^ev (?P<t>\\S+) val=(?P<v>\\d+)/ {
  vals[$t] += $v
  last[$t] = $v
}
""",
        "route.mtail",
    )

    def store(df):
        return sorted(
            (r["name"], str(r["labels"]), r["value_i"])
            for r in prog.run_batch(spark, df).collect()
        )

    whole = store(logs.read_log_lines(spark, str(p), exact_order=True))

    # drop the threshold under the fixture size: auto must take the
    # splittable path (observable via the plan: no wholetext -> the
    # scan relation has no single-row wholetext option; check via the
    # line_no domain instead — mono ids exceed the line count)
    monkeypatch.setattr(logs, "WHOLETEXT_MAX_BYTES", 1 << 20)
    auto_df = logs.read_log_lines(spark, str(p))
    split = store(auto_df)
    assert split == whole and len(split) == 10
    # the threshold logic itself: over -> splittable, under -> wholetext
    assert logs._any_huge_file(str(p), 1 << 20)
    assert not logs._any_huge_file(str(p), 256 << 20)
    # and the auto plan really is the splittable one (mono-id
    # ordering instead of the wholetext posexplode)
    plan = auto_df._jdf.queryExecution().analyzed().toString().lower()
    assert "monotonically" in plan and "posexplode" not in plan
