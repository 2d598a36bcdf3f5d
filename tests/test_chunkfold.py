"""Chunk-parallel speculative fold backend (compiler/chunkfold.py):
fold-equivalence by construction, checked empirically — every test
compares the chunkfold store (values AND datum timestamps) against
the sequential fold over the same lines, with CHUNK_LINES shrunk so
small inputs still exercise many chunk boundaries, deferral, salvage
and the replay."""

import os

import pytest

from mtail_spark.compiler import chunkfold as CF
from mtail_spark.compiler.api import compile_program
from mtail_spark.sources.logs import read_log_lines
from mtail_spark.store import rows_from_df
from tests.conftest import requires_reference

EX = "/root/reference/examples"
TD = "/root/reference/internal/mtail/testdata"


def _store_map(df):
    return {
        (r.name, r.labels): (r.value, r.ts) for r in rows_from_df(df)
    }


def _run(spark, prog, df, backend):
    out = prog.run_batch(spark, df, backend=backend, cache_plan=False)
    m = _store_map(out)
    cache = getattr(out, "_chunkfold_cache", None)
    if cache is not None:
        cache.unpersist()
    return m


def _assert_equal(spark, prog, df, monkeypatch, chunk_lines=97):
    monkeypatch.setattr(CF, "CHUNK_LINES", chunk_lines)
    a = _run(spark, prog, df, "fold")
    b = _run(spark, prog, df, "chunkfold")
    diff = {k: (a.get(k), b.get(k)) for k in a.keys() | b.keys()
            if a.get(k) != b.get(k)}
    assert not diff, f"chunkfold != fold: {dict(list(diff.items())[:5])}"
    return a


# -------------------------------------------------------------- gate


@requires_reference
def test_gate_classification():
    from mtail_spark.compiler.chunkfold import chunkfold_unsupported_reason

    mysql = compile_program(
        open(f"{EX}/mysql_slowqueries.mtail").read(), "mysql.mtail"
    )
    assert mysql.chunkfoldable
    rsyncd = compile_program(
        open(f"{EX}/rsyncd.mtail").read(), "rsyncd.mtail"
    )
    # dimensioned registers (connection_time[pid]) are in-class:
    # per-entry Known tracking, register-level taint
    assert rsyncd.chunkfoldable
    hidden_hist = compile_program(
        "hidden histogram hh buckets 1, 2\ncounter c\n/x/ { hh = 1\nc++ }\n",
        "hh.mtail",
    )
    assert not hidden_hist.chunkfoldable
    reads_exported = compile_program(
        "counter a\ncounter b\n// { a++ }\na > 10 { b++ }\n", "re.mtail"
    )
    assert not reads_exported.chunkfoldable
    assert "exported" in chunkfold_unsupported_reason(
        reads_exported.checked
    )
    gauge_rmw = compile_program(
        "gauge g\n/x/ { g += 1 }\n", "grmw.mtail"
    )
    assert not gauge_rmw.chunkfoldable


# ----------------------------------------------------- mysql (the class)


@requires_reference
def test_mysql_chunkfold_matches_fold(spark, tmp_path, monkeypatch):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bmb",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "bench_mysql_backends.py",
        ),
    )
    bmb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bmb)
    p = tmp_path / "mysql.log"
    bmb.render_log(str(p), 1500)
    prog = compile_program(
        open(f"{EX}/mysql_slowqueries.mtail").read(),
        "mysql_slowqueries.mtail",
    )
    df = read_log_lines(spark, str(p))
    _assert_equal(spark, prog, df, monkeypatch)


@requires_reference
def test_mysql_zero_exchange_mode(spark, tmp_path, monkeypatch):
    """Splittable read + tiny split sizing drives the zero-exchange
    path (scan splits as chunks, contiguity audited)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bmb2",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "bench_mysql_backends.py",
        ),
    )
    bmb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bmb)
    p = tmp_path / "mysql.log"
    bmb.render_log(str(p), 1500)
    prog = compile_program(
        open(f"{EX}/mysql_slowqueries.mtail").read(),
        "mysql_slowqueries.mtail",
    )
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 10))
        fold = _run(
            spark, prog, read_log_lines(spark, str(p)), "fold"
        )
        ck = _run(
            spark, prog,
            read_log_lines(spark, str(p), exact_order=False),
            "chunkfold",
        )
        assert fold == ck
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)


# ---------------------------------------- kinds, registers, edge shapes


REG_KINDS_PROG = """
hidden text mode
hidden gauge acc
gauge last_val by mode
counter hits by mode
histogram sizes buckets 2, 8, 32
text last_mode

/^mode (?P<m>\\w+)/ {
  mode = $m
}
/^val (?P<v>\\d+) ts (?P<t>\\d+)/ {
  settime($t)
  acc = $v
  last_val[mode] = $v
  hits[mode]++
  sizes = $v
  last_mode = mode
}
mode == "reset" {
  del acc
  mode = "idle"
}
"""


def _render_kinds_log(path, n):
    import random

    rng = random.Random(7)
    with open(path, "w") as f:
        for i in range(n):
            if i % 11 == 0:
                f.write(f"mode m{rng.randrange(4)}\n")
            if i % 97 == 42:
                f.write("mode reset\n")
            # NON-monotonic timestamps: last write must win by LINE
            # order, not by ts
            f.write(f"val {rng.randrange(64)} ts {rng.randrange(1000)}\n")


def test_all_kinds_and_registers(spark, tmp_path, monkeypatch):
    """Gauge/timer/text LWW, histograms, dimensioned counters with
    register-derived labels, del of a register, and non-monotonic
    settime — across many chunk boundaries."""
    p = tmp_path / "kinds.log"
    _render_kinds_log(str(p), 3000)
    prog = compile_program(REG_KINDS_PROG, "kinds.mtail")
    assert prog.chunkfoldable
    df = read_log_lines(spark, str(p))
    _assert_equal(spark, prog, df, monkeypatch, chunk_lines=61)


def test_multi_file_merge(spark, tmp_path, monkeypatch):
    d = tmp_path / "logs"
    d.mkdir()
    _render_kinds_log(str(d / "a.log"), 700)
    _render_kinds_log(str(d / "b.log"), 900)
    prog = compile_program(REG_KINDS_PROG, "kinds.mtail")
    df = read_log_lines(spark, str(d))
    _assert_equal(spark, prog, df, monkeypatch, chunk_lines=131)


def test_audit_falls_back_on_disorder(spark, tmp_path, monkeypatch):
    """A parquet-backed log_lines relation whose row order doesn't
    follow line_no must be caught by the zero-exchange contiguity
    audit and re-run through the exchange path — same result, never
    silent corruption."""
    import pandas as pd

    p = tmp_path / "kinds.log"
    _render_kinds_log(str(p), 1200)
    lines = open(p).read().splitlines()
    import random

    order = list(range(len(lines)))
    random.Random(3).shuffle(order)
    pdf = pd.DataFrame(
        {
            "filename": "scrambled",
            "line_no": order,
            "line": [lines[i] for i in order],
        }
    )
    pq = str(tmp_path / "scrambled.parquet")
    pdf.to_parquet(pq)
    orig = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prog = compile_program(REG_KINDS_PROG, "kinds.mtail")
    monkeypatch.setattr(CF, "CHUNK_LINES", 73)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 10))
        df = spark.read.parquet(pq).select("filename", "line_no", "line")
        a = _run(spark, prog, df, "fold")
        b = _run(spark, prog, df, "chunkfold")
        assert a == b
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig)


def test_txn_demo_through_chunkfold(spark, monkeypatch):
    """The oracle-checked txn demo program (scalar text/gauge
    registers, self-cycle, register-read metric label) must produce
    the identical store through chunkfold and the vectorized plan —
    chunkfold is the backend the sf1 bench routes it through.  The
    stores agree row for row, labels included: the unlabelled
    metrics (commits_total, skipped_commits) carry an empty map
    everywhere, never NULL."""
    from mtail_spark.plans.demo_programs import (
        TXN_PROG,
        render_txn_lines,
    )

    prog = compile_program(TXN_PROG, "demo_txn.mtail")
    assert prog.chunkfoldable
    df = render_txn_lines(spark, "/root/testdata/sf0.001")
    monkeypatch.setattr(CF, "CHUNK_LINES", 211)
    stores = {}
    for backend in ("fold", "chunkfold", "vector"):
        out = prog.run_batch(spark, df, backend=backend, cache_plan=False)
        rows = out.collect()
        cache = getattr(out, "_chunkfold_cache", None)
        if cache is not None:
            cache.unpersist()
        assert all(r["labels"] is not None for r in rows), backend
        stores[backend] = {
            (r["name"], tuple(sorted(r["labels"].items()))): r
            for r in rows
        }
    assert stores["fold"] == stores["chunkfold"] == stores["vector"]
    assert stores["vector"][("commits_total", ())]["labels"] == {}


# ----------------------------------------------------- golden parity


@requires_reference
@pytest.mark.parametrize(
    "progf,logf,goldf",
    [
        ("mysql_slowqueries.mtail", "mysql_slowqueries.log",
         "mysql_slowqueries.golden"),
        ("sftp.mtail", "sftp_chroot.log", "sftp_chroot.golden"),
        ("ntpd.mtail", "ntp4", "ntp4.golden"),
        ("apache_combined.mtail", "apache-combined.log",
         "apache-combined.golden"),
        # dimensioned registers (per-key session state)
        ("vsftpd.mtail", "vsftpd_log", "vsftpd_log.golden"),
        ("vsftpd.mtail", "vsftpd_xferlog", "vsftpd_xferlog.golden"),
        ("rsyncd.mtail", "rsyncd.log", "rsyncd.golden"),
    ],
)
def test_golden_chunkfold(spark, monkeypatch, progf, logf, goldf):
    """Reference golden triples through the chunkfold backend (those
    whose programs are in the chunkfold class)."""
    from mtail_spark.golden import read_golden
    from mtail_spark.store import diff_stores

    prog = compile_program(open(f"{EX}/{progf}").read(), progf)
    if not prog.chunkfoldable:
        pytest.skip(f"not in chunkfold class: {prog._chunkfold_reason}")
    monkeypatch.setattr(CF, "CHUNK_LINES", 89)
    df = read_log_lines(spark, f"{TD}/{logf}")
    out = prog.run_batch(spark, df, backend="chunkfold", cache_plan=False)
    rows = rows_from_df(out)
    cache = getattr(out, "_chunkfold_cache", None)
    if cache is not None:
        cache.unpersist()
    expected = read_golden(f"{TD}/{goldf}", progf)
    d = diff_stores(expected, rows)
    assert d.ok, d.render()
