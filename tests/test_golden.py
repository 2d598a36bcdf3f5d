"""End-to-end golden tests: reference example programs over their
captured logs, through BOTH engine backends, diffed against the
reference's golden metric stores
(reference internal/mtail/examples_integration_test.go:26-126).

The dhcpd triple is excluded: its log file is absent from the
reference checkout.
"""

import os

import pytest

from mtail_spark.compiler.api import compile_program
from mtail_spark.golden import read_golden
from mtail_spark.sources.logs import read_log_lines
from mtail_spark.store import diff_stores, rows_from_df
from tests.conftest import requires_reference

TD = "/root/reference/internal/mtail/testdata"
EX = "/root/reference/examples"

TRIPLES = [
    ("rsyncd.mtail", "rsyncd.log", "rsyncd.golden"),
    ("sftp.mtail", "sftp_chroot.log", "sftp_chroot.golden"),
    ("ntpd.mtail", "ntp4", "ntp4.golden"),
    ("ntpd_peerstats.mtail", "xntp3_peerstats", "xntp3_peerstats.golden"),
    ("apache_combined.mtail", "apache-combined.log", "apache-combined.golden"),
    ("apache_common.mtail", "apache-common.log", "apache-common.golden"),
    ("vsftpd.mtail", "vsftpd_log", "vsftpd_log.golden"),
    ("vsftpd.mtail", "vsftpd_xferlog", "vsftpd_xferlog.golden"),
    ("lighttpd.mtail", "lighttpd_access.log", "lighttpd_accesslog.golden"),
    ("mysql_slowqueries.mtail", "mysql_slowqueries.log", "mysql_slowqueries.golden"),
]


def _compile(progf):
    return compile_program(open(f"{EX}/{progf}").read(), progf)


@requires_reference
@pytest.mark.parametrize("progf,logf,goldf", TRIPLES,
                         ids=[f"{p}-{l}" for p, l, g in TRIPLES])
def test_golden_local_fold(progf, logf, goldf):
    """Pure-Python fold (the reference semantics baseline)."""
    prog = _compile(progf)
    lines = open(f"{TD}/{logf}", errors="replace").read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    rows = prog.run_local(lines, filename=f"{TD}/{logf}")
    expected = read_golden(f"{TD}/{goldf}", progf)
    d = diff_stores(expected, rows)
    assert d.ok, d.render()


@requires_reference
@pytest.mark.parametrize("progf,logf,goldf", TRIPLES,
                         ids=[f"{p}-{l}" for p, l, g in TRIPLES])
def test_golden_spark(spark, progf, logf, goldf):
    """Through Spark: vectorized DataFrame plan when the program allows
    it, applyInPandas fold otherwise."""
    prog = _compile(progf)
    log_lines = read_log_lines(spark, f"{TD}/{logf}")
    store_df = prog.run_batch(spark, log_lines)
    rows = rows_from_df(store_df)
    expected = read_golden(f"{TD}/{goldf}", progf)
    d = diff_stores(expected, rows)
    assert d.ok, f"backend={'vector' if prog.vectorizable else 'fold'}\n" + d.render()
