"""Cross-backend consistency: the vectorized DataFrame plan and the
ordered Python fold must produce identical stores for every
vectorizable reference program.

dhcpd gets a synthesized log (its captured log is absent from the
reference checkout) — this is the heaviest program in the corpus:
syslog decorator with alternation timestamps, pattern-const concat,
nested matches against the $message capture, tolower labels.
"""

import glob
import os

import pytest

from mtail_spark.compiler.api import compile_program
from mtail_spark.store import diff_stores, rows_from_df
from tests.conftest import requires_reference

TD = "/root/reference/internal/mtail/testdata"
EX = "/root/reference/examples"

DHCPD_LINES = [
    "Apr  7 13:43:00 dhcp1 dhcpd[1234]: DHCPDISCOVER from 02:ab:cd:ef:12:34 via eth0",
    "Apr  7 13:43:01 dhcp1 dhcpd[1234]: DHCPOFFER on 10.0.0.5 to 02:ab:cd:ef:12:34 via eth0",
    "Apr  7 13:43:02 dhcp1 dhcpd[1234]: DHCPREQUEST for 10.0.0.5 (10.0.0.1) from 02:ab:cd:ef:12:34 via eth0",
    "Apr  7 13:43:02 dhcp1 dhcpd[1234]: DHCPACK on 10.0.0.5 to 02:ab:cd:ef:12:34 via eth0",
    "Apr  7 13:43:05 dhcp1 dhcpd[1234]: DHCPDISCOVER from aa:bb:cc:dd:ee:ff via eth1: network 10.1.0.0/16: no free leases",
    "Apr  7 13:44:00 dhcp1 dhcpd[1234]: Configuration file errors encountered -- exiting",
    "Apr  7 13:44:10 dhcp1 dhcpd[1234]: peer failover-partner: disconnected",
    "Apr  7 13:44:20 dhcp1 dhcpd[1234]: 5 bad udp checksums in 100 packets",
    "Apr  7 13:44:30 dhcp1 dhcpd[1234]: Abandoning IP address 10.0.0.9: pinged before offer",
    "Apr  7 13:44:40 dhcp1 dhcpd[1234]: peer pool0: Got POOLREQ, answering negatively!",
    # RFC3339 branch: the decorator's 12-hour "03" layout cannot parse
    # hour 13 -> strptime runtime error kills the line (both Go and us)
    "2018-04-07T13:45:00.123+00:00 dhcp1 dhcpd[1234]: DHCPRELEASE of 10.0.0.5 from 02:ab:cd:ef:12:34 via eth0",
    "some line that matches nothing at all",
]


def _lines_df(spark, lines, fname="synth.log"):
    return spark.createDataFrame(
        [(fname, i, ln) for i, ln in enumerate(lines)],
        "filename string, line_no long, line string",
    )


def _consistent(spark, src, name, lines):
    prog = compile_program(src, name)
    assert prog.vectorizable, f"{name} unexpectedly needs the fold backend"
    df = _lines_df(spark, lines)
    vec = rows_from_df(prog.run_batch(spark, df, backend="vector"))
    fold = rows_from_df(prog.run_batch(spark, df, backend="fold"))
    d = diff_stores(fold, vec)
    assert d.ok, f"{name}: backends disagree\n" + d.render()
    return {(r.name, r.labels): r.value for r in vec}


@requires_reference
def test_dhcpd_synthetic(spark):
    src = open(f"{EX}/dhcpd.mtail").read()
    vals = _consistent(spark, src, "dhcpd.mtail", DHCPD_LINES)
    assert vals[("request_total", (("command", "dhcpdiscover"),))] == 2
    assert vals[("request_total", (("command", "dhcpack"),))] == 1
    assert ("request_total", (("command", "dhcprelease"),)) not in vals
    assert vals[("dhcpdiscovers", (("mac", "02:ab:cd:ef:12:34"),))] == 1
    assert vals[("dhcpdiscover_nofree", (("network", "10.1.0.0/16"),))] == 1
    assert vals[("config_file_errors", ())] == 1
    assert vals[("peer_disconnects", ())] == 1
    assert vals[("bad_udp_checksum", ())] == 5
    assert vals[("ip_abandoned", (("reason", "pinged before offer"),))] == 1
    assert vals[("negative_poolreq", (("pool", "pool0"),))] == 1


VECTOR_TRIPLES = [
    ("sftp.mtail", "sftp_chroot.log"),
    ("ntpd.mtail", "ntp4"),
    ("ntpd_peerstats.mtail", "xntp3_peerstats"),
    ("apache_combined.mtail", "apache-combined.log"),
    ("apache_common.mtail", "apache-common.log"),
    ("lighttpd.mtail", "lighttpd_access.log"),
]


@requires_reference
@pytest.mark.parametrize("progf,logf", VECTOR_TRIPLES,
                         ids=[p for p, _l in VECTOR_TRIPLES])
def test_backends_agree_on_reference_logs(spark, progf, logf):
    src = open(f"{EX}/{progf}").read()
    lines = open(f"{TD}/{logf}", errors="replace").read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    _consistent(spark, src, progf, lines)


@requires_reference
def test_histogram_example(spark):
    """histogram.mtail: zero-lower-bound buckets, dimensioned and
    scalar histograms, assignment-as-observe."""
    src = open(f"{EX}/histogram.mtail").read()
    lines = [
        "GET /a latency=1s httpcode=200",
        "GET /b latency=0s httpcode=200",
        "GET /c latency=7s httpcode=500",
        "GET /d latency=99s httpcode=200",
    ]
    vals = _consistent(spark, src, "histogram.mtail", lines)
    buckets, count, total = vals[
        ("webserver_latency_by_code", (("code", "200"),))
    ]
    assert count == 3 and total == 100.0
    # ranges (0,1],(1,2],(2,4],(4,8],+Inf — v=0 routes into (0,1]
    assert [c for _le, c in buckets] == [2, 0, 0, 0, 1]
    _b, scount, _s = vals[("webserver_latency", ())]
    assert scount == 4


@requires_reference
def test_timer_example(spark):
    src = open(f"{EX}/timer.mtail").read()
    vals = _consistent(
        spark, src, "timer.mtail", ["web1 2500", "web1 1000", "web2 900"]
    )
    # timer = gauge semantics (last write wins), Go int division
    assert vals[("request_time_ms", (("vhost", "web1"),))] == 1
    assert vals[("request_time_ms", (("vhost", "web2"),))] == 0


@requires_reference
def test_rails_synthetic(spark):
    """rails.mtail: float histogram observation from Int capref
    division (`$request_seconds / 1000.0`)."""
    src = open(f"{EX}/rails.mtail").read()
    lines = [
        'Started GET "/users" for 10.0.0.1 at 2024-01-01',
        "Completed 200 OK in 74ms (Views: 31.9ms)",
        "Completed 200 OK in 4ms (Views: 1.0ms)",
        "Completed 500 Error in 1300ms (Views: 2.1ms)",
        'Started POST "/users" for 10.0.0.2 at 2024-01-01',
    ]
    vals = _consistent(spark, src, "rails.mtail", lines)
    assert vals[("rails_requests_started_total", ())] == 2
    assert vals[("rails_requests_started", (("verb", "GET"),))] == 1
    assert vals[("rails_requests_completed", (("status", "200"),))] == 2
    buckets, count, total = vals[
        ("rails_requests_completed_seconds", (("status", "200"),))
    ]
    assert count == 2 and abs(total - 0.078) < 1e-9
    # 0.074s -> (0.05, 0.1]; 0.004s -> (0, 0.005]
    by_le = dict(buckets)
    assert by_le[0.005] == 1 and by_le[0.1] == 1


@requires_reference
def test_apache_metrics_synthetic(spark):
    """apache_metrics.mtail: 5-key dimensioned histogram, µs->s float
    division, nested conn-status matches."""
    src = open(f"{EX}/apache_metrics.mtail").read()
    line = (
        "www.example.com:80 proxy:fcgi://127.0.0.1:9000 GET 200 HTTP/1.1 "
        "conn=+ 53001 1234 567 0"
    )
    aborted = (
        "www.example.com:80 server POST 500 HTTP/1.1 "
        "conn=X 99 10 20 0"
    )
    vals = _consistent(spark, src, "apache_metrics.mtail", [line, aborted])
    key = (
        ("code", "200"), ("handler", "proxy:fcgi://127.0.0.1:9000"),
        ("method", "GET"), ("protocol", "HTTP/1.1"),
        ("server_port", "www.example.com:80"),
    )
    assert vals[("http_response_size_bytes_total", key)] == 1234
    assert vals[("http_request_size_bytes_total", key)] == 567
    _b, count, total = vals[("http_request_duration_seconds", key)]
    assert count == 1 and abs(total - 0.053001) < 1e-12
    ab_key = (
        ("code", "500"), ("connection_status", "conn=X"),
        ("handler", "server"), ("method", "POST"),
        ("protocol", "HTTP/1.1"), ("server_port", "www.example.com:80"),
    )
    assert vals[("http_connections_aborted_total", ab_key)] == 1


@requires_reference
def test_postfix_synthetic(spark):
    """postfix.mtail: syslog-decorated multi-app dispatch, Float caprefs
    from [0-9.] classes, scientific-notation histogram buckets."""
    src = open(f"{EX}/postfix.mtail").read()
    lines = [
        "Apr  7 13:43:00 mail1 postfix/cleanup[123]: 4AB: message-id=<x@y>",
        "Apr  7 13:43:01 mail1 postfix/lmtp[124]: 4AB: to=<a@b>, "
        "relay=dovecot, delay=0.5, delays=0.25/0.01/0.05/0.19, dsn=2.0.0, "
        "status=sent (250 ok)",
        "Apr  7 13:43:02 mail1 postfix/cleanup[123]: 4AC: reject: body spam",
    ]
    vals = _consistent(spark, src, "postfix.mtail", lines)
    assert vals[("postfix_cleanup_messages_processed_total", ())] == 1
    assert vals[("postfix_cleanup_messages_rejected_total", ())] == 1
    buckets, count, total = vals[
        ("postfix_lmtp_delivery_delay_seconds", (("stage", "transmission"),))
    ]
    assert count == 1 and abs(total - 0.19) < 1e-12


def test_remaining_examples_execute_vectorized(spark):
    """Every vectorizable example program at least executes end-to-end
    on arbitrary lines (zero-init outputs for scalar counters)."""
    lines = ["nothing to see here", "42 and more"]
    for path in sorted(glob.glob(f"{EX}/*.mtail")):
        name = os.path.basename(path)
        prog = compile_program(open(path).read(), name)
        df = _lines_df(spark, lines)
        rows = prog.run_batch(spark, df).collect()
        assert rows is not None, name


@requires_reference
def test_mysql_register_chunk_boundaries(spark, monkeypatch):
    """mysql_slowqueries: scalar register state must flow across carry
    chunks.  A tiny CHUNK_LINES forces a chunk boundary inside nearly
    every slow-query record, so each register read crosses the
    chunk-prefix path (codegen.Vectorizer.scalar_layers_sql) instead
    of the within-chunk window."""
    from mtail_spark import session as _session
    from mtail_spark.compiler.codegen import Vectorizer

    monkeypatch.setattr(Vectorizer, "CHUNK_LINES", 3)
    # in-memory relations report no input files; force the big-input
    # route so the chunked scan (not the per-file window) is exercised
    monkeypatch.setattr(
        _session, "estimated_local_input_bytes", lambda df: 1 << 30
    )
    src = open(f"{EX}/mysql_slowqueries.mtail").read()
    lines = open(
        f"{TD}/mysql_slowqueries.log", errors="replace"
    ).read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    _consistent(spark, src, "mysql_slowqueries.mtail", lines)


def test_text_timer_gauge_lastwrite_split(spark):
    """Exported text/timer/gauge metrics resolve through the
    last-write (struct max_by) branch of the split event aggregation
    (codegen.vectorized_store) while counters take the all-primitive
    hash branch — one program with both kinds, multiple files, so the
    cross-file (ts, filename) merge is exercised too."""
    src = (
        "counter hits by w\n"
        "text last_word\n"
        "timer took_ms\n"
        "gauge level\n"
        "/^(?P<ts>\\d+) (?P<w>\\w+) (?P<ms>\\d+)/ {\n"
        "  settime($ts)\n"
        "  hits[$w]++\n"
        "  last_word = $w\n"
        "  took_ms = $ms\n"
        "  level = $ms * 2\n"
        "}\n"
    )
    prog = compile_program(src, "textkinds.mtail")
    assert prog.vectorizable
    rows = [
        ("a.log", 0, "100 alpha 5"),
        ("a.log", 1, "300 gamma 9"),
        ("b.log", 0, "200 beta 7"),
    ]
    df = spark.createDataFrame(
        rows, "filename string, line_no long, line string"
    )
    from mtail_spark.store import diff_stores, rows_from_df

    vec = rows_from_df(prog.run_batch(spark, df, backend="vector"))
    fold = rows_from_df(prog.run_batch(spark, df, backend="fold"))
    d = diff_stores(fold, vec)
    assert d.ok, d.render()
    by = {(r.name, r.labels): r for r in vec}
    # cross-file: latest settime (300, a.log) wins for last-write kinds
    assert by[("last_word", ())].value == "gamma"
    assert by[("took_ms", ())].value == 9
    assert by[("level", ())].value == 18
    assert by[("hits", (("w", "alpha"),))].value == 1


def test_override_timezone(spark):
    """--override_timezone: a zone-less wall clock parses as local
    time in the given IANA zone, DST-aware, identically on both
    backends (reference time.ParseInLocation, vm.go:312-313); an
    explicit zone offset in the layout wins over the override."""
    from mtail_spark.compiler.gotime import civil_to_epoch_us

    src = (
        "gauge ts\n"
        "/^(?P<d>\\d+-\\d+-\\d+ \\d+:\\d+:\\d+)/ {\n"
        '  strptime($d, "2006-01-02 15:04:05")\n'
        "  ts = timestamp()\n}\n"
    )
    prog = compile_program(src, "tz.mtail",
                           override_timezone="America/New_York")
    lines = [
        "2024-01-15 12:00:00 winter",   # EST, UTC-5
        "2024-07-15 12:00:00 summer",   # EDT, UTC-4
    ]
    df = _lines_df(spark, lines)
    vec = rows_from_df(prog.run_batch(spark, df, backend="vector"))
    fold = rows_from_df(prog.run_batch(spark, df, backend="fold"))
    d = diff_stores(fold, vec)
    assert d.ok, d.render()
    # last write: summer line, noon EDT == 16:00 UTC
    val = {r.name: r.value for r in vec}["ts"]
    assert val == civil_to_epoch_us(2024, 7, 15, 16, 0, 0) // 1_000_000

    # explicit zone in layout beats the override
    src2 = (
        "gauge ts\n"
        "/^(?P<d>\\S+)/ {\n"
        '  strptime($d, "2006-01-02T15:04:05-07:00")\n'
        "  ts = timestamp()\n}\n"
    )
    prog2 = compile_program(src2, "tz2.mtail",
                            override_timezone="America/New_York")
    lines2 = ["2024-07-15T12:00:00+02:00 trailing"]
    fold2 = {
        r.name: r.value
        for r in rows_from_df(
            prog2.run_batch(
                spark, _lines_df(spark, lines2), backend="fold"
            )
        )
    }
    assert fold2["ts"] == civil_to_epoch_us(2024, 7, 15, 10, 0, 0) // 1_000_000
