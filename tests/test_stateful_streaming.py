"""Cross-batch stateful streaming: a mysql-slow-query style program
whose multi-line records straddle micro-batch boundaries must still
produce the one-shot result (per-stream interpreter state carried in
applyInPandasWithState group state)."""

import socket
import threading
import time

from mtail_spark.compiler.api import compile_program
from mtail_spark.sources.sockets import read_socket_lines
from mtail_spark.streaming.stateful import run_stateful_stream
from tests.conftest import requires_reference

TD = "/root/reference/internal/mtail/testdata"
EX = "/root/reference/examples"


@requires_reference
def test_mysql_records_across_batches(spark, tmp_path):
    src = open(f"{EX}/mysql_slowqueries.mtail").read()
    prog = compile_program(src, "mysql_slowqueries.mtail")
    assert prog.checked.cross_line_state

    lines = open(f"{TD}/mysql_slowqueries.log").read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    # split mid-record: right after a "# User@Host" line so the
    # record's remaining lines arrive in the next batch
    split = next(
        i for i, l in enumerate(lines) if l.startswith("# User@Host")
    ) + 1
    chunk1 = "\n".join(lines[:split]) + "\n"
    chunk2 = "\n".join(lines[split:]) + "\n"

    srv = socket.socket()
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve(conn):
        try:
            conn.sendall(chunk1.encode())
            time.sleep(5)  # force a batch boundary inside the record
            conn.sendall(chunk2.encode())
            time.sleep(30)
        except OSError:
            pass

    def acceptor():
        # the socket source may connect more than once (planning +
        # query); serve every connection the same paced feed
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            threading.Thread(target=serve, args=(conn,), daemon=True).start()

    threading.Thread(target=acceptor, daemon=True).start()

    stream = read_socket_lines(spark, "127.0.0.1", port)
    runner, query = run_stateful_stream(
        prog, spark, stream,
        trigger={"processingTime": "1 seconds"},
        checkpoint=str(tmp_path / "ck"),
        order="round_robin",
    )

    expected = {
        (r.name, r.labels): r.value
        for r in prog.run_local(lines, filename="sock")
    }
    want_total = expected[("query_time_total_count", ())]

    deadline = time.time() + 90
    got = {}
    try:
        while time.time() < deadline:
            got = {
                (r["name"], tuple(sorted((r["labels"] or {}).items()))):
                    (r["value_i"] if r["vtype"] == "Int" else
                     r["value_f"] if r["vtype"] == "Float" else r["value_s"])
                for r in runner.rows()
            }
            if got.get(("query_time_total_count", ())) == want_total:
                break
            time.sleep(1)
    finally:
        query.stop()
        srv.close()

    assert got.get(("query_time_total_count", ())) == want_total
    # the dimensioned counters stitched across the batch boundary too
    for k, v in expected.items():
        assert got.get(k) == v, (k, v, got.get(k))
