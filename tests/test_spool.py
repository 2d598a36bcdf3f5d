"""FIFO / datagram sources via the driver-side spooler
(reference internal/tailer/logstream/{fifostream,dgramstream}.go)."""

import os
import socket
import subprocess
import sys
import threading
import time

import pytest

from mtail_spark.sources.spool import (
    DatagramSpooler,
    FifoSpooler,
    SpoolDir,
    drain_one_shot,
    open_spooler,
    spool_lines_batch,
)


def test_spooldir_atomic_roll(tmp_path):
    sd = SpoolDir(str(tmp_path / "spool"), roll_bytes=10, flush_secs=999)
    sd.add_lines(["aaaaaa", "bbbbbb"])  # 14 bytes -> rolls
    sd.add_lines(["c"])
    sd.flush()
    files = sorted(os.listdir(sd.path))
    assert files == ["spool-00000000.log", "spool-00000001.log"]
    assert open(os.path.join(sd.path, files[0])).read() == "aaaaaa\nbbbbbb\n"
    assert open(os.path.join(sd.path, files[1])).read() == "c\n"


def test_fifo_spooler_lines_and_partial_carry(tmp_path):
    fifo = str(tmp_path / "logs.fifo")
    os.mkfifo(fifo)
    sp = FifoSpooler(fifo, SpoolDir(str(tmp_path / "spool"), flush_secs=0.1))
    sp.start()
    fd = os.open(fifo, os.O_WRONLY)
    os.write(fd, b"alpha\nbra")  # split mid-line
    time.sleep(0.2)
    os.write(fd, b"vo\r\ncharlie")  # \r strip + unterminated tail
    os.close(fd)
    time.sleep(0.3)
    sp.stop()
    text = "".join(
        open(os.path.join(sp.spool.path, f)).read()
        for f in sorted(os.listdir(sp.spool.path))
    )
    assert text == "alpha\nbravo\ncharlie\n"


def test_udp_spooler(tmp_path):
    sp = DatagramSpooler(
        "udp", "127.0.0.1:0", SpoolDir(str(tmp_path / "spool"),
                                       flush_secs=0.1)
    )
    port = sp.sock.getsockname()[1]
    sp.start()
    tx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    tx.sendto(b"one\ntwo\n", ("127.0.0.1", port))
    tx.sendto(b"thr", ("127.0.0.1", port))  # datagrams aren't lines:
    tx.sendto(b"ee\n", ("127.0.0.1", port))  # carry spans datagrams
    time.sleep(0.4)
    sp.stop()
    tx.close()
    text = "".join(
        open(os.path.join(sp.spool.path, f)).read()
        for f in sorted(os.listdir(sp.spool.path))
    )
    assert text == "one\ntwo\nthree\n"


def test_unixgram_spooler(tmp_path):
    addr = str(tmp_path / "logs.sock")
    sp = DatagramSpooler(
        "unixgram", addr, SpoolDir(str(tmp_path / "spool"), flush_secs=0.1)
    )
    sp.start()
    tx = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
    tx.sendto(b"hello world\n", addr)
    time.sleep(0.3)
    sp.stop()
    tx.close()
    files = sorted(os.listdir(sp.spool.path))
    assert files and open(
        os.path.join(sp.spool.path, files[0])
    ).read() == "hello world\n"


def test_open_spooler_dispatch(tmp_path):
    fifo = str(tmp_path / "f")
    os.mkfifo(fifo)
    assert isinstance(open_spooler(fifo, str(tmp_path / "s1")), FifoSpooler)
    assert isinstance(
        open_spooler(f"fifo://{fifo}", str(tmp_path / "s2")), FifoSpooler
    )
    sp = open_spooler("udp://127.0.0.1:0", str(tmp_path / "s3"))
    assert isinstance(sp, DatagramSpooler)
    sp.sock.close()
    with pytest.raises(ValueError):
        open_spooler(str(tmp_path), str(tmp_path / "s4"))


def test_spool_batch_relation_global_line_no(spark, tmp_path):
    fifo = str(tmp_path / "in.fifo")
    os.mkfifo(fifo)
    sp = FifoSpooler(
        fifo, SpoolDir(str(tmp_path / "spool"), roll_bytes=8,
                       flush_secs=0.05)
    )

    def write():
        fd = os.open(fifo, os.O_WRONLY)
        for i in range(6):
            os.write(fd, f"line-{i}\n".encode())
            time.sleep(0.05)
        os.close(fd)

    t = threading.Thread(target=write)
    t.start()
    drain_one_shot(sp, idle_secs=0.3, timeout_secs=10)
    t.join()
    rows = spool_lines_batch(spark, sp).orderBy("line_no").collect()
    assert [r.line for r in rows] == [f"line-{i}" for i in range(6)]
    assert [r.line_no for r in rows] == list(range(6))
    assert all(r.filename == fifo for r in rows)
    # multiple spool files actually rolled (global renumber exercised)
    assert len(os.listdir(sp.spool.path)) > 1


def test_cli_one_shot_fifo(tmp_path):
    progs = tmp_path / "progs"
    progs.mkdir()
    (progs / "count.mtail").write_text(
        "counter lines_total\n/./ { lines_total++ }\n"
    )
    fifo = tmp_path / "app.fifo"
    os.mkfifo(str(fifo))

    def write():
        fd = os.open(str(fifo), os.O_WRONLY)
        os.write(fd, b"foo\nbar\nbaz\n")
        os.close(fd)

    t = threading.Thread(target=write, daemon=True)
    t.start()
    out = subprocess.run(
        [sys.executable, "-m", "mtail_spark", "--progs", str(progs),
         "--logs", str(fifo), "--one_shot"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    t.join()
    assert out.returncode == 0, out.stderr[-2000:]
    assert "counter lines_total 3" in out.stdout.strip().splitlines()


def test_spool_streaming_serve_path(spark, tmp_path):
    """FIFO -> spooler -> file streaming source -> stateful runner:
    the CLI serve-mode pipeline, driven with an availableNow pass."""
    from mtail_spark.compiler.api import compile_program
    from mtail_spark.sources.spool import spool_lines_stream
    from mtail_spark.streaming.stateful import run_stateful_stream

    fifo = str(tmp_path / "serve.fifo")
    os.mkfifo(fifo)
    sp = FifoSpooler(
        fifo, SpoolDir(str(tmp_path / "spool"), flush_secs=0.05)
    )
    sp.start()
    fd = os.open(fifo, os.O_WRONLY)
    os.write(fd, b"gremlin 10\nwidget 5\ngremlin 3\n")
    os.close(fd)
    time.sleep(0.4)
    sp.stop()

    prog = compile_program(
        "counter units by kind\n"
        "/(?P<kind>\\w+) (?P<n>\\d+)/ { units[$kind] += $n }\n",
        "spool.mtail",
    )
    runner, q = run_stateful_stream(
        prog, spark, spool_lines_stream(spark, sp),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    got = {
        tuple(sorted(r["labels"].items())): r["value_i"]
        for r in runner.rows()
        if r["name"] == "units"
    }
    assert got == {(("kind", "gremlin"),): 13, (("kind", "widget"),): 5}


def test_spool_dir_listed_without_a_listing_job(
    spark, tmp_path, new_listing_jobs
):
    """A spool directory that grows past
    parallelPartitionDiscovery.threshold (32) files: every line is
    counted exactly once, the .tmp file is skipped, and no Spark
    listing job runs.  The files arrive in two rounds of 20, because a
    batch's own new files are still read as one path each."""
    import types

    from mtail_spark.compiler.api import compile_program
    from mtail_spark.sources.spool import spool_lines_stream
    from mtail_spark.streaming import run_program_stream

    sd = SpoolDir(str(tmp_path / "spool"))

    def spool_round():
        for k in range(20):
            sd.add_lines([f"line {k} {i}" for i in range(3)])
            sd.flush()

    spool_round()
    with open(os.path.join(sd.path, ".spool-99999999.tmp"), "w") as fh:
        fh.write("half written\n")
    prog = compile_program(
        "counter lines_total\n// { lines_total++ }\n", "lc.mtail"
    )
    store, query = run_program_stream(
        prog, spark, None,
        source=spool_lines_stream(
            spark, types.SimpleNamespace(spool=sd, sourcename="fifo://t")
        ),
    )
    try:
        query.processAllAvailable()
        spool_round()
        query.processAllAvailable()
    finally:
        query.stop()
    got = [r["value_i"] for r in store.rows(include_internal=False)
           if r["name"] == "lines_total"]
    assert got == [120]
    assert new_listing_jobs() == []
