"""In-place file tailing (sources/filetail.py): append, truncation
(logrotate copytruncate), and rotation semantics, mirroring reference
internal/tailer/logstream/filestream.go:119-127,178-190."""

import glob
import os
import time

from mtail_spark.sources.filetail import (
    FileTailSpooler,
    decode_spool_filename,
)


def _spooled_lines(root):
    out = {}
    for f in sorted(glob.glob(os.path.join(root, "*", "spool-*.log"))):
        src = decode_spool_filename(f)
        out.setdefault(src, []).extend(
            open(f).read().splitlines()
        )
    return out


def test_append_truncate_rotate_unit(tmp_path):
    log = tmp_path / "app.log"
    root = tmp_path / "spool"
    log.write_text("a1\na2\n")
    sp = FileTailSpooler(str(log), str(root), poll_interval=0.05)
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)] == ["a1", "a2"]

    # append
    with open(log, "a") as fh:
        fh.write("a3\n")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)] == ["a1", "a2", "a3"]

    # in-place truncation (copytruncate): size < offset -> re-read
    # from 0 (reference filestream.go:178-190)
    with open(log, "w") as fh:
        fh.write("b1\n")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)] == [
        "a1", "a2", "a3", "b1",
    ]

    # rotation: rename + recreate -> old handle drained, new file
    # read from 0 (filestream.go:119-127)
    os.rename(log, tmp_path / "app.log.1")
    with open(log, "w") as fh:
        fh.write("c1\nc2\n")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)] == [
        "a1", "a2", "a3", "b1", "c1", "c2",
    ]

    # partial (unterminated) lines carry until completed
    with open(log, "a") as fh:
        fh.write("c3-part")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)][-1] == "c2"
    with open(log, "a") as fh:
        fh.write("ial\n")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)][-1] == "c3-partial"


def test_offsets_resume_across_restart(tmp_path):
    log = tmp_path / "app.log"
    root = tmp_path / "spool"
    log.write_text("x1\nx2\n")
    sp = FileTailSpooler(str(log), str(root), poll_interval=0.05)
    sp.poll_once()
    sp._save_offsets()
    # "restart": a new spooler over the same root must NOT re-read
    # the already-spooled bytes
    with open(log, "a") as fh:
        fh.write("x3\n")
    sp2 = FileTailSpooler(str(log), str(root), poll_interval=0.05)
    sp2.poll_once()
    assert _spooled_lines(str(root))[str(log)] == ["x1", "x2", "x3"]


def test_truncation_while_serving_stream(spark, tmp_path):
    """End-to-end VERDICT r4 item 5: a streaming query over a tailed
    file must count appended lines AND the post-copytruncate
    contents exactly once."""
    from mtail_spark.compiler.api import compile_program
    from mtail_spark.sources.filetail import filetail_lines_stream
    from mtail_spark.streaming import run_program_stream

    log = tmp_path / "daemon.log"
    root = tmp_path / "spool"
    log.write_text("one\ntwo\n")
    sp = FileTailSpooler(str(log), str(root), poll_interval=0.05)
    sp.start()
    prog = compile_program(
        "counter lines_total\n// { lines_total++ }\n", "lc.mtail"
    )
    store, query = run_program_stream(
        prog, spark, None,
        trigger={"processingTime": "200 milliseconds"},
        source=filetail_lines_stream(spark, sp),
    )

    def count():
        for r in store.rows():
            if r.get("name") == "lines_total":
                return r.get("value_i")
        return None

    def wait_for(n, timeout=30.0):
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout:
            if count() == n:
                return True
            time.sleep(0.2)
        return False

    try:
        assert wait_for(2), f"initial lines not seen: {count()}"
        with open(log, "a") as fh:
            fh.write("three\n")
        assert wait_for(3), f"append not tailed: {count()}"
        # copytruncate: file replaced in place with fresh content
        with open(log, "w") as fh:
            fh.write("four\nfive\n")
        assert wait_for(5), f"truncation not re-read: {count()}"
    finally:
        query.stop()
        sp.stop()


def test_serve_mode_seeks_existing_to_end(tmp_path):
    """Daemon parity (reference filestream.go:69-74): a file already
    present at startup tails from EOF — only APPENDED bytes flow;
    persisted offsets from a previous run still win."""
    log = tmp_path / "old.log"
    root = tmp_path / "spool"
    log.write_text("past1\npast2\n")
    sp = FileTailSpooler(
        str(log), str(root), poll_interval=0.05,
        read_existing_from_start=False,
    )
    sp.poll_once()
    assert str(log) not in _spooled_lines(str(root))
    with open(log, "a") as fh:
        fh.write("new1\n")
    sp.poll_once()
    assert _spooled_lines(str(root))[str(log)] == ["new1"]
    sp._save_offsets()
    # restart: resume the persisted offset, not EOF (a line appended
    # while down must not be skipped)
    with open(log, "a") as fh:
        fh.write("while-down\n")
    sp2 = FileTailSpooler(
        str(log), str(root), poll_interval=0.05,
        read_existing_from_start=False,
    )
    sp2.poll_once()
    assert _spooled_lines(str(root))[str(log)] == ["new1", "while-down"]


def _spool_round(root, sources, files_per_source, lines_per_file):
    """Add finalized spool files to a tail root as FileTailSpooler
    leaves it: one percent-encoded subdirectory per tailed path, plus
    the offsets sidecar and an unfinished .spool-*.tmp."""
    from urllib.parse import quote

    from mtail_spark.sources.spool import SpoolDir

    for src in sources:
        sd = SpoolDir(os.path.join(root, quote(src, safe="")))
        for k in range(files_per_source):
            sd.add_lines([f"{src} {k} {i}" for i in range(lines_per_file)])
            sd.flush()
        with open(os.path.join(sd.path, ".spool-99999999.tmp"), "w") as fh:
            fh.write("half written\n")
    with open(os.path.join(root, "offsets.json"), "w") as fh:
        fh.write('{"x": 1}\n')


LINES_BY_FILE = (
    "counter lines_total by file\n"
    "// { lines_total[getfilename()]++ }\n"
)


def _lines_by_file(store) -> dict:
    return {
        r["labels"]["file"]: r["value_i"]
        for r in store.rows(include_internal=False)
        if r["name"] == "lines_total"
    }


def test_spool_root_listed_without_a_listing_job(
    spark, tmp_path, new_listing_jobs
):
    """A tail root that grows past parallelPartitionDiscovery.threshold
    (32) spool files, across two tailed files: the stream counts every
    line exactly once, skips the offsets sidecar and the .tmp files,
    and lists the root on the driver — no Spark listing job.  The files
    arrive in two rounds of 22, because a batch's own new files are
    still read as one path each."""
    import types

    from mtail_spark.compiler.api import compile_program
    from mtail_spark.sources.filetail import filetail_lines_stream
    from mtail_spark.streaming import run_program_stream

    root = str(tmp_path / "spool")
    srcs = [str(tmp_path / "logs" / "a.log"), str(tmp_path / "logs" / "b.log")]
    _spool_round(root, srcs, files_per_source=11, lines_per_file=3)
    store, query = run_program_stream(
        compile_program(LINES_BY_FILE, "lbf.mtail"), spark, None,
        source=filetail_lines_stream(
            spark, types.SimpleNamespace(root=root)
        ),
    )
    try:
        query.processAllAvailable()
        _spool_round(root, srcs, files_per_source=11, lines_per_file=3)
        query.processAllAvailable()
    finally:
        query.stop()
    assert _lines_by_file(store) == {srcs[0]: 66, srcs[1]: 66}
    assert new_listing_jobs() == []


def test_serve_getfilename_is_the_tailed_path(spark, tmp_path):
    """Serve mode's getfilename() is the tailed path as given, and
    --ignore_filename_regex_pattern matches its basename."""
    from mtail_spark.compiler.api import compile_program
    from mtail_spark.sources.filetail import filetail_lines_stream
    from mtail_spark.streaming import run_program_stream

    logs = tmp_path / "var" / "log"
    logs.mkdir(parents=True)
    (logs / "app0.log").write_text("a\nb\n")
    (logs / "app1.log").write_text("c\n")
    sp = FileTailSpooler(str(logs / "*.log"), str(tmp_path / "spool"))
    sp.poll_once()
    prog = compile_program(LINES_BY_FILE, "lbf.mtail")
    got = {}
    for ignore in (None, r"^app0\.log$"):
        store, query = run_program_stream(
            prog, spark, None, ignore_basename_regex=ignore,
            source=filetail_lines_stream(spark, sp),
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        got[ignore] = _lines_by_file(store)
    assert got[None] == {str(logs / "app0.log"): 2,
                         str(logs / "app1.log"): 1}
    assert got[r"^app0\.log$"] == {str(logs / "app1.log"): 1}
