"""Named-pipe (FIFO) and datagram (UDP / unixgram) log sources.

Reference: internal/tailer/logstream/fifostream.go (O_RDONLY|O_NONBLOCK
named-pipe read loop with partial-line carry) and dgramstream.go
(udp/unixgram ListenPacket loop, 128 KiB reads, zero-byte datagram =
EOF in one-shot mode).

Spark has no push-source primitive, and its socket source is not
replayable (no offsets — a restart loses data).  The Spark-idiomatic
bridge is the same one used for any non-replayable feed: a driver-side
reader STAGES arriving lines into finalized spool files, and the
replayable file streaming source tails the spool directory.  File
offsets + checkpointing then give at-least-once delivery, and the
store's batch_id dedupe (streaming/pipeline.py merge_batch) upgrades
that to exactly-once — stronger than the reference, which loses
in-flight datagrams on restart.

Spool files are finalized atomically (write *.tmp, rename to *.log)
because Spark's file source reads a file once at discovery and never
re-reads appended bytes.
"""

from __future__ import annotations

import os
import socket
import stat
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_READ_BUF = 131072  # reference dgramstream.go datagramReadBufferSize


class SpoolDir:
    """Accumulates lines and atomically finalizes them as numbered
    spool files.  Lexicographic filename order == arrival order, which
    the vectorized backend's (ts, filename, line_no) last-write-wins
    key relies on."""

    def __init__(self, path: str, roll_bytes: int = 4 << 20,
                 flush_secs: float = 0.5):
        import glob as _glob
        import re as _re

        self.path = path
        self.roll_bytes = roll_bytes
        self.flush_secs = flush_secs
        os.makedirs(path, exist_ok=True)
        self._buf: list[str] = []
        self._buf_bytes = 0
        # resume the sequence after existing spool files: a spooler
        # re-created over the same directory (server restart, a tailed
        # path re-opened after rotation) must never overwrite a
        # finalized file — the streaming source would silently see
        # only one of the two contents
        self._seq = 0
        for f in _glob.glob(os.path.join(path, "spool-*.log")):
            m = _re.search(r"spool-(\d+)\.log$", f)
            if m:
                self._seq = max(self._seq, int(m.group(1)) + 1)
        self._last_flush = time.monotonic()
        self._lock = threading.Lock()

    def add_lines(self, lines: list[str]) -> None:
        with self._lock:
            self._buf.extend(lines)
            self._buf_bytes += sum(len(s) + 1 for s in lines)
            if (self._buf_bytes >= self.roll_bytes
                    or time.monotonic() - self._last_flush
                    >= self.flush_secs):
                self._flush_locked()

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    def _flush_locked(self) -> None:
        self._last_flush = time.monotonic()
        if not self._buf:
            return
        tmp = os.path.join(self.path, f".spool-{self._seq:08d}.tmp")
        dst = os.path.join(self.path, f"spool-{self._seq:08d}.log")
        with open(tmp, "w", encoding="utf-8", errors="replace") as f:
            f.write("\n".join(self._buf) + "\n")
        os.rename(tmp, dst)
        self._seq += 1
        self._buf = []
        self._buf_bytes = 0


class _SpoolerBase(threading.Thread):
    """Reader thread: bytes in, partial-line carry, lines out to a
    SpoolDir (the role of the reference's LineReader, reader.go)."""

    def __init__(self, sourcename: str, spool: SpoolDir):
        super().__init__(daemon=True)
        self.sourcename = sourcename
        self.spool = spool
        self._halt = threading.Event()
        # Set when the source signals end-of-stream (fifo writer
        # close after connecting; zero-length datagram) — the
        # reference's one-shot termination condition.
        self.eof = threading.Event()
        self._partial = b""

    def stop(self, timeout: float = 5.0) -> None:
        self._halt.set()
        self.join(timeout=timeout)
        # an unterminated trailing line is still a line at shutdown
        # (reference reader.go Finish)
        tail, self._partial = self._partial, b""
        if tail:
            self.spool.add_lines(
                [tail.rstrip(b"\r").decode("utf-8", errors="replace")]
            )
        self.spool.flush()

    def _emit(self, chunk: bytes) -> None:
        """Split a byte chunk into complete lines (partial tail is
        carried to the next read, like reader.go)."""
        if not chunk:
            return
        data = self._partial + chunk
        *complete, self._partial = data.split(b"\n")
        if complete:
            self.spool.add_lines([
                ln.rstrip(b"\r").decode("utf-8", errors="replace")
                for ln in complete
            ])


class FifoSpooler(_SpoolerBase):
    """Named-pipe reader (reference fifostream.go:50 — O_RDONLY |
    O_NONBLOCK so open never blocks waiting for a writer; EOF with no
    writer present just means 'poll again')."""

    def __init__(self, pathname: str, spool: SpoolDir,
                 poll_secs: float = 0.05):
        st = os.stat(pathname)
        if not stat.S_ISFIFO(st.st_mode):
            raise ValueError(f"{pathname} is not a named pipe")
        super().__init__(pathname, spool)
        self.pathname = pathname
        self.poll_secs = poll_secs

    def run(self) -> None:
        fd = os.open(self.pathname, os.O_RDONLY | os.O_NONBLOCK)
        saw_writer = False
        try:
            while not self._halt.is_set():
                try:
                    chunk = os.read(fd, _READ_BUF)
                except BlockingIOError:
                    # EAGAIN: a writer holds the pipe open but has
                    # nothing buffered — that counts as "connected"
                    saw_writer = True
                    chunk = None
                if chunk:
                    saw_writer = True
                    self._emit(chunk)
                else:
                    if chunk == b"" and saw_writer:
                        # read()==0 after a writer connected means the
                        # writer closed: the reference's one-shot EOF
                        # (fifostream.go).  Serve mode keeps polling —
                        # the fifo stays open for future writers.
                        self.eof.set()
                        saw_writer = False
                    self.spool.flush()
                    time.sleep(self.poll_secs)
        finally:
            os.close(fd)


class DatagramSpooler(_SpoolerBase):
    """UDP / unixgram reader (reference dgramstream.go).  Datagram
    boundaries do NOT imply line boundaries: bytes are run through the
    same partial-line carry as every other stream."""

    def __init__(self, scheme: str, address: str, spool: SpoolDir):
        super().__init__(f"{scheme}://{address}", spool)
        self.scheme = scheme
        self.address = address
        if scheme == "udp":
            host, port = address.rsplit(":", 1)
            self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self.sock.bind((host or "0.0.0.0", int(port)))
        elif scheme == "unixgram":
            if os.path.exists(address):
                os.unlink(address)
            self.sock = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
            self.sock.bind(address)
        else:
            raise ValueError(f"unsupported datagram scheme {scheme}")
        self.sock.settimeout(0.1)

    def run(self) -> None:
        try:
            while not self._halt.is_set():
                try:
                    chunk, _ = self.sock.recvfrom(_READ_BUF)
                except socket.timeout:
                    self.spool.flush()
                    continue
                if chunk:
                    self._emit(chunk)
                else:
                    # zero-length datagram = sender's explicit EOF
                    # signal (reference dgramstream.go one-shot mode)
                    self.eof.set()
        finally:
            self.sock.close()
            if self.scheme == "unixgram" and os.path.exists(self.address):
                os.unlink(self.address)


def open_spooler(url: str, spool_dir: str):
    """Dispatch a log source URL (or bare fifo path) to its spooler,
    mirroring the reference's scheme dispatch (tailer/logstream
    logstream.go New): fifo://PATH, udp://HOST:PORT,
    unixgram://PATH, or a filesystem path that stat()s as a FIFO."""
    spool = SpoolDir(spool_dir)
    if url.startswith("fifo://"):
        return FifoSpooler(url[len("fifo://"):], spool)
    if url.startswith("udp://"):
        return DatagramSpooler("udp", url[len("udp://"):], spool)
    if url.startswith("unixgram://"):
        return DatagramSpooler("unixgram", url[len("unixgram://"):], spool)
    st = os.stat(url)
    if stat.S_ISFIFO(st.st_mode):
        return FifoSpooler(url, spool)
    raise ValueError(f"not a spoolable source: {url}")


def spool_seq_col():
    """Spool segment sequence number parsed from the scanned path.
    Micro-batch readers order lines by (spool_seq, within-partition
    row) rather than partition id: Spark bin-packs a batch's files
    into partitions by SIZE (descending), not by name, so several
    spool-N segments of one source routinely land out of sequence
    across partitions — partition order would replay a later
    segment's writes before an earlier one and corrupt last-write-
    wins and register state.  Segments are bounded well below
    spark.sql.files.maxPartitionBytes (SpoolDir.roll_bytes = 4 MB),
    so one segment never splits across partitions and the
    within-partition scan order is the segment's line order."""
    return F.regexp_extract(
        F.input_file_name(), r"spool-(\d+)\.log$", 1
    ).cast("long")


def spool_lines_stream(spark: SparkSession, spooler) -> DataFrame:
    """Streaming (filename, spool_seq, line) relation over a spooler's
    directory.  getfilename() reports the ORIGINAL sourcename (fifo
    path / socket endpoint), matching reference behavior, not the
    spool file.

    The source lists the spool directory itself with a
    `spool-*.log` name filter (which also keeps the `.spool-*.tmp`
    files out): one root path, so a trigger's `latestOffset` lists it
    on the driver instead of running a listing job with one task per
    spool file, as a glob does past
    `parallelPartitionDiscovery.threshold` files."""
    raw = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "spool-*.log")
        .load(spooler.spool.path)
    )
    return raw.select(
        F.lit(spooler.sourcename).alias("filename"),
        spool_seq_col().alias("spool_seq"),
        F.col("value").alias("line"),
    )


def spool_lines_batch(spark: SparkSession, spooler) -> DataFrame:
    """One-shot (filename, line_no, line) relation over whatever the
    spooler has finalized so far (drain first; see drain_one_shot).

    line_no is re-sequenced globally across spool files (they sort in
    arrival order) because the exposed filename collapses to the one
    sourcename — per-spool-file numbering would collide."""
    import glob as _glob

    from pyspark.sql import Window

    from mtail_spark.sources.logs import read_log_lines

    pattern = os.path.join(spooler.spool.path, "spool-*.log")
    if not _glob.glob(pattern):
        return spark.createDataFrame(
            [], "filename string, line_no bigint, line string"
        )
    lines = read_log_lines(spark, pattern)
    w = Window.orderBy("filename", "line_no")
    return lines.select(
        F.lit(spooler.sourcename).alias("filename"),
        (F.row_number().over(w) - 1).cast("long").alias("line_no"),
        "line",
    )


def drain_one_shot(spooler, idle_secs: float = 0.5,
                   timeout_secs: float = 30.0) -> None:
    """Run a spooler until its source signals EOF (fifo writer close /
    zero-byte datagram — the reference's one-shot termination,
    fifostream.go / dgramstream.go), then finalize.

    Quiescence (`idle_secs` with no new bytes) remains as a fallback
    for senders that never signal EOF (plain UDP producers).  If the
    deadline passes while the source is still actively producing, a
    warning is logged — lines after the cutoff are NOT read."""
    import logging

    spooler.start()
    deadline = time.monotonic() + timeout_secs
    last_seq = -1
    quiet_since = time.monotonic()
    active_at_deadline = False
    while not spooler.eof.is_set():
        if time.monotonic() >= deadline:
            active_at_deadline = (
                time.monotonic() - quiet_since < idle_secs)
            break
        if spooler.eof.wait(timeout=idle_secs / 2):
            break
        seq = (spooler.spool._seq, spooler.spool._buf_bytes,
               len(spooler._partial))
        if seq != last_seq:
            last_seq = seq
            quiet_since = time.monotonic()
        elif time.monotonic() - quiet_since >= idle_secs:
            break
    if active_at_deadline:
        logging.getLogger("mtail_spark.spool").warning(
            "one-shot drain of %s hit the %.1fs deadline while the "
            "source was still producing; remaining input was not read "
            "(raise --one_shot_timeout_secs)",
            spooler.sourcename, timeout_secs,
        )
    spooler.stop()
