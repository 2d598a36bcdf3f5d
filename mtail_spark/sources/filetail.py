"""In-place tailing of regular log files for serve mode.

Reference semantics (internal/tailer/logstream/filestream.go):
- the read loop stats the tailed file each pass; a size smaller than
  the current offset means in-place truncation (logrotate
  `copytruncate`), and the stream seeks back to 0 and re-reads
  (filestream.go:178-190);
- an inode change / ESTALE means the path was rotated to a new file:
  the old handle is drained to EOF, then the new file is opened from
  offset 0 (filestream.go:119-127);
- partial lines are carried between reads and flushed at shutdown
  (reader.go:99-106).

Spark's file streaming source processes a file ONCE at discovery and
never re-reads appended bytes or a shrunk file, so direct
readStream-on-the-log-glob silently drops everything a daemon
appends.  The bridge (same pattern as the FIFO/datagram spoolers,
sources/spool.py): a driver-side stat-loop tailer reads per-file
DELTAS and stages them into per-source spool subdirectories; the
replayable file source tails the spool, giving checkpointable
at-least-once delivery that the store's batch_id dedupe upgrades to
exactly-once.  Each source file gets its own subdirectory (name =
percent-encoded source path) so getfilename() and per-file ordering
survive the indirection; byte offsets persist in a sidecar JSON so a
restarted server resumes tailing where it left off instead of
re-reading whole files.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import threading
import time
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mtail_spark.sources.spool import _READ_BUF, SpoolDir


class _Tailed:
    __slots__ = ("fh", "ino", "dev", "offset", "partial", "spool")

    def __init__(self, fh, ino, dev, offset, spool):
        self.fh = fh
        self.ino = ino
        self.dev = dev
        self.offset = offset
        self.partial = b""
        self.spool = spool


class FileTailSpooler(threading.Thread):
    """Stat-loop tailer: glob discovery + append/truncate/rotate
    tracking, staging line deltas into per-source SpoolDirs under
    `root`."""

    def __init__(
        self,
        pattern: str,
        root: str,
        poll_interval: float = 0.25,
        read_existing_from_start: bool = True,
    ):
        super().__init__(daemon=True)
        self.pattern = pattern
        self.root = root
        self.poll_interval = poll_interval
        self.read_existing_from_start = read_existing_from_start
        os.makedirs(root, exist_ok=True)
        self._halt = threading.Event()
        self._files: dict[str, _Tailed] = {}
        self._spools: dict[str, SpoolDir] = {}
        self._offsets_path = os.path.join(root, "offsets.json")
        self._persisted: dict[str, int] = {}
        if os.path.exists(self._offsets_path):
            try:
                with open(self._offsets_path) as fh:
                    self._persisted = {
                        k: int(v) for k, v in json.load(fh).items()
                    }
            except (OSError, ValueError):
                self._persisted = {}
        self._started_at = time.time()

    # ------------------------------------------------------- lifecycle

    def run(self) -> None:
        while not self._halt.is_set():
            try:
                self.poll_once()
            except Exception:
                pass  # a transient FS error must not kill the tailer
            self._halt.wait(self.poll_interval)

    def stop(self, timeout: float = 5.0) -> None:
        self._halt.set()
        self.join(timeout=timeout)
        self.poll_once()
        # an unterminated trailing line is still a line at shutdown
        # (reference reader.go Finish)
        for path, t in self._files.items():
            if t.partial:
                t.spool.add_lines(
                    [t.partial.rstrip(b"\r").decode("utf-8", "replace")]
                )
                t.partial = b""
            t.spool.flush()
        self._save_offsets()

    # ---------------------------------------------------------- core

    def _spool_for(self, path: str) -> SpoolDir:
        # the percent-encoded source path doubles as the subdirectory
        # name so the stream can recover it with pure column ops
        # (filetail_lines_stream); most filesystems cap a name at 255
        # bytes, bounding tailable source paths at ~250 characters.
        # One SpoolDir per source path for the spooler's lifetime —
        # its sequence must keep advancing across reopen/rotation.
        sp = self._spools.get(path)
        if sp is None:
            sub = os.path.join(self.root, quote(path, safe=""))
            sp = self._spools[path] = SpoolDir(sub)
        return sp

    def _open(self, path: str) -> None:
        try:
            fh = open(path, "rb")
            st = os.fstat(fh.fileno())
        except OSError:
            return
        t = _Tailed(fh, st.st_ino, st.st_dev, 0, self._spool_for(path))
        resume = self._persisted.get(path)
        if resume is not None and resume <= st.st_size:
            # restart: continue from the persisted offset
            t.offset = resume
        elif not self.read_existing_from_start:
            t.offset = st.st_size
        fh.seek(t.offset)
        self._files[path] = t

    def _drain(self, t: _Tailed) -> None:
        while True:
            chunk = t.fh.read(_READ_BUF)
            if not chunk:
                return
            t.offset += len(chunk)
            data = t.partial + chunk
            *complete, t.partial = data.split(b"\n")
            if complete:
                t.spool.add_lines(
                    [
                        ln.rstrip(b"\r").decode("utf-8", "replace")
                        for ln in complete
                    ]
                )

    def poll_once(self) -> None:
        for path in _glob.glob(self.pattern):
            if path not in self._files and os.path.isfile(path):
                self._open(path)
        for path, t in list(self._files.items()):
            try:
                st = os.stat(path)
            except OSError:
                # deleted: drain what the open handle still sees,
                # then let the path re-register if recreated
                self._drain(t)
                if t.partial:
                    t.spool.add_lines(
                        [t.partial.rstrip(b"\r").decode("utf-8", "replace")]
                    )
                    t.partial = b""
                t.fh.close()
                del self._files[path]
                self._persisted.pop(path, None)
                continue
            if (st.st_ino, st.st_dev) != (t.ino, t.dev):
                # rotated: finish the old file, open the new one at 0
                # (reference filestream.go:119-127 ESTALE reopen)
                self._drain(t)
                if t.partial:
                    t.spool.add_lines(
                        [t.partial.rstrip(b"\r").decode("utf-8", "replace")]
                    )
                t.fh.close()
                del self._files[path]
                self._persisted.pop(path, None)
                self._open(path)
                t2 = self._files.get(path)
                if t2 is not None:
                    t2.offset = 0
                    t2.fh.seek(0)
                    self._drain(t2)
                continue
            if st.st_size < t.offset:
                # in-place truncation: re-read from the top
                # (reference filestream.go:178-190)
                t.fh.seek(0)
                t.offset = 0
                t.partial = b""
            self._drain(t)
        for t in self._files.values():
            t.spool.flush()
        self._save_offsets()

    def _save_offsets(self) -> None:
        offs = {p: t.offset for p, t in self._files.items()}
        if offs == self._persisted:
            return
        tmp = self._offsets_path + ".tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(offs, fh)
            os.replace(tmp, self._offsets_path)
            self._persisted = dict(offs)
        except OSError:
            pass


def filetail_lines_stream(
    spark: SparkSession, spooler: FileTailSpooler
) -> DataFrame:
    """Streaming (filename, spool_seq, line) relation over a
    tail-spool root.

    The source lists the root itself, recursively, keeping only
    `spool-*.log` files: one root path, so each trigger's
    `latestOffset` lists the spool on the driver.  (A glob would hand
    the file index one root path per spool file, and past
    `parallelPartitionDiscovery.threshold` paths every trigger would
    run a listing job with one task per file.)  The filter also keeps
    `offsets.json` and the `.spool-*.tmp` files out.

    The filename column is the ORIGINAL tailed path, so getfilename()
    and the per-file merge order behave exactly as with direct reads.
    `input_file_name()` is a URI, which escapes the `%` of the
    percent-encoded subdirectory name once more: the URI is decoded
    first, then the directory name (decode_spool_filename)."""
    from mtail_spark.sources.spool import spool_seq_col

    raw = (
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "spool-*.log")
        .load(spooler.root)
    )
    fname = F.url_decode(
        F.element_at(F.split(F.url_decode(F.input_file_name()), "/"), -2)
    )
    return raw.select(
        fname.alias("filename"),
        spool_seq_col().alias("spool_seq"),
        F.col("value").alias("line"),
    )


def decode_spool_filename(spool_path: str) -> str:
    """Original source path for one spool file path (driver-side
    mirror of filetail_lines_stream's column derivation, which first
    decodes the URI layer a local path does not have)."""
    return unquote(os.path.basename(os.path.dirname(spool_path)))
