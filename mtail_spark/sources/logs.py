"""Log-line sources.

The engine's universal input relation is

    log_lines(filename STRING, line_no BIGINT, line STRING)

mirroring the reference's LogLine record (reference
internal/logline/logline.go:9-14) plus an explicit ordering column:
the reference gets per-file order implicitly from sequential reads;
a distributed engine must carry it as data.

Framing follows reference internal/tailer/logstream/reader.go:68-106:
split on \\n, strip one trailing \\r, keep an unterminated final line.
Spark's text source implements exactly this framing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# wholetext materializes each file as ONE row, so a file bigger than
# this routes to the splittable path automatically — a 100 GB log
# would otherwise OOM a single executor before any fold saw it
WHOLETEXT_MAX_BYTES = 256 << 20


def _strip_file_scheme(p: str) -> str:
    """file:///path -> /path.  A file:// URI with a NON-EMPTY authority
    (file://host/path) is NOT a local path — stripping it to
    'host/path' would silently stat the wrong (relative) file — so it
    is returned unchanged and routed through the Hadoop FS path by
    _is_local below."""
    if p.startswith("file://"):
        rest = p[len("file://"):]
        if rest.startswith("/"):
            return rest
    return p


def _is_local(p: str) -> bool:
    """True when the path is stat-able via os.stat: no URI scheme, or
    file:// with an EMPTY authority (file:///...).  file://host/path
    carries an authority component and goes through the Hadoop FS
    sizing path with every other scheme.  `C:\\...` never appears here
    (POSIX container) and a single-letter scheme is not valid Hadoop
    anyway."""
    import re

    if p.startswith("file://"):
        return p[len("file://"):].startswith("/")
    return not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", p)


def _local_paths(path) -> list[str]:
    import glob as _glob
    import os

    if isinstance(path, (list, tuple)):
        out = []
        for p in path:
            p = _strip_file_scheme(p)
            if os.path.isfile(p):
                out.append(p)
        return out
    path = _strip_file_scheme(path)
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        ]
    return [p for p in _glob.glob(path) if os.path.isfile(p)]


def _any_huge_file(path: str, threshold: int) -> bool:
    import os

    for p in _local_paths(path):
        try:
            if os.path.getsize(p) > threshold:
                return True
        except OSError:
            pass
    return False


def _hadoop_any_huge(spark, path, threshold: int) -> bool | None:
    """Size files on a REMOTE filesystem (hdfs://, s3a://, ...) via the
    Hadoop FileSystem API.  Returns True/False when every matched
    file's size is known, or None when sizes are unknowable (missing
    connector jars, unreachable namenode, permission errors) — the
    caller must then choose the splittable route: wholetext on a file
    of unknown size is exactly the single-executor OOM the auto-route
    exists to prevent."""
    try:
        jvm = spark._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        paths = path if isinstance(path, (list, tuple)) else [path]
        for p in paths:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = jpath.getFileSystem(conf)
            statuses = fs.globStatus(jpath)
            if statuses is None:
                continue
            for st in statuses:
                if st.isFile():
                    if st.getLen() > threshold:
                        return True
                elif st.isDirectory():
                    for sub in fs.listStatus(st.getPath()):
                        if sub.isFile() and sub.getLen() > threshold:
                            return True
        return False
    except Exception:
        return None


def _auto_exact_order(spark, path, threshold: int | None = None) -> bool:
    """Routing decision for exact_order=None: wholetext (True) only
    when every matched file is verifiably under the threshold.  Local
    paths use os.stat (fast path); remote URIs go through the Hadoop
    FS API; unknowable sizes route splittable."""
    if threshold is None:
        # resolve at call time so tests can shrink the module global
        threshold = WHOLETEXT_MAX_BYTES
    paths = path if isinstance(path, (list, tuple)) else [path]
    if all(_is_local(p) for p in paths):
        return not _any_huge_file(path, threshold)
    huge = _hadoop_any_huge(spark, path, threshold)
    return huge is False


def read_log_lines(
    spark: SparkSession, path: str, exact_order: bool | None = None
) -> DataFrame:
    """Batch-read text logs as the log_lines relation.

    exact_order=True reads whole files and explodes lines with their
    positions — exact per-file line numbers, parallel across files;
    right for order-sensitive programs on normal-sized log files.

    exact_order=False streams through splittable text partitions and
    derives the ordering key from monotonically_increasing_id(), which
    increases with (input split, row offset) — per-file order holds
    because the text source lists a file's splits in offset order.
    Right for huge append-only logs where order only matters locally.

    exact_order=None (the default) picks automatically: wholetext
    only when every matched file is verifiably under
    WHOLETEXT_MAX_BYTES — local files via os.stat, remote URIs
    (hdfs://, s3a://, ...) via the Hadoop FileSystem API, and
    unknowable sizes route splittable — so a huge log can never OOM
    an executor by materializing as one row, on any filesystem.
    Both paths yield identical per-file ORDER (all order-sensitive
    semantics key on it); only the line_no VALUES differ (0-based vs
    monotonic id), which nothing downstream depends on.
    """
    if exact_order is None:
        exact_order = _auto_exact_order(spark, path)
    single = _is_single_local_file(path)
    if exact_order:
        df = spark.read.text(path, wholetext=True).withColumn(
            "filename", F.input_file_name()
        )
        # Framing: split on \n; drop the empty tail produced by a
        # trailing newline, keep a non-empty unterminated final line.
        lines = F.split(F.col("value"), "\n")
        lines = F.when(
            F.element_at(lines, -1) == "", F.slice(lines, 1, F.size(lines) - 1)
        ).otherwise(lines)
        df = df.select(
            "filename", F.posexplode(lines).alias("line_no", "line")
        ).withColumn("line", F.regexp_replace("line", "\r$", ""))
        return df.select(
            _fname_col(single),
            F.col("line_no").alias("line_no", metadata=WHOLE_FILES_MD),
            "line",
        )
    df = (
        spark.read.text(path)
        .withColumn("filename", F.input_file_name())
        .withColumn("line_no", F.monotonically_increasing_id())
        .withColumn("line", F.regexp_replace("value", "\r$", ""))
    )
    return df.select(_fname_col(single), "line_no", "line")


def _is_single_local_file(path) -> bool:
    """True when `path` verifiably resolves to exactly one local
    file.  Lets the vectorized store skip its cross-file merge level
    (see codegen.vectorized_store) — analysis-time stat only."""
    import glob as _glob
    import os

    paths = path if isinstance(path, (list, tuple)) else [path]
    if not all(_is_local(p) for p in paths):
        return False
    matched: list = []
    for p in paths:
        p = p[7:] if p.startswith("file://") else p
        matched.extend(
            f for f in _glob.glob(p) if os.path.isfile(f)
        )
        if os.path.isdir(p):
            return False
        if len(matched) > 1:
            return False
    return len(matched) == 1


SINGLE_FILE_MD = {"mtail_single_file": True}

# line_no of a whole-file read: each file arrives whole in one
# partition, numbered 0, 1, 2, ... (chunkfold's exact path audits it)
WHOLE_FILES_MD = {"mtail_whole_files": True}


def _fname_col(single: bool):
    """filename column, marked with single-file metadata when the
    relation verifiably covers one file — the marker rides the schema
    through projections/repartitions to the store planner."""
    if single:
        return F.col("filename").alias(
            "filename", metadata=SINGLE_FILE_MD
        )
    return F.col("filename")


def is_single_file_relation(df: DataFrame) -> bool:
    """Read the single-file marker off a log_lines relation.

    A union keeps only the FIRST branch's column metadata, so a
    composite of two marked relations would claim single-file falsely
    — reject any plan containing a Union (analysis-level string
    check, same trick as ensure_parallelism's Repartition probe)."""
    try:
        md = df.schema["filename"].metadata
    except Exception:
        return False
    if not (md and md.get("mtail_single_file", False)):
        return False
    try:
        if "Union" in df._jdf.queryExecution().analyzed().toString():
            return False
    except Exception:
        return False
    return True


def is_whole_file_relation(df: DataFrame) -> bool:
    """True when line_no carries the whole-file marker of
    read_log_lines' wholetext read.  A hint, not a guarantee: the
    consumer audits the line numbers it is handed."""
    try:
        md = df.schema["line_no"].metadata
    except Exception:
        return False
    return bool(md and md.get("mtail_whole_files", False))


def log_lines_from_df(
    df: DataFrame, line_col: str, filename: str = "df", order_col: str | None = None
) -> DataFrame:
    """Adapt any DataFrame with a text column into the log_lines
    relation (used to run mtail programs over e.g. the events table)."""
    if order_col is None:
        ordered = df.withColumn("line_no", F.monotonically_increasing_id())
    else:
        ordered = df.withColumn("line_no", F.col(order_col).cast("long"))
    return ordered.select(
        # a literal filename means exactly one logical file: mark it
        # so the vectorized store can skip its cross-file merge level
        F.lit(filename).alias("filename", metadata=SINGLE_FILE_MD),
        F.col("line_no"),
        F.col(line_col).cast("string").alias("line"),
    )
