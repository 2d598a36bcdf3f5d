"""Public compiler API: mtail program text -> executable Spark plans.

    prog = compile_program(src, "rsyncd.mtail")
    store_df = prog.run_batch(spark, log_lines_df)   # STORE_SCHEMA rows

Backend selection (SURVEY.md §7 "hard parts #1"): programs that read
metric state (hidden-metric folds, del, metric-valued conditions) are
order-sensitive and run as an applyInPandas fold per file — parallel
across files, sequential within each file.  Everything else runs on
the vectorized DataFrame backend (codegen.py): one projection pass +
one shuffle, Catalyst/Tungsten codegen end to end.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mtail_spark.compiler.checker import CheckedProgram, check
from mtail_spark.compiler.interp import Interp
from mtail_spark.store import STORE_SCHEMA

# Partial store rows produced by each per-file fold (labels/buckets as
# JSON strings: exact, Arrow-friendly transport).
PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("src_file", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("vtype", T.StringType(), False),
        T.StructField("labels_json", T.StringType(), False),
        T.StructField("value_i", T.LongType(), True),
        T.StructField("value_f", T.DoubleType(), True),
        T.StructField("value_s", T.StringType(), True),
        T.StructField("buckets_json", T.StringType(), True),
        T.StructField("bucket_count", T.LongType(), True),
        T.StructField("bucket_sum", T.DoubleType(), True),
        T.StructField("ts_us", T.LongType(), True),
    ]
)

_LABELS_TYPE = T.MapType(T.StringType(), T.StringType())
_BUCKETS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("le", T.DoubleType(), False),
            T.StructField("count", T.LongType(), False),
        ]
    )
)


def _rows_to_partial(rows, src_file: str):
    """DatumRows -> records matching PARTIAL_SCHEMA."""
    out = []
    for r in rows:
        rec = {
            "src_file": src_file,
            "name": r.name,
            "kind": r.kind,
            "vtype": r.vtype,
            "labels_json": json.dumps(dict(r.labels), sort_keys=True),
            "value_i": None,
            "value_f": None,
            "value_s": None,
            "buckets_json": None,
            "bucket_count": None,
            "bucket_sum": None,
            "ts_us": r.ts,
        }
        if r.vtype == "Int":
            rec["value_i"] = int(r.value)
        elif r.vtype == "Float":
            rec["value_f"] = float(r.value)
        elif r.vtype == "String":
            rec["value_s"] = r.value
        else:  # Buckets
            buckets, count, total = r.value
            rec["buckets_json"] = json.dumps(
                [
                    {"le": ("Infinity" if le == float("inf") else le), "count": c}
                    for le, c in buckets
                ]
            )
            rec["bucket_count"] = count
            rec["bucket_sum"] = total
        out.append(rec)
    return out


def _input_fingerprint(df: DataFrame):
    """Identity of a batch relation's input file listing, for plan
    caching: () for file-less relations (in-memory locals), a tuple of
    (uri, size, mtime_ns) for local files, or None — DON'T cache —
    when the listing can't be verified cheaply (remote filesystems,
    stat errors).  Appending to or rotating a local log file changes
    the fingerprint, so a long-lived session never serves a stale
    cached plan over refreshed inputs."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return ()
    out = []
    for f in sorted(files):
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            st = os.stat(unquote(u.path))
        except OSError:
            return None
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


@dataclass
class CompiledProgram:
    src: str
    name: str
    checked: CheckedProgram
    syslog_use_current_year: bool = False
    # IANA zone for zone-less strptime wall clocks (reference
    # --override_timezone); None = UTC
    override_timezone: str | None = None
    _vectorizable: bool | None = None
    # Ellipsis = not yet computed; None = chunkfoldable; str = reason not
    _chunkfold_reason: object = Ellipsis
    # (backend, now_us, flags, session token, input-plan semanticHash,
    # file-listing fingerprint) -> analyzed store DataFrame.
    # Re-running a program over the same input relation skips the
    # ~1 s of driver-side plan construction and Catalyst analysis
    # (py4j round trips dominated repeat runs).
    _plan_cache: dict = field(default_factory=dict, repr=False,
                              compare=False)

    @property
    def vectorizable(self) -> bool:
        """True when the whole program compiles to the DataFrame plan.
        Cross-line registers (hidden gauge/text set/read/del) are now
        vectorized via a carry window, so this is a trial compile, not
        the checker's cross_line_state flag: only shapes the window
        path cannot express (reads of exported metrics, del on
        non-registers, register-driven regex subjects) fall back to
        the ordered fold."""
        if self._vectorizable is None:
            from mtail_spark.compiler.codegen import (
                VectorizeError,
                Vectorizer,
            )

            try:
                Vectorizer(self.checked).compile()
                self._vectorizable = True
            except VectorizeError:
                self._vectorizable = False
        return self._vectorizable

    @property
    def exported_kinds(self) -> frozenset:
        """Kinds of the program's exported metrics (compile-time):
        lets the partial-store merges skip branches for absent kinds."""
        return frozenset(
            mi.decl.kind
            for mi in self.checked.metrics.values()
            if not mi.decl.hidden
        )

    @property
    def chunkfoldable(self) -> bool:
        """True when the program is in the chunkfold class: all
        cross-chunk state in scalar registers, exported updates
        chunk-mergeable (chunkfold.chunkfold_unsupported_reason)."""
        if self._chunkfold_reason is Ellipsis:
            from mtail_spark.compiler.chunkfold import (
                chunkfold_unsupported_reason,
            )

            self._chunkfold_reason = chunkfold_unsupported_reason(
                self.checked
            )
        return self._chunkfold_reason is None

    def _auto_backend(
        self, log_lines: DataFrame, input_bytes: int | None = None
    ) -> str:
        """Backend selection.  Stateless programs: the vectorized
        DataFrame plan (whole-stage codegen, ~900 klines/s marginal).
        Register-RMW programs on LARGE inputs: the chunk-parallel
        speculative fold (fold constants x chunk parallelism; the
        vectorized carry-window plan's per-line constant loses past
        ~64 MB).  Small register inputs keep the window plan /
        sequential fold, whose fixed overheads are lower.

        input_bytes: caller-supplied size for relations the file-stat
        estimator can't see (streaming micro-batches report no
        inputFiles; the serving pipeline measures the batch instead —
        pipeline.py)."""
        if self.checked.cross_line_state and self.chunkfoldable:
            from mtail_spark.compiler.chunkfold import CHUNKFOLD_MIN_BYTES
            from mtail_spark.session import estimated_local_input_bytes

            est = estimated_local_input_bytes(log_lines)
            if est is None:
                est = input_bytes
            if est is not None and est > CHUNKFOLD_MIN_BYTES:
                return "chunkfold"
        return "vector" if self.vectorizable else "fold"

    # ------------------------------------------------------------ local

    def run_local(self, lines, filename: str = "", now_us: int = 0):
        """Pure-Python one-shot fold (testing / tiny inputs)."""
        it = Interp(self.checked, self.syslog_use_current_year,
                    tz=self.override_timezone)
        return it.run_lines(
            list(enumerate(lines)), filename=filename, now_us=now_us
        )

    # ------------------------------------------------------------ spark

    def run_batch(
        self,
        spark: SparkSession,
        log_lines: DataFrame,
        backend: str = "auto",
        now_us: int = 0,
        cache_plan: bool = True,
        input_bytes: int | None = None,
    ) -> DataFrame:
        """Run the program over a log_lines relation
        (filename, line_no, line) -> STORE_SCHEMA DataFrame.

        The constructed (lazy) store DataFrame is memoized by the
        input relation's canonicalized-plan hash PLUS a file-listing
        fingerprint (path, size, mtime per input file): the semantic
        hash of a file-source scan derives from its root paths, so
        without the fingerprint a long-lived session re-running over a
        log directory after appends/rotations would silently return
        the stale cached listing.  Inputs whose files cannot be
        fingerprinted (remote filesystems) are not cached.  Streaming
        callers pass cache_plan=False: micro-batch frames wrap
        per-batch RDDs whose semantic hash is not a reliable identity
        across batches.

        Split-size tuning (single-tuner invariant): the plan was built
        under an ensure_parallelism-tuned
        spark.sql.files.maxPartitionBytes, which Spark consults from
        the SESSION conf lazily at action time; run_batch (build or
        cache hit) re-applies the plan's value before returning, so
        the supported usage is `run_batch(...)` followed by the action
        on ITS result before the next program's run_batch.  Callers
        interleaving several programs' builds before collecting should
        collect each result right after its run_batch (or call
        session.reset_scan_tuning between unrelated scans); the tuning
        only affects split sizing (performance), never results."""
        if backend == "auto":
            backend = self._auto_backend(log_lines, input_bytes)
        key = None
        if cache_plan:
            from mtail_spark.session import session_token

            fp = _input_fingerprint(log_lines)
            if fp is not None:
                try:
                    key = (
                        backend, now_us,
                        self.syslog_use_current_year,
                        self.override_timezone,
                        session_token(spark),
                        log_lines._jdf.queryExecution().analyzed()
                        .semanticHash(),
                        fp,
                    )
                except Exception:
                    key = None
        _MPB = "spark.sql.files.maxPartitionBytes"
        if key is not None:
            hit = self._plan_cache.get(key)
            if hit is not None:
                df, mpb, sp = hit
                # Split planning is LAZY: the cached plan re-plans its
                # scan splits from the session conf at action time, so
                # re-apply the split sizing ensure_parallelism tuned
                # when the plan was built — otherwise a conf reset
                # between runs silently serializes the scan.  (See the
                # single-tuner invariant in the docstring.)  Same for
                # the store-agg shuffle sizing.
                if mpb is not None:
                    try:
                        spark.conf.set(_MPB, mpb)
                    except Exception:
                        pass
                if sp is not None:
                    try:
                        spark.conf.set(
                            "spark.sql.shuffle.partitions", str(sp)
                        )
                    except Exception:
                        pass
                return df
        if backend == "vector":
            from mtail_spark.compiler.codegen import vectorized_store

            df = vectorized_store(self, spark, log_lines, now_us=now_us)
        elif backend == "chunkfold":
            from mtail_spark.compiler.chunkfold import chunkfold_store

            df = chunkfold_store(self, spark, log_lines, now_us=now_us)
        else:
            df = self._run_fold(spark, log_lines, now_us)
        sp = None
        if backend in ("vector", "chunkfold"):
            # Store-agg reduce side is store-sized; size its shuffle
            # from the input (consulted at action time — the session
            # conf travels with the plan under the same single-tuner
            # invariant as maxPartitionBytes above).
            from mtail_spark.session import (
                estimated_local_input_bytes,
                tune_store_shuffle,
            )

            sp = tune_store_shuffle(
                spark, estimated_local_input_bytes(log_lines)
            )
        if key is not None:
            try:
                mpb = spark.conf.get(_MPB)
            except Exception:
                mpb = None
            if len(self._plan_cache) >= 32:
                for old_df, _m, _s in self._plan_cache.values():
                    cache = getattr(old_df, "_chunkfold_cache", None)
                    if cache is not None:
                        try:  # free evicted phase-A blocks
                            cache.unpersist()
                        except Exception:
                            pass
                self._plan_cache.clear()
            self._plan_cache[key] = (df, mpb, sp)
        return df

    def _fold_prefilter_patterns(self) -> list[str] | None:
        """Regex prefilter for the ordered fold.

        When EVERY top-level statement is a plain `/re/ { ... }` block
        (no `else`, no `otherwise`, no top-level expression
        conditions, pattern applied to the line itself), a line that
        matches none of the patterns is a guaranteed interpreter
        no-op: no block runs, so no metric or register changes.  Those
        lines can then be dropped JVM-side — inside the scan stage,
        before the Arrow transfer and the per-line Python interpreter
        — which is the difference between folding every line and
        folding only the relevant ones at 100 TB.  Declarations are
        runtime no-ops; decorators are already spliced by the checker.
        The patterns are the checker's translation, which Java and the
        interpreter's Python `re` both match as RE2 does, so the JVM
        drops exactly the lines the interpreter would ignore.  Returns
        java-regex patterns, or None when filtering is unsafe.
        """
        from mtail_spark.compiler import ast as A
        from mtail_spark.compiler.checker import strip_group_names

        pats = []
        for s in self.checked.stmts.stmts:
            if isinstance(s, (A.VarDecl, A.ConstDef, A.DecoDecl)):
                continue
            if isinstance(s, A.CondStmt) and s.els is None:
                cond = s.cond
                # a bare /re/ cond parses as MATCH(PatternLit)
                if (
                    isinstance(cond, A.UnaryExpr)
                    and cond.op == "MATCH"
                    and isinstance(cond.expr, A.PatternLit)
                ):
                    cond = cond.expr
                if isinstance(cond, A.PatternLit):
                    info = self.checked.regexes[cond.regex_id]
                    if info.subject is not None:
                        return None
                    pats.append(strip_group_names(info.pattern))
                    continue
            return None
        return pats or None

    @staticmethod
    def _java_compilable(spark, pats: list[str]) -> bool:
        """True iff every pattern compiles under java.util.regex.

        The prefilter runs JVM-side while the interpreter matches with
        Python `re`; a pattern that Python accepts but Java rejects
        would fail the whole scan stage at runtime, so the filter is
        disabled (correct, just unfiltered) rather than risked."""
        try:
            jre = spark._jvm.java.util.regex.Pattern
            for p in pats:
                jre.compile(p)
            return True
        except Exception:
            return False

    def _run_fold(self, spark, log_lines, now_us: int) -> DataFrame:
        """Executor-side CHUNKED ordered fold.

        Hash-partition by filename, sort within partitions by
        (filename, line_no), then stream Arrow batches through
        per-file interpreter runtimes inside mapInPandas: sequential
        within a file (the only order the DSL requires), parallel
        across files, and per-task memory bounded by the Arrow batch
        size plus the metric stores — a 100 GB file folds in one task
        but never materializes as one pandas DataFrame (the r1 shape,
        groupBy(filename).applyInPandas, handed the whole file to one
        pandas group).
        """
        from mtail_spark.session import ensure_workers_can_import

        ensure_workers_can_import(spark)
        src, name, use_year = self.src, self.name, self.syslog_use_current_year
        tz = self.override_timezone

        pats = self._fold_prefilter_patterns()
        if pats and not self._java_compilable(spark, pats):
            pats = None
        if pats:
            cond = F.col("line").rlike(pats[0])
            for p in pats[1:]:
                cond = cond | F.col("line").rlike(p)
            log_lines = log_lines.filter(cond)

        def fold_chunks(batches):
            import pandas as pd

            from mtail_spark.compiler.api import _rows_to_partial
            from mtail_spark.compiler.checker import check as _check
            from mtail_spark.compiler.interp import Interp as _Interp

            prog = _check(src, name)
            it = _Interp(prog, use_year, tz=tz)
            runtimes: dict = {}
            for pdf in batches:
                for fname, sub in pdf.groupby("filename", sort=False):
                    rt = runtimes.get(fname)
                    if rt is None:
                        rt = it.new_runtime(now_us=now_us, filename=fname)
                        runtimes[fname] = rt
                    it.feed(rt, zip(sub["line_no"], sub["line"]))
            out = []
            for fname, rt in runtimes.items():
                out.append(
                    pd.DataFrame(
                        _rows_to_partial(
                            rt.store.export_rows(name), fname
                        ),
                        columns=[f.name for f in PARTIAL_SCHEMA.fields],
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

        partial = (
            log_lines.repartition(F.col("filename"))
            .sortWithinPartitions("filename", "line_no")
            .mapInPandas(fold_chunks, schema=PARTIAL_SCHEMA)
        )
        return merge_partial_stores(
            partial, self.name, kinds=self.exported_kinds
        )


def merge_partial_stores(
    partial: DataFrame, prog_name: str, kinds=None
) -> DataFrame:
    """Merge per-file partial stores into one store (deterministic
    cross-file semantics: counters/histograms are additive; gauges,
    timers and text take the datum with the latest (ts, src_file);
    datum timestamps are the max across files)."""
    p = partial.withColumn(
        "buckets", F.from_json("buckets_json", _BUCKETS_TYPE)
    )
    return merge_parsed_partials(p, prog_name, kinds)


def merge_parsed_partials(
    p: DataFrame, prog_name: str, kinds=None
) -> DataFrame:
    """merge_partial_stores core over a relation with a parsed
    buckets ARRAY column — shared with the chunkfold backend's
    per-file collapse (chunkfold._merge_chunk_partials), which
    produces per-file rows directly so histograms never round-trip
    through JSON.

    kinds, when given, is the set of EXPORTED metric kinds the
    program declares (compile-time knowledge): branches whose kinds
    are absent are skipped entirely — a counter-only program plans
    one aggregation instead of three branches plus a join, and the
    empty-branch stages never reach the scheduler.

    Aggregation buffers stay PRIMITIVE wherever the kind allows
    (counters/histogram sums + max over longs -> HashAggregate); the
    labels MAP is re-parsed from labels_json once per OUTPUT row
    after the merge rather than carried through a first(map) buffer,
    which would demote every branch to SortAggregate.  Only the
    gauge/timer/text pick (ordering by (ts, src_file), a struct)
    keeps a non-primitive buffer — store-sized by then."""
    additive = p.filter(F.col("kind") == "counter")

    def want(*ks):
        return kinds is None or any(k in kinds for k in ks)

    # zero-init rows (value 0, ts 0) exist per file; summing keeps the
    # identity, and max(ts) keeps epoch 0 only when never updated.
    counters = additive.groupBy("name", "kind", "vtype", "labels_json").agg(
        F.sum("value_i").alias("value_i"),
        F.sum("value_f").alias("value_f"),
        F.lit(None).cast("string").alias("value_s"),
        F.lit(None).cast(_BUCKETS_TYPE).alias("buckets"),
        F.lit(None).cast("long").alias("bucket_count"),
        F.lit(None).cast("double").alias("bucket_sum"),
        F.max("ts_us").alias("ts_us"),
    )

    lww = p.filter(F.col("kind").isin("gauge", "timer", "text"))
    file_ord = F.struct(F.col("ts_us"), F.col("src_file"))
    gauges = (
        lww.groupBy("name", "kind", "vtype", "labels_json")
        .agg(
            F.max_by("value_i", file_ord).alias("value_i"),
            F.max_by("value_f", file_ord).alias("value_f"),
            F.max_by("value_s", file_ord).alias("value_s"),
            F.max_by("ts_us", file_ord).alias("out_ts"),
        )
        .select(
            "name", "kind", "vtype", "labels_json",
            "value_i", "value_f", "value_s",
            F.lit(None).cast(_BUCKETS_TYPE).alias("buckets"),
            F.lit(None).cast("long").alias("bucket_count"),
            F.lit(None).cast("double").alias("bucket_sum"),
            F.col("out_ts").alias("ts_us"),
        )
    )

    hist = p.filter(F.col("kind") == "histogram")
    hb = (
        hist.select(
            "name", "kind", "vtype", "labels_json",
            F.explode("buckets").alias("b"),
        )
        .groupBy(
            "name", "kind", "vtype", "labels_json",
            F.col("b.le").alias("le"),
        )
        .agg(F.sum("b.count").alias("cnt"))
    )
    hist_merged = (
        hb.groupBy("name", "kind", "vtype", "labels_json")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("le"), F.col("cnt").alias("count")))
            ).alias("buckets"),
        )
        .join(
            hist.groupBy("name", "labels_json").agg(
                F.sum("bucket_count").alias("bucket_count"),
                F.sum("bucket_sum").alias("bucket_sum"),
                F.max("ts_us").alias("ts_us"),
            ),
            ["name", "labels_json"],
        )
        .select(
            "name", "kind", "vtype", "labels_json",
            F.lit(None).cast("long").alias("value_i"),
            F.lit(None).cast("double").alias("value_f"),
            F.lit(None).cast("string").alias("value_s"),
            "buckets", "bucket_count", "bucket_sum", "ts_us",
        )
    )

    cols = [
        "name", "kind", "vtype", "labels_json", "value_i",
        "value_f", "value_s", "buckets", "bucket_count", "bucket_sum", "ts_us",
    ]
    branches = []
    if want("counter"):
        branches.append(counters.select(cols))
    if want("gauge", "timer", "text"):
        branches.append(gauges.select(cols))
    if want("histogram"):
        branches.append(hist_merged.select(cols))
    if not branches:  # no exported metrics at all: empty store
        branches.append(counters.select(cols))
    merged = branches[0]
    for b in branches[1:]:
        merged = merged.unionByName(b)
    out = merged.select(
        F.lit(prog_name).alias("prog"),
        "name", "kind", "vtype",
        F.from_json("labels_json", _LABELS_TYPE).alias("labels"),
        "value_i", "value_f", "value_s",
        "buckets", "bucket_count", "bucket_sum", "ts_us",
    )
    return out


_COMPILE_CACHE: dict = {}


def clear_plan_caches() -> None:
    """Drop every compiled program's memoized store plan (and
    unpersist any chunkfold phase-A blocks those plans hold).

    The compile memo itself survives — recompiling unchanged source
    is the reference's own skip (runtime.go:143-157) and is
    driver-side, deterministic work.  The PLAN memo, by contrast,
    can carry executed state: chunkfold_store materializes phase A
    (persist + audit collect) at build time, so a memoized plan
    returned to a later, equivalent run_batch call hands back
    previously computed rows.  Benchmarks that require every timed
    invocation to recompute from the inputs call this between
    repeats so each invocation rebuilds (and re-executes) from
    scratch; the within-invocation persist then works normally."""
    for prog in _COMPILE_CACHE.values():
        for df, _m, _s in prog._plan_cache.values():
            cache = getattr(df, "_chunkfold_cache", None)
            if cache is not None:
                try:
                    cache.unpersist()
                except Exception:
                    pass
        prog._plan_cache.clear()


def _enforce_limits(checked, max_regexp_length: int,
                    max_recursion_depth: int) -> None:
    from mtail_spark.compiler import ast as A
    from mtail_spark.compiler.checker import CheckError

    if max_regexp_length:
        for rid, info in enumerate(checked.regexes):
            if len(info.pattern) > max_regexp_length:
                raise CheckError(
                    f"regexp {rid} exceeds max_regexp_length "
                    f"({len(info.pattern)} > {max_regexp_length})"
                )
    if max_recursion_depth:
        def depth(n, d=0):
            if d > max_recursion_depth:
                raise CheckError(
                    f"program exceeds max_recursion_depth "
                    f"({max_recursion_depth})"
                )
            for f in vars(n).values():
                kids = f if isinstance(f, list) else [f]
                for k in kids:
                    if isinstance(k, A.Node):
                        depth(k, d + 1)

        depth(checked.stmts)


def compile_program(
    src: str,
    name: str = "prog",
    syslog_use_current_year: bool = False,
    max_regexp_length: int = 1024,
    max_recursion_depth: int = 100,
    override_timezone: str | None = None,
) -> CompiledProgram:
    """Compile (memoized by content hash — the reference skips
    recompiling unchanged programs the same way, runtime.go:143-157).

    max_regexp_length / max_recursion_depth are the reference's
    compile-time DoS guards (cmd/mtail/main.go:69-70): excessively
    long patterns or deeply nested expressions are rejected before
    they hit Java regex compilation or Catalyst (0 disables).

    override_timezone / syslog_use_current_year are part of the cache
    key: two compilations of identical source with different runtime
    flags get distinct CompiledProgram instances, so callers never
    need to mutate a shared cached instance after the fact."""
    import hashlib

    key = (
        hashlib.sha256(src.encode()).hexdigest(),
        name,
        syslog_use_current_year,
        max_regexp_length,
        max_recursion_depth,
        override_timezone,
    )
    hit = _COMPILE_CACHE.get(key)
    if hit is not None:
        return hit
    checked = check(src, name)
    _enforce_limits(checked, max_regexp_length, max_recursion_depth)
    prog = CompiledProgram(
        src=src,
        name=name,
        checked=checked,
        syslog_use_current_year=syslog_use_current_year,
        override_timezone=override_timezone,
    )
    _COMPILE_CACHE[key] = prog
    return prog
