"""Public compiler API: mtail program text -> executable Spark plans.

    prog = compile_program(src, "rsyncd.mtail")
    store_df = prog.run_batch(spark, log_lines_df)   # STORE_SCHEMA rows

Backend selection (SURVEY.md §7 "hard parts #1"): programs that read
metric state (hidden-metric folds, del, metric-valued conditions) are
order-sensitive and run as a fold per file (chunkfold.fold_store) —
parallel across files, sequential within each file.  Everything else
runs on the vectorized DataFrame backend (codegen.py): one projection
pass + one shuffle, Catalyst/Tungsten codegen end to end.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mtail_spark.compiler.checker import CheckedProgram, check
from mtail_spark.compiler.interp import Interp


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
    _scalar_registers: bool = False
    # Ellipsis = not yet computed; None = chunkfoldable; str = reason not
    _chunkfold_reason: object = Ellipsis
    # SQL texts of the program's store plans, by key: codegen.store_sql's
    # for the vectorized store, ("merge", chunked) for the folds' merge
    # and ("prefilter",) for their line prefilter (text only: no
    # DataFrame, session or executed state)
    _store_sql: dict = field(default_factory=dict, repr=False,
                             compare=False)
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

            vz = Vectorizer(self.checked)
            try:
                vz.compile()
                self._vectorizable = True
            except VectorizeError:
                self._vectorizable = False
            self._scalar_registers = bool(vz.scalar_strata)
        return self._vectorizable

    @property
    def scalar_registers(self) -> bool:
        """True when the vectorized plan carries scalar registers as
        window columns over each file's line order."""
        return self.vectorizable and self._scalar_registers

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

    def _auto_backend(self, input_bytes) -> str:
        """Backend selection.  Stateless programs: the vectorized
        DataFrame plan (whole-stage codegen, ~900 klines/s marginal).
        Register-RMW programs on LARGE inputs: chunkfold (fold
        constants x chunk parallelism; the
        vectorized carry-window plan's per-line constant loses past
        ~64 MB).  Small register inputs keep the window plan /
        sequential fold, whose fixed overheads are lower.

        input_bytes(): the input's size, or None when unknown."""
        if self.checked.cross_line_state and self.chunkfoldable:
            from mtail_spark.compiler.chunkfold import CHUNKFOLD_MIN_BYTES

            est = input_bytes()
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
        from mtail_spark.session import estimated_local_input_bytes

        # file-stat size of the input, taken at most once per call
        local_bytes = functools.cache(
            lambda: estimated_local_input_bytes(log_lines)
        )
        if backend == "auto":
            # input_bytes: caller-supplied size for relations the
            # file-stat estimator can't see (streaming micro-batches
            # report no inputFiles; the serving pipeline measures the
            # batch instead — pipeline.py)
            backend = self._auto_backend(
                lambda: input_bytes if local_bytes() is None
                else local_bytes()
            )
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
        sp = None
        if backend in ("vector", "chunkfold"):
            # Store-agg reduce side is store-sized; size its shuffle
            # from the input (consulted at action time — chunkfold's
            # exact path acts inside its build — and the session conf
            # travels with the plan under the same single-tuner
            # invariant as maxPartitionBytes above).
            from mtail_spark.session import tune_store_shuffle

            sp = tune_store_shuffle(spark, local_bytes())
        if backend == "vector":
            from mtail_spark.compiler.codegen import vectorized_store

            df = vectorized_store(self, spark, log_lines, now_us=now_us)
        elif backend == "chunkfold":
            from mtail_spark.compiler.chunkfold import chunkfold_store

            df = chunkfold_store(self, spark, log_lines, now_us=now_us)
        else:
            from mtail_spark.compiler.chunkfold import fold_store

            df = fold_store(self, spark, log_lines, now_us=now_us)
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
