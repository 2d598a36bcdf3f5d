"""Smoke tests: driver contract + core operator sanity."""

import __spark_entry__ as entrymod
from mtail_spark.planaudit import EXTERNAL_INPUT, missing_external_inputs


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"event_type", "hits", "last_ts"}


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # EVERY query has an oracle: bounded iteration (k-means) unrolls
    # into chained CTEs, so nothing is rows-only anymore
    assert set(oracles) == set(qs)


def test_all_queries_execute_smoke(spark, sf_smoke):
    qs = entrymod.queries()
    # a renamed query must not leave a stale set-aside behind
    stale = sorted(set(EXTERNAL_INPUT) - set(qs))
    assert not stale, f"EXTERNAL_INPUT names no registered query: {stale}"
    set_aside = missing_external_inputs()
    for name, fn in qs.items():
        if name in set_aside:
            continue
        df = fn(spark, sf_smoke)
        assert df.columns, name
        df.limit(5).collect()


def test_parse_byte_size():
    from mtail_spark.session import _parse_byte_size

    assert _parse_byte_size("128MB") == 128 * 1024 * 1024
    assert _parse_byte_size("134217728b") == 134217728
    assert _parse_byte_size("1g") == 1024 ** 3
    assert _parse_byte_size("512k") == 512 * 1024
    assert _parse_byte_size("4096") == 4096


def test_ensure_parallelism(spark, tmp_path):
    from mtail_spark.session import ensure_parallelism

    # small single-file scan -> repartitioned up to cluster parallelism
    p = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(p)
    df = spark.read.parquet(p)
    out = ensure_parallelism(df, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # in-memory relation (no input files) -> untouched
    mem = spark.range(10)
    assert ensure_parallelism(mem, spark) is mem


def test_scan_tune_scoped_to_largest_input(spark, tmp_path):
    """ADVICE r12: when several multi-row-group inputs tune the scan
    split size in one session, the LARGEST want since the last reset
    wins — a small input planned last must not de-parallelize a large
    input's scan into thousands of tiny splits."""
    from mtail_spark.session import (
        _parse_byte_size,
        ensure_parallelism,
        reset_scan_tuning,
    )

    def mk(name, rows, groups):
        p = str(tmp_path / name)
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table({"x": list(range(rows))})
        pq.write_table(tbl, p, row_group_size=rows // groups)
        return p

    big = mk("big.parquet", 200_000, 64)
    small = mk("small.parquet", 40_000, 64)
    reset_scan_tuning(spark)
    try:
        ensure_parallelism(spark.read.parquet(big), spark,
                           tune_only=True)
        after_big = _parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        ensure_parallelism(spark.read.parquet(small), spark,
                           tune_only=True)
        after_small = _parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        # the small input's (smaller) want must not shrink the conf
        assert after_small >= after_big
        # and a reset clears the scope: the small input alone tunes
        # below the big input's value
        reset_scan_tuning(spark)
        ensure_parallelism(spark.read.parquet(small), spark,
                           tune_only=True)
        alone = _parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes")
        )
        assert alone <= after_big
    finally:
        reset_scan_tuning(spark)
