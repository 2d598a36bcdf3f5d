"""The vectorized store plan (codegen.store_sql): one SQL text per
program and input shape, memoized on the CompiledProgram, so a warm
micro-batch costs a view registration and one `spark.sql`."""

import threading

from mtail_spark.compiler.api import compile_program
from mtail_spark.store import rows_from_df

PROG = r"""
counter requests_total by method, code
counter bytes_total
histogram latency_ms buckets 1, 5, 10, 50, 100
gauge last_size
/^(?P<method>[A-Z]+) (?P<code>\d+) (?P<size>\d+) (?P<ms>\d+)$/ {
  requests_total[$method][$code]++
  bytes_total += $size
  latency_ms = $ms
  last_size = $size
}
"""


def _batch(spark, lines):
    return spark.createDataFrame(
        [("app.log", i, ln) for i, ln in enumerate(lines)],
        "filename string, line_no long, line string",
    )


def _count_py4j(spark, monkeypatch):
    """Wrap the gateway client's send: returns a function giving the
    round trips this thread has made since."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    local = threading.local()

    def counting_send(*a, **kw):
        local.n = getattr(local, "n", 0) + 1
        return send(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting_send)
    return lambda: getattr(local, "n", 0)


def test_warm_run_batch_makes_few_py4j_calls(spark, monkeypatch):
    """A second micro-batch through a warm program reuses the plan
    text: a handful of round trips, not one per Column call (~850
    when the plan was rebuilt through the Column API), and its rows
    are the second batch's own."""
    prog = compile_program(PROG, "guard.mtail")
    first = prog.run_batch(
        spark, _batch(spark, ["GET 200 10 3", "PUT 500 7 70"]),
        cache_plan=False,
    )
    first.collect()
    second_batch = _batch(spark, ["GET 404 5 1"])
    calls = _count_py4j(spark, monkeypatch)
    second = prog.run_batch(spark, second_batch, cache_plan=False)
    n = calls()
    monkeypatch.undo()
    assert n <= 50, f"{n} py4j round trips for a warm run_batch"
    got = {(r.name, r.labels): r.value for r in rows_from_df(second)}
    assert got[("requests_total", (("code", "404"), ("method", "GET")))] == 1
    assert got[("bytes_total", ())] == 5
    assert got[("last_size", ())] == 5
    assert got[("latency_ms", ())][1:] == (1, 1.0)
    assert len(prog._store_sql) == 1
    assert all(isinstance(t, str) for t in prog._store_sql.values())


def test_untouched_keyless_metrics_zero_initialise(spark):
    """Keyless counters and histograms without an update site still
    get their zero rows, with kind and vtype, beside metrics that do
    have sites — as run_local gives them."""
    prog = compile_program(
        "counter a\ncounter b\ncounter c by k\n"
        "histogram h buckets 1, 2\n/x/ { b++ }\n",
        "zeros.mtail",
    )
    lines = ["y", "x"]
    want = sorted(prog.run_local(lines, filename="app.log"),
                  key=lambda r: r.sort_key())
    got = sorted(
        rows_from_df(prog.run_batch(spark, _batch(spark, lines),
                                    backend="vector")),
        key=lambda r: r.sort_key(),
    )
    assert [r.name for r in got] == ["a", "b", "h"]
    assert got == want
