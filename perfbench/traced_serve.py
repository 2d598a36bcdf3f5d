"""Traced launcher for serve mode.

    python perfbench/traced_serve.py OUT.json <mtail_spark CLI args...>

Installs the outside-in tracer, then runs the same entry point as
`python -m mtail_spark` (mtail_spark.__main__.main).  While the daemon
runs, a sampler thread records how many bytes the tailed logs hold
beyond what the tailer has spooled.  When main returns (SIGINT), the
spans, streaming progress, samples and status-store stage metrics are
written to OUT.json.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402

LAG_EVERY_S = 0.5


def _bytes(paths) -> int:
    total = 0
    for p in paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass  # rolled or renamed between glob and stat
    return total


def _spool_files(tailer) -> list[str]:
    return glob.glob(os.path.join(tailer.root, "*", "spool-*.log"))


def main() -> int:
    out, argv = sys.argv[1], sys.argv[2:]
    tracer = spans.Tracer()
    tracer.install()
    halt = threading.Event()

    def sample_lag():
        lag = tracer.samples.setdefault("lag_bytes", [])
        while not halt.wait(LAG_EVERY_S):
            for t in tracer.tailers:
                written = _bytes(glob.glob(t.pattern))
                lag.append((time.monotonic(), written - _bytes(_spool_files(t))))

    sampler = threading.Thread(target=sample_lag, daemon=True)
    sampler.start()
    from mtail_spark.__main__ import main as mtail_main

    try:
        return mtail_main(argv)
    finally:
        halt.set()
        sampler.join()
        extra = {"spool_files_end": sum(len(_spool_files(t))
                                        for t in tracer.tailers)}
        if tracer.spark is not None:
            extra["stage"] = tracer.stage_metrics(tracer.spark)
        tracer.dump(out, extra)


if __name__ == "__main__":
    sys.exit(main())
