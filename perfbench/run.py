#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0

Workloads (see serve.py and write.py):

- ``serve``: the read path over one persisted snapshot;
- ``write``: build from raw text, change-feed upserts with read-your-writes
  queries, then the LLM-data dedup/selection pipeline.

Inputs are generated from ``--seed`` alone and handed to the engine as
parquet files under ``.perfbench/`` in the checkout, which is removed at
exit.  Each workload times a fixed amount of work, sized so its timed
part takes 20-30 s on a 4-core host; ``--seconds`` is recorded in the
report, not used to stop the loop.  Every timed output is checked,
against DuckDB where an oracle exists.  ``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` turns the Spark event log on and reports the per-layer
metrics instead.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (distributions, input properties, environment, self
time per layer).  Exits nonzero when a check fails.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("serve", "write")
UNITS = {
    "setup_s": "s",
    "ready_s": "s",
    "op_p50_ms": "ms",
    "batch_per_s": "1/s",
    "quality": "ratio",
    "peak_rss_mb": "MB",
}


class Ctx:
    """What one run carries between set-up, the timed part and checks."""

    def __init__(self, seed: int, work: str, traced: bool):
        self.seed = seed
        self.work = work
        self.traced = traced
        self.inputs: dict = {}
        self.results: dict = {}
        self.out: dict = {}
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.text_bytes = 1

    def path(self, rel: str) -> str:
        return os.path.join(self.work, "data", rel)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "beyond_vector_search_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Python's, the JVM's and Spark's scratch files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        return _run(args, work)
    finally:
        # a failed run still stops its JVM before its files go
        if "pyspark" in sys.modules:
            import common

            common.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _run(args, work: str) -> int:
    import importlib

    import common
    from spans import Tracer

    mod = importlib.import_module(args.workload)
    ctx = Ctx(args.seed, work, bool(args.trace))
    load_start = common.host_load()
    ticks_start = common.cpu_ticks()
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    setup = {}
    with common.RssSampler() as rss:
        setup["import_s"] = time.perf_counter() - T0
        t = time.perf_counter()
        mod.generate(ctx)
        setup["generate_s"] = time.perf_counter() - t
        docs = ctx.inputs["docs"]
        ctx.text_bytes = sum(len(a.encode()) + len(b.encode()) + 1 for a, b in zip(docs["title"], docs["text"]))
        t = time.perf_counter()
        spark = common.start_session(event_dir)
        ctx.session_s = setup["session_s"] = time.perf_counter() - t
        ctx.spark = spark
        ctx.tracer = Tracer(spark if args.trace else None)
        t = time.perf_counter()
        mod.prepare(ctx)
        setup["prepare_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0
        t = time.perf_counter()
        mod.timed(ctx)
        timed_s = time.perf_counter() - t
        peak_mb = rss.peak_mb
    attempted, bad = mod.check(ctx)
    env = common.environment(args.seed, spark)
    props = mod.properties(ctx)
    common.stop_session()
    load_end = common.host_load()
    steal = common.steal_share(ticks_start, common.cpu_ticks())

    e2e = {"setup_s": setup_s, **mod.end_to_end(ctx), "peak_rss_mb": peak_mb}
    report = {
        "workload": args.workload,
        "traced": bool(args.trace),
        "seconds": args.seconds,
        "setup_parts_s": setup,
        "timed_s": timed_s,
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        "distributions": mod.distributions(ctx),
        "inputs": props,
        "environment": {**env, "host_start": load_start, "host_end": load_end, "cpu_steal_share": steal},
        "failures": bad,
    }
    if args.trace:
        from layers import PER_LAYER, per_layer
        from spans import parse_event_log

        layer, detail = per_layer(ctx, parse_event_log(event_dir))
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layer.items()}
        report["trace"] = detail
    else:
        metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
    failed = min(len(bad), attempted)
    report["error_rate"] = failed / attempted
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    for m in bad:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    return 1 if bad else 0


def main(argv=None) -> int:
    # a terminated run unwinds like a failed one: JVM stopped, files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
