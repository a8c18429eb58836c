"""CDC engine benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload hot_key --seed 1 --seconds 8 --trace 0

Run from the repository root. Every workload runs the scenario described
in perfbench/cdc.py against the engine's public API at local[nproc], checks
the outputs against the pandas oracle outside the timed regions, and prints
as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
is traced (spans + Spark stage metrics per layer, plus the catalog, prefix
and host probes) and the metrics are the per-layer ones. Each run writes
its samples and phase times (and, traced, its spans) under
.perfbench/results/. Inputs are generated from --seed and cached under
.perfbench/cache/; the program only sees the generated files.
Exits non-zero without a result line when the engine package is missing or
a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: end-to-end metrics (name -> unit); BENCHMARK.json holds their bounds
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ingest_events_per_s": "1/s",
    "lag_p50_s": "s",
    "lookup_p50_s": "s",
    "changes_p50_s": "s",
}


def _args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.inputs import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    return a


def _build_spark(traced: bool):
    from nifi_daffodil_spark.session import build_session
    from perfbench import host

    def build(cores: int):
        return build_session(
            app_name="perfbench",
            cores=cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: the JVM's resident set then does not
                # follow the collector's run-to-run heap resizing
                "spark.driver.extraJavaOptions": "-Xms" + host.DRIVER_MEM,
                # the traced run reads stage metrics from the UI's REST API
                "spark.ui.enabled": "true" if traced else "false",
            },
        )

    return build


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, REPO)
    a = _args(argv)
    try:
        import nifi_daffodil_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {REPO}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench.inputs import cdc_inputs

    state = os.path.join(REPO, ".perfbench")
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(host.local_env(work, REPO))
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(state, "cache")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    phases: dict[str, float] = {}

    def timed(name: str, step) -> None:
        t = time.monotonic()
        step()
        phases[name] = time.monotonic() - t

    from perfbench.cdc import CdcScenario
    from perfbench.trace import Tracer

    t = time.monotonic()
    inputs = cdc_inputs(cache, a.workload, a.seed)
    phases["inputs"] = time.monotonic() - t
    tracer = Tracer(enabled=bool(a.trace))
    sc = CdcScenario(work, a.workload, a.seed, a.seconds, inputs, tracer, cores)
    sc.out.detail.update(phase_s=phases, seed=a.seed, seconds=a.seconds)
    build = _build_spark(bool(a.trace))
    timed("setup", lambda: sc.setup(build))
    try:
        if a.trace:
            from perfbench import layers

            layers.before_bulk(sc)
        for name, step in (("load", sc.load), ("trickle", sc.trickle), ("serve", sc.serve),
                           ("bulk", sc.bulk), ("serve2", sc.serve)):
            timed(name, step)
        # before the gate: its pandas oracle is the benchmark's work
        py_mb, jvm_mb = host.peak_rss_mb(sc.spark)
        sc.out.metrics["peak_rss_mb"] = py_mb + jvm_mb
        sc.out.detail["peak_rss_mb"] = {"python": py_mb, "jvm": jvm_mb}
        timed("gate", sc.gate)
        if a.trace:
            metrics, units = layers.after_gate(sc, build, cache, results), layers.UNITS
        else:
            metrics, units = sc.out.metrics, END_TO_END
    finally:
        host.shutdown(sc.spark)
    out = sc.out
    metrics = {k: v for k, v in metrics.items() if k in units and v is not None}
    stem = os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}")
    if a.trace:
        tracer.write(f"{stem}.spans.json", {"moves": layers.MOVES})
    with open(f"{stem}.json", "w") as f:
        json.dump({"metrics": metrics, "detail": out.detail, "problems": out.problems},
                  f, indent=1, default=str)
    for p in out.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    t_start = time.monotonic()
    rc = main()
    print(f"perfbench: {time.monotonic() - t_start:.1f} s", file=sys.stderr)
    sys.exit(rc)
