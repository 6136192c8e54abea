"""Layered benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 6 --trace 0

Run from the repository root. One process runs one workload at
``local[<nproc>]``: it generates (or reuses) the seeded inputs, starts the
session, builds what the workload needs and makes its warm-up calls
(``setup_s``), then runs whole workload cycles in a closed loop, one call
outstanding, until ``--seconds`` have passed. After the loop it checks the
outputs and prints, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` every call's Spark jobs are tagged with
the call's span, and the metrics are the per-layer ones read back from
Spark's status stores. Everything the run writes stays under
``.perfbench/`` in the repository root: inputs are cached in ``inputs/``,
each run works in a fresh ``runs/<run id>/`` (deleted at the end), and
``results/`` keeps one JSON file of metrics, checks and host fingerprint
per run plus the run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE_DIR = ROOT / "ebook_conversion_to_text_for_machine_learning_spark"
STATE = ROOT / ".perfbench"


def _percentile_with_ten_beyond(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest order statistic with at least ten
    samples above it; None below eleven samples."""
    if len(values) < 11:
        return None
    ordered = sorted(values)
    i = len(ordered) - 11
    return 100.0 * (i + 1) / len(ordered), ordered[i]


def _isolate_environment(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under the run's
    own directory, and let the workers import the engine from this tree."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session_conf(run_dir: Path) -> dict:
    from perfbench.statusstore import RETENTION_CONF

    tmp = run_dir / "tmp"
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(tmp),
        # Initial heap = maximum heap, so heap size (and with it GC frequency
        # and resident size) does not depend on when the collector chose to
        # grow the heap: that alone swung the resident size by ~10% between
        # identical runs.
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **RETENTION_CONF,
    }


def _stop_spark(spark) -> list[int]:
    """Stop the session and its JVM, then wait for every process it started."""
    from perfbench import host

    started = host.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    return host.wait_gone(started)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import host
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    t_process = host.process_start_time()
    run_id = f"{workload_name}-s{seed}-t{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = STATE / "runs" / run_id
    results_dir = STATE / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    _isolate_environment(run_dir)
    fingerprint = host.fingerprint(ROOT, PACKAGE_DIR)
    cpu_before = host.cpu_times()
    if fingerprint["other_jvms"]:
        print(
            f"perfbench: WARNING other JVMs are running {fingerprint['other_jvms']}; "
            "timings may be disturbed",
            file=sys.stderr,
        )
    cls = WORKLOADS[workload_name]
    tracer = Tracer(workload_name, run_id)
    nproc = fingerprint["nproc"]
    spark = None
    try:
        with tracer.span("run"):
            t_gen = time.time()
            # Inputs are generated before the session starts, so setup_s
            # below measures the engine's cold start and nothing of ours.
            with tracer.span("inputs"):
                wl = cls(tracer, run_dir, STATE / "inputs", seed, seconds)
            gen_s = time.time() - t_gen
            rss = host.RssSampler().start()
            with tracer.span("setup"):
                with tracer.span("session.build_session"):
                    from ebook_conversion_to_text_for_machine_learning_spark.session import (
                        build_session,
                    )

                    spark = build_session(
                        app_name=f"perfbench-{workload_name}",
                        master=f"local[{nproc}]",
                        shuffle_partitions=nproc,
                        extra_conf=_session_conf(run_dir),
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                if trace:
                    tracer.tag_jobs(spark.sparkContext)
                wl.setup(spark)
            t_loop = time.time()
            setup_s = t_loop - t_process - gen_s
            items = []
            with tracer.span("loop"):
                while True:
                    with tracer.span("cycle"):
                        items.append(wl.cycle())
                    if time.time() - t_loop >= seconds:
                        break
            t_end = time.time()
            loop_s = t_end - t_loop
            rss.stop()
            if trace:
                with tracer.span("traced_extra"):
                    wl.traced_extra()
            with tracer.span("check"):
                attempted, failed, check = wl.check()
            per_layer = _per_layer(spark, tracer, wl) if trace else None
            java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    except Exception:
        traceback.print_exc()
        raise
    finally:
        leftover = _stop_spark(spark) if spark is not None else []
        shutil.rmtree(run_dir, ignore_errors=True)

    latencies = tracer.durations(cls.call)
    tail = _percentile_with_ten_beyond(latencies)
    # Every cycle of a workload does the same work, so throughput is taken at
    # the median cycle: one cycle slowed by the host moves it less than it
    # moves items / loop wall.
    cycle_rates = [n / s for n, s in zip(items, tracer.durations("cycle"))]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "items_per_s": (statistics.median(cycle_rates), "items/s"),
        "call_s_p50": (statistics.median(latencies), "s"),
    }
    fingerprint.update(
        loadavg_after=list(os.getloadavg()),
        java=java,
        leftover_processes_killed=leftover,
    )
    record = {
        "run_id": run_id,
        "workload": workload_name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "host": fingerprint,
        "inputs_s": gen_s,
        "loop_s": loop_s,
        # Memory is recorded, not gated: between identical runs the peak
        # jumped by 1-2 GB and the loop's median split into two modes ~15%
        # apart.
        "peak_rss_mb": rss.peak_mb(),
        "rss_mb_p50": rss.median_mb(t_loop, t_end),
        "items": sum(items),
        "cycles": len(items),
        "cpu_steal_frac": host.steal_fraction(cpu_before, host.cpu_times()),
        "items_are": cls.items,
        "calls": len(latencies),
        "call_latencies_s": latencies,
        "call_s_tail": (
            {"percentile": tail[0], "value": tail[1], "calls": len(latencies)} if tail else None
        ),
        "failed_frac": failed / attempted if attempted else 1.0,
        "check": check,
        "end_to_end": {k: v[0] for k, v in end_to_end.items()},
        "per_layer": per_layer,
        "layer_self_s": _self_time_by_name(tracer),
        "span_calls": _count_by_name(tracer),
    }
    with open(results_dir / f"{run_id}.json", "w") as fh:
        json.dump(record, fh, indent=1)
    tracer.write(str(results_dir / f"{run_id}.spans.json"))
    metrics = (
        {k: {"value": v[0], "unit": v[1]} for k, v in per_layer.items()}
        if trace
        else {k: {"value": v[0], "unit": v[1]} for k, v in end_to_end.items()}
    )
    return {
        "summary": record,
        "line": {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def _self_time_by_name(tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for span_id, s in tracer.self_times().items():
        name = tracer.spans[span_id]["name"]
        out[name] = out.get(name, 0.0) + s
    return out


def _count_by_name(tracer) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in tracer.spans:
        out[s["name"]] = out.get(s["name"], 0) + 1
    return out


def _per_layer(spark, tracer, wl) -> dict[str, tuple[float, str]]:
    from perfbench.layers import layer_metrics
    from perfbench.statusstore import StatusStoreReader

    return layer_metrics(StatusStoreReader(spark).snapshot(), tracer, wl.layer)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not PACKAGE_DIR.is_dir():
        print(f"perfbench: engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - reported above; no result line
        return 1
    s = result["summary"]
    print(
        f"perfbench {s['workload']} seed={s['seed']} calls={s['calls']} items={s['items']} "
        f"({s['items_are']}) failed_frac={s['failed_frac']:.4g} tail={s['call_s_tail']} "
        f"check={json.dumps(s['check'])}"
    )
    for name, value in s["end_to_end"].items():
        print(f"perfbench   {name} = {value:.6g}")
    print(f"perfbench   peak_rss_mb = {s['peak_rss_mb']:.6g} rss_mb_p50 = {s['rss_mb_p50']:.6g}")
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
