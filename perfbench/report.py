"""Summarise benchmark result files into the tables kept in NOTES.md.

    python3 perfbench/report.py

Reads every ``<run id>.json`` that ``run.py`` left in ``.perfbench/results``
and prints, per workload: the untraced runs'
end-to-end metrics as median and quartiles with the seeds and host load;
the traced runs' per-layer spans; the span with the largest self time; and
the tracing overhead as traced over untraced medians.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def _load(results: Path) -> list[dict]:
    runs = []
    for path in sorted(results.glob("*.json")):
        if path.name.endswith(".spans.json"):
            continue
        with open(path) as fh:
            runs.append(json.load(fh))
    return runs


def report(runs: list[dict]) -> str:
    from perfbench.layers import SPANS

    out = []
    for workload in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == workload and not r["trace"]]
        traced = [r for r in runs if r["workload"] == workload and r["trace"]]
        out.append(f"### {workload}\n")
        if plain:
            seeds = sorted(r["seed"] for r in plain)
            load = [r["host"]["loadavg_before"][0] for r in plain]
            out.append(
                f"{len(plain)} untraced runs, seeds {seeds}, seconds {plain[0]['seconds']}, "
                f"1-min loadavg before runs {min(load):.2f}-{max(load):.2f}, "
                f"failed_frac max {max(r['failed_frac'] for r in plain):.3g}.\n"
            )
            out.append("| metric | q1 | median | q3 | (q3-q1)/median |\n|---|---|---|---|---|")
            names = [n for n in plain[0]["end_to_end"] if all(n in r["end_to_end"] for r in plain)]
            for name in names:
                q1, med, q3 = _quartiles([r["end_to_end"][name] for r in plain])
                out.append(f"| {name} | {q1:.4g} | {med:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} |")
            recorded = {
                "peak_rss_mb (recorded)": [r.get("peak_rss_mb") for r in plain],
                "rss_mb_p50 (recorded)": [r.get("rss_mb_p50") for r in plain],
                "recall_at_10 (recorded)": [r["check"].get("recall_at_10") for r in plain],
                "cpu_steal_frac (host)": [r.get("cpu_steal_frac") for r in plain],
            }
            for name, values in recorded.items():
                if None in values:
                    continue
                q1, med, q3 = _quartiles(values)
                spread = f"{(q3 - q1) / med:.3f}" if med else "-"
                out.append(f"| {name} | {q1:.4g} | {med:.4g} | {q3:.4g} | {spread} |")
            calls = [r["calls"] for r in plain]
            out.append(f"\nCalls per run {min(calls)}-{max(calls)}; items are {plain[0]['items_are']}.\n")
        for r in traced:
            layer = r["per_layer"]
            out.append(f"Traced run seed {r['seed']} ({r['calls']} calls):\n")
            out.append(
                "| span | calls | wall_s | driver_s | jobs | tasks | task_s p50/max | cpu_s | "
                "gc_s | shuffle_B | python_boot_s | python_s | python_B | files_read |"
            )
            out.append("|---" * 14 + "|")
            for span in SPANS:
                v = {k.rsplit(".", 1)[1]: x[0] for k, x in layer.items() if k.rsplit(".", 1)[0] == span}
                if not v["wall_s"]:
                    continue
                out.append(
                    f"| {span} | {r['span_calls'].get(span, 0)} | "
                    f"{v['wall_s']:.3f} | {v['driver_s']:.3f} | {v['spark_jobs']:.1f} | "
                    f"{v['tasks']:.0f} | {v['task_s_p50']:.3f}/{v['task_s_max']:.3f} | "
                    f"{v['executor_cpu_s']:.2f} | {v['gc_s']:.2f} | {v['shuffle_bytes']:.3g} | "
                    f"{v['python_boot_s']:.2f} | {v['python_s']:.2f} | {v['python_bytes']:.3g} | "
                    f"{v['files_read']:.0f} |"
                )
            standalone = {
                k: x[0]
                for k, x in layer.items()
                if not any(k.startswith(s + ".") for s in SPANS) and x[0]
            }
            out.append("\nStandalone: " + ", ".join(f"`{k}` {v:.4g}" for k, v in standalone.items()))
            self_s = r["layer_self_s"]
            top = max(self_s, key=self_s.get)
            out.append(
                f"\nLargest self time: `{top}` {self_s[top]:.2f} s of {r['loop_s'] + r['end_to_end']['setup_s']:.2f} s "
                "setup+loop. Self time by span: "
                + ", ".join(f"{k} {v:.2f}" for k, v in sorted(self_s.items(), key=lambda kv: -kv[1]))
                + "\n"
            )
        if plain and traced:
            parts = []
            for name in names:
                base = statistics.median(r["end_to_end"][name] for r in plain)
                t = statistics.median(r["end_to_end"][name] for r in traced)
                parts.append(f"{name} {t / base:.3f}")
            out.append("Tracing overhead, traced/untraced median: " + ", ".join(parts) + "\n")
    return "\n".join(out)


def main() -> int:
    sys.path.insert(0, str(ROOT))
    print(report(_load(ROOT / ".perfbench" / "results")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
