"""Traced profile of every workload: one traced run per workload
(see run.py ``--trace 1``), then a per-layer table.

    python3 perfbench/layer_profile.py [--seed 1] [--out perfbench/baseline]

Writes ``<out>/<workload>.json`` (spans, per-layer metrics, input sizes,
host) and ``<out>/PROFILE.md`` (the tables side by side, plus the check
that the layers' self times and the unattributed harness time add up to
the traced wall time).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("snapshot_build", "lifecycle")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline"))
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    records = {}
    for wl in WORKLOADS:
        path = os.path.join(args.out, f"{wl}.json")
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", wl, "--seed", str(args.seed),
                        "--trace", "1", "--profile-out", path], check=True,
                       stdout=subprocess.DEVNULL)
        with open(path) as f:
            records[wl] = json.load(f)
    with open(os.path.join(args.out, "PROFILE.md"), "w") as f:
        f.write(render(records))
    return 0


def render(records: dict) -> str:
    first = next(iter(records.values()))
    lines = [
        "# Traced per-layer profile",
        "",
        f"seed {first['seed']}, local[{first['cpus']}], pyspark "
        f"{first['pyspark']}. Written by `python3 perfbench/layer_profile.py`.",
        "",
        "| workload | input docs | input MB | traced wall s | untraced wall s "
        "(mean of the passes before and after) "
        "| local[1] wall s |",
        "|---|---|---|---|---|---|",
    ]
    for wl, r in records.items():
        w: dict[str, list[float]] = {}
        for run, wall in r["walls"].items():  # run ids are "<label>-<n>"
            w.setdefault(run.rsplit("-", 1)[0], []).append(wall)
        lines.append(f"| {wl} | {r['input_docs']} | {r['input_bytes'] / 1e6:.2f} "
                     f"| {w['traced'][0]:.3f} | {sum(w['untraced']) / 2:.3f} "
                     f"| {w['local1'][0]:.3f} |")
    lines += ["", "Accounting: the layers' self times plus the harness time "
              "between layer calls (`trace.unattributed_s`) equal the traced "
              "wall time; `spark.driver_only_s` is the part of it with no "
              "Spark job running.", "",
              "| workload | sum of layer wall_s | trace.unattributed_s | "
              "trace.wall_s | spark.driver_only_s |", "|---|---|---|---|---|"]
    for wl, r in records.items():
        m = r["metrics"]
        layers = sum(v for k, v in m.items() if k.endswith(".wall_s")
                     and not k.startswith(("trace.", "session.")))
        lines.append(f"| {wl} | {layers:.3f} | {m['trace.unattributed_s']:.3f} "
                     f"| {m['trace.wall_s']:.3f} | {m['spark.driver_only_s']:.3f} |")
    names = list(first["metrics"])
    lines += ["", "| metric | " + " | ".join(records) + " |",
              "|---|" + "---|" * len(records)]
    for n in names:
        lines.append(f"| {n} | " + " | ".join(
            f"{records[wl]['metrics'][n]:.4g}" for wl in records) + " |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sys.exit(main())
