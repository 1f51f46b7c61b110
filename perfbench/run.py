#!/usr/bin/env python3
"""Repository benchmark (CDC engine and query registry): one workload per invocation.

    python3 perfbench/run.py --workload live_cadence --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the host stamp and run notes.
See perfbench/NOTES.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import traceback

from harness import ROOT, Bench, InvalidRun

WORKLOADS = {
    "live_cadence": "wl_live",
    "backfill_bulk": "wl_backfill",
    "analytics_mix": "wl_analytics",
}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cdc_agents_data_stream_spark  # noqa: F401
    except ModuleNotFoundError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from spans import Tracer

    end_to_end, per_layer = declared_metrics()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), units={**end_to_end, **per_layer})
    b.prepare()
    tracer = Tracer()
    try:
        b.session_start_s = b.start_spark()
        workload = importlib.import_module(WORKLOADS[args.workload])
        ok = workload.run(b, tracer)
        parts = b.setup_parts
        if b.trace:
            for name, value in parts.items():
                b.put(name, value)
            for name, unit in per_layer.items():
                b.metrics.setdefault(name, (0.0, unit))
            b.metrics = {k: b.metrics[k] for k in per_layer}
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            b.put("setup_s", sum(parts.values()))
            b.metrics = {k: b.metrics[k] for k in end_to_end}
    except InvalidRun as exc:
        print(f"perfbench: invalid run: {exc}", file=sys.stderr)
        return 3
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        tracer.restore()
        b.close()
    b.emit(ok)
    return 0


if __name__ == "__main__":
    sys.exit(main())
