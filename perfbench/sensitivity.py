#!/usr/bin/env python3
"""Sensitivity check of the per-layer attribution (a check run, not a
workload): trace ``events_dedup`` once with the engine's default config and
once with more LSH bands, in one session on the same input.

    python3 perfbench/sensitivity.py --seed 1

More bands (fewer rows per band) must raise ``candidates.rows_out`` and
``scoring.cpu_s``; in both runs the stage spans must cover the operation's
wall to within a few percent. Exits 1 when any of that does not hold.
"""

from __future__ import annotations

import argparse
import dataclasses
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

#: lowest share of an operation's wall the stage spans must cover
MIN_COVERAGE = 0.95
#: the non-default band count compared against the default (16 bands of 4
#: rows become 32 bands of 2 rows: more, looser candidate pairs)
LSH_BANDS = 32


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if not bench.engine_available():
        print("perfbench: translink is not importable", file=sys.stderr)
        return 2
    run_args = argparse.Namespace(workload="events_dedup", seed=args.seed,
                                  seconds=0, trace=1, smoke=False)
    work = bench.new_work_dir(f"sensitivity-{args.seed}")
    try:
        run = bench.Run(run_args, work)
        variants = {
            "default": run.cfg,
            f"lsh_bands={LSH_BANDS}":
                dataclasses.replace(run.cfg, lsh_bands=LSH_BANDS),
        }

        def ops() -> dict:
            input_path = run.events_input(1)[0]
            run.batch_op("warmup", input_path, traced=False)
            for name, cfg in variants.items():
                run.cfg = cfg
                run.batch_op(name, input_path, traced=True)
            return {"setup_rest_s": 0.0}

        out = run.main(ops)
        rows = {}
        for name in variants:
            tracer = run.tracer
            g = out["groups"].get((name, "scoring"), {})
            walls = tracer.layer_walls(name)
            rows[name] = {
                "candidates.rows_out":
                    run.manifest_rows(name)["candidates"],
                "scoring.cpu_s": g.get("cpu_s", 0.0),
                "scoring.wall_s": walls.get("scoring", 0.0),
                "wall_s": tracer.op_wall(name),
                "span_coverage": sum(walls.values()) / tracer.op_wall(name),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    keys = list(next(iter(rows.values())))
    print(f"{'':24}" + "".join(f"{k:>22}" for k in keys))
    for name, r in rows.items():
        print(f"{name:24}" + "".join(f"{r[k]:>22.6g}" for k in keys))
    base, alt = rows.values()
    problems = []
    if not alt["candidates.rows_out"] > base["candidates.rows_out"]:
        problems.append("candidates.rows_out did not rise")
    if not alt["scoring.cpu_s"] > base["scoring.cpu_s"]:
        problems.append("scoring.cpu_s did not rise")
    for name, r in rows.items():
        if not MIN_COVERAGE <= r["span_coverage"] <= 1.0:
            problems.append(f"{name}: spans cover {r['span_coverage']:.3f} "
                            "of the operation's wall")
    print("sensitivity check: " + ("; ".join(problems) or "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
