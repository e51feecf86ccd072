#!/usr/bin/env python3
"""Record the cluster checksum of every workload for the given seeds in
``perfbench/checksums.json``; ``run.py`` fails a run whose checksum differs
from the one recorded for its seed.

    python3 perfbench/record_checksums.py 1 2 3

One session computes them all with one-shot ``run_pipeline`` calls at full
scale. For ``stream_drops`` that is the merged corpus, whose labels the
incremental drops must reproduce (``recluster_incremental``'s equivalence
contract, which every ``stream_drops`` run also checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402
from perfbench import workloads as W  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("seeds", type=int, nargs="+")
    args = p.parse_args(argv)
    if not bench.engine_available():
        print("perfbench: translink is not importable", file=sys.stderr)
        return 2
    with open(bench.CHECKSUMS_PATH) as fh:
        recorded = json.load(fh)
    work = bench.new_work_dir("checksums")
    run = bench.Run(argparse.Namespace(workload="events_dedup", seed=0,
                                       seconds=0, trace=0, smoke=False), work)

    def ops() -> dict:
        for seed in args.seeds:
            run.args.seed = seed
            run.work = os.path.join(work, str(seed))
            os.makedirs(run.work)
            run.scale = bench.SCALES["events_dedup"]["full"]
            events = run.events_input(1)[0]
            corpus, _ = W.fixture_corpus(
                bench.SCALES["stream_drops"]["full"]["base"], seed)
            fixture = run.path("fixture.parquet")
            W.write_parquet(corpus, fixture)
            for workload, path in (("events_dedup", events),
                                   ("stream_drops", fixture)):
                _, clusters, _ = run.batch_op(workload, path, False)
                digest = bench.labels_checksum(bench.collect_labels(clusters))
                recorded.setdefault(workload, {})[str(seed)] = digest
                print(f"{workload} seed {seed}: {digest}", flush=True)
        return {"setup_rest_s": 0.0}

    try:
        run.main(ops)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recorded = {wl: dict(sorted(seeds.items(), key=lambda kv: int(kv[0])))
                for wl, seeds in sorted(recorded.items())}
    with open(bench.CHECKSUMS_PATH, "w") as fh:
        json.dump(recorded, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
