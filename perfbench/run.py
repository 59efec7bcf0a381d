"""Benchmark of the cassovary_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload superstep_80k --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run builds its inputs
from ``--seed``, runs closed-loop jobs for ``--seconds``, checks every
output against a reference, prints one line per metric with its unit, and
ends with one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes its spans to ``.perfbench_out/``). All scratch files live
under ``.perfbench_tmp/`` and are removed when the run ends. Workloads and
metrics are listed in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "cassovary_spark" / "__init__.py").is_file():
        print(f"perfbench: no cassovary_spark package under {ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    import harness

    run_dir = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    os.environ.update(harness.engine_env(ROOT, run_dir))
    # a run stopped from outside still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = harness.Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                          ROOT, run_dir, ROOT / ".perfbench_out")
    try:
        result, lines = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
