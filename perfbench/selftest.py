"""Self-test of the benchmark's ledger on 500-doc inputs (the sf0.001 size).

    python3 perfbench/selftest.py

Runs the traced iteration of each workload on a small seeded corpus, each
in its own process (a fresh JVM), and fails unless:

- every layer has tasks > 0 on the workload that exercises it (the five
  in-memory layers on ``flat_inmem``; ``io`` and ``runs`` on
  ``synth_resume``);
- layer task totals plus the warm-up, census and check groups equal the
  event log's total tasks, with no task outside a group;
- the live status tracker's job count per group equals the event log's.

The last two are checked by ``run.trace`` itself on every traced run.
"""

from __future__ import annotations

import subprocess
import sys
from types import SimpleNamespace

SELFTEST_DOCS = 500
SEED = 1
EXPECTED_LAYERS = {
    "flat_inmem": ("io", "canonicalize", "blocking", "scoring", "clustering"),
    "synth_resume": ("io", "runs"),
}


def _one(workload: str) -> int:
    import run

    wl = run.WORKLOADS[workload]
    small = run.Workload(wl.corpus, SELFTEST_DOCS, wl.persisted)
    run._isolate_runtime()
    import inputs

    path, truth, _ = inputs.ensure_corpus(
        f"{run.WORK}/inputs", small.corpus, small.n_docs, SEED
    )
    args = SimpleNamespace(workload=f"selftest-{workload}", seed=SEED)
    r = run.trace(args, small, path, truth)
    loop, metrics = r["loop"], r["metrics"]
    problems = list(loop.errors)
    for layer in EXPECTED_LAYERS[workload]:
        if metrics[f"{layer}.tasks"][0] <= 0:
            problems.append(f"layer {layer} ran no tasks")
    for p in problems:
        print(f"selftest {workload}: FAIL {p}")
    if not problems:
        print(
            f"selftest {workload}: ok ({metrics['trace.log_tasks'][0]} tasks in the "
            f"event log, {metrics['trace.warmup_tasks'][0]} in the warm-up group)"
        )
    return 1 if problems else 0


def main() -> int:
    if len(sys.argv) == 2:
        return _one(sys.argv[1])
    rc = 0
    for workload in EXPECTED_LAYERS:
        rc |= subprocess.run([sys.executable, __file__, workload]).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
