"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest|serve|curate --seed N \\
        --seconds S --trace 0|1

Builds the engine and the benchmark client from source if needed
(build.py), runs the benchmark JVM in local[N] mode with N = the CPUs
this process may use, and prints, as the last line of standard output,
one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones. Everything the run
writes stays under the build directory; the lake itself is deleted at
the end, the raw result and ledger of the run are kept under
<build>/results/ for ledger_diff.py.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "serve", "curate")
DEADLINE_S = 175  # the whole command, build excluded


def run_jvm(args, work, deadline):
    """Run the benchmark JVM in `work`; its exit code, None on timeout."""
    cmd = build.java_cmd("use", work) + build.client_args(
        args.workload, args.seed, args.seconds, args.trace, work)
    with open(work.parent / f"{work.name}.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    deadline = time.monotonic() + DEADLINE_S

    base = build.build_dir()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = base / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    try:
        rc = run_jvm(args, work, deadline)
        if rc != 0 or not out.is_file():
            sys.exit(f"[perfbench] benchmark JVM "
                     f"{'timed out' if rc is None else f'exited {rc}'}; "
                     f"log: {work.parent / (work.name + '.log')}")
        res = json.loads(out.read_text())
        trace = None
        if args.trace:
            trace = json.loads((work / "trace.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = [o for o in res["ops"] if "err" in o]
    attempted, failed = len(res["ops"]), len(failed_ops)
    e2e, tail_info = metrics.end_to_end(res)
    info = {"workload": args.workload, "seed": args.seed,
            "failed_frac": metrics.failed_frac(failed, attempted),
            "failures": [f"{o['kind']}: {o['err']}" for o in failed_ops],
            **tail_info}
    if args.trace:
        chosen, ledger = metrics.per_layer(res, trace)
        info.update(ledger)
    else:
        chosen = e2e
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(
        {"result": res, "trace": trace, "info": info,
         "metrics": {k: v for k, (v, _) in chosen.items()},
         "end_to_end": {k: v for k, (v, _) in e2e.items()}}))

    print(json.dumps({k: v for k, v in info.items()
                      if k not in ("self_ms", "sources")}), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
