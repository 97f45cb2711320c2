"""Compare two benchmark runs counter by counter.

    python3 perfbench/ledger_diff.py BEFORE.json AFTER.json

Each argument is a run record that run.py keeps under
<build>/results/<workload>-seed<N>-trace<0|1>.json. For two traced
runs it prints every per-layer metric and every span's self time
side by side: the "moved layer's counter before and after". Given the
untraced and the traced run of one workload and seed, the end-to-end
rows show the tracing overhead.
"""

import json
import sys


def rows(before, after):
    for k in list(before) + [k for k in after if k not in before]:
        a, b = before.get(k), after.get(k)
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) and a:
            yield k, a, b, f"{100.0 * (b - a) / a:+.1f}%"
        else:
            yield k, a, b, ""


def table(title, before, after):
    print(f"\n{title}")
    print(f"{'':48} {'before':>14} {'after':>14} {'change':>9}")
    for k, a, b, d in rows(before, after):
        fa = "-" if a is None else f"{a:.4g}"
        fb = "-" if b is None else f"{b:.4g}"
        print(f"{k:48} {fa:>14} {fb:>14} {d:>9}")


def self_ms(run):
    spans = run["info"].get("self_ms", {})
    return {k: v["self_ms"] / v["count"] for k, v in spans.items()}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in argv[1:])
    for r, p in ((a, argv[1]), (b, argv[2])):
        i = r["info"]
        print(f"{p}: {i['workload']} seed {i['seed']}, "
              f"traced={r['trace'] is not None}, "
              f"failed_frac={i['failed_frac']:.3g}")
    table("end to end", a["end_to_end"], b["end_to_end"])
    if a["trace"] is not None and b["trace"] is not None:
        table("per layer", a["metrics"], b["metrics"])
        table("self ms per span, window", self_ms(a), self_ms(b))


if __name__ == "__main__":
    main(sys.argv)
