"""Compare benchmark results metric by metric.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are each a result record written by ``run.py`` (under
``.perfbench/results/``), a file holding ``run.py``'s last stdout line,
or several such files joined with commas, whose values are reduced to
their median. Prints, per end-to-end and per-layer metric, the base
value, the new value, and the change as a share of the base. Diffing an
untraced record against a traced one of the same workload and seed
gives the tracing overhead. Metrics that read 0 (or are missing) on
both sides are left out.
"""

from __future__ import annotations

import json
import statistics
import sys

from metrics import END_TO_END


def load(path: str) -> dict[str, dict[str, float]]:
    """{"end_to_end": {name: value}, "per_layer": {name: value}}"""
    with open(path) as f:
        text = f.read().strip()
    try:
        rec = json.loads(text)
    except json.JSONDecodeError:  # a captured stdout: the result is the last line
        rec = json.loads(text.splitlines()[-1])
    if "end_to_end" in rec:
        return {"end_to_end": rec["end_to_end"], "per_layer": rec.get("per_layer", {})}
    values = {k: v["value"] for k, v in rec["metrics"].items()}
    return {
        "end_to_end": {k: v for k, v in values.items() if k in END_TO_END},
        "per_layer": {k: v for k, v in values.items() if k not in END_TO_END},
    }


def load_many(spec: str) -> dict[str, dict[str, float]]:
    recs = [load(p) for p in spec.split(",")]
    out = {}
    for kind in ("end_to_end", "per_layer"):
        names = sorted({n for r in recs for n in r[kind]})
        out[kind] = {
            n: statistics.median([r[kind][n] for r in recs if n in r[kind]]) for n in names
        }
    return out


def rows(base: dict, new: dict) -> list[tuple]:
    out = []
    for kind in ("end_to_end", "per_layer"):
        for name in sorted(set(base[kind]) | set(new[kind])):
            b, n = base[kind].get(name), new[kind].get(name)
            if not b and not n:  # a layer neither run reached
                continue
            share = None
            if b is not None and n is not None and b != 0:
                share = (n - b) / abs(b)
            out.append((kind, name, b, n, share))
    return out


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load_many(argv[0]), load_many(argv[1])

    def fmt(v):
        return "-" if v is None else f"{v:.6g}"

    print(f"{'kind':10s} {'metric':34s} {'base':>12s} {'new':>12s} {'delta':>12s} {'share':>8s}")
    for kind, name, b, n, share in rows(base, new):
        delta = None if b is None or n is None else n - b
        pct = "-" if share is None else f"{share:+.1%}"
        print(f"{kind:10s} {name:34s} {fmt(b):>12s} {fmt(n):>12s} {fmt(delta):>12s} {pct:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
