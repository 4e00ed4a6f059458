"""Print the span tree of a benchmark trace file.

    python3 perfbench/show_trace.py perfbench/out/trace-query_mix-seed1.json
    python3 perfbench/show_trace.py TRACE --op bm25_topk        # one query
    python3 perfbench/show_trace.py TRACE --op lloyd_2d:3       # 4th Lloyd call

Columns: wall and self time (ms), Spark jobs and tasks launched while
the span was open, and shuffle MB (read + write). ``--op NAME`` selects
spans whose name ends with NAME or whose query is NAME; ``NAME:I``
keeps the I-th match (0-based). Each selected span is printed with its
whole subtree.
"""

from __future__ import annotations

import argparse
import json
import sys


def select(spans: list[dict], op: str | None) -> list[dict]:
    """Roots to print: the pass root, or the spans ``op`` names."""
    if op is None:
        return [s for s in spans if s["parent"] is None and s["name"] == "pass"]
    name, _, idx = op.partition(":")
    hits = [
        s for s in spans
        if s["name"] == name or s["name"].endswith("." + name)
        or s.get("attrs", {}).get("query") == name
    ]
    if idx:
        i = int(idx)
        return hits[i:i + 1]
    return hits


def render(spans: list[dict], roots: list[dict]) -> list[str]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    lines = [f"{'span':<64} {'wall_ms':>9} {'self_ms':>9} {'jobs':>5} {'tasks':>6} {'shuf_MB':>8}"]

    def row(s: dict, level: int) -> None:
        label = "  " * level + s["name"]
        q = s.get("attrs", {}).get("query")
        if q:
            label += f" [{q}]"
        lines.append(
            f"{label[:64]:<64} {s['wall_s'] * 1e3:9.1f} {s['self_s'] * 1e3:9.1f} "
            f"{s['jobs']:5d} {s['tasks']:6d} "
            f"{s['shuffle_read_mb'] + s['shuffle_write_mb']:8.3f}"
        )
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0"]):
            row(c, level + 1)

    for r in roots:
        row(r, 0)
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace")
    ap.add_argument("--pass", dest="pass_no", type=int, default=0,
                    help="traced pass index (default 0)")
    ap.add_argument("--op", default=None)
    args = ap.parse_args(argv)
    with open(args.trace) as fh:
        trace = json.load(fh)
    passes = trace["passes"]
    if not 0 <= args.pass_no < len(passes):
        print(f"trace has {len(passes)} traced pass(es)", file=sys.stderr)
        return 1
    p = passes[args.pass_no]
    roots = select(p["spans"], args.op)
    if not roots:
        print(f"no span matches {args.op!r}", file=sys.stderr)
        return 1
    print(f"# {trace['workload']} seed {trace['seed']} traced pass {args.pass_no}: "
          f"{p['wall_s']:.3f} s, {len(p['jobs'])} jobs")
    print("\n".join(render(p["spans"], roots)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
