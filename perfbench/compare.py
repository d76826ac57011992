"""Compare the result files of two sets of benchmark runs.

    python3 perfbench/compare.py --base .perfbench/results/A*.json --new .perfbench/results/B*.json

Prints, for each metric, the median of each side and the change. Refuses
(exit code 2) when the files do not share one host record, workload and
trace flag: numbers from another core count, master or scale are not
compared.
"""

from __future__ import annotations

import argparse
import json
import sys

import stats


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def refusal(results: list[dict]) -> str | None:
    """Why these results may not be compared, or None."""
    first = results[0]["host"]
    for r in results[1:]:
        h = r["host"]
        diff = stats.host_mismatch(first, h)
        diff += [k for k in ("workload", "trace") if first.get(k) != h.get(k)]
        if diff:
            return "host records differ on " + ", ".join(f"{k} ({first.get(k)!r} vs {h.get(k)!r})" for k in diff)
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    why = refusal(base + new)
    if why:
        print(f"refused: {why}", file=sys.stderr)
        return 2
    print(f"{'metric':32s} {'base':>12s} {'new':>12s} {'change':>8s}   (n={len(base)} vs {len(new)})")
    base_v, new_v = [values(r) for r in base], [values(r) for r in new]
    for name, unit in units(base[0]).items():
        b = stats.median([v[name] for v in base_v])
        n = stats.median([v[name] for v in new_v])
        change = f"{(n - b) / b:+.1%}" if b else "n/a"
        print(f"{name:32s} {b:12.5g} {n:12.5g} {change:>8s}   {unit}")
    return 0


def values(result: dict) -> dict[str, float]:
    """The printed metrics of one result plus the numbers of its
    ``detail`` (``pass_s`` and the medians behind it), as ``detail.<name>``."""
    out = {k: m["value"] for k, m in result["metrics"].items()}
    out.update({f"detail.{k}": v for k, v in result.get("detail", {}).items()
                if isinstance(v, (int, float))})
    return out


def units(result: dict) -> dict[str, str]:
    out = {k: m["unit"] for k, m in result["metrics"].items()}
    out.update({k: "1/s" if k.endswith("_per_s") else "s" if k.endswith("_s") else ""
                for k in values(result) if k.startswith("detail.")})
    return out


if __name__ == "__main__":
    sys.exit(main())
