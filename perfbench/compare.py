"""Compare benchmark records written by run.py.

    python3 perfbench/compare.py BASE.json OTHER.json [OTHER.json ...]

Refuses, with exit code 2, when a record's comparability header differs
from the first one's (workload, run seconds, trace flag, CPU count,
SPARK_GRAFT_CPUS, master, parallelism, driver heap, seed, Python,
pyspark or Java version); otherwise prints each
end-to-end metric of each record with its change from the first.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import comparable  # noqa: E402


def main(paths: list[str]) -> int:
    if len(paths) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    recs = [json.loads(Path(p).read_text()) for p in paths]
    base = recs[0]
    for p, r in zip(paths[1:], recs[1:]):
        diff = comparable(base["header"], r["header"])
        if diff:
            print(f"refused: {p} differs from {paths[0]} on {', '.join(diff)}", file=sys.stderr)
            return 2
    for k, v0 in base["e2e"].items():
        row = [f"{k:18s} {v0:12.4f}"]
        for r in recs[1:]:
            v = r["e2e"].get(k)
            row.append("           -" if v is None else f"{v:12.4f} ({(v - v0) / v0 if v0 else 0:+.1%})")
        print("  ".join(row))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
