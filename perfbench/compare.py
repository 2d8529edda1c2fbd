"""Compare two benchmark outputs metric by metric.

    python3 perfbench/compare.py BASE.out NEW.out

Each file is the stdout of one ``run.py`` run (its ``perfbench-record``
line is read). Refuses, with exit code 2, to compare runs measured on
different core counts or masters, or on different workloads: a
``local[32]`` figure says nothing about a ``local[4]`` one.
"""

from __future__ import annotations

import json
import sys

#: context keys that must match for two runs to be comparable
SAME = ("nproc", "master", "workload")


def load_record(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f if ln.startswith("perfbench-record ")]
    if not lines:
        raise SystemExit(f"{path}: no perfbench-record line")
    return json.loads(lines[-1].split(" ", 1)[1])


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float]]:
    """Rows of (metric, base, new, new/base) over the metrics both runs
    report. Raises ValueError when the runs are not comparable."""
    for key in SAME:
        if base["context"][key] != new["context"][key]:
            raise ValueError(
                f"not comparable: {key} {base['context'][key]!r} vs "
                f"{new['context'][key]!r}")
    rows = []
    for part in ("e2e", "per_layer"):
        for name, b in base[part].items():
            n = new[part].get(name)
            if n is None:
                continue
            rows.append((name, b, n, n / b if b else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load_record(p) for p in argv)
    try:
        rows = compare(base, new)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    print(f"{'metric':48} {'base':>14} {'new':>14} {'new/base':>9}")
    for name, b, n, r in rows:
        print(f"{name:48} {b:14.4f} {n:14.4f} {r:9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
