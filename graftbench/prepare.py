"""Make one workload's inputs and expected outputs from a seed.

    python3 graftbench/prepare.py --stage inputs|expected --workload NAME --seed N --out DIR

Stage ``inputs`` writes the inputs under ``DIR/inputs`` and
``{file: [rows, bytes]}`` to ``DIR/inputs.json``; stage ``expected``
writes the DuckDB oracle results over those inputs to
``DIR/expected.pkl``.  ``run.py`` runs each stage in its own process, so
the generator's and the oracle's memory never counts toward the
engine's, and runs ``expected`` while the engine warms up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True, choices=("inputs", "expected"))
    a = ap.parse_args()
    w = WORKLOADS[a.workload](os.path.join(a.out, "inputs"))
    if a.stage == "inputs":
        files = w.generate(a.seed)
        with open(os.path.join(a.out, "inputs.json"), "w") as f:
            json.dump(files, f)
    else:
        w.save_expected(os.path.join(a.out, "expected.pkl"))


if __name__ == "__main__":
    main()
