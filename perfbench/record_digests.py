"""Record the input digests that run.py checks (digests.json).

    python3 perfbench/record_digests.py [--seeds 0-199] [--smoke-seeds 0-9]

Re-run only on purpose, when the generator or its sizes change: the
digest diff then shows that the generated load changed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402


def seed_range(text: str) -> range:
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=seed_range, default=seed_range("0-199"))
    p.add_argument("--smoke-seeds", type=seed_range, default=seed_range("0-9"))
    args = p.parse_args()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)["workloads"]
    out = {"canary": gen.canary_digest(), "full": {}, "smoke": {}}
    for scale, seeds in (("full", args.seeds), ("smoke", args.smoke_seeds)):
        for name, w in spec.items():
            out[scale][name] = {str(s): gen.digest(*gen.workload_inputs(name, s, w[scale])[1]) for s in seeds}
            print(f"{scale} {name}: {len(seeds)} seeds", file=sys.stderr)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
