"""Re-pin the corpus digests in digests.json (a deliberate act: run it
only when the input generators are meant to change). From the
repository root::

    python3 perfbench/pin_digests.py 1 2 3 4 5 6 7 8 9 10 101
"""

from __future__ import annotations

import json
import os
import sys


def main(seeds: list[int]) -> None:
    sys.path.insert(1, os.getcwd())
    from harness import DIGESTS, canary_digests
    from workloads import WORKLOADS

    pinned = {"canary": canary_digests(), "corpus": {}}
    for name, cls in WORKLOADS.items():
        pinned["corpus"][name] = {}
        for seed in seeds:
            wl = cls(None, "", seed)
            wl.load()
            pinned["corpus"][name][str(seed)] = wl.corpus_digest()
    with open(DIGESTS, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]])
