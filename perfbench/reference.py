"""Expected offers for a (workload, seed): ``ReferenceSimulator`` on the
same seeds and web config, digested the way ``run.py`` digests the
engine's committed offers.

Run as a child of ``run.py`` when the cached digest is missing::

    python3 perfbench/reference.py --workload bulk --seed 1 \\
        --snapshot <web.snap> --out <digest.json>

The cache key covers the workload's inputs and the source of every
module the simulator and the page generator are built from, so a change
to either never reuses a digest computed by other code.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the code the expected digest depends on
REFERENCE_SOURCES = ("cianparser_spark/semantics", "cianparser_spark/corpus",
                     "cianparser_spark/dims.py", "cianparser_spark/dims_data.py",
                     "perfbench/workloads.py", "perfbench/reference.py")


def source_fingerprint(paths) -> str:
    """sha256 over the ``.py`` files under ``paths`` (relative to the
    repository root), names and contents, in sorted order."""
    files = []
    for rel in paths:
        full = os.path.join(ROOT, rel)
        if os.path.isfile(full):
            files.append(rel)
            continue
        for d, _, names in os.walk(full):
            files.extend(os.path.relpath(os.path.join(d, n), ROOT)
                         for n in names if n.endswith(".py"))
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def _plain(v):
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    raise TypeError(f"not JSON-serialisable: {type(v).__name__}")


def digest_rows(rows) -> str:
    """sha256 over the rows as JSON with sorted keys, one row per line."""
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True, ensure_ascii=False, default=_plain).encode())
        h.update(b"\n")
    return h.hexdigest()


def cache_key(wname: str, seed: int) -> str:
    from workloads import WORKLOADS, make_inputs

    inputs = make_inputs(WORKLOADS[wname], seed)
    h = hashlib.sha256(repr((inputs.seeds, inputs.cfg)).encode())
    h.update(source_fingerprint(REFERENCE_SOURCES).encode())
    return h.hexdigest()[:16]


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--snapshot", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from cianparser_spark.semantics.simulator import ReferenceSimulator
    from workloads import WORKLOADS, make_inputs

    inputs = make_inputs(WORKLOADS[args.workload], args.seed)
    # rendering is deterministic: the snapshot changes no byte the
    # simulator sees, it only saves rendering every page again
    cfg = dataclasses.replace(inputs.cfg, snapshot_path=args.snapshot)
    t0 = time.perf_counter()
    sim = ReferenceSimulator(cfg).run(inputs.seeds)
    wall = time.perf_counter() - t0
    out = {"digest": digest_rows(sim.rows), "offers": len(sim.rows),
           "sim_pages": sim.pages_fetched + sim.detail_pages_fetched,
           "sim_s": wall}
    with open(args.out + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
