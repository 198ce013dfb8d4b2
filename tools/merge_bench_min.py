"""Merge N bench.py JSON artifacts into one per-query-MIN artifact.

The r8-close practice made explicit tooling: quiet-box bench numbers on
this shared-tenant host carry transient 3-30x contention spikes that
move BETWEEN runs (the SF1_AB_r8 diagnosis) — the per-query minimum
across repeated quiet runs is the committed reference form ("per-query
MIN of the round-8 quiet runs", bench.py). Gate fields (heavy ceilings,
sf1/sf10 factor ratchets, ungated lists) are recomputed from bench.py's
COMMITTED rule definitions by bench.build_artifact — the one definition
bench.py and assemble_bench.py use too, so the gate rules cannot drift.

Usage: python tools/merge_bench_min.py OUT.json RUN1.json RUN2.json [...]
The sf field must agree across inputs. Provenance (input run list) is
recorded in a "note" field.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import build_artifact  # noqa: E402


def main() -> None:
    out_path, run_paths = sys.argv[1], sys.argv[2:]
    runs = [json.load(open(p)) for p in run_paths]
    sfs = {r["sf"] for r in runs}
    if len(sfs) != 1:
        raise SystemExit(f"sf mismatch across inputs: {sfs}")
    sf = sfs.pop()

    def min_group(key: str) -> dict[str, float]:
        names = runs[0][key]
        for r in runs[1:]:
            if set(r[key]) != set(names):
                raise SystemExit(f"query-set mismatch in {key}")
        return {
            n: round(min(r[key][n] for r in runs), 3) for n in names
        }

    artifact = build_artifact(
        sf,
        min_group("queries"),
        min_group("heavy_queries"),
        note=(
            "per-query MIN of "
            + str(len(runs))
            + " quiet runs ("
            + ", ".join(os.path.basename(p) for p in run_paths)
            + "); gate fields recomputed from bench.py's committed rules"
        ),
    )
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({k: artifact[k] for k in (
        "value", "frozen18_subtotal_sec", "heavy_total_sec",
        "sf1_factor_breaches", "sf10_factor_breaches")}))


if __name__ == "__main__":
    main()
