"""Assemble a full bench artifact from per-query timing fragments.

The r9 sf10 situation: this round's box has less RAM than r8's, and the
kernel OOM-kills one 48-64g bench JVM at semantic_dedup_pairs' Python
BLAS stage (32 workers' block matrices on top of the heap) — twice,
reproducibly. The committed recovery pattern (since r7) is: keep the
## per-query lines the aborted runs already printed, run the missing
queries in FRESH bench-config JVMs (tools/time_query.py), and emit one
artifact with the gate fields computed by bench.py's committed rules.

This tool generalizes that merge: it takes any number of {name: sec}
JSON fragments (aborted-run parses, time_query outputs), min-merges
them, splits headline vs heavy by the registry's bench/bench2 tags, and
computes every gate field with bench.build_artifact — the one definition
bench.py and merge_bench_min.py use too, so the gate rules cannot drift.

Usage: python tools/assemble_bench.py SF OUT.json FRAG1.json [...] [--note TEXT]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import SF10_EXCLUDED, build_artifact  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    note = ""
    if "--note" in args:
        i = args.index("--note")
        note = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf, out_path, frag_paths = args[0], args[1], args[2:]

    merged: dict[str, float] = {}
    for p in frag_paths:
        for n, t in json.load(open(p)).items():
            t = float(t)
            merged[n] = min(merged.get(n, 9e9), t)

    from entity_etl_spark.queries import REGISTRY

    excluded = dict(SF10_EXCLUDED) if sf == "10" else {}
    bench1 = [
        n for n, q in REGISTRY.items()
        if "bench" in q.tags and n not in excluded
    ]
    bench2 = [
        n for n, q in REGISTRY.items()
        if "bench2" in q.tags and n not in excluded
    ]
    missing = [n for n in bench1 + bench2 if n not in merged]
    if missing:
        raise SystemExit(f"fragments missing queries: {missing}")

    artifact = build_artifact(
        sf,
        {n: round(merged[n], 3) for n in bench1},
        {n: round(merged[n], 3) for n in bench2},
        note=note
        or (
            "assembled from "
            + ", ".join(os.path.basename(p) for p in frag_paths)
            + " (per-query min); gate fields recomputed from bench.py's "
            "committed rules"
        ),
    )
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps({k: artifact[k] for k in (
        "value", "frozen18_subtotal_sec", "heavy_total_sec",
        "sf1_factor_breaches", "sf10_factor_breaches",
        "sf10_ratchet_ungated")}))


if __name__ == "__main__":
    main()
