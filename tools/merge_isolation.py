#!/usr/bin/env python3
"""Merge fresh-JVM isolation timings (`graft.tools.Probe profile` JSONL,
one sbt runMain per query) with the in-suite records into
BENCH_ISOLATED_r{N}.json — the attribution artifact for suite-position
effects (VERDICT r14 finding #1).

Usage: merge_isolation.py <jsonl> <out.json> <round> <builder-ref> <driver-ref>
Reads in-suite minima from the two named git refs' BENCH_DETAIL.json;
a ref that cannot be read fails loudly instead of degrading to {}.
"""
import json
import subprocess
import sys


def committed(ref):
    try:
        txt = subprocess.check_output(["git", "show", f"{ref}:BENCH_DETAIL.json"],
                                      text=True)
    except subprocess.CalledProcessError as e:
        sys.exit(f"cannot read {ref}:BENCH_DETAIL.json from git: {e}")
    return {k: v["min"] for k, v in json.loads(txt)["queries"].items()}


def main():
    if len(sys.argv) != 6:
        sys.exit(__doc__)
    jsonl, out, rnd = sys.argv[1], sys.argv[2], sys.argv[3]
    rows = [json.loads(l) for l in open(jsonl) if l.strip()]
    # the builder's clean in-suite record and the driver cross-check of
    # the round being attributed
    builder = committed(sys.argv[4])
    driver = committed(sys.argv[5])
    merged = {}
    for r in rows:
        q = r["query"]
        iso = r["min"]
        b = builder.get(q)
        d = driver.get(q)
        merged[q] = {
            "isolated_min": iso,
            "isolated_runs": r["runs"],
            "ld": r["ld"],
            "in_suite_builder": b,
            "in_suite_driver": d,
            "iso_vs_builder": round(iso - b, 3) if b is not None else None,
            "iso_vs_driver": round(iso - d, 3) if d is not None else None,
        }
    doc = {
        "round": rnd,
        "what": "fresh-JVM min-of-N per query (graft.tools.Probe profile, "
                "one sbt runMain = one JVM) vs the named refs' in-suite "
                "records",
        "builder_ref": sys.argv[4],
        "driver_ref": sys.argv[5],
        "queries": merged,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: {kk: v[kk] for kk in
                          ("isolated_min", "in_suite_builder",
                           "in_suite_driver")}
                      for k, v in merged.items()}, indent=1))


if __name__ == "__main__":
    main()
