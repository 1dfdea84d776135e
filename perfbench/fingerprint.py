#!/usr/bin/env python3
"""Records the operator suite's fingerprints (row count and checksum per
query) in fingerprints.json, from several passes in different orders.

    python3 perfbench/fingerprint.py [--oracle SUMS]

A checksum that differs between the passes is stored as null, and the query is
then checked by row count alone. A query's `oracle` entry says whether its
fingerprint was cross-checked against the DuckDB oracle. It is
`confirmed` when the rows and checksum equal a line of SUMS, the output of
`perfbench.Checksum` over `graft.Verify` dumps that `tools/check_oracle.py`
found equal to the oracle (WORKLOADS.md shows the commands). Without SUMS,
an existing `confirmed` is kept only where rows and checksum are unchanged;
every other query reads `not checked`.
"""
import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jvm  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

PASSES = 3  # suite JVMs, each with its own query order


def read_sums(path):
    """{query: (rows, checksum)} from `PB sum <query> <rows> <checksum>` lines."""
    out = {}
    with open(path) as f:
        for line in f:
            parts = line.split()
            if parts[:2] == ["PB", "sum"]:
                out[parts[2]] = (int(parts[3]), parts[4])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--oracle", help="perfbench.Checksum output over oracle-confirmed dumps")
    a = ap.parse_args()
    _, bench_cp = jvm.build()
    path = os.path.join(jvm.HERE, "fingerprints.json")
    old = json.load(open(path)) if os.path.exists(path) else {"queries": {}}
    sums = read_sums(a.oracle) if a.oracle else {}
    seen = {}
    for i in range(PASSES):
        order = list(layers.SUITE_QUERIES)
        random.Random(1000 + i).shuffle(order)
        r = run.suite_run(os.path.join(jvm.WORK, "fingerprint", str(i)), bench_cp, order,
                          {"queries": {}})[0][0]
        for name, (rows, checksum) in r["results"].items():
            seen.setdefault(name, []).append((rows, checksum))
        print("pass %d: %.1f s" % (i, r["wall"]), file=sys.stderr)
    queries = {}
    for name in layers.SUITE_QUERIES:
        got = seen.get(name, [])
        if len(got) != PASSES or len({g[0] for g in got}) != 1:
            sys.exit("%s: no stable row count over %d passes: %s" % (name, PASSES, got))
        stable = len({g[1] for g in got}) == 1
        entry = {"rows": got[0][0], "checksum": got[0][1] if stable else None}
        prev = old["queries"].get(name, {})
        if sums:
            confirmed = sums.get(name) == (entry["rows"], entry["checksum"])
        else:
            confirmed = (prev.get("oracle") == "confirmed" and
                         (prev.get("rows"), prev.get("checksum")) ==
                         (entry["rows"], entry["checksum"]))
        entry["oracle"] = "confirmed" if confirmed else "not checked"
        queries[name] = entry
    out = {"sf": "0.1", "passes": PASSES, "queries": queries}
    if any(q["oracle"] == "confirmed" for q in queries.values()):
        out["oracle_check"] = (
            "graft.Verify at sf0.1 dumped each confirmed query; tools/check_oracle.py "
            "found every dump equal to the DuckDB oracle; perfbench.Checksum over each "
            "dump gave the rows and checksum stored here.")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
