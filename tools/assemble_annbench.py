#!/usr/bin/env python3
"""Fold an ANN measurement log (the JSONL that `graft.tools.AnnBench`'s
sub-commands append to — one JSON entry per measured row, each with its
own `kind`, `spin_s` and `eff_cores`) into an ANNBENCH artifact in the
committed schema, so check_addendum.py's <!--check:--> / <!--tiers:-->
assertions validate the rows exactly like the grid artifacts.

Usage:
    assemble_annbench.py IN.jsonl OUT.json [--note TEXT]

Later duplicates of the same (dist, n, kind, algo) key win — a re-run
of a step supersedes its earlier rows (the JSONL keeps the history).
Entries are written sorted by that key.
"""
import argparse
import json


def assemble(src, dst, note=None):
    entries = {}
    with open(src) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            e = json.loads(line)
            entries[(e["dist"], e["n"], e.get("kind", ""), e["algo"])] = e
    out = {"artifact": "annbench", "master": "local[32]"}
    if note is not None:
        out["note"] = note
    out["entries"] = [entries[k] for k in sorted(entries)]
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {dst} with {len(entries)} entries")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src", help="JSONL log written by AnnBench sub-commands")
    ap.add_argument("dst", help="ANNBENCH artifact to write")
    ap.add_argument("--note", help="free-text provenance note for the artifact")
    a = ap.parse_args()
    assemble(a.src, a.dst, a.note)
