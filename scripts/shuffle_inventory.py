#!/usr/bin/env python3
"""Regenerate the SCALE.md shuffle-inventory table from graft.Plans output.

Usage:
  sbt -batch "runMain graft.Plans /root/testdata/sf0.001 <name> ..." > plans.log 2>&1
  python3 scripts/shuffle_inventory.py plans.log

Counts `(n) <Node>` DETAIL blocks (not tree lines — a reused exchange
prints once as a detail block), classifying Exchange kind from the
following `Arguments:` line. `reused` counts `ReusedExchange` blocks (a
subtree the planner shares; they show in `graft.Plans --executed` dumps)
and `cached` counts `InMemoryTableScan` blocks (reads of a persisted
frame). Prints the markdown table to stdout.
"""
import re
import sys


def main():
    text = open(sys.argv[1]).read()
    text = re.sub(r"^\[info\] ", "", text, flags=re.M)
    sections = re.split(r"^========== (\S+) ==========$", text, flags=re.M)
    rows = {}
    for i in range(1, len(sections), 2):
        name, body = sections[i], sections[i + 1]
        counts = {k: 0 for k in ("hash", "range", "single", "bcast", "BHJ", "SMJ",
                                  "reused", "cached")}
        blocks = re.split(r"^\((\d+)\) ", body, flags=re.M)
        for j in range(1, len(blocks), 2):
            block = blocks[j + 1]
            node = block.split("\n", 1)[0].strip()
            # strip codegen/reuse suffixes: "Exchange [codegen id : 4]" etc.
            node = node.split(" [")[0]
            if node == "Exchange":
                m = re.search(r"Arguments: (hashpartitioning|rangepartitioning|SinglePartition)", block)
                kind = m.group(1) if m else "hashpartitioning"
                counts[{"hashpartitioning": "hash",
                        "rangepartitioning": "range",
                        "SinglePartition": "single"}[kind]] += 1
            elif node == "ReusedExchange":
                counts["reused"] += 1
            elif node == "InMemoryTableScan":
                counts["cached"] += 1
            elif node == "BroadcastExchange":
                counts["bcast"] += 1
            elif node.startswith("BroadcastHashJoin"):
                counts["BHJ"] += 1
            elif node.startswith("SortMergeJoin"):
                counts["SMJ"] += 1
        rows[name] = counts
    print("| query | hash | range | single | bcast | BHJ | SMJ | reused | cached |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name in sorted(rows):
        c = rows[name]
        print(f"| {name} | {c['hash']} | {c['range']} | {c['single']} "
              f"| {c['bcast']} | {c['BHJ']} | {c['SMJ']} "
              f"| {c['reused']} | {c['cached']} |")


if __name__ == "__main__":
    main()
