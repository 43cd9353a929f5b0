#!/usr/bin/env python3
"""Fold a targeted ScaleCheck artifact into SCALE_CHECK.json.

Usage: python3 tools/merge_scale.py <reps>   (reps: 10, 100 or 1000)

Reads SCALE_CHECK_X<reps>.json, written by `ScaleCheck <reps> [prefixes]`,
and replaces the same-named rows of SCALE_CHECK.json's x<reps> table (the
top-level "queries" for x10, the "x100"/"x1000" sections otherwise). Notes
the artifact carries merge into the top-level "notes" as x<reps>_<name>.
Each targeted row re-measures its sf0.1 baseline in the same session, so
it stays internally paired even when it was measured at a later commit
than the full table; the protocol note says so once.
"""
import json
import sys

reps = int(sys.argv[1])
full = json.load(open("SCALE_CHECK.json"))
part = json.load(open(f"SCALE_CHECK_X{reps}.json"))

table = full if reps == 10 else full.setdefault(f"x{reps}", {"reps": reps, "queries": {}})
table["queries"].update(part["queries"])
NOTE = (
    f" Rows refreshed after the full run come from targeted `ScaleCheck {reps}` "
    f"runs (SCALE_CHECK_X{reps}.json is the raw artifact), each with its sf0.1 "
    "baseline re-measured in the same session.")
if NOTE not in table.get("protocol", ""):
    table["protocol"] = table.get("protocol", "") + NOTE
for name, note in part.get("notes", {}).items():
    full.setdefault("notes", {})[f"x{reps}_{name}"] = note

json.dump(full, open("SCALE_CHECK.json", "w"))
print("merged:", ", ".join(sorted(part["queries"])))
