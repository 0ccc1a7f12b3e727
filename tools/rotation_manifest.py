"""The lane rotation of the correctness harness, computed by one rule.

The harness certifies only the first 50 lanes of `queries()`, and
`__spark_entry__.queries()` puts this manifest's `recommended_sample`
first. The rule: the lanes whose code changed (`--changed`) first,
then the stalest — never certified, then by the last round whose
committed CORRECTNESS_r*.json matched rows, schema and hash, then by
name — so a touched lane is certified by the next harness run, not
by rotation luck.

Rerun it at the end of every change with `--changed` set to the lanes
the change touched, and commit the manifest:

    python tools/rotation_manifest.py --changed q272_x q278_y ... [--pick 50]

Writes tools/rotation_manifest.json:
    {"last_checked": {lane: round | null, ...},
     "never_checked": [...],
     "changed_this_round": [...],
     "recommended_sample": [...]}

`tools/oracle_check.py <recommended lanes>` certifies the same sample
locally before the change closes.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_manifest(repo: str) -> dict[str, int | None]:
    from patientdataintegration_spark.suite import QUERIES

    last: dict[str, int | None] = {name: None for name in QUERIES}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for lane, rec in data.items():
            if lane not in last:
                continue
            ok = (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            )
            if ok and (last[lane] is None or rnd > last[lane]):
                last[lane] = rnd
    return last


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=REPO)
    ap.add_argument("--changed", nargs="*", default=[],
                    help="lanes whose code changed — always first in the "
                         "recommended sample")
    ap.add_argument("--pick", type=int, default=50)
    args = ap.parse_args()

    last = build_manifest(args.repo)
    changed = list(dict.fromkeys(args.changed))
    unknown = [l for l in changed if l not in last]
    if unknown:
        ap.error(f"--changed names unregistered lanes: {unknown}")
    if len(changed) > args.pick:
        ap.error(f"{len(changed)} changed lanes do not fit a sample of "
                 f"{args.pick}")
    never = sorted(l for l, r in last.items() if r is None)
    # staleness order: never-checked first, then oldest round, then name
    by_staleness = sorted(
        last, key=lambda l: (last[l] if last[l] is not None else -1, l)
    )
    rest = [l for l in by_staleness if l not in set(changed)]
    rec = (changed + rest)[: args.pick]

    out = {
        "last_checked": {l: last[l] for l in sorted(last)},
        "never_checked": never,
        "changed_this_round": changed,
        "recommended_sample": rec,
    }
    path = os.path.join(args.repo, "tools", "rotation_manifest.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"wrote {path}: {len(last)} lanes, {len(never)} never driver-"
          f"checked, recommended sample of {len(rec)}")
    stale = [(l, last[l]) for l in by_staleness[:15]]
    print("most stale:", stale)


if __name__ == "__main__":
    main()
