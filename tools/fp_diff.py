#!/usr/bin/env python3
"""Diff two fingerprint dumps (graft.FpAll / bench plan_fingerprints /
Verify fingerprints.json): prints queries added, removed, and changed.

A changed stamp `e<exchanges>s<scans>h<md5/8>` is SHAPE when the exchange
or scan count differs (or either side failed, `-`), HASH when only the
hash differs. A re-base of the stamp's normalizer may change any hash
but must show no SHAPE change.

Usage: python3 tools/fp_diff.py <old.json-line-or-file> <new...>
Accepts either a bare JSON object file (fingerprints.json) or a log
whose lines include {"metric":"fp_all","queries":{...}}-style objects.
"""
import json
import re
import sys


# bench/FpAll/Verify logs carry several {"metric":...,"queries":...} lines
# (top25_max_task_frac prints LAST in a bench log); only these metrics are
# fingerprint maps — selecting "last line with queries" silently diffed
# skew fractions (ADVICE r13).
FP_METRICS = ("fp_all", "plan_fingerprints", "verify_fingerprints")


def load(path):
    txt = open(path).read()
    # try whole-file JSON first, then JSON lines with a fingerprint metric
    try:
        obj = json.loads(txt)
    except Exception:
        obj = None
        for line in txt.splitlines():
            line = line.strip()
            if line.startswith("{") and '"queries"' in line:
                try:
                    cand = json.loads(line)
                except Exception:
                    continue
                if cand.get("metric") in FP_METRICS:
                    obj = cand  # last fingerprint line wins (resumed logs)
        if obj is None:
            raise SystemExit(
                f"no fingerprint JSON line (metric in {FP_METRICS}) in {path}")
    if obj.get("metric") not in (None,) + FP_METRICS:
        raise SystemExit(
            f"{path}: metric {obj.get('metric')!r} is not a fingerprint map")
    return obj.get("queries", obj)


STAMP = re.compile(r"(e\d+s\d+)h[0-9a-f]+")


def shape(fp):
    m = STAMP.fullmatch(fp)
    return m.group(1) if m else None


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    changed = sorted(k for k in set(old) & set(new) if old[k] != new[k])
    hashed = {k for k in changed
              if shape(old[k]) is not None and shape(old[k]) == shape(new[k])}
    for k in added:
        print(f"ADDED   {k} {new[k]}")
    for k in removed:
        print(f"REMOVED {k} {old[k]}")
    for k in changed:
        kind = "HASH " if k in hashed else "SHAPE"
        print(f"{kind}   {k} {old[k]} -> {new[k]}")
    same = len(set(old) & set(new)) - len(changed)
    print(f"== {same} unchanged / {len(changed) - len(hashed)} shape / "
          f"{len(hashed)} hash / {len(added)} added / {len(removed)} removed ==")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
