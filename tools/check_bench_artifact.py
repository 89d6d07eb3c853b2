#!/usr/bin/env python3
"""Self-check that a bench artifact satisfies the driver/PERF contract.

Rounds 13 and 14 both ended with PERF_r{N}.json reporting
prev_bench_ok/now_bench_ok = false and an empty per_query map: the
comparator could not parse the bench record either round. This tool
loads the record exactly the way a strict comparator would, so a broken
artifact fails HERE, in-round, instead of silently zeroing the round's
performance evidence.

Usage:
  tools/check_bench_artifact.py PROGRESS_BENCH_LATEST.json  # check a full record
  tools/check_bench_artifact.py --stdout capture.txt        # check a stdout capture

Contract checked:
  * the file is standalone JSON (json.load works);
  * top-level keys metric ("total"), value (number), unit ("sec"),
    queries (non-empty dict of name -> number), sf (string) exist;
  * value and every query value are finite non-negative numbers, not
    booleans;
  * for --stdout: EXACTLY ONE line of the capture parses as a JSON
    object with those keys (the bench prints one JSON line; sbt noise
    and stderr leakage must not add parseable impostors).
"""
import json
import math
import sys


def is_number(v):
    """A finite non-negative int or float; bool is an int subclass but
    not a measurement."""
    return (isinstance(v, (int, float)) and not isinstance(v, bool)
            and math.isfinite(v) and v >= 0)


def check_record(rec, source):
    errs = []
    if rec.get("metric") != "total":
        errs.append(f"metric != 'total' (got {rec.get('metric')!r})")
    if not is_number(rec.get("value")):
        errs.append("value is not a finite non-negative number")
    if rec.get("unit") != "sec":
        errs.append(f"unit != 'sec' (got {rec.get('unit')!r})")
    q = rec.get("queries")
    if not isinstance(q, dict) or not q:
        errs.append("queries missing or empty")
    else:
        bad = [k for k, v in q.items() if not is_number(v)]
        if bad:
            errs.append(f"{len(bad)} query values non-numeric/negative, "
                        f"e.g. {bad[:3]}")
    if not isinstance(rec.get("sf"), str):
        errs.append("sf missing or not a string")
    if errs:
        print(f"FAIL {source}:")
        for e in errs:
            print(f"  - {e}")
        return False
    print(f"OK {source}: {len(q)} queries, total {rec['value']} sec, "
          f"sf {rec['sf']}")
    return True


def main(argv):
    if argv and argv[0] == "--stdout" and len(argv) != 2:
        print(__doc__)
        return 2
    if argv and argv[0] == "--stdout":
        lines = open(argv[1], encoding="utf-8", errors="replace").readlines()
        recs = []
        for ln in lines:
            ln = ln.strip()
            if not (ln.startswith("{") and ln.endswith("}")):
                continue
            try:
                obj = json.loads(ln)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict) and "metric" in obj and "queries" in obj:
                recs.append(obj)
        if len(recs) != 1:
            print(f"FAIL {argv[1]}: expected exactly 1 bench JSON line on "
                  f"stdout, found {len(recs)}")
            return 1
        return 0 if check_record(recs[0], argv[1]) else 1
    if len(argv) != 1:
        print(__doc__)
        return 2
    with open(argv[0], encoding="utf-8") as f:
        rec = json.load(f)
    return 0 if check_record(rec, argv[0]) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
