#!/usr/bin/env python3
"""Persist BOTH bench samples of a guard-failure retry (ADVICE r10).

check_all.sh's stage 6 re-runs bench once when the per-query guard
fails, to separate one-off VM drift from a persistent regression. The
retry policy is honest only if the FAILED first sample stays on the
record — otherwise the gate's history shows only retries that passed
and a real ~1.4x regression that needs two consecutive uncontended
reproductions to fail leaves no trace of its first appearance. Each
retry appends one JSON line to BENCH_RETRIES.jsonl (committed with the
round) carrying both samples verbatim; the judge reads it next to
BENCH_r*.json. The file is absent in rounds where the guard passed
first try — its very existence is the signal to look.

Usage: record_bench_retry.py <first_sample_file> <retry_sample_file>
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BENCH_RETRIES.jsonl")


def last_bench_obj(path: str) -> dict | None:
    found = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
                found = obj
    return found


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    rec = {
        "event": "bench_guard_retry",
        "unix_time": int(time.time()),
        "first_failure": last_bench_obj(sys.argv[1]),
        "retry": last_bench_obj(sys.argv[2]),
    }
    with open(OUT, "a", encoding="utf-8") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"record_bench_retry: appended both samples to {OUT}")


if __name__ == "__main__":
    main()
