#!/usr/bin/env python3
"""Self-check of the extraction benchmark (takes a few minutes).

    python3 extractbench/selfcheck.py

  1. A tiny-corpus run of every workload (``html_heavy`` included),
     untraced and traced, must print
     every metric ``BENCHMARK.json`` names, with its unit, and
     ``ok_share`` = 1.
  2. A run with one deliberately flipped output byte must report
     ``ok_share`` < 1 and ``correct`` = false, on both output checks
     (the extract oracle check and the incremental table digests).

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    # html_heavy is runnable but not listed in BENCHMARK.json (NOTES.md)
    workloads = [x["name"] for x in bench["workloads"]] + ["html_heavy"]
    for w in workloads:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(w, trace)
            got = res["metrics"]
            for m in bench[section]:
                if m["name"] not in got:
                    problems.append(f"{w} trace={trace}: {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} unit {got[m['name']]['unit']}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} failed")
            if trace == 0 and got.get("ok_share", {}).get("value") != 1.0:
                problems.append(f"{w}: ok_share {got.get('ok_share')}")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']}", flush=True)
    for w in ("mixed", "incremental"):
        res = _run(w, 0, "--corrupt")
        share = res["metrics"]["ok_share"]["value"]
        print(f"{w} corrupted byte: ok_share={share} correct={res['correct']}", flush=True)
        if share >= 1.0 or res["correct"]:
            problems.append(f"{w}: a corrupted output byte went unnoticed")
    for p in problems:
        print("FAIL", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
