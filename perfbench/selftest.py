#!/usr/bin/env python3
"""Checker self-test: every workload's checker must reject a planted wrong answer.

Usage (from the repository root):
  python3 perfbench/selftest.py

Plants, one per workload (see `Ctx` in perfbench/src/main/scala/perfbench/Main.scala):
  wire_read     one cell of one wire reply is changed before it is checked;
  wire_write    one write is left out of the client's model of the tables;
  battery_core  one row of one entry's saved result is changed before the
                DuckDB oracle compare.
Each workload runs once with the plant; the test passes only if every run
reports correct=false. Exit code 0 when all plants were rejected.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    rejected = 0
    workloads = ("wire_read", "wire_write", "battery_core")
    for w in workloads:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--plant"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("%-13s run failed (exit %d)" % (w, p.returncode))
            continue
        res = json.loads(lines[-1])
        why = [l.split("check failed: ", 1)[1] for l in p.stderr.splitlines()
               if "check failed: " in l]
        if res["correct"]:
            print("%-13s NOT rejected: the planted wrong answer passed the checker" % w)
        else:
            rejected += 1
            print("%-13s rejected: %s" % (w, why[0] if why else "(no reason printed)"))
    print("%d of %d planted wrong answers rejected" % (rejected, len(workloads)))
    sys.exit(0 if rejected == len(workloads) else 1)


if __name__ == "__main__":
    main()
