#!/usr/bin/env python3
"""Isolation re-run helper for benchguard's 2-10x mover rule.

Usage:
    python3 tools/isolate.py out.json q185_unified_release [q20_... ...]

Runs `sbt "runMain graft.Bench <queries>"` with SPARK_GRAFT_BENCH_PASSES=2
(a named Bench run: the same warmup and pass loop as the full surface,
only the named queries, no artifact written), reads the steady second
pass's seconds per query from the `queries_chunk` lines, and writes them
as the {"<query>": seconds} JSON that `benchguard.py --isolated` consumes.
A query with no reading, or with Bench's -1 failure sentinel, fails the
run: the bench artifacts under guard are steady-pass numbers.
"""
import json
import os
import subprocess
import sys


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_path, names = sys.argv[1], sys.argv[2:]
    cmd = ["sbt", "-batch", f"runMain graft.Bench {' '.join(names)}"]
    env = dict(os.environ, SPARK_GRAFT_BENCH_PASSES="2")
    res = subprocess.run(cmd, capture_output=True, text=True, env=env)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        sys.exit(f"isolate: Bench failed rc={res.returncode}")
    iso = {}
    for line in res.stdout.splitlines():
        line = line.strip()
        if line.startswith('{"metric":"queries_chunk"'):
            iso.update(json.loads(line)["queries"])
    for name in names:
        if name in iso:
            print(f"[isolate] {name:<24} {iso[name]:7.2f} s")
    missing = [n for n in names if n not in iso]
    if missing:
        sys.exit(f"isolate: no pass-2 reading for {', '.join(missing)}")
    failed = [n for n in names if iso[n] < 0]
    if failed:
        sys.exit(f"isolate: query failed in Bench: {', '.join(failed)}")
    iso = {n: iso[n] for n in names}
    with open(out_path, "w") as f:
        json.dump(iso, f, indent=1, sort_keys=True)
    print(f"isolate: wrote {out_path} ({len(iso)} queries)")


if __name__ == "__main__":
    main()
