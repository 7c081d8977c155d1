#!/usr/bin/env python3
"""Mechanical bench noise guard — the commit gate for BENCH_FULL/BENCH_STEADY.

This host hits recurring whole-VM drift episodes: a 20-60x slow window lands
on one alphabetical query neighborhood per run while the median per-query
ratio stays ~1x (SCALE.md "Measurement noise", four case files; the round-12
driver artifact showed the same signature). A contaminated artifact must not
land in a commit, and the check must not live only in prose — this tool IS
the check.

Usage:
    python3 tools/benchguard.py <candidate.json> [reference.json]
            [--isolated isolated.json]

The reference defaults to the committed artifact of the same name
(`git show HEAD:<basename>`). Exit 0 = clean (prints the median ratio);
exit 1 = the candidate has at least one >MAX_RATIO mover vs the reference
that its own fixture_build attribution cannot explain — rerun the bench
instead of committing (drift episodes pass; code regressions don't).

A mover is EXCUSED only when subtracting the candidate's fixture_build
seconds for that query brings it back under ISOLATION_RATIO (a first-pass
shared-fixture build legitimately lands on whichever query runs first).
A fixture-adjusted ratio still above MAX_RATIO fails outright; one between
ISOLATION_RATIO and MAX_RATIO needs an isolation re-run (below), whatever
its raw ratio.
Queries present on only one side are reported informationally (new/removed
queries are expected when the round adds operators) and never fail the run.

Round-15 rule (the q185 lesson: a 19.2 s drift reading of a 4.5 s query
rode a committed artifact because only >10x movers failed): ANY single-query
mover above ISOLATION_RATIO additionally requires an AGREEING isolation
re-run before the artifact may be committed. Re-measure the movers alone
(`python3 tools/isolate.py iso.json <q> ...`, a two-pass named Bench run,
writes {"<q>": seconds} to iso.json) and pass that file as --isolated. A
mover whose isolated seconds confirm the candidate (within CONFIRM_TOL) is
genuine and passes; one the isolation
disproves — or that has no isolation entry at all — fails the gate.
"""
import json
import os
import statistics
import subprocess
import sys

MAX_RATIO = 10.0
ISOLATION_RATIO = 2.0  # movers above this need an agreeing isolation re-run
CONFIRM_TOL = 1.3      # isolated >= candidate/CONFIRM_TOL counts as agreeing
MIN_SEC = 0.5  # ignore sub-noise-floor queries: 0.05s -> 0.6s is not drift


def load(path):
    with open(path) as f:
        return json.load(f)


def git_relpath(path):
    """The candidate's path relative to the repo toplevel — `HEAD:<spec>`
    is toplevel-relative, so a bare basename silently compares against the
    wrong blob (or nothing) when the tool runs from a subdirectory or the
    artifact moves out of the root."""
    top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                         capture_output=True, text=True)
    if top.returncode != 0:
        sys.exit(f"benchguard: not inside a git repo: {top.stderr.strip()}")
    return os.path.relpath(os.path.abspath(path), top.stdout.strip())


def load_ref(candidate_path, ref_arg):
    if ref_arg is not None:
        return load(ref_arg), ref_arg
    spec = f"HEAD:{git_relpath(candidate_path)}"
    out = subprocess.run(["git", "show", spec],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"benchguard: no committed {spec} to compare against "
                 f"(pass a reference explicitly): {out.stderr.strip()}")
    return json.loads(out.stdout), spec


def main():
    args = list(sys.argv[1:])
    isolated = {}
    if "--isolated" in args:
        i = args.index("--isolated")
        isolated = load(args[i + 1])
        del args[i:i + 2]
    if len(args) not in (1, 2):
        sys.exit(__doc__)
    cand_path = args[0]
    cand = load(cand_path)
    ref, ref_name = load_ref(cand_path, args[1] if len(args) == 2 else None)
    cq, rq = cand.get("queries", {}), ref.get("queries", {})
    fixture = cand.get("fixture_build", {}) or {}
    common = sorted(set(cq) & set(rq))
    if not common:
        sys.exit("benchguard: no common queries between candidate and reference")

    median = statistics.median(cq[q] / rq[q] for q in common if rq[q] > 0)

    movers, excused, unconfirmed, confirmed = [], [], [], []
    for q in common:
        if rq[q] <= 0 or max(cq[q], rq[q]) < MIN_SEC:
            continue
        ratio = cq[q] / rq[q]
        if ratio <= ISOLATION_RATIO:
            continue
        adj = (cq[q] - fixture.get(q, 0.0)) / rq[q]
        if adj > MAX_RATIO:
            movers.append((q, ratio))
        # fixture attribution excuses only what it brings under 2x; above
        # that, genuine-vs-drift is decided by an isolation re-run, whatever
        # the raw ratio
        elif adj <= ISOLATION_RATIO:
            excused.append((q, ratio, adj))
        elif q not in isolated:
            unconfirmed.append((q, ratio))
        elif isolated[q] >= cq[q] / CONFIRM_TOL:
            confirmed.append((q, ratio, isolated[q]))
        else:
            movers.append((q, ratio))

    only_c = sorted(set(cq) - set(rq))
    only_r = sorted(set(rq) - set(cq))
    print(f"benchguard: {len(common)} common queries vs {ref_name}; "
          f"median ratio {median:.2f}; "
          f"total {cand.get('value', '?')}s vs {ref.get('value', '?')}s")
    if only_c:
        print(f"  new queries (not judged): {', '.join(only_c)}")
    if only_r:
        print(f"  removed queries (not judged): {', '.join(only_r)}")
    for q, ratio, adj in excused:
        print(f"  excused {q}: {ratio:.1f}x raw -> {adj:.1f}x after "
              f"fixture_build attribution")
    for q, ratio, iso in confirmed:
        print(f"  confirmed {q}: {ratio:.1f}x, isolation re-run agrees "
              f"({iso:.2f}s vs candidate {cq[q]:.2f}s) — genuine")
    fail = False
    if unconfirmed:
        fail = True
        print(f"FAIL: {len(unconfirmed)} movers >{ISOLATION_RATIO:.0f}x with "
              f"no isolation re-run (re-measure each alone with isolate.py "
              f"and pass --isolated):")
        for q, ratio in unconfirmed:
            print(f"  {q}: {rq[q]:.2f}s -> {cq[q]:.2f}s ({ratio:.1f}x)")
    if movers:
        fail = True
        print(f"FAIL: {len(movers)} unexcused movers "
              f"(the drift signature — rerun the bench, do not commit):")
        for q, ratio in movers:
            print(f"  {q}: {rq[q]:.2f}s -> {cq[q]:.2f}s ({ratio:.1f}x)")
    if fail:
        sys.exit(1)
    print("clean: no unexcused movers")


if __name__ == "__main__":
    main()
