#!/usr/bin/env python3
"""sf1 join-strategy drift gate (round-15 automation of the r14 manual
36/36 replay).

What it does, end to end:
 1. dumps full-registry `graft.Audit explain` plans at sf0.1 and sf1,
 2. diffs per-query join signatures (tools/plan_diff.py's extractor),
 3. compares the drift set against tools/sf1_verified.json — the
    queries whose sf1 (demoted) physical plans have already been
    verified, with the route that verified them,
 4. FAILS LOUDLY (exit 1) on any NEW drift query, naming it and its
    suggested route — a fresh inflection never again waits for a
    judge to notice it,
 5. with --replay, verifies new (or --replay all: every) drift query
    and updates tools/sf1_verified.json on success.

Routing (the r14 decision, automated): DuckDB replay is the stronger
check (external oracle, exact rows/schema/values), so it is tried
first with a per-query timeout; queries whose oracle IS the quadratic
pair recompute (the SRP/minhash families — dedup_embedding's sf1
oracle measured >25 min) blow the timeout and fall back to
`graft.Audit strategy-ab`: same engine, same query, natural (demoted) vs
broadcast-forced plan, exact order-insensitive fingerprint
(count + sum(xxhash64) as decimal(38,0)), join signatures printed so
a vacuous A/B is visible.

Usage:
  python3 tools/sf1_gate.py                 # gate only (dumps + diff + compare)
  python3 tools/sf1_gate.py --replay        # gate + verify NEW drift queries
  python3 tools/sf1_gate.py --replay all    # gate + re-verify the whole drift set
  python3 tools/sf1_gate.py --dumps A B     # reuse existing `Audit explain` dumps

Requires /tmp/sf1 (regenerate: bash tools/run_main.sh graft.ScaleUp
/root/testdata/sf0.1 /tmp/sf1 10) and compiled classes
(target/scala-2.13/classes).
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from plan_diff import signatures, fmt  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF01", "/root/testdata/sf0.1")
SF1 = os.environ.get("SPARK_GRAFT_SF1", "/tmp/sf1")
VERIFIED = os.path.join(REPO, "tools", "sf1_verified.json")
RUN = os.path.join(REPO, "tools", "run_main.sh")
DUCKDB_TIMEOUT = int(os.environ.get("SF1_GATE_DUCKDB_TIMEOUT", "900"))


def sh(args, timeout=None, **kw):
    return subprocess.run(args, timeout=timeout, **kw)


def dump_plans(sfdir, out):
    print(f"[sf1_gate] Audit explain {sfdir} -> {out}", flush=True)
    with open(out, "w") as f:
        r = sh(["bash", RUN, "graft.Audit", "explain", sfdir],
               stdout=f, stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"[sf1_gate] Audit explain failed for {sfdir}")
    return out


def load_verified():
    if os.path.exists(VERIFIED):
        return json.load(open(VERIFIED))
    return {}


def save_verified(v):
    with open(VERIFIED, "w") as f:
        json.dump(dict(sorted(v.items())), f, indent=1)
        f.write("\n")


def replay_duckdb(names):
    """graft.Verify at sf1 + tools/check.py for the named queries.
    Returns (passed, failed, timed_out) name lists."""
    out = "/tmp/sf1_gate_verify"
    passed, failed, timed = [], [], []
    for n in names:  # per-query so one timeout doesn't waste the rest
        try:
            r = sh(["bash", RUN, "graft.Verify", SF1, out, n],
                   timeout=DUCKDB_TIMEOUT, stderr=subprocess.DEVNULL)
            if r.returncode != 0:
                failed.append(n)
                continue
            c = sh([sys.executable, os.path.join(REPO, "tools", "check.py"),
                    out, SF1, n], timeout=DUCKDB_TIMEOUT,
                   capture_output=True, text=True)
            print(c.stdout, end="", flush=True)
            (passed if c.returncode == 0 else failed).append(n)
        except subprocess.TimeoutExpired:
            print(f"[sf1_gate] {n}: DuckDB route exceeded {DUCKDB_TIMEOUT}s "
                  "(the oracle is the quadratic) — rerouting to strategy-ab",
                  flush=True)
            timed.append(n)
    return passed, failed, timed


def replay_ab(names):
    """`graft.Audit strategy-ab`: natural-vs-broadcast-forced exact fingerprint.
    Returns (passed, failed)."""
    if not names:
        return [], []
    r = sh(["bash", RUN, "graft.Audit", "strategy-ab", SF1, *names],
           capture_output=True, text=True)
    print(r.stdout, end="", flush=True)
    passed = [ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("MATCH ")]
    failed = [n for n in names if n not in passed]
    return passed, failed


def main():
    args = sys.argv[1:]
    replay = "--replay" in args
    replay_all = replay and "all" in args
    if "--dumps" in args:
        i = args.index("--dumps")
        dump_a, dump_b = args[i + 1], args[i + 2]
    else:
        if not os.path.isdir(SF1):
            sys.exit(f"[sf1_gate] {SF1} missing — regenerate: "
                     f"bash tools/run_main.sh graft.ScaleUp {SF01} {SF1} 10")
        dump_a = dump_plans(SF01, "/tmp/sf1_gate_explain_sf01.txt")
        dump_b = dump_plans(SF1, "/tmp/sf1_gate_explain_sf1.txt")

    a, b = signatures(dump_a), signatures(dump_b)
    names = sorted(set(a) | set(b))
    missing = [n for n in names if n not in a or n not in b]
    if missing:
        sys.exit(f"[sf1_gate] {len(missing)} queries missing from one dump: "
                 f"{missing[:10]} — dumps are not comparable")
    drift = {n: (a[n], b[n]) for n in names if a[n] != b[n]}
    # scale-up must only ever DEMOTE broadcasts; anything else in the
    # delta (a new nested loop, a cartesian) is an immediate failure,
    # not a replay candidate
    hard_bad = []
    for n, (ca, cb) in sorted(drift.items()):
        print(f"DRIFT {n}: {fmt(ca)} -> {fmt(cb)}")
        for kind in ("CartesianProduct",):
            if cb.get(kind, 0) > ca.get(kind, 0):
                hard_bad.append((n, kind))
        if cb.get("BroadcastNestedLoopJoin", 0) > \
                ca.get("BroadcastNestedLoopJoin", 0):
            hard_bad.append((n, "BroadcastNestedLoopJoin"))
    print(f"[sf1_gate] {len(drift)} of {len(names)} queries change "
          "join strategy at sf1")
    if hard_bad:
        for n, k in hard_bad:
            print(f"[sf1_gate] HARD FAIL {n}: sf1 plan gained a {k}")
        sys.exit(1)

    verified = load_verified()
    stale = sorted(set(verified) - set(drift))
    if stale:
        # not an error — a query leaving the drift set means its plans
        # now agree across scales; drop it so the file mirrors reality
        print(f"[sf1_gate] {len(stale)} previously-drifting queries no "
              f"longer drift (removing from verified set): {stale}")
        for n in stale:
            del verified[n]
        save_verified(verified)
    new = sorted(set(drift) - set(verified))
    todo = sorted(drift) if replay_all else new

    if not todo:
        print(f"[sf1_gate] PASS — all {len(drift)} drift queries verified "
              f"({sum(1 for v in verified.values() if v['route'] == 'duckdb')}"
              f" duckdb, "
              f"{sum(1 for v in verified.values() if v['route'] == 'ab')} ab)")
        return
    if not replay:
        for n in new:
            print(f"[sf1_gate] NEW DRIFT {n}: sf1 executes a plan no oracle "
                  "run has checked — rerun with --replay to verify it")
        sys.exit(1)

    print(f"[sf1_gate] replaying {len(todo)} queries "
          f"({'all drift' if replay_all else 'new drift only'})")
    # previously-AB-routed queries skip the doomed DuckDB attempt
    duck_first = [n for n in todo if verified.get(n, {}).get("route") != "ab"]
    ab_first = [n for n in todo if verified.get(n, {}).get("route") == "ab"]
    passed_d, failed, timed = replay_duckdb(duck_first)
    passed_a, failed_a = replay_ab(sorted(timed + ab_first))
    failed += failed_a
    for n in passed_d:
        verified[n] = {"route": "duckdb", "round": 15}
    for n in passed_a:
        verified[n] = {"route": "ab", "round": 15}
    save_verified(verified)
    if failed:
        for n in failed:
            print(f"[sf1_gate] FAIL {n}: sf1 replay mismatched")
        sys.exit(1)
    print(f"[sf1_gate] PASS — {len(passed_d)} via DuckDB, "
          f"{len(passed_a)} via strategy-ab; verified set updated")


if __name__ == "__main__":
    main()
