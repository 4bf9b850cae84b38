#!/usr/bin/env python3
"""Reconstruct the per-query map from a positional BENCH_r{N}.json.

The bench's last-tier headline carries per-query integer-ms values as
a positional array in lexicographic name order plus "qsha" — the
first 8 bytes of sha256 over the sorted name list joined by '\n'.
The ~2000-char retained tail cannot hold 300 names at any encoding
(the sorted list is ~5.6 KB raw and ~2.7 KB deflate+base64 — measured
r14, both larger than the whole window), so the name list travels as
a VERSIONED TABLE instead: every full bench run persists its sorted
registry to tools/qnames/<qsha>.txt, and this script resolves names
from that table by the artifact's own digest — no JVM, no registry
checkout-matching, any checkout that carries the table decodes any
artifact. Resolution order:

  1. explicit names_file argument;
  2. tools/qnames/<qsha>.txt keyed by the artifact's qsha;
  3. the live registry via `graft.Audit names` (needs the benched checkout).

Whatever the source, the digest is re-verified against qsha before
any name is paired with a number.

Usage: python3 tools/bench_names.py BENCH_rNN.json [names_file]
"""
import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def names(names_file, qsha):
    if names_file:
        lines, src = open(names_file).read().splitlines(), names_file
    else:
        table = os.path.join(REPO, "tools", "qnames", f"{qsha}.txt")
        if qsha and os.path.exists(table):
            lines, src = open(table).read().splitlines(), table
        else:
            out = subprocess.run(
                ["bash", os.path.join(REPO, "tools", "run_main.sh"),
                 "graft.Audit", "names"],
                capture_output=True, text=True, check=True)
            lines, src = out.stdout.splitlines(), "graft.Audit names (live registry)"
    return [ln.split("\t")[0] for ln in lines if ln.strip()], src


def main():
    bench = json.load(open(sys.argv[1]))
    parsed = bench.get("parsed", bench)
    qms = parsed.get("qms")
    if not qms:
        sys.exit("no positional qms array in this artifact "
                 "(named map present? nothing to reconstruct)")
    qsha = parsed.get("qsha")
    ns, src = names(sys.argv[2] if len(sys.argv) > 2 else None, qsha)
    ns = sorted(ns)
    qn = parsed.get("qn")
    if qn is None:
        # pre-r13 artifacts carry neither qn nor qsha: fall back to the
        # qms length, flagged UNVERIFIED below (nothing pins alignment)
        qn = len(qms)
        if len(ns) != qn:
            sys.exit(f"artifact predates qn/qsha self-description and "
                     f"its {qn} positions != {len(ns)} resolved names — "
                     f"alignment cannot be established")
    elif len(ns) != qn:
        sys.exit(f"resolved name list size {len(ns)} != artifact qn "
                 f"{qn} — wrong name source for this run (source: {src})")
    digest = hashlib.sha256("\n".join(ns).encode()).hexdigest()[:16]
    if qsha and qsha != digest:
        sys.exit(f"qsha mismatch: artifact {qsha} vs names {digest} "
                 f"— {src} is NOT the registry that was benched")
    verdict = "verified" if qsha else "UNVERIFIED (artifact predates qsha)"
    print(json.dumps({
        "qsha": qsha, "alignment": verdict, "names_source": src,
        "queries": {n: ms for n, ms in zip(ns, qms)},
    }, indent=None))


if __name__ == "__main__":
    main()
