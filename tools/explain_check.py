#!/usr/bin/env python3
"""EXPLAIN.md completeness gate.

Asserts every SparkEntry registry name matches an EXPLAIN.md row:
exactly, via a multi-name row ("a / b"), via a glob row ("text_*"),
or via a declared group alias in the GROUPS table below (a row whose
first cell is a named plan family, e.g. "bucketed fact joins",
explicitly mapped here to the registry names it covers).

Usage: python3 tools/explain_check.py [names_file]
  names_file: output of `tools/run_main.sh graft.Audit names`
  (name\tkind per line). If omitted, the script runs it itself (needs
  compiled classes in target/).

Exit 0 iff all registry names resolve; otherwise prints the
unresolved list and exits 1.
"""
import fnmatch
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Rows in EXPLAIN.md whose first cell is a plan-family DESCRIPTION
# rather than query names. Each maps to the registry names it
# audits. Keep in sync with EXPLAIN.md prose.
GROUP_ALIASES = {
    "bucketed fact joins": ["source_bucketed_join"],
    "selection rules": ["cdc_selection_rules"],
    "text_*": None,  # glob rows are expanded by fnmatch below
}


def registry_names(names_file):
    if names_file:
        lines = open(names_file).read().splitlines()
    else:
        out = subprocess.run(
            ["bash", os.path.join(REPO, "tools", "run_main.sh"),
             "graft.Audit", "names"],
            capture_output=True, text=True, check=True)
        lines = out.stdout.splitlines()
    names = []
    for ln in lines:
        ln = ln.strip()
        if ln and "\t" in ln:
            names.append(ln.split("\t")[0])
    if not names:
        sys.exit("no registry names found — is target/ compiled?")
    return names


def explain_row_keys():
    """First-cell tokens of every EXPLAIN.md table row."""
    keys = []
    for ln in open(os.path.join(REPO, "EXPLAIN.md")):
        if not ln.startswith("|"):
            continue
        cells = ln.split("|")
        if len(cells) < 3:
            continue
        first = cells[1].strip()
        if first in ("query", "---", ""):
            continue
        keys.append(first)
    return keys


def main():
    names_file = sys.argv[1] if len(sys.argv) > 1 else None
    names = registry_names(names_file)
    keys = explain_row_keys()

    exact, globs = set(), []
    for key in keys:
        # a row may list several names: "a / b", "a, b"
        for tok in re.split(r"\s*[/,]\s*", key):
            tok = tok.strip().strip("`")
            if not tok:
                continue
            if tok in GROUP_ALIASES and GROUP_ALIASES[tok]:
                exact.update(GROUP_ALIASES[tok])
            elif "*" in tok or "?" in tok:
                globs.append(tok)
            elif re.fullmatch(r"[a-z0-9_]+", tok):
                exact.add(tok)
            else:
                # descriptive family row without a declared alias:
                # surfaced so the mapping stays explicit
                print(f"NOTE: unmapped descriptive row: {key!r}",
                      file=sys.stderr)

    unresolved = []
    for n in names:
        if n in exact:
            continue
        if any(fnmatch.fnmatch(n, g) for g in globs):
            continue
        unresolved.append(n)

    print(f"registry: {len(names)} names; EXPLAIN.md rows: {len(keys)}; "
          f"exact keys: {len(exact)}; glob keys: {len(globs)}")
    if unresolved:
        print(f"FAIL: {len(unresolved)} registry names have no "
              f"EXPLAIN.md row:")
        for n in unresolved:
            print(f"  {n}")
        sys.exit(1)
    print("OK: every registry name resolves to an EXPLAIN.md row")


if __name__ == "__main__":
    main()
