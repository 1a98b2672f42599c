#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage:
    python3 scripts/plandiff.py <parentDump> <changeDump> [query ...]

A dump is the stdout of `sbt "runMain graft.Explain <sfDir> [query ...]"`:
one `========== <name> ==========` header per query, followed by its
formatted physical plan. Before comparing, each plan is normalized so that
only structural differences remain:

  - expression ids (`v#8199`, `cell#8204L`, `dynamicpruning#8246`),
  - plan-node ids (`Project (35)`, `(35) Project`) and `plan_id=<n>`,
  - broadcast ids (`Broadcast(1655)`),
  - per-run scratch paths (`graft_run_<applicationId>`, temp dirs that end
    in a random number, uuid-named part files), RDD ids and lambda
    instance names.

Prints a unified diff for every query whose normalized plan differs, then a
one-line summary. Exit status 0 when no compared query differs, 1 otherwise.
Extra arguments restrict the comparison to the named queries.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (.+?) ==========$")

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast()"),
    (re.compile(r"graft_run_[^/\s,\]]+"), "graft_run_<app>"),
    (re.compile(r"(/tmp/[^/\s,\]]*?)\d{6,}"), r"\1<n>"),
    (re.compile(r"part-\d+-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"),
     "part-<uuid>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\$Lambda\$[\d/]+(0x[0-9a-f]+)?@[0-9a-f]+"), "$Lambda"),
    # node ids: "(35) Project" headers and "+- Project (35)" tree lines
    (re.compile(r"^\(\d+\) "), "() "),
    (re.compile(r" \(\d+\)$"), " ()"),
]


def sections(path):
    """{query name: [normalized plan lines]} in dump order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
                continue
            if name is None:
                continue
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
            out[name].append(line.rstrip())
    # trailing blank lines carry no plan content
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = sections(argv[1]), sections(argv[2])
    only = set(argv[3:])
    names = [n for n in list(parent) + [n for n in change if n not in parent]
             if not only or n in only]
    differ, missing = [], []
    for name in names:
        if name not in parent or name not in change:
            missing.append(name)
            side = "parent" if name not in parent else "change"
            print(f"--- {name}: absent from the {side} dump")
            continue
        if parent[name] != change[name]:
            differ.append(name)
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in parent[name]],
                [l + "\n" for l in change[name]],
                fromfile=f"parent/{name}", tofile=f"change/{name}"))
    same = len(names) - len(differ) - len(missing)
    print(f"plandiff: {len(names)} queries, {same} identical, "
          f"{len(differ)} differ, {len(missing)} in one dump only"
          + (f" — differ: {', '.join(differ)}" if differ else ""))
    return 0 if not differ and not missing else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
