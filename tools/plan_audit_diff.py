#!/usr/bin/env python3
"""Diff two PlanAudit outputs section by section.

    sbt -batch "runMain graft.PlanAudit" > a.txt     # one tree
    sbt -batch "runMain graft.PlanAudit" > b.txt     # the other
    python3 tools/plan_audit_diff.py a.txt b.txt [-u]

A section starts at a `==== <heading> ====` line. Sections are paired by
position when both files have the same number of them (a reworded
heading still pairs with its old self), otherwise by heading. Before
comparing, tokens that differ between runs of the same code are masked:
expression ids (`#123`), `plan_id=123`, JVM lambda class names
(`$$Lambda$12/0x...@1a2b`), the `/tmp/plan-warc<n>` temp dir and RDD ids
(`MapPartitionsRDD[12]`). Lines before the first heading (sbt and Spark
logging) are ignored.

Prints one line per section, `same` or `DIFF` with the changed-line
count, and with `-u` a unified diff of each differing section. Exits 0
when every section is the same, 1 otherwise.
"""
import argparse
import difflib
import re
import sys

HEADING = re.compile(r"^==== (.*) ====$")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda[\w$/]*@[0-9a-f]+"), "$$Lambda@N"),
    (re.compile(r"plan-warc\d+"), "plan-warcN"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """[(heading, [masked lines])] in file order."""
    out = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADING.match(line)
            if m:
                out.append((m.group(1), []))
            elif out:
                out[-1][1].append(mask(line))
    return out


def pairs(a, b):
    """Pairs (section of a or None, section of b or None)."""
    if len(a) == len(b):
        return list(zip(a, b))
    hb = {h: s for h, s in b}
    ha = {h for h, _ in a}
    return ([((h, s), (h, hb[h]) if h in hb else None) for h, s in a] +
            [(None, (h, s)) for h, s in b if h not in ha])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("-u", action="store_true",
                    help="print a unified diff of each differing section")
    args = ap.parse_args()
    a, b = sections(args.a), sections(args.b)
    differing = 0
    for sa, sb in pairs(a, b):
        if sa is None or sb is None:
            differing += 1
            side, (h, _) = ("only in b", sb) if sa is None else ("only in a", sa)
            print(f"DIFF  {side}: {h}")
            continue
        la, lb = sa[1], sb[1]
        title = sa[0] if sa[0] == sb[0] else f"{sa[0]}  ->  {sb[0]}"
        if la == lb and sa[0] == sb[0]:
            print(f"same  {title}")
            continue
        differing += 1
        diff = list(difflib.unified_diff(la, lb, "a", "b", lineterm=""))
        changed = sum(1 for d in diff[2:] if d[:1] in "+-")
        print(f"DIFF  {title}  ({changed} lines)")
        if args.u:
            print("\n".join(diff))
    print(f"{differing} of {max(len(a), len(b))} sections differ",
          file=sys.stderr)
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
