#!/usr/bin/env python3
"""Compare two oracle SQL maps query by query.

    tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Each side is the oracle_sql.json that graft.Verify writes next to its
parquet output (name -> DuckDB SQL for all catalog queries, whichever
subset it ran), e.g. from a cheap one-query run:

    SPARK_GRAFT_QUERIES=q01_group_agg tools/run_main.sh graft.Verify <sf> <out>

Prints one line per query name:
  identical        the two SQL texts are byte-equal;
  whitespace-only  they differ only in whitespace outside quoted
                   literals: equal once every whitespace run there is
                   collapsed to one space and a space next to ( ) [ ] ,
                   is dropped (it never separates two tokens there);
                   quoted text ('...' and "...") must be byte-equal;
  changed          anything else;
  only-in-a / only-in-b  the name is missing from one side.
Exits 1 on any `changed` or a key-set difference, else 0.
"""
import json
import re
import sys

_PUNCT = set("()[],")


def normalize(sql):
    """Whitespace-canonical form of `sql`; quoted literals kept verbatim."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = sql.find(c, i + 1)
            j = n - 1 if j < 0 else j
            out.append(sql[i:j + 1])  # '' escapes re-enter here as a pair
            i = j + 1
        elif c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            out.append(" ")
            i = j
        else:
            out.append(c)
            i += 1
    s = "".join(out).strip()
    # drop a single space on either side of ( ) [ ] , outside literals
    parts = re.split(r"('[^']*'|\"[^\"]*\")", s)
    for k in range(0, len(parts), 2):
        p = re.sub(r" ?([()\[\],]) ?", r"\1", parts[k])
        parts[k] = p
    return "".join(parts)


def classify(a, b):
    if a == b:
        return "identical"
    if normalize(a) == normalize(b):
        return "whitespace-only"
    return "changed"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    bad = False
    counts = {}
    for name in sorted(set(a) | set(b)):
        if name not in b:
            verdict = "only-in-a"
        elif name not in a:
            verdict = "only-in-b"
        else:
            verdict = classify(a[name], b[name])
        counts[verdict] = counts.get(verdict, 0) + 1
        bad |= verdict not in ("identical", "whitespace-only")
        print(f"{name}: {verdict}")
    summary = ", ".join(f"{v} {k}" for k, v in sorted(counts.items()))
    print(f"[oracle_diff] {len(set(a) | set(b))} keys: {summary}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
