#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs query by query, ignoring the ids
Spark numbers afresh on every run.

Usage: python3 scripts/plan_diff.py <old_explain.txt> <new_explain.txt> [N]

Dump each tree's physical plans with
`java ... graft.Explain <sfDir> > explain.txt` (same sfDir both times).
Before comparing, each plan is normalized: expression ids (`#123`,
`#123L`), plan ids, RDD ids, lambda variable suffixes (`x_39`),
object identity hashes (`$@333b5a6e`, JVM lambda class names) and the
spark-warehouse directory of persisted tables are replaced by
placeholders. The script prints every query whose normalized plan
differs (and the first N unified diffs, default 0) and every query
present in only one file; it exits 1 if any plan differs. A refactor
that should leave every plan as it was is checked against the parent
commit's dump this way.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b([a-z]+)_\d+#N"), r"\1_N#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$@[0-9a-f]+"), "$@H"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:WAREHOUSE/"),
]


def plans(path):
    """query name -> plan text, split on Explain's per-query headers."""
    out, name, buf = {}, None, []
    with open(path) as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                if name is not None:
                    out[name] = "".join(buf)
                name, buf = m.group(1), []
            elif name is not None:
                buf.append(line)
    if name is not None:
        out[name] = "".join(buf)
    return out


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    old, new = plans(argv[1]), plans(argv[2])
    show = int(argv[3]) if len(argv) == 4 else 0
    differ = [q for q in old if q in new and normalize(old[q]) != normalize(new[q])]
    for q in sorted(set(old) ^ set(new)):
        print(f"only in {'old' if q in old else 'new'}: {q}")
    for q in differ:
        print(f"differs: {q}")
    for q in differ[:show]:
        diff = difflib.unified_diff(normalize(old[q]).splitlines(),
                                    normalize(new[q]).splitlines(),
                                    q, q, lineterm="", n=1)
        print("\n".join(diff))
    same = len(set(old) & set(new)) - len(differ)
    print(f"{same} identical, {len(differ)} differ")
    return 1 if differ or set(old) != set(new) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
