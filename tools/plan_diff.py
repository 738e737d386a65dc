#!/usr/bin/env python3
"""Diff two PLANS.md files (`graft.tools.Query explain` output; before that
tool, `graft.tools.ExplainDump`) section by section, ignoring what changes from
run to run without the plan changing: expression ids (#123), RDD ids, plan ids,
lambda variable numbers, JVM lambda class names, object hash codes, source line
numbers and the paths of the tables q53s and x50 write under the SparkContext's
scratch root (`.../spark-<uuid>/userFiles-<uuid>/<name><random digits>`), which
become `file:<spark-scratch>/<name>`.

    python3 tools/plan_diff.py PARENT/PLANS.md PLANS.md [section ...]

With section names, only those sections are compared. Prints the normalized
diff of every differing section; exits 1 if any differs.
"""
import difflib
import re
import sys

NORMALIZE = [
    (r"#\d+L?", "#"),
    (r"\b(\w*RDD|rdd)\[\d+\]", r"\1[]"),
    (r"plan_id=\d+", "plan_id="),
    (r"lambda (\w+?)_\d+#", r"lambda \1_#"),
    (r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda"),
    (r"@[0-9a-f]{6,8}\b", "@"),
    (r"\.scala:\d+", ".scala:N"),
    (r"file:[^\]\s,]*/spark-[0-9a-f-]+/userFiles-[0-9a-f-]+/(\w*?)\d+\b",
     r"file:<spark-scratch>/\1"),
]


def sections(path):
    out, cur = {}, None
    for line in open(path, encoding="utf-8"):
        m = re.match(r"^## (\S+)", line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur:
            out[cur].append(line)
    return {k: normalize("".join(v)) for k, v in out.items()}


def normalize(text):
    for pat, rep in NORMALIZE:
        text = re.sub(pat, rep, text)
    return text.splitlines()


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a, b = sections(argv[1]), sections(argv[2])
    names = argv[3:] or sorted(set(a) | set(b))
    differing = []
    for name in names:
        if a.get(name) != b.get(name):
            differing.append(name)
            print(f"== {name}")
            print("\n".join(difflib.unified_diff(
                a.get(name, []), b.get(name, []), lineterm="", n=0)))
    print(f"{len(names) - len(differing)}/{len(names)} sections equal")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
