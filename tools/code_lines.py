#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala and Java sources.

Usage: code_lines.py [root]   (default root: src/main)

One rule per line, on the line as written:
  blank    only whitespace;
  comment  the first non-blank characters are //, /* or *;
  code     anything else (so a line of a block comment that does not start
           with * counts as code, and code followed by a comment is code).

Prints one line per file under root, sorted by path:

    <code> <comment> <blank> <total> <path>

then a TOTAL line with the sums. The code column is the "main code lines"
figure that ROADMAP direction 4 measures.
"""
import os
import re
import sys

COMMENT = re.compile(r"[ \t]*(//|/\*|\*)")
EXTENSIONS = (".scala", ".java")


def classify(line):
    """'blank', 'comment' or 'code' for one line (without its newline)."""
    if not line.strip(" \t"):
        return "blank"
    if COMMENT.match(line):
        return "comment"
    return "code"


def count_file(path):
    """(code, comment, blank) line counts of one file."""
    counts = {"code": 0, "comment": 0, "blank": 0}
    with open(path, encoding="utf-8", newline="") as f:
        lines = f.read().split("\n")
    if lines[-1] == "":
        lines.pop()  # the text after the final newline is no line
    for line in lines:
        counts[classify(line)] += 1
    return counts["code"], counts["comment"], counts["blank"]


def count_tree(root):
    """[(path, (code, comment, blank))] for every source file under root."""
    out = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(EXTENSIONS):
                path = os.path.join(dirpath, name)
                out.append((path, count_file(path)))
    return sorted(out)


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    if not os.path.isdir(root):
        print(f"no such directory: {root}", file=sys.stderr)
        return 2
    total = [0, 0, 0]
    for path, counts in count_tree(root):
        print(f"{counts[0]:6d} {counts[1]:6d} {counts[2]:6d} {sum(counts):6d} {path}")
        total = [t + c for t, c in zip(total, counts)]
    print(f"{total[0]:6d} {total[1]:6d} {total[2]:6d} {sum(total):6d} TOTAL")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
