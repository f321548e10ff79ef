#!/usr/bin/env python3
"""Line counts of the engine's Scala sources.

    python3 tools/loc.py [root]

For `src/main` and `src/test` under `root` (default: the current
directory) prints the raw line total (what `wc -l` reports) and the
code lines: lines that are neither blank nor comment-only. A line counts
as comment-only when it sits inside a `/* ... */` block (scaladoc
included) or starts with `//`. A line holding code and a trailing
comment counts as code.
"""
import os
import sys


def count(path):
    """(raw lines, code lines) of one Scala file."""
    raw = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            if s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                code += 1
    return raw, code


def tree(top):
    raw = code = files = 0
    for d, _, names in os.walk(top):
        for n in names:
            if n.endswith(".scala"):
                r, c = count(os.path.join(d, n))
                raw += r
                code += c
                files += 1
    return files, raw, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    print(f"{'tree':<10}{'files':>7}{'wc -l':>9}{'code':>9}")
    for sub in ("src/main", "src/test"):
        files, raw, code = tree(os.path.join(root, sub))
        print(f"{sub:<10}{files:>7}{raw:>9}{code:>9}")


if __name__ == "__main__":
    main()
