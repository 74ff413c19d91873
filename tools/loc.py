#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala sources.

    python3 tools/loc.py [dir ...]

Prints one line per file (code, comment, blank, path) and a total
line, for `src/main` by default. A line is a comment line when it
holds nothing but comment: `//` lines and the lines of `/* ... */`
blocks (scaladoc included). A line with code and a trailing comment
counts as code. Standard library only.
"""
import os
import sys


def classify(lines):
    """(code, comment, blank) counts of one file's lines."""
    code = comment = blank = 0
    in_block = False
    for raw in lines:
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
                rest = line.split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    code += 1
                    continue
            comment += 1
        elif not line:
            blank += 1
        elif line.startswith("//"):
            comment += 1
        elif line.startswith("/*"):
            if "*/" in line[2:]:
                rest = line[2:].split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    code += 1
                    continue
            else:
                in_block = True
            comment += 1
        else:
            code += 1
    return code, comment, blank


def sources(top):
    for d, _, files in sorted(os.walk(top)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main(argv):
    tops = argv[1:] or ["src/main"]
    total = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for top in tops:
        for path in sources(top):
            with open(path, encoding="utf-8") as fh:
                counts = classify(fh.read().splitlines())
            total = [t + c for t, c in zip(total, counts)]
            print(f"{counts[0]:>7} {counts[1]:>7} {counts[2]:>7}  {path}")
    print(f"{total[0]:>7} {total[1]:>7} {total[2]:>7}  total")


if __name__ == "__main__":
    main(sys.argv)
