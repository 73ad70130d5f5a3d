#!/usr/bin/env python3
"""Count the code lines of Scala sources: directories of them, or single files.

Usage: python3 tools/code_lines.py <dir-or-.scala-file> [...]

This is the size count ROADMAP.md and CHANGES.md quote ("`src/main/scala`
shrinks by N lines"): every `.scala` file under each directory (or the
`.scala` file itself), leaving out blank lines, lines that hold only a `//`
comment and everything inside `/* ... */` blocks, scaladoc included. A line
that keeps code outside a block comment counts. Prints `<count> <path>` per
argument, then the total when more than one is given.
"""
import os
import sys


def code_lines(path):
    """Code lines of one Scala file."""
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            text = line.strip()
            kept = []
            i = 0
            while i < len(text):
                if in_block:
                    end = text.find("*/", i)
                    if end < 0:
                        break
                    in_block = False
                    i = end + 2
                else:
                    start = text.find("/*", i)
                    if start < 0:
                        kept.append(text[i:])
                        break
                    kept.append(text[i:start])
                    in_block = True
                    i = start + 2
            code = "".join(kept).strip()
            if code and not code.startswith("//"):
                n += 1
    return n


def tree_lines(root):
    """Code lines of every `.scala` file under `root`."""
    return sum(
        code_lines(os.path.join(d, name))
        for d, _, names in os.walk(root)
        for name in names
        if name.endswith(".scala"))


def main(dirs):
    if not dirs:
        sys.exit(__doc__.strip().splitlines()[2])
    total = 0
    for d in dirs:
        if os.path.isdir(d):
            n = tree_lines(d)
        elif os.path.isfile(d) and d.endswith(".scala"):
            n = code_lines(d)
        else:
            sys.exit(f"not a directory or .scala file: {d}")
        total += n
        print(f"{n} {d}")
    if len(dirs) > 1:
        print(f"{total} total")


if __name__ == "__main__":
    main(sys.argv[1:])
