#!/usr/bin/env python3
"""Non-blank, non-comment line counts of Scala sources.

    python3 tools/ncnb.py src/main/scala/graft/ext/LmIndex.scala ...
    python3 tools/ncnb.py src/main          # every .scala file below it

A line counts unless, stripped, it is empty or starts with `//`, `/*`
or `*` (a line comment, or a line of a block or scaladoc comment).
Code followed by a trailing comment counts. Prints one line per file
and the total; a directory argument is expanded to the .scala files
below it, sorted.
"""
import os
import sys


def ncnb(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def expand(args):
    for a in args:
        if os.path.isdir(a):
            for root, _, names in sorted(os.walk(a)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield a


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in expand(argv):
        n = ncnb(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
