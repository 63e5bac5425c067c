#!/usr/bin/env python3
"""Count total and code lines of source files.

    python3 tools/loc.py <file-or-dir>...

For each file (directories are walked for *.scala, *.java and *.py) it
prints total lines and code lines, then the sums. A code line is a line
that still holds something after blank space, `//` comments and `/* */`
blocks (scaladoc included) are taken out; a `#` line counts as a comment
in Python files. String literals are skipped while scanning, so a `/*`
inside a string does not open a block.
"""
import os
import sys

EXTS = (".scala", ".java", ".py")


def code_lines(text, python=False):
    """Number of lines of `text` that hold code outside comments."""
    n = 0
    in_block = False  # inside /* ... */
    in_triple = None  # inside a triple-quoted string: its quote
    for line in text.splitlines():
        i, code = 0, False
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block, i = False, end + 2
                continue
            if in_triple:
                code = True
                end = line.find(in_triple, i)
                if end < 0:
                    i = len(line)
                else:
                    i, in_triple = end + 3, None
                continue
            c = line[i]
            if c.isspace():
                i += 1
            elif python and c == "#":
                break
            elif not python and line.startswith("//", i):
                break
            elif not python and line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith('"""', i) or (python and line.startswith("'''", i)):
                in_triple, i, code = line[i:i + 3], i + 3, True
            elif c == '"' or (python and c == "'"):
                code, i = True, i + 1
                while i < len(line) and line[i] != c:
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                code, i = True, i + 1
        if code:
            n += 1
    return n


def files_of(paths):
    for p in paths:
        if os.path.isdir(p):
            for d, dirs, names in os.walk(p):
                dirs.sort()
                for name in sorted(names):
                    if name.endswith(EXTS):
                        yield os.path.join(d, name)
        else:
            yield p


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = code = 0
    for f in files_of(argv):
        with open(f, encoding="utf-8") as fh:
            text = fh.read()
        t = len(text.splitlines())
        c = code_lines(text, python=f.endswith(".py"))
        total, code = total + t, code + c
        print(f"{t:7d} {c:7d}  {f}")
    print(f"{total:7d} {code:7d}  total (lines, code lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
