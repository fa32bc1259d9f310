#!/usr/bin/env python3
"""Count code lines in Scala (or any C-family) source files.

Usage: code_lines.py FILE_OR_DIR...

A code line is a line that is not blank and not wholly inside a `//` line
comment or a `/* ... */` block comment (scaladoc included). A line that
holds code and a trailing comment counts. Comment markers inside string
literals ("..." and \"\"\"...\"\"\") are not comments. Directories are
walked for `*.scala` files. Prints one line per file and a total.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    in_triple = False
    for line in text.splitlines():
        i, has_code = 0, False
        while i < len(line):
            if in_block:
                j = line.find("*/", i)
                if j < 0:
                    i = len(line)
                else:
                    in_block, i = False, j + 2
            elif in_triple:
                has_code = True
                j = line.find('"""', i)
                if j < 0:
                    i = len(line)
                else:
                    in_triple, i = False, j + 3
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith('"""', i):
                has_code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                has_code, i = True, i + 3  # a char literal such as '"'
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            n += 1
    return n


def files_of(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    total = 0
    for path in files_of(sys.argv[1:]):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
