#!/usr/bin/env python3
"""Line counts for Scala/Java sources under one rule.

    python3 tools/loc.py <path>...

Each path is a file or a directory (searched recursively for .scala and
.java files). Prints, per path and then in total, the number of lines
and the number of code lines: lines that hold something other than
whitespace outside comments. Comments are `//` to the end of the line
and `/* ... */` blocks, nested the way Scala nests them; scaladoc
(`/** ... */`) is a block comment. Comment markers inside string and
character literals do not count; a plain string ends at the end of its
line, a triple-quoted one at its closing quotes.
"""
import os
import sys

EXTS = (".scala", ".java")


def count(text):
    """(lines, code lines) of one source text."""
    lines = code = 0
    depth = 0          # block-comment nesting
    triple = False     # inside a \"\"\" string
    for line in text.splitlines():
        lines += 1
        has_code = triple  # a line inside a triple-quoted string is code
        plain = False      # inside a "..." string
        i, n = 0, len(line)
        while i < n:
            two = line[i:i + 2]
            if depth:
                if two == "*/":
                    depth -= 1
                    i += 2
                elif two == "/*":
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if triple:
                if line.startswith('"""', i):
                    triple = False
                    i += 3
                else:
                    i += 1
                continue
            if plain:
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    plain = False
                    i += 1
                else:
                    i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                depth += 1
                i += 2
                continue
            c = line[i]
            if not c.isspace():
                has_code = True
            if line.startswith('"""', i):
                triple = True
                i += 3
            elif c == '"':
                plain = True
                i += 1
            elif c == "'" and line[i + 1:i + 2] == "\\":
                end = line.find("'", i + 3)
                i = end + 1 if end > 0 else i + 1
            elif c == "'" and line[i + 2:i + 3] == "'":
                i += 3
            else:
                i += 1
        if has_code:
            code += 1
    return lines, code


def sources(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(EXTS):
                yield os.path.join(root, f)


def main(paths):
    if not paths:
        sys.exit("usage: tools/loc.py <path>...")
    total = [0, 0]
    for p in paths:
        if not os.path.exists(p):
            sys.exit("no such path: %s" % p)
        sub = [0, 0]
        for f in sources(p):
            with open(f, encoding="utf-8") as fh:
                n, c = count(fh.read())
            sub[0] += n
            sub[1] += c
        print("%8d %8d  %s" % (sub[0], sub[1], p))
        total[0] += sub[0]
        total[1] += sub[1]
    print("%8d %8d  total (lines, code lines)" % tuple(total))


if __name__ == "__main__":
    main(sys.argv[1:])
