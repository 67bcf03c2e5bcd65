#!/usr/bin/env python3
"""Count code lines of the Scala sources under a directory.

    python3 tools/sloc.py src/main [--total]

A line counts when it holds anything outside comments: blank lines, `//`
lines and lines inside `/* */` blocks (scaladoc included, nested blocks
too) do not count. Text inside string literals, triple-quoted ones
included, is code, so a `//` or `/*` inside a string starts no comment.
Prints one `<lines> <file>` row per file, then `<lines> total`; with
`--total`, only the total.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with a character outside comments."""
    n = len(text)
    i = 0
    depth = 0          # nesting depth of /* */ blocks
    quote = None       # '"' or '"""' while inside a string literal
    counted = set()    # line numbers holding code
    line = 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if quote:
            if not c.isspace():
                counted.add(line)
            if quote == '"' and c == "\\":
                i += 2
            elif text.startswith(quote, i):
                # a triple-quoted string ends at the LAST of a quote run
                if quote == '"""':
                    while text.startswith('""""', i):
                        i += 1
                i += len(quote)
                quote = None
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            counted.add(line)
        if text.startswith('"""', i):
            quote = '"""'
            i += 3
        elif c == '"':
            quote = '"'
            i += 1
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            i += 3     # a char literal such as '"'
        elif c == "'" and text.startswith("\\", i + 1):
            end = text.find("'", i + 3)
            i = end + 1 if end > 0 else i + 1
        else:
            i += 1
    return len(counted)


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 1:
        sys.exit(__doc__)
    rows = []
    for d, _, files in os.walk(args[0]):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append((code_lines(fh.read()), p))
    rows.sort(key=lambda r: r[1])
    if "--total" not in argv:
        for k, p in rows:
            print(f"{k} {p}")
    print(f"{sum(k for k, _ in rows)} total")


if __name__ == "__main__":
    main(sys.argv[1:])
