#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala sources in src/main.

A line is
  - blank   when it holds only whitespace outside any block comment;
  - comment when everything on it lies inside a `/* ... */` block
    comment (Scala block comments nest) or after a `//`;
  - code    otherwise: a line with code and a trailing comment is code.

String literals are skipped, so a `//` or `/*` inside "..." or
\"\"\"...\"\"\" does not open a comment. Blank lines inside a block comment
count as comment lines.

Usage: tools/src_lines.py [dir]   (default: src/main, from the repo root)
Prints one line: code=N comment=N blank=N total=N
"""
import os
import sys


def classify(text):
    """Yield 'code', 'comment' or 'blank' for each line of a Scala file."""
    depth = 0          # block-comment nesting depth carried across lines
    in_triple = False  # inside a """...""" literal carried across lines
    for line in text.split("\n"):
        has_code = False
        in_comment_line = depth > 0
        i, n = 0, len(line)
        while i < n:
            c, two = line[i], line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif two == "//":
                in_comment_line = True
                break
            elif two == "/*":
                depth += 1
                in_comment_line = True
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True  # a char literal such as '"'
                i += 3
            elif c == "'" and line[i + 1:i + 2] == "\\":
                has_code = True  # an escaped char literal such as '\''
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            yield "code"
        elif in_comment_line:
            yield "comment"
        else:
            yield "blank"


def count(root):
    totals = {"code": 0, "comment": 0, "blank": 0}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    text = fh.read()
                if text.endswith("\n"):
                    text = text[:-1]
                for kind in classify(text):
                    totals[kind] += 1
    return totals


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    t = count(root)
    print("code=%d comment=%d blank=%d total=%d" % (
        t["code"], t["comment"], t["blank"], sum(t.values())))


if __name__ == "__main__":
    main()
