#!/usr/bin/env python3
"""Count code lines in Scala sources.

    python3 tools/codelines.py src/main/scala/graft/sources/CommitLog.scala
    python3 tools/codelines.py src/main

Prints one `<code lines>  <file>` row per Scala file under the given
paths (files, or directories walked recursively), then the total. A code
line is a non-blank line that still holds something once `//` comments
and `/* */` blocks (scaladoc included) are removed. Comment markers
inside string and character literals are not comments.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ blocks (Scala nests them)
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = in_str is not None
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                    # a closing run of more than three quotes ends on the last three
                    while i < n and line[i] == '"':
                        i += 1
                else:
                    i += 1
            elif in_str == '"':
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                in_str, has_code = '"""', True
                i += 3
            elif line[i] == '"':
                in_str, has_code = '"', True
                i += 1
            elif line[i] == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # a character literal: 'x' or an escape like '\n', '\\', '\''
                end = line.find("'", i + 3 if line[i + 1] == "\\" else i + 2)
                has_code = True
                i = n if end < 0 else end + 1
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # a single-quoted string cannot span lines
        if has_code:
            count += 1
    return count


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, fs in os.walk(path):
        found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in argv:
        if not os.path.exists(p):
            print(f"no such path: {p}", file=sys.stderr)
            return 2
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                c = code_lines(fh.read())
            total += c
            print(f"{c:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
