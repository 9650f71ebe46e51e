#!/usr/bin/env python3
"""Count the repeated lines of each source file.

The scan reads a file as stripped lines (blank lines kept) and slides a
4-line window over them. A window whose text was seen at an earlier
position is a later copy; every line inside a later copy counts as a
repeat, once. Prints `<count> <file>` per file.

Usage: python3 tools/repeat_scan.py FILE...
"""
import sys

WINDOW = 4


def repeated_lines(lines):
    seen = set()
    marked = set()
    for i in range(len(lines) - WINDOW + 1):
        w = tuple(lines[i:i + WINDOW])
        if w in seen:
            marked.update(range(i, i + WINDOW))
        else:
            seen.add(w)
    return len(marked)


def main(paths):
    if not paths:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    for p in paths:
        with open(p) as f:
            print(repeated_lines([l.strip() for l in f]), p)
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1:]))
