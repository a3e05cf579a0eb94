#!/usr/bin/env python3
"""Report-only clone scan over src/main/scala (not a gate).

    python3 tools/clone_scan.py [root]

Slides an 8-line window over every .scala file's stripped lines. A
window counts only when at least 6 of its lines are code (not a `//`,
`*` or `/*` comment line) longer than 3 characters. The first window
with a given text is the original; every later window with the same
text, in any file, is a copy. Prints, per file, how many lines lie in a
copy window (each line counted once), then the total.
"""
import glob
import os
import sys

WINDOW, MIN_CODE, MIN_LEN = 8, 6, 3
COMMENT = ("//", "*", "/*")


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "src/main/scala")
    seen, copied = set(), {}
    for path in sorted(glob.glob(os.path.join(root, "**/*.scala"), recursive=True)):
        lines = [l.strip() for l in open(path, encoding="utf-8")]
        hit = set()
        for i in range(len(lines) - WINDOW + 1):
            win = lines[i:i + WINDOW]
            code = sum(1 for l in win if len(l) > MIN_LEN and not l.startswith(COMMENT))
            if code < MIN_CODE:
                continue
            key = "\n".join(win)
            if key in seen:
                hit.update(range(i, i + WINDOW))
            else:
                seen.add(key)
        if hit:
            copied[os.path.relpath(path, root)] = len(hit)
    for rel, n in sorted(copied.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {rel}")
    print(f"{sum(copied.values()):6d}  total")


if __name__ == "__main__":
    main()
