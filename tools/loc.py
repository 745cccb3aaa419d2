#!/usr/bin/env python3
"""Count Scala code lines: non-blank, not a // comment, not inside /* ... */.

Usage: python3 tools/loc.py
"""
import pathlib

repo = pathlib.Path(__file__).resolve().parent.parent
for root in ("src/main/scala", "src/test/scala"):
    total = 0
    for path in sorted((repo / root).rglob("*.scala")):
        in_block = False
        for line in path.read_text(encoding="utf-8").splitlines():
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s
            elif s and not s.startswith("//"):
                total += 1
    print(f"{root}: {total}")
