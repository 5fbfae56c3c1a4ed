#!/usr/bin/env python3
"""Caller scan: list the src/main members that no surface calls.

For each `def` or `class` declared in src/main (lines with `override` are
skipped), the member is printed when its name appears nowhere else in
src/main — in no other file, and in its own file nowhere but on a
declaration line — in no perfbench/scala file, and in no tools/ script.
A private helper that its own file calls counts as called. Each printed
line carries the member's count of src/test references, so a member only
specs reach (a parity reference, a test seam) reads apart from one nothing
reaches at all.

The match is by word, comments included: a name that scaladoc mentions,
or that another member shares, hides a caller-less member. The scan finds
candidates; it does not prove a member live.

Usage: python3 tools/caller_scan.py   (from anywhere; paths are relative
to the repository root, the parent of this script's directory)
"""
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
DECL = re.compile(r"^(?!.*\boverride\b).*\b(?:def|class)\s+([A-Za-z_]\w*)", re.M)


def files(pattern):
    return sorted(p for p in ROOT.glob(pattern) if p.is_file())


def main():
    main_files = files("src/main/**/*.scala")
    callers = files("perfbench/scala/**/*.scala") + files("tools/*")
    tests = files("src/test/**/*.scala")
    text = {p: p.read_text() for p in main_files + callers + tests}
    for path in main_files:
        for m in DECL.finditer(text[path]):
            name = m.group(1)
            word = re.compile(r"\b%s\b" % re.escape(name))
            decls = len(re.findall(
                r"\b(?:def|class|object|val|var|type)\s+%s\b" % re.escape(name),
                text[path]))
            if len(word.findall(text[path])) > decls:
                continue
            if any(word.search(text[q]) for q in main_files + callers if q != path):
                continue
            n_test = sum(len(word.findall(text[q])) for q in tests)
            line = text[path].count("\n", 0, m.start()) + 1
            print(f"{path.relative_to(ROOT)}:{line} {name} (src/test references: {n_test})")


if __name__ == "__main__":
    main()
