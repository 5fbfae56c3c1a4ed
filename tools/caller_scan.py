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

Scala sources are matched with their `//` and `/* */` comments (scaladoc
included) stripped, so a name that only a comment mentions is not a
caller. String and character literals are kept whole, so a `//` inside
one (an `s3a://` path) does not start a comment; line numbers are kept.
The match is by word: a name that another member shares still hides a
caller-less member. tools/ scripts are matched as they are. The scan finds
candidates; it does not prove a member live.

Usage: python3 tools/caller_scan.py   (from anywhere; paths are relative
to the repository root, the parent of this script's directory)
"""
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
DECL = re.compile(r"^(?!.*\boverride\b).*\b(?:def|class)\s+([A-Za-z_]\w*)", re.M)
# the next place a literal or a comment can start
SPECIAL = re.compile(r"\"|'|/[/*]")
# a character literal: 'a', '\n', '\u0041'
CHAR = re.compile(r"'(?:\\u[0-9A-Fa-f]{4}|\\.|[^'\\\n])'")


def strip_comments(src):
    """Scala source with its comments removed; each block comment leaves
    its newlines behind, and string and character literals stay whole."""
    out, i, n = [], 0, len(src)
    while True:
        m = SPECIAL.search(src, i)
        if not m:
            out.append(src[i:])
            return "".join(out)
        k = m.start()
        out.append(src[i:k])
        if src.startswith('"""', k):
            j = src.find('"""', k + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # a literal ending in quotes
                j += 1
            out.append(src[k:j])
        elif src[k] == '"':
            j = k + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(src[k:j])
        elif src[k] == "'":
            c = CHAR.match(src, k)
            j = c.end() if c else k + 1
            out.append(src[k:j])
        elif src.startswith("//", k):
            j = src.find("\n", k)
            j = n if j < 0 else j
        else:  # a block comment; Scala's nest
            depth, j = 1, k + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", k, j))
        i = j


def files(pattern):
    return sorted(p for p in ROOT.glob(pattern) if p.is_file())


def main():
    main_files = files("src/main/**/*.scala")
    callers = files("perfbench/scala/**/*.scala") + files("tools/*")
    tests = files("src/test/**/*.scala")
    text = {p: p.read_text() for p in main_files + callers + tests}
    text = {p: strip_comments(t) if p.suffix == ".scala" else t
            for p, t in text.items()}
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
