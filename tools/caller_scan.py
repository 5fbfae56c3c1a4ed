#!/usr/bin/env python3
"""Caller scan: list the src/main members that no surface reaches.

A member is a `def`, `val`, `lazy val`, `var`, `object`, `class` or `trait`
declared at the start of a line at template level in src/main: at the top
of a file, or directly inside an `object`, `class` or `trait` (a
declaration inside a `def` or `val` body is part of that body, not a
member of its own). Its body is the declaration line and every following
line indented deeper, plus same-indent closing brackets and continuation
lines (`) {`, `.map`, `extends`, `else`, ...); a container's own body
leaves out the bodies of its members.

The scan is a reachability walk. Its roots are:
  - every `def main`;
  - `SparkEntry`'s `catalog`, `queries`, `oracleSql` and `entry`;
  - every member that a perfbench/scala file names;
  - the `graft.…` classes a tools/ script launches (a tools/ script counts
    for nothing else, so a word like "compact" in a script hides nothing).
A member is live when the body of a live member names it. A live member
makes its containers live, and a live container makes its `override`
and `implicit` members and its `apply`/`unapply`/`update` live, since the
compiler or Spark calls those without naming them. Every member not
reached is printed, with its count of src/test references, so a member
only specs reach (a parity reference, a test seam) reads apart from one
nothing reaches at all. A dead container is printed alone, not with each
of its members.

After the members, the scan prints one `conf` line per `spark.graft.*`
session key that src/main names in a string literal: where it is named,
and how many `conf.set(...)`/`.config(...)` calls in src/test set it, by
the literal or by the name of the `val` that holds it. A key only specs
set is a tuning knob no surface varies.

Scala sources are matched with their `//` and `/* */` comments (scaladoc
included) stripped, so a name that only a comment mentions is not a
caller. String and character literals are kept whole, so a `//` inside
one (an `s3a://` path) does not start a comment; line numbers are kept.
The match is by word: a name that a live member shares still hides a
dead member. The scan finds candidates; it does not prove a member live.

Usage: python3 tools/caller_scan.py   (from anywhere; paths are relative
to the repository root, the parent of this script's directory)
Tests: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
DECL = re.compile(
    r"^[ \t]*(?:@\w+(?:\([^)\n]*\))?\s+)*"
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|implicit\s+|final\s+"
    r"|sealed\s+|abstract\s+|lazy\s+|case\s+)*)"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)", re.M)
WORD = re.compile(r"[A-Za-z_]\w*")
CONTAINERS = {"object", "class", "trait"}
# members the compiler calls without naming them at the call site
IMPLICIT_CALLS = {"apply", "unapply", "unapplySeq", "update"}
# a same-indent line that continues the member above it
CONTINUATION = re.compile(
    r"[)}\]]|\.|(?:extends|with|else|catch|finally|yield|match)\b|\|\||&&|=>")
LAUNCH = re.compile(r"\bgraft\.(?:\w+\.)*(\w+)")
ENTRY_ROOTS = {"catalog", "queries", "oracleSql", "entry"}
# the next place a literal or a comment can start
SPECIAL = re.compile(r"\"|'|/[/*]")
# a character literal: 'a', '\n', '\u0041'
CHAR = re.compile(r"'(?:\\u[0-9A-Fa-f]{4}|\\.|[^'\\\n])'")
# a spark.graft.* key literal, with the val that holds it, if any
CONF_KEY = re.compile(
    r"(?:\bval\s+(\w+)\s*(?::[^=\n]*)?=\s*)?\"(spark\.graft\.[\w.]+)\"")
# a session-conf setter and its first argument: a literal or a name
CONF_SET = re.compile(
    r"\.(?:conf\.set|config)\(\s*(?:\"(spark\.graft\.[\w.]+)\"|(?:\w+\.)*(\w+))")


def strip_comments(src, literals=None):
    """Scala source with its comments removed; each block comment leaves
    its newlines behind, and string and character literals stay whole.
    When `literals` is a list, the (start, end) offsets of every
    multi-line string literal in the result are appended to it."""
    out, size, i, n = [], 0, 0, len(src)
    while True:
        m = SPECIAL.search(src, i)
        if not m:
            out.append(src[i:])
            return "".join(out)
        k = m.start()
        out.append(src[i:k])
        size += k - i
        if src.startswith('"""', k):
            j = src.find('"""', k + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # a literal ending in quotes
                j += 1
            out.append(src[k:j])
            if literals is not None:
                literals.append((size, size + j - k))
            size += j - k
        elif src[k] == '"':
            j = k + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(src[k:j])
            size += j - k
        elif src[k] == "'":
            c = CHAR.match(src, k)
            j = c.end() if c else k + 1
            out.append(src[k:j])
            size += j - k
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
            size += src.count("\n", k, j)
        i = j


class Member:
    def __init__(self, path, line, kind, mods, name):
        self.path, self.line, self.kind, self.name = path, line, kind, name
        self.mods = mods.split()
        self.end = line          # last line of the body (inclusive), 1-based
        self.owner = None        # the enclosing member, None at file level
        self.children = []       # template-level members declared inside
        self.text = ""           # own body, members' bodies left out

    def auto_live(self):
        """Called without being named, once its container is live."""
        return ("override" in self.mods or "implicit" in self.mods
                or self.name in IMPLICIT_CALLS)


def members_of(path, text, literals):
    """The template-level members declared in one stripped source."""
    lines = text.split("\n")
    inside = set()  # 0-based lines that begin inside a multi-line literal
    for a, b in literals:
        first = text.count("\n", 0, a)
        inside.update(range(first + 1, text.count("\n", 0, b) + 1))

    def indent(i):
        s = lines[i]
        return None if i in inside or not s.strip() else len(s) - len(s.lstrip())

    decls = []
    for m in DECL.finditer(text):
        line = text.count("\n", 0, m.start())
        d = Member(path, line + 1, m.group(2), m.group(1), m.group(3))
        own = indent(line)
        j = line + 1
        while j < len(lines):
            ind = indent(j)
            if ind is None or ind > own or (
                    ind == own and CONTINUATION.match(lines[j].lstrip())):
                j += 1
                continue
            break
        while j - 1 > line and not lines[j - 1].strip():  # trailing blanks
            j -= 1
        d.end = j
        decls.append(d)
    # innermost enclosing declaration; only template-level ones are members
    stack, found = [], []
    for d in decls:
        while stack and stack[-1].end < d.line:
            stack.pop()
        parent = stack[-1] if stack else None
        stack.append(d)
        if parent is not None and parent.kind not in CONTAINERS:
            continue  # a local of a def/val body
        if parent is not None and parent not in found:
            continue  # nested in a local
        d.owner = parent
        if parent is not None:
            parent.children.append(d)
        found.append(d)
    for d in found:
        body = lines[d.line - 1:d.end]
        for c in d.children:
            for k in range(c.line - 1, c.end):
                body[k - d.line + 1] = ""
        d.text = "\n".join(body)
    return found


def files(root, pattern):
    return sorted(p for p in root.glob(pattern) if p.is_file())


def read_scala(path, literals=None):
    return strip_comments(path.read_text(), literals)


def scan(root):
    """The report lines for the repository at `root`, in file order."""
    members = []
    for path in files(root, "src/main/**/*.scala"):
        literals = []
        text = read_scala(path, literals)
        members += members_of(path, text, literals)
    by_name = {}
    for m in members:
        by_name.setdefault(m.name, []).append(m)

    live, work = set(), []

    def mark(m):
        if m in live:
            return
        live.add(m)
        work.append(m)
        if m.owner is not None:
            mark(m.owner)

    def mark_words(text):
        for w in set(WORD.findall(text)):
            for m in by_name.get(w, ()):
                mark(m)

    for m in members:
        if m.kind == "def" and m.name == "main" or (
                m.path.name == "SparkEntry.scala" and m.name in ENTRY_ROOTS
                and m.owner is not None and m.owner.name == "SparkEntry"):
            mark(m)
    for path in files(root, "perfbench/scala/**/*.scala"):
        mark_words(read_scala(path))
    for path in files(root, "tools/*"):
        for cls in set(LAUNCH.findall(path.read_text(errors="replace"))):
            for m in by_name.get(cls, ()):
                if m.kind in CONTAINERS:
                    mark(m)
    while work:
        m = work.pop()
        mark_words(m.text)
        for c in m.children:
            if c.auto_live():
                mark(c)

    tests = [read_scala(p) for p in files(root, "src/test/**/*.scala")]
    out = []
    for m in members:
        if m in live or (m.owner is not None and m.owner not in live):
            continue
        word = re.compile(r"\b%s\b" % re.escape(m.name))
        n_test = sum(len(word.findall(t)) for t in tests)
        out.append(f"{m.path.relative_to(root)}:{m.line} {m.name} "
                   f"(src/test references: {n_test})")
    return out


def conf_keys(root):
    """One line per spark.graft.* key src/main names, in file order."""
    found = []  # (path, line, key, holding val or None)
    for path in files(root, "src/main/**/*.scala"):
        text = read_scala(path)
        for m in CONF_KEY.finditer(text):
            line = text.count("\n", 0, m.start(2)) + 1
            found.append((path, line, m.group(2), m.group(1)))
    setters = [m.groups() for p in files(root, "src/test/**/*.scala")
               for m in CONF_SET.finditer(read_scala(p))]
    out = []
    for path, line, key, holder in found:
        n_set = sum(1 for lit, name in setters
                    if lit == key or (holder is not None and name == holder))
        out.append(f"conf {path.relative_to(root)}:{line} {key} "
                   f"(src/test setters: {n_set})")
    return out


def main():
    for line in scan(ROOT) + conf_keys(ROOT):
        print(line)


if __name__ == "__main__":
    main()
