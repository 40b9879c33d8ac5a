#!/usr/bin/env python3
"""List the `def`s in src/main that no other main, bench or tool file uses.

For each `def name` in src/main/scala, the script looks for `name` as a
whole word in the code of every other Scala and Python file in the repo,
build output excluded. Comments and plain (not interpolated) string
literals are stripped first, so a column named like a def does not count
as a use. A use in another file counts only when that file also names
what encloses the def (found by indentation), so a def named like a common
word (`run`, `from`) is not taken as used wherever the word appears:

  in an object            the file calls `Owner.name` or imports it
                          (`import ...Owner._`, `...Owner.name`,
                          `...Owner.{.., name, ..}`)
  in a class or trait     the file names the class or trait

A def is listed when the only other files that use it are under src/test.
Overrides and `main` are skipped: the framework or the JVM calls them.
Each hit is tagged:

  helper      its own file uses it too (a private helper, or a step of an
              entry point in the same file)
  test-only   only src/test calls it: an entry point that no caller runs
  unused      nothing calls it at all

Usage: python3 tools/unused_defs.py [repo_root]
"""
import os
import re
import sys

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"\b(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
# one left-to-right token scan, so a comment opener inside a string (and a
# quote inside a comment) belongs to whichever token starts first; an
# interpolated string (s"", f"", raw"") is kept, since it may call a def
SCALA_NOISE = re.compile(
    r'/\*.*?\*/|//[^\n]*|(?P<interp>\b(?:s|f|raw))?(?:""".*?"""|"(?:\\.|[^"\\\n])*")',
    re.S)
PY_NOISE = re.compile(r'#[^\n]*|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])*\'')
SKIP_DIRS = {"target", ".bench_build", ".git", ".bsp", "project", "__pycache__"}


def code_of(path):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    noise = PY_NOISE if path.endswith(".py") else SCALA_NOISE

    def strip(m):
        if m.groupdict().get("interp"):
            return m.group(0)
        # keep the newlines, so line numbers still point into the file
        return "\n" * m.group(0).count("\n")

    return noise.sub(strip, text)


def indent(line):
    return len(line) - len(line.lstrip())


def owner_by_line(code):
    """For each line, the (kind, name) of the innermost object, class or
    trait that encloses it: the nearest declaration above it that is
    indented less than it (None at top level)."""
    stack, out = [], []  # stack of (indent, kind, name)
    for line in code.splitlines():
        if line.strip():
            while stack and stack[-1][0] >= indent(line):
                stack.pop()
        out.append(stack[-1][1:] if stack else None)
        m = OWNER.search(line)
        if m:
            stack.append((indent(line), m.group(1), m.group(2)))
    return out


def use_of(name, owner):
    """Whether another file's code uses def `name`, whose enclosing
    declaration is `owner`."""
    n = re.escape(name)
    word = re.compile(r"\b%s\b" % n)
    if owner is None:
        return word.search
    kind, o = owner[0], re.escape(owner[1])
    if kind != "object":
        named = re.compile(r"\b%s\b" % o)
        return lambda code: bool(word.search(code) and named.search(code))
    call = re.compile(r"\b%s\s*\.\s*%s\b" % (o, n) + (r"|\b%s\s*\(" % o if name == "apply" else ""))
    imported = re.compile(r"\bimport\s+[\w.]*\b%s\.(?:_|%s\b|\{[^}]*\b%s\b[^}]*\})" % (o, n, n))
    return lambda code: bool(call.search(code) or (word.search(code) and imported.search(code)))


def source_files(root):
    for d, subdirs, files in os.walk(root):
        subdirs[:] = [s for s in subdirs if s not in SKIP_DIRS]
        for f in files:
            if f.endswith((".scala", ".py")):
                yield os.path.join(d, f)


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    main_dir = os.path.join(root, "src", "main") + os.sep
    test_dir = os.path.join(root, "src", "test") + os.sep
    code = {p: code_of(p) for p in source_files(root)}
    hits = []
    for path in sorted(p for p in code if p.startswith(main_dir)):
        own = code[path]
        owners = owner_by_line(own)
        for lineno, line in enumerate(own.splitlines(), 1):
            for m in DEF.finditer(line):
                name = m.group(1)
                if "override" in line[:m.start()] or name == "main":
                    continue  # the framework or the JVM calls it
                word = re.compile(r"\b%s\b" % re.escape(name))
                use = use_of(name, owners[lineno - 1])
                others = [p for p in code if p != path and use(code[p])]
                if any(not p.startswith(test_dir) for p in others):
                    continue
                own_uses = len(word.findall(own)) - len(
                    re.findall(r"\bdef\s+%s\b" % re.escape(name), own))
                kind = "helper" if own_uses > 0 else ("test-only" if others else "unused")
                hits.append((os.path.relpath(path, root), lineno, name, kind))
    for rel, lineno, name, kind in hits:
        print("%-10s %s:%d %s" % (kind, rel, lineno, name))
    counts = {k: sum(1 for h in hits if h[3] == k) for k in ("helper", "test-only", "unused")}
    print("%d defs used by no other main, bench or tool file: %s" % (
        len(hits), ", ".join("%d %s" % (n, k) for k, n in counts.items())))


if __name__ == "__main__":
    main()
