#!/usr/bin/env python3
"""List the `def`s in src/main that no other main, bench or tool file uses.

For each `def name` in src/main/scala, the script looks for `name` as a
whole word in the code of every other Scala and Python file in the repo,
build output excluded. Comments and plain (not interpolated) string
literals are stripped first, so a column named like a def does not count
as a use. A def is listed when the only other files that use it are under
src/test. Overrides are skipped: the framework calls them. Each hit is
tagged:

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
        for lineno, line in enumerate(own.splitlines(), 1):
            for m in DEF.finditer(line):
                if "override" in line[:m.start()]:
                    continue  # the framework calls it
                name = m.group(1)
                word = re.compile(r"\b%s\b" % re.escape(name))
                others = [p for p in code if p != path and word.search(code[p])]
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
