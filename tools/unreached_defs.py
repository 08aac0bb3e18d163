#!/usr/bin/env python3
"""List public Scala definitions that no production code reaches.

A definition is every `def` or `object` in src/main/scala that carries no
`private`/`protected` modifier. It is *unreached* when its name occurs
nowhere else in the production corpus: src/main/scala, src/main/resources
(service registrations name classes there) and perfbench/src. Comments do
not count as a reach; string literals do (reflection, `runMain` names).
Each unreached name is then looked up in src/test/scala and marked
`[test-only]` when a spec is its only caller.

Skipped as reached by the runtime rather than by name: `override`
members, `main`, `apply`/`unapply`, and objects that define `main` or
extend `App`.

Run from the repository root:

    python3 tools/unreached_defs.py

It prints one line per unreached definition, then a totals line.

The output is a candidate list for deletion, not a verdict: a name shared
by two definitions hides both, and a test-only definition may be a spec
oracle (a reference answer for another path) that should stay.
"""
import collections
import os
import re
import sys

MAIN = ["src/main/scala", "src/main/resources", "perfbench/src"]
TEST = ["src/test/scala"]
DEF = re.compile(
    r"^\s*(?P<mods>(?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|override|"
    r"final|implicit|lazy|sealed|case|abstract|@\w+(?:\([^)]*\))?)\s+)*)"
    r"(?P<kind>def|object)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)
SKIP_NAMES = {"main", "apply", "unapply"}


def files_under(roots, exts):
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(exts):
                    yield os.path.join(dirpath, n)


def strip_comments(text):
    # keep line structure so reported line numbers stay right
    return COMMENT.sub(lambda m: "\n" * m.group(0).count("\n"), text)


def token_counts(roots, exts):
    counts = collections.Counter()
    for path in files_under(roots, exts):
        with open(path, encoding="utf-8", errors="replace") as f:
            text = f.read()
        if path.endswith(".scala"):
            text = strip_comments(text)
        counts.update(TOKEN.findall(text))
    return counts


def definitions():
    for path in files_under(["src/main/scala"], (".scala",)):
        with open(path, encoding="utf-8") as f:
            text = strip_comments(f.read())
        lines = text.split("\n")
        for i, line in enumerate(lines):
            m = DEF.match(line)
            if not m:
                continue
            mods, kind, name = m.group("mods"), m.group("kind"), m.group("name")
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            if name in SKIP_NAMES:
                continue
            if kind == "object" and is_entry_point(lines, i):
                continue
            yield path, i + 1, kind, name, TOKEN.findall(line).count(name)


def is_entry_point(lines, i):
    """An object whose header extends App or whose body defines main."""
    if re.search(r"\bextends\s+App\b", lines[i]):
        return True
    depth, seen_open = 0, False
    for line in lines[i:]:
        if seen_open and depth == 1 and re.match(r"\s*def\s+main\b", line):
            return True
        depth += line.count("{") - line.count("}")
        seen_open = seen_open or "{" in line
        if seen_open and depth <= 0:
            return False
    return False


def main():
    if not os.path.isdir("src/main/scala"):
        sys.exit("run from the repository root")
    main_counts = token_counts(MAIN, (".scala", ".java", ".py",
                                      "DataSourceRegister"))
    test_counts = token_counts(TEST, (".scala",))
    unreached = [(p, n, k, name, test_counts[name] > 0)
                 for p, n, k, name, own in definitions()
                 if main_counts[name] - own <= 0]
    for p, n, k, name, tested in unreached:
        print(f"{p}:{n}  {k} {name}" + ("  [test-only]" if tested else ""))
    tested = sum(1 for u in unreached if u[4])
    print(f"{len(unreached)} unreached ({tested} test-only, "
          f"{len(unreached) - tested} with no caller at all)")


if __name__ == "__main__":
    main()
