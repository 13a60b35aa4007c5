#!/usr/bin/env python3
"""Spec-only code census: list every public `src/main` symbol that nothing
outside its own definition names.

A symbol is an `object`, `class`, `trait`, `def` or `val` declared at the top
level or one indent (two spaces) inside it; `private` and `override` members
are skipped, and so are `main`, `apply` and `unapply`, which are called by
convention. A symbol is *reached* when its name appears on a non-comment line
of `src/main/scala` or `perfbench/scala` outside its own definition (its
line through the line before the next declaration at the same indent). A name
shared by several symbols counts as reached when any other line names it, so
the census may miss an unreached symbol with a common name; it does not list
a reached one.

Usage: python3 tools/census.py [repo-root]
Prints `<file>:<line> <kind> <Owner.name>` per unreached symbol.
"""
import os
import re
import sys

ROOTS = ("src/main/scala", "perfbench/scala")
DECL = re.compile(
    r"^(?P<ind> *)(?P<mods>(?:(?:final|sealed|abstract|implicit|override|lazy|case)\s+)*)"
    r"(?P<kind>object|class|trait|def|val)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
CONVENTION = {"main", "apply", "unapply"}
# string and char literals, line comments, block-comment delimiters
TOKEN = re.compile(r'"""[\s\S]*?"""+|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*|\*/')


def strip_comments(text):
    """The lines of `text` with comments blanked (nested /* */ included)."""
    blank = lambda s: re.sub(r"[^\n]", " ", s)
    out, depth, pos = [], 0, 0
    for m in TOKEN.finditer(text):
        gap, tok = text[pos:m.start()], m.group()
        out.append(blank(gap) if depth else gap)
        if tok == "/*":
            depth += 1
        if depth or tok.startswith("//"):
            out.append(blank(tok))
        else:
            out.append(tok)
        if tok == "*/" and depth:
            depth -= 1
        pos = m.end()
    out.append(blank(text[pos:]) if depth else text[pos:])
    return "".join(out).split("\n")


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    files = {}
    for r in ROOTS:
        for d, _, names in os.walk(os.path.join(root, r)):
            for f in sorted(names):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        files[os.path.relpath(p, root)] = strip_comments(fh.read())
    lines_naming = {}  # word -> {(file, line index)}
    for p, lines in files.items():
        for i, line in enumerate(lines):
            for w in set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", line)):
                lines_naming.setdefault(w, set()).add((p, i))
    for p, lines in sorted(files.items()):
        if not p.startswith("src/main"):
            continue
        decls = [(i, len(m.group("ind")), m) for i, m in
                 ((i, DECL.match(line)) for i, line in enumerate(lines))
                 if m and len(m.group("ind")) in (0, 2)]
        owner = None
        for k, (i, ind, m) in enumerate(decls):
            name = m.group("name")
            if ind == 0:
                owner = name
            if name in CONVENTION or "override" in m.group("mods"):
                continue
            end = next((j for j, jind, _ in decls[k + 1:] if jind <= ind), len(lines))
            if not lines_naming.get(name, set()) - {(p, j) for j in range(i, end)}:
                print(f"{p}:{i + 1} {m.group('kind')} {name if ind == 0 else owner + '.' + name}")


if __name__ == "__main__":
    main()
