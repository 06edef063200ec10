#!/usr/bin/env python3
"""List public `def`s, `val`s and type names (`class`, `case class`,
`object`, `trait`) in src/main that no main or perfbench source reads.

Comments and string text are stripped first, so a scaladoc link or a log
message does not count as a caller (`$name` and `${...}` splices are kept).
A def or val is reached when its name appears outside imports in its own
file other than on the line that declares it, or heads an import there
(`import spark.implicits._`), or appears in another file that reaches its
owner: `Owner.name`, an import of `Owner`'s members, or any use at all when
the owner is a class. A type name is reached when it appears outside
imports in another file, or in its own file other than where a type of
that name is declared. An object that defines `main` is an entry point:
it is listed, but allowed.
Overrides are called by Spark, not by name, and are skipped. Deleting an
unreached def can leave its helpers unreached, so rerun after deleting.
Exits 1 on any unreached name that is not in ALLOWED or an entry point.

    python3 scripts/unreached_defs.py
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main", ROOT / "perfbench" / "src"]
ALLOWED = {
    "main", "apply",
    "hostOf",       # perfbench calls it
}
FROZEN = {"Bench.scala"}  # the frozen measurement main is not scanned
DEF = re.compile(r"^[ \t]*((?:[a-z]+[ \t]+)*)(?:def|val)[ \t]+([A-Za-z_]\w*)", re.M)
OWNER = re.compile(r"^[ \t]*((?:[a-z]+[ \t]+)*)(object|class|trait)[ \t]+(\w+)", re.M)
MAIN = re.compile(r"^[ \t]*def[ \t]+main\b", re.M)
STRIP = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|'
                   r"'(?:\\.|[^'\\\n])'|//[^\n]*|/\*(?:.|\n)*?\*/")
IMPORT = re.compile(r"^[ \t]*import [^\n]*", re.M)


def strip(m):
    s = m.group(0)
    if s[0] in "\"'":
        return '"%s"' % " ".join(re.findall(r"\$\{[^}]*\}|\$\w+", s))
    return "\n" * s.count("\n")


def reached(name, owner, path, files):
    word = r"\b%s\b" % name
    if (len(re.findall(word, IMPORT.sub("", files[path]))) > 1 or
            re.search(r"^[ \t]*import %s\." % name, files[path], re.M)):
        return True
    kind, obj = owner
    via = r"\b%s\.(%s|_|\{[^}]*%s)" % (obj, name, word)
    return any(re.search(word, IMPORT.sub("", text)) and
               (kind != "object" or re.search(via, text))
               for p, text in files.items() if p != path)


def indent(m):
    return len(m.group(0)) - len(m.group(0).lstrip(" \t\n"))


def type_reached(name, path, files):
    word = r"\b%s\b" % name
    own = IMPORT.sub("", files[path])
    declared = re.findall(r"\b(?:object|class|trait)[ \t]+%s\b" % name, own)
    return (len(re.findall(word, own)) > len(declared) or
            any(re.search(word, IMPORT.sub("", text))
                for p, text in files.items() if p != path))


def main():
    files = {p: STRIP.sub(strip, p.read_text(encoding="utf-8"))
             for d in SOURCES for p in sorted(d.rglob("*.scala"))}
    unreached = []
    for path, text in files.items():
        if path.name in FROZEN or "src/main" not in path.as_posix():
            continue
        types = list(OWNER.finditer(text))
        owners = [(m.start(), m.group(2), m.group(3)) for m in types]
        for m in DEF.finditer(text):
            if {"private", "protected", "override"} & set(m.group(1).split()):
                continue
            owner = [o[1:] for o in owners if o[0] < m.start()][-1]
            if not reached(m.group(2), owner, path, files):
                line = text.count("\n", 0, m.start(2)) + 1
                unreached.append((path.relative_to(ROOT), line, m.group(2), "allowed"))
        for i, m in enumerate(types):
            if {"private", "protected"} & set(m.group(1).split()):
                continue
            if not type_reached(m.group(3), path, files):
                # the body runs to the next type declared at its indent or less
                depth = indent(m)
                end = next((n.start() for n in types[i + 1:] if indent(n) <= depth), len(text))
                body = text[m.end():end]
                entry = m.group(2) == "object" and MAIN.search(body)
                line = text.count("\n", 0, m.start(3)) + 1
                unreached.append((path.relative_to(ROOT), line, m.group(3),
                                  "entry point" if entry else "allowed"))
    bad = [u for u in unreached if u[2] not in ALLOWED and u[3] != "entry point"]
    for path, line, name, why in unreached:
        ok = name in ALLOWED or why == "entry point"
        print("%s:%d: %s%s" % (path, line, name, " (%s)" % why if ok else ""))
    print("%d unreached, %d not allowed" % (len(unreached), len(bad)))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
