#!/usr/bin/env python3
"""List public src/main definitions that no program code reaches.

For every public `def`, `val`, `var`, `object`, `class` and `trait` declared
in src/main/scala, the check counts the files under src/main/scala and
perfbench/src that use the name as a whole identifier, with comments and
the text of string literals stripped: a name inside a message or an SQL
string is not a use, while the `$name` and `${expr}` parts of an
interpolated literal are code and count. A name is reached only when it occurs more times than it is
declared in that code, so two unused defs that share a name (say two
`compact` methods) do not count as each other's use. A name that occurs
nowhere apart from its own declarations is a hit: only tests (or nothing)
can reach it.

Hits listed in tools/test_only_defs.allow pass; any other hit fails the
check. Allowlist lines are `<file stem>.<name>  # reason` (the file stem is
the declaring file's name without `.scala`); blank lines and lines that
start with `#` are ignored. An allowlist entry that no longer matches a
hit is reported as stale and fails the check too, so the list cannot
outlive the code it excuses.

Limits, by design of a name scan:
  * It checks one level only. A def whose only caller is another
    test-only def is not found; delete the outer one and run again.
  * Names are matched textually, so a test-only def whose name is also
    used as another identifier in the program (a common word such as
    `apply` or `build`, a parameter, a called overload) is not found
    either.
  * `override` members and members marked `private`/`protected` (with or
    without a qualifier) are skipped.

Usage:
  python3 tools/test_only_defs.py          # exit 1 on an unlisted hit
  python3 tools/test_only_defs.py --all    # print every hit, allowed or not
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
SEARCH = [MAIN, os.path.join(ROOT, "perfbench", "src")]
ALLOW = os.path.join(ROOT, "tools", "test_only_defs.allow")

IDENT = r"[A-Za-z_$][A-Za-z0-9_$]*"
DECL = re.compile(
    r"^[ \t]*((?:(?:private|protected)(?:\[\w+\])?|override|final|sealed|"
    r"abstract|implicit|lazy|case|inline)\s+)*"
    r"(def|val|var|object|class|trait)\s+(" + IDENT + r")",
    re.MULTILINE)
SPLICE_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def blank(text):
    """Spaces for `text`, keeping its newlines (so line numbers hold)."""
    return "".join(ch if ch == "\n" else " " for ch in text)


def code_only(src):
    """Blank out comments and the text of string and char literals. The
    `$name` and `${expr}` parts of an interpolated literal stay: they are
    code, and `expr` is scanned the same way, so a literal nested inside
    it (`${rx(s"|$x|")}`) is handled too. Line structure is kept."""
    out, _ = _code(src, 0, False)
    return out


def _code(src, i, in_splice):
    """Scan code from `i`; inside a `${...}` splice, stop after the `}`
    that closes it. Returns (kept text, index after the scan)."""
    out, n, depth = [], len(src), 0
    while i < n:
        c = src[i]
        if c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            text, i = _literal(src, i, interp)
            out.append(text)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or
                                         (src[i + 1] == "\\" and i + 3 < n)):
            j = src.find("'", i + 3 if src[i + 1] == "\\" else i + 2)
            j = n - 1 if j < 0 else j
            out.append(blank(src[i:j + 1]))
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            d, j = 1, i + 2
            while j < n and d:
                if src.startswith("/*", j):
                    d, j = d + 1, j + 2
                elif src.startswith("*/", j):
                    d, j = d - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        else:
            if in_splice and c == "{":
                depth += 1
            elif in_splice and c == "}":
                if depth == 0:
                    return "".join(out), i + 1
                depth -= 1
            out.append(c)
            i += 1
    return "".join(out), i


def _literal(src, i, interp):
    """Scan the string literal that opens at `i`: its text blanked, and,
    when `interp`, its `$name` and `${expr}` splices kept as code.
    Returns (kept text, index after the closing quote)."""
    n = len(src)
    triple = src.startswith('"""', i)
    out = [" " * (3 if triple else 1)]
    j = i + (3 if triple else 1)
    while j < n:
        if triple and src.startswith('"""', j):
            j += 3
            while j < n and src[j] == '"':  # """...""""" closes on the last
                j += 1
            break
        if not triple and src[j] in '"\n':
            out.append(blank(src[j]))
            j += 1
            break
        if not triple and src[j] == "\\":
            out.append(blank(src[j:j + 2]))
            j += 2
        elif interp and src.startswith("$$", j):
            out.append("  ")
            j += 2
        elif interp and src.startswith("${", j):
            text, k = _code(src, j + 2, True)
            out.append("  " + text + " ")
            j = k
        elif interp and src[j] == "$":
            m = SPLICE_NAME.match(src, j + 1)
            k = m.end() if m else j + 1
            out.append(" " + src[j + 1:k])
            j = k
        else:
            out.append(blank(src[j]))
            j += 1
    return "".join(out), j


def scala_files(roots):
    for root in roots:
        for d, _, names in os.walk(root):
            for name in sorted(names):
                if name.endswith(".scala"):
                    yield os.path.join(d, name)


def hits():
    texts = {p: code_only(open(p, encoding="utf-8").read())
             for p in scala_files(SEARCH)}
    declared = {}
    for text in texts.values():
        for m in DECL.finditer(text):
            declared[m.group(3)] = declared.get(m.group(3), 0) + 1
    found = []
    for path, text in texts.items():
        if not path.startswith(MAIN + os.sep):
            continue
        stem = os.path.splitext(os.path.basename(path))[0]
        for m in DECL.finditer(text):
            mods, name = m.group(1) or "", m.group(3)
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            word = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) +
                              r"(?![A-Za-z0-9_$])")
            uses = sum(len(word.findall(t)) for t in texts.values())
            if uses <= declared[name]:
                line = text.count("\n", 0, m.start(3)) + 1
                found.append((f"{stem}.{name}",
                              f"{os.path.relpath(path, ROOT)}:{line}"))
    return sorted(set(found))


def allowlist():
    allowed = {}
    for raw in open(ALLOW, encoding="utf-8"):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        key, _, reason = line.partition("#")
        if not reason.strip():
            sys.exit(f"test_only_defs: allowlist entry without a reason: {line}")
        allowed[key.strip()] = reason.strip()
    return allowed


def main():
    found = hits()
    allowed = allowlist()
    show_all = "--all" in sys.argv[1:]
    bad = [(k, loc) for k, loc in found if k not in allowed]
    stale = sorted(set(allowed) - {k for k, _ in found})
    for k, loc in found:
        if show_all or k not in allowed:
            tag = "allowed" if k in allowed else "TEST-ONLY"
            print(f"{tag:9} {k:45} {loc}")
    for k in stale:
        print(f"STALE     {k:45} (allowlisted, but now used or gone)")
    print(f"test_only_defs: {len(found)} unreached, {len(found) - len(bad)} "
          f"allowed, {len(bad)} not allowed, {len(stale)} stale")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
