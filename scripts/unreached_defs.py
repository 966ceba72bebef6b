#!/usr/bin/env python3
"""Reachability scan: src/main members that no entry point reaches.

Usage: python3 scripts/unreached_defs.py   (from the repo root)
       python3 scripts/unreached_defs.py --why NAME   (the chain that reaches NAME)

Roots are the registered queries (`Queries.scala`), the five mains
(Bench, Verify, Explain, StreamBench, DeriveScale), `LocalSession`,
`GraftExtensions`, the data sources Spark loads by service registration
(`META-INF/services`) and every perfbench source. Starting from the root
files' text, a member of another src/main file is reached when its name
appears in reached code; its own body is then reached too, until nothing
new is found. Names are matched with comments and string literals
stripped (interpolated `$name` / `${...}` parts count as code), so a
name mentioned only in a scaladoc or a `require` message reaches
nothing. The match is by name, not by type, so the scan can only
over-report reach: a member it calls unreached has no caller outside
the specs.

A container (object, class, trait) that is reached also reaches its
`override` and `implicit` members and its `apply`/`unapply`, which
Spark or the compiler call without naming them.

Each unreached member is printed as `Owner.name  file:line  (N code
lines)`. Members in ALLOWLIST are kept on purpose (reason beside each)
and do not fail the scan; their own members and what they use count
as reached; any other unreached member, or an allowlist
entry that names no member, exits 1.
"""
import collections
import os
import re
import sys

MAIN = "src/main/scala"
ROOT_FILES = [
    "graft/Queries.scala",
    "graft/Bench.scala",
    "graft/Verify.scala",
    "graft/Explain.scala",
    "graft/StreamBench.scala",
    "graft/DeriveScale.scala",
    "graft/LocalSession.scala",
    "graft/functions/GraftExtensions.scala",
]
PERFBENCH = "perfbench/src"
SERVICES = "src/main/resources/META-INF/services"

# Owner.name -> why it stays although nothing reaches it.
ALLOWLIST = {
    "Dedup.excludeIds": "SURVEY F2 reference operator",
    "Pipeline.identityStage": "SURVEY F5 reference operator",
    "Sink.logged": "SURVEY L4 reference load",
    "Sink.compact": "ROADMAP item 3 (ledger compaction)",
    "StreamingOps.tumblingCounts": "SURVEY 2.7 / F3 streaming operator",
    "StreamingOps.dedupWithTtl": "SURVEY F4 streaming operator",
    "Transforms.quarantine": "SURVEY Q1 reference operator",
    "Transaction": "SURVEY 1 typed silver record (Transaction.dataset)",
    "UnigramLm.corpusLogZ": "value the unigram specs compare against",
    "TrainPrep.gpt2TruePattern": "value the byte-BPE specs compare against",
    "TrainPrep.gpt2UnicodeToByte": "value the byte-BPE specs compare against",
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|`[^`]+`")
DECL = re.compile(
    r"^(\s*)((?:(?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|"
    r"lazy|sealed|abstract|case|@\w+(?:\([^)]*\))?)\s+)*)"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)")
CONTAINERS = {"object", "class", "trait"}
IMPLICIT_CALLS = {"apply", "unapply"}


def strip_code(src: str) -> str:
    """`src` with comments and string literals blanked to spaces (columns
    and newlines kept), except the `$name` / `${...}` parts of
    interpolated strings."""
    out = list(src)
    n = len(src)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    i = 0
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j)
            i = j
        elif src[i] == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            end = '"""' if src.startswith('"""', i) else '"'
            j = i + len(end)
            keep = []  # (start, stop) spans of interpolated code
            while j < n and not src.startswith(end, j):
                if src[j] == "\\" and end == '"':
                    j += 2
                    continue
                if interp and src.startswith("$$", j):
                    j += 2
                    continue
                if interp and src[j] == "$":
                    m = re.match(r"\$([A-Za-z_][A-Za-z0-9_]*)", src[j:])
                    if m:
                        keep.append((j + 1, j + m.end()))
                        j += m.end()
                        continue
                    if src.startswith("${", j):
                        depth, k = 1, j + 2
                        while k < n and depth:
                            depth += {"{": 1, "}": -1}.get(src[k], 0)
                            k += 1
                        keep.append((j + 2, k - 1))
                        j = k
                        continue
                j += 1
            j = min(n, j + len(end))
            blank(i, j)
            for a, b in keep:
                out[a:b] = src[a:b]
            i = j
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            blank(i, i + m.end())
            i += m.end()
        else:
            i += 1
    return "".join(out)


class Decl:
    def __init__(self, path, kind, name, line, indent, mods):
        self.path, self.kind, self.name = path, kind, name.strip("`")
        self.line, self.indent, self.mods = line, indent, mods
        self.end = line
        self.parent = None
        self.own = []          # code lines that belong to no nested member

    def label(self):
        return f"{self.parent.name}.{self.name}" if self.parent else self.name


def parse(path):
    """Member declarations of one file, with extents by indentation: a decl ends
    before the next non-blank line indented no deeper than it, unless that
    line closes it (starts with `}`, `)` or `.`)."""
    with open(path, encoding="utf-8") as f:
        lines = strip_code(f.read()).split("\n")
    decls = []
    for ln, text in enumerate(lines):
        m = DECL.match(text)
        if m:
            decls.append(Decl(path, m.group(3), m.group(4), ln,
                              len(m.group(1)), m.group(2) or ""))
    for d in decls:
        j = d.line + 1
        while j < len(lines):
            t = lines[j]
            if t.strip():
                ind = len(t) - len(t.lstrip())
                if ind < d.indent or (ind == d.indent and t.lstrip()[0] not in "})."):
                    break
            j += 1
        d.end = j - 1
    stack = []
    for d in decls:
        while stack and stack[-1].end < d.line:
            stack.pop()
        d.parent = stack[-1] if stack else None
        stack.append(d)
    # members only: a local val or def is part of the member around it
    members = [d for d in decls
               if d.parent is None or d.parent.kind in CONTAINERS]
    members = [d for d in members
               if d.parent is None or d.parent in members]
    inner = [None] * len(lines)
    for d in members:  # later (nested) members overwrite their parents
        for ln in range(d.line, d.end + 1):
            inner[ln] = d
    for ln, d in enumerate(inner):
        if d is not None:
            d.own.append(lines[ln])
    return members, lines


def code_lines(path, first, last):
    with open(path, encoding="utf-8") as f:
        raw = f.read().split("\n")[first:last + 1]
    return sum(1 for t in raw
               if t.strip() and not re.match(r"\s*(//|/\*|\*)", t))


def names_in(text_lines):
    return {t.strip("`") for t in IDENT.findall("\n".join(text_lines))}


def main():
    roots = {os.path.join(MAIN, p) for p in ROOT_FILES}
    if os.path.isdir(SERVICES):
        for svc in os.listdir(SERVICES):
            with open(os.path.join(SERVICES, svc)) as f:
                for cls in f.read().split():
                    roots.add(os.path.join(MAIN, cls.replace(".", "/") + ".scala"))
    for base, _, files in os.walk(PERFBENCH):
        roots.update(os.path.join(base, f) for f in files if f.endswith(".scala"))

    by_name, children, members, seed = {}, {}, [], set()
    for base, _, files in os.walk(MAIN):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(base, f)
            decls, lines = parse(path)
            if path in roots:
                seed |= names_in(lines)
                continue
            for d in decls:
                by_name.setdefault(d.name, []).append(d)
                children.setdefault(d.parent, []).append(d)
            members += decls
    for path in roots:
        if not path.startswith(MAIN):
            with open(path, encoding="utf-8") as f:
                seed |= names_in(strip_code(f.read()).split("\n"))

    todo = collections.deque((n, None) for n in seed)
    seen = set()  # names already looked up
    reached = {}  # decl -> the reached decl it came with, or None (a root)

    def reach(d, cause):
        if d in reached:
            return
        reached[d] = cause
        todo.extend((n, d) for n in names_in(d.own))
        if d.parent is not None:
            reach(d.parent, d)
        if d.kind in CONTAINERS:
            for m in children.get(d, []):
                if "override" in m.mods or "implicit" in m.mods or m.name in IMPLICIT_CALLS:
                    reach(m, d)

    def close():
        while todo:
            name, src = todo.popleft()
            if name not in seen:
                seen.add(name)
                for d in by_name.get(name, []):
                    reach(d, src)

    close()
    # an allowlisted member keeps its own members and what they use
    kept = [d for d in members if d not in reached and d.label() in ALLOWLIST]

    def keep(d):
        reach(d, None)
        for m in children.get(d, []):
            keep(m)

    for d in kept:
        keep(d)
    close()

    if len(sys.argv) == 3 and sys.argv[1] == "--why":
        for d in by_name.get(sys.argv[2], []):
            while d is not None and d in reached:
                print(f"{d.label()}  {d.path}:{d.line + 1}")
                d = reached[d]
            print("  <- root" if d is None else "  (not reached)")
        return 0

    # a whole unreached container is reported once, not with each member
    unreached = kept + [d for d in members if d not in reached
                        and (d.parent is None or d.parent in reached)]
    bad, lines_out = 0, 0
    for d in sorted(unreached, key=lambda d: (d.path, d.line)):
        lab, n = d.label(), code_lines(d.path, d.line, d.end)
        if lab in ALLOWLIST:
            print(f"kept {lab}  {d.path}:{d.line + 1}  ({n} code lines): {ALLOWLIST[lab]}")
        else:
            bad, lines_out = bad + 1, lines_out + n
            print(f"UNREACHED {lab}  {d.path}:{d.line + 1}  ({n} code lines)")
    for lab in sorted(set(ALLOWLIST) - {d.label() for d in members}):
        bad += 1
        print(f"STALE allowlist entry {lab}: no such member")
    if bad:
        print(f"{bad} finding(s); {lines_out} code lines unreached outside the allowlist")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
