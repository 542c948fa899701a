#!/usr/bin/env python3
"""Transitive reachability of the public operator defs.

Lists every public member of an object under `graft.operators` that no
surface root reaches, and says whether `src/test` names it. The roots are
every main source outside `graft/operators/` (`SparkEntry`, the DuckDB
twins in `graft.oracle`, `EtlFlow`, `Tables`, `StreamOps`, `Bench`,
`Verify`, the sources, ...) plus `perfbench/scala`. From them the walk
follows references into operator members: `Alias.name` where `Alias` is
the object or an import alias of it, and a bare `name` inside the
member's own object. A member's body runs from its definition line to
the next line indented no deeper than it. Comments and string text are
blanked first, so a scaladoc link or a column name is not a reference.

Name-based, so it errs towards "reached" (two members of one object
sharing a name are one node); `apply` is skipped, since calls to it are
implicit. Members in REFERENCES are kept on purpose although only specs
or oracle-SQL comments name them: a spec pins a production kernel
against them, or an oracle SQL helper is their DuckDB twin. Run from the
repo root:

    python3 tools/reach.py
"""
import os
import re
import sys

OPS = "src/main/scala/graft/operators"
MEMBER = re.compile(
    r"^( +)((?:private(?:\[\w+\])?|protected|override|final|implicit|lazy|"
    r"case|sealed|abstract)\s+)*(def|val|var|object|class|trait)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
TOP_OBJECT = re.compile(
    r"^(?:(?:private(?:\[\w+\])?|final|case|sealed|abstract)\s+)*"
    r"(?:object|class|trait)\s+(\w+)")
IMPORT_ALIAS = re.compile(r"(\w+)\s*=>\s*(\w+)")
REFERENCES = {
    ("VectorOps", "dotDHof"), ("VectorOps", "lshBucketHof"),
    ("VectorOps", "planeWeight"), ("VectorOps", "ivfAssign"),
    ("VectorOps", "kmeansStep"), ("VectorOps", "kmeansTrain"),
    ("TextOps", "rollingFingerprint"), ("TextOps", "minTokenHash"),
    ("TextOps", "matchCount"), ("TextOps", "redact"),
    ("TextOps", "lmNoveltyStats"), ("TextOps", "wordShingles"),
    ("TextOps", "charShingles"),
    ("DedupOps", "simhash"), ("DedupOps", "minhashExpr"),
}


def blank_string(lit):
    """A string literal with its text blanked and its `${...}` splices kept."""
    out, depth = [], 0
    for k, ch in enumerate(lit):
        if depth == 0 and lit.startswith("${", k):
            depth = 1
            out.append(" ")
        elif depth and ch == "{":
            depth += 1
            out.append(ch)
        elif depth and ch == "}":
            depth -= 1
            out.append(ch if depth else " ")
        else:
            out.append(ch if depth or ch == "\n" else " ")
    return "".join(out)


def strip_comments(src):
    """Blank out comments and string text, keeping line structure."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(blank_string(src[i:j]))
            i = j
        elif src[i] == '"' and src[i - 1:i] != "'":
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(blank_string(src[i:j + 1]))
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def aliases(text, ops):
    """Names under which each operator object is visible in a file."""
    seen = {o: {o} for o in ops}
    for m in re.finditer(r"import\s+graft\.operators\.\{([^}]*)\}", text):
        for a, b in IMPORT_ALIAS.findall(m.group(1)):
            if a in seen:
                seen[a].add(b)
    return seen


def imported(text, ops):
    """Members named by `import [graft.operators.]Obj.{a, b}` or `.a`."""
    found = set()
    for m in re.finditer(
            r"import\s+(?:graft\.operators\.)?(\w+)\.(\{[^}]*\}|\w+)", text):
        if m.group(1) in ops:
            for name in re.findall(r"\w+", m.group(2)):
                found.add((m.group(1), name))
    return found


def members(path):
    """(object, name, private, body) for each top-level object member."""
    lines = strip_comments(open(path).read()).split("\n")
    obj, out = None, []
    for i, line in enumerate(lines):
        t = TOP_OBJECT.match(line)
        if t:
            obj = t.group(1)
            continue
        m = MEMBER.match(line)
        if not (obj and m and len(m.group(1)) == 2):
            continue
        end = i + 1
        while end < len(lines):
            s = lines[end]
            if s.strip() and len(s) - len(s.lstrip()) <= 2 and \
                    not s.strip().startswith(("}", ")", ":", "(")):
                break
            end += 1
        out.append((obj, m.group(4), "private" in (m.group(2) or ""),
                    "\n".join(lines[i:end])))
    return out


def refs(text, ops, vis, own=None, own_names=()):
    """Operator members `text` names: Alias.name, or bare within `own`."""
    found = set()
    for o in ops:
        for a in vis[o]:
            for name in re.findall(r"\b%s\s*\.\s*(\w+)" % re.escape(a), text):
                found.add((o, name))
    if own:
        for tok in set(re.findall(r"\b\w+\b", text)):
            if tok in own_names:
                found.add((own, tok))
    return found


def main():
    op_files = list(scala_files(OPS))
    ops = {}
    for f in op_files:
        for obj, name, priv, body in members(f):
            ops.setdefault(obj, {}).setdefault(name, []).append((priv, body))
    names = {o: set(ms) for o, ms in ops.items()}

    reached, frontier = set(), set()
    for root in ("src/main/scala", "perfbench/scala"):
        for f in scala_files(root):
            if f.startswith(OPS):
                continue
            text = strip_comments(open(f).read())
            frontier |= refs(text, ops, aliases(text, ops))
            frontier |= imported(text, ops)
    while frontier:
        sym = frontier.pop()
        o, n = sym
        if sym in reached or n not in names.get(o, ()):
            continue
        reached.add(sym)
        for _, body in ops[o][n]:
            frontier |= refs(body, ops, {k: v | ({"this"} if k == o else set())
                                         for k, v in
                                         aliases(body, ops).items()},
                             o, names[o])

    tests = "\n".join(strip_comments(open(f).read())
                      for f in scala_files("src/test/scala"))
    tvis = aliases(tests, ops)
    for m in re.finditer(r"\b(\w+)\s*=\s*graft\.operators\.(\w+)\b", tests):
        if m.group(2) in tvis:
            tvis[m.group(2)].add(m.group(1))
    in_tests = refs(tests, ops, tvis)
    unreached = [(o, n) for o in sorted(ops) for n in sorted(ops[o])
                 if (o, n) not in reached and n != "apply"
                 and not all(priv for priv, _ in ops[o][n])]
    for o, n in unreached:
        print("%-14s %-28s %s" % (o, n, "reference" if (o, n) in REFERENCES
                                  else "test-only" if (o, n) in in_tests
                                  else "unreferenced"))
    print("%d public operator members unreached from the surface roots, "
          "%d of them references" % (len(unreached),
                                     len(REFERENCES & set(unreached))),
          file=sys.stderr)


if __name__ == "__main__":
    main()
