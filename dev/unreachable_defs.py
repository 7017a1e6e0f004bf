#!/usr/bin/env python3
"""List the definitions in `src/main` that no entry point reaches.

Usage:
  python3 dev/unreachable_defs.py [--repo DIR] [--allowlist FILE]

The entry points are the five mains (`Bench`, `Verify`, `PipelineMain`,
`Explain`, `DataScale`), `SparkEntry.queries` (the declared queries) and
every line of `perfbench/scala/Harness.scala`. Specs are not entry points:
code that only a spec calls is reported.

The scan works on names, not types:
- Comments, scaladoc and import lines are stripped first, so a `[[name]]`
  link or an import is not a caller. Plain string literals are blanked
  too, except that a string that is a qualified class name
  (`"graft.GraftExtensions"`) refers to its last segment. Inside an
  interpolated string, `$name` and `${expr}` are code.
- Each top-level definition is a node, and so is each member of an
  `object`, or of a class or trait that extends nothing (at any nesting).
  The body of a class or trait that extends a type belongs to its node as
  a whole: its members may implement abstract ones without `override`.
- `Obj.name`, where `Obj` is an object that has a member `name`, refers to
  that member only; any other use of `name` refers to every node of that
  name. Overloads share their name, so one use keeps all of them.
- A reached node reaches what its own text names and its enclosing
  object. A reached object, class or trait reaches its `main`, `apply`,
  `unapply` and `override` members. This is iterated to a fixed point, so
  a helper that only an unreached definition calls is unreached too.

Prints each unreached definition as `file:line Qualified.name`, marking
the allowlisted ones. Exits 1 if any is not on the allowlist, or if an
allowlist entry is malformed, names no spec under `src/test`, or names a
definition that is reached or gone; 0 otherwise. An allowlist line is
`Qualified.name  SomeSpec: why the spec needs it in src/main`.
"""
import argparse
import bisect
import os
import re
import sys

MAINS = ("Bench", "Verify", "PipelineMain", "Explain", "DataScale")
ROOT_DEFS = tuple(f"{m}.main" for m in MAINS) + ("SparkEntry.queries",)
ROOT_FILES = ("perfbench/scala/Harness.scala",)
SOURCE_DIRS = ("src/main/scala",)
ALLOWLIST = "dev/unreachable_allowlist.txt"

# Members reached whenever their enclosing object is: called by the
# runtime or by syntax (`Obj(...)`, pattern matches, overriding).
IMPLICIT_MEMBERS = {"main", "apply", "unapply", "unapplySeq"}

DEF_KEYWORDS = {"def", "val", "var", "class", "object", "trait", "type"}
MODIFIERS = {"private", "protected", "final", "implicit", "lazy",
             "override", "sealed", "abstract", "case"}
OPEN, CLOSE = {"(", "["}, {")", "]"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
QUALIFIED_CLASS = re.compile(r"[a-z][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)+")


# ---------------------------------------------------------------- lexing

def strip(src):
    """Source with comments and string literal text replaced by spaces.

    Newlines are kept, so offsets and line numbers still match `src`.
    Interpolated `$name` and `${expr}` stay as code.
    """
    out = list(src)
    n = len(src)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def code(i, stop_at_brace):
        """Lex code from i; with stop_at_brace, return at the `}` that
        closes an interpolation's `${`. Returns the index after it."""
        depth = 0
        while i < n:
            c = src[i]
            if c == "/" and src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                blank(i, j)
                i = j
            elif c == "/" and src.startswith("/*", i):
                j, nest = i + 2, 1
                while j < n and nest:
                    if src.startswith("/*", j):
                        nest, j = nest + 1, j + 2
                    elif src.startswith("*/", j):
                        nest, j = nest - 1, j + 2
                    else:
                        j += 1
                blank(i, j)
                i = j
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                i = string(i, interp)
            elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
                j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
                j = i + 1 if j < 0 else j
                blank(i + 1, j)
                i = j + 1
            elif c == "{":
                depth += 1
                i += 1
            elif c == "}":
                if stop_at_brace and depth == 0:
                    return i + 1
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    def string(i, interp):
        triple = src.startswith('"""', i)
        q = '"""' if triple else '"'
        start = i + len(q)
        j = start
        while j < n:
            if src.startswith(q, j) and not (triple and src.startswith('""""', j)):
                break
            c = src[j]
            if c == "\\" and not triple:
                blank(j, j + 2)
                j += 2
            elif interp and c == "$" and j + 1 < n:
                nxt = src[j + 1]
                if nxt == "{":
                    j = code(j + 2, True)
                elif nxt.isalpha() or nxt == "_":
                    m = IDENT.match(src, j + 1)
                    j = m.end()
                else:
                    blank(j, j + 2)
                    j += 2
            elif c == "\n" and not triple:
                break
            else:
                blank(j, j + 1)
                j += 1
        body = src[start:j]
        if not interp and QUALIFIED_CLASS.fullmatch(body):
            # A class named for reflection: keep its last segment as code.
            last = body.rsplit(".", 1)[1]
            out[j - len(last):j] = list(last)
        return j + len(q)

    code(0, False)
    return "".join(out)


TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|`[^`]+`|@|[{}()\[\].]")


def tokens(text):
    for m in TOKEN.finditer(text):
        t = m.group()
        yield (t.strip("`") if t.startswith("`") else t), m.start()


# ---------------------------------------------------------------- parsing

class Node:
    def __init__(self, path, line, kind, name, parent, modifiers):
        self.path, self.line, self.kind, self.name = path, line, kind, name
        self.parent = parent            # enclosing object, class or trait
        self.modifiers = modifiers
        self.children = []
        self.refs = []                  # (qualifier or None, name)
        self.extends = False
        self.start = self.end = 0

    @property
    def qualname(self):
        return f"{self.parent.qualname}.{self.name}" if self.parent else self.name


def parse(path, src):
    """Nodes of one file: top-level definitions and their members."""
    text = strip(src)
    toks = list(tokens(text))
    line_of = _line_index(src)
    nodes = []
    # Scope stack entries: (kind, node). Definitions directly in a
    # "members" scope (an object, or a class or trait that extends nothing)
    # or at "top" (file) level are nodes; a "body" (the rest of the classes
    # and traits) or "block" is text of the node that holds it.
    stack = [("top", None)]
    pending = None          # a class/object/trait header awaiting its `{`
    paren = 0
    i = 0
    while i < len(toks):
        t, pos = toks[i]
        scope_kind, scope_node = stack[-1]
        if t in OPEN:
            paren += 1
        elif t in CLOSE:
            paren -= 1
        elif t == "{" and paren == 0:
            if pending is not None:
                stack.append(("body" if pending.extends else "members", pending))
                pending = None
            else:
                stack.append(("block", scope_node))
        elif t == "}" and paren == 0:
            kind, node = stack.pop()
            if kind in ("members", "body") and stack[-1][0] in ("members", "top"):
                node.end = pos + 1
            pending = None
        elif t == "extends" and pending is not None and paren == 0:
            # Members of a class or trait that extends a type may implement
            # its abstract members without `override`: keep the body whole.
            pending.extends = pending.kind != "object"
        elif paren == 0 and scope_kind in ("members", "top") and (t in DEF_KEYWORDS or t in MODIFIERS or t == "@"):
            j, mods = i, set()
            while j < len(toks) and (toks[j][0] in MODIFIERS or toks[j][0] == "@"):
                if toks[j][0] == "@":   # annotation: its name, then any (...)
                    j += 2
                    opener = "("
                else:
                    mods.add(toks[j][0])
                    j += 1
                    opener = "["        # private[pkg]
                if j < len(toks) and toks[j][0] == opener:
                    j = _skip_group(toks, j)
            if j + 1 < len(toks) and toks[j][0] in DEF_KEYWORDS and IDENT.fullmatch(toks[j + 1][0]):
                kind, name = toks[j][0], toks[j + 1][0]
                node = Node(path, line_of(pos), kind, name, scope_node, mods)
                node.start = pos
                nodes.append(node)
                if scope_node is not None:
                    scope_node.children.append(node)
                if kind in ("class", "object", "trait"):
                    pending = node
                elif pending is not None:
                    pending = None
                i = j + 2
                continue
        i += 1
    # A member without a `{ ... }` body ends where its next sibling
    # starts, or where its enclosing scope does.
    for node in nodes:
        if not node.end:
            later = [n.start for n in nodes if n.parent is node.parent and n.start > node.start]
            node.end = min(later, default=node.parent.end if node.parent else len(text))
    _collect_refs(text, toks, nodes)
    return nodes


def _skip_group(toks, j):
    """Index after the bracket group that opens at toks[j]."""
    depth = 0
    while j < len(toks):
        t = toks[j][0]
        if t in OPEN:
            depth += 1
        elif t in CLOSE:
            depth -= 1
        j += 1
        if depth == 0:
            break
    return j


def _line_index(src):
    starts = [0] + [m.end() for m in re.finditer("\n", src)]
    return lambda pos: bisect.bisect_right(starts, pos)


def _collect_refs(text, toks, nodes):
    """Give each identifier to the innermost node whose span holds it."""
    ordered = sorted(nodes, key=lambda n: (n.start, -n.end))
    for k, (t, pos) in enumerate(toks):
        if not IDENT.fullmatch(t) or t in DEF_KEYWORDS or t in MODIFIERS:
            continue
        owner = None
        for n in ordered:
            if n.start > pos:
                break
            if n.start <= pos < n.end and (owner is None or n.start >= owner.start):
                owner = n
        if owner is None:
            continue
        qual = toks[k - 2][0] if k >= 2 and toks[k - 1][0] == "." else None
        owner.refs.append((qual, t))


def _strip_imports(src):
    return re.sub(r"(?m)^[ \t]*import[ \t][^\n]*", lambda m: " " * len(m.group()), src)


# ---------------------------------------------------------------- reachability

def scan(repo):
    """Unreached nodes under `repo`, sorted by file and line."""
    nodes = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(repo, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(dirpath, f)
                    with open(p, encoding="utf-8") as fh:
                        nodes += parse(os.path.relpath(p, repo), _strip_imports(fh.read()))
    by_name, by_qual, objects = {}, {}, {}
    for n in nodes:
        by_name.setdefault(n.name, []).append(n)
        by_qual.setdefault(n.qualname, []).append(n)
        if n.kind == "object":
            objects.setdefault(n.name, []).append(n)

    def targets(qual, name):
        if qual in objects:
            hits = [c for o in objects[qual] for c in o.children if c.name == name]
            if hits:
                return hits
        return by_name.get(name, [])

    reached = set()
    work = []

    def reach(n):
        if id(n) not in reached:
            reached.add(id(n))
            work.append(n)

    for q in ROOT_DEFS:
        for n in by_qual.get(q, []):
            reach(n)
    for f in ROOT_FILES:
        p = os.path.join(repo, f)
        if os.path.exists(p):
            with open(p, encoding="utf-8") as fh:
                text = strip(_strip_imports(fh.read()))
            toks = list(tokens(text))
            for k, (t, _) in enumerate(toks):
                if IDENT.fullmatch(t):
                    qual = toks[k - 2][0] if k >= 2 and toks[k - 1][0] == "." else None
                    for n in targets(qual, t):
                        reach(n)
    while work:
        n = work.pop()
        if n.parent is not None:
            reach(n.parent)
        if n.kind in ("object", "class", "trait"):
            for c in n.children:
                if c.name in IMPLICIT_MEMBERS or "override" in c.modifiers:
                    reach(c)
        for qual, name in n.refs:
            for m in targets(qual, name):
                reach(m)
    dead = [n for n in nodes if id(n) not in reached]
    # An unreached object or class reports itself, not each of its members.
    dead_ids = {id(n) for n in dead}
    dead = [n for n in dead if n.parent is None or id(n.parent) not in dead_ids]
    return sorted(dead, key=lambda n: (n.path, n.line))


# ---------------------------------------------------------------- allowlist

ALLOW_LINE = re.compile(r"(?P<name>[A-Za-z_][\w.]*)\s+.*\b(?P<spec>\w+Spec)\b.*")


def read_allowlist(path):
    """{qualified name: the spec it serves}, and a list of malformed lines."""
    allowed, bad = {}, []
    if not os.path.exists(path):
        return allowed, bad
    with open(path, encoding="utf-8") as fh:
        for k, raw in enumerate(fh, 1):
            line = raw.split("#", 1)[0].strip()
            if not line:
                continue
            m = ALLOW_LINE.fullmatch(line)
            if m:
                allowed[m.group("name")] = m.group("spec")
            else:
                bad.append(f"{path}:{k}: expected `Qualified.name  SomeSpec: reason`: {line}")
    return allowed, bad


def _spec_exists(repo, spec):
    for _, _, files in os.walk(os.path.join(repo, "src", "test")):
        if f"{spec}.scala" in files:
            return True
    return False


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--repo", default=here)
    ap.add_argument("--allowlist", default=None)
    args = ap.parse_args()
    allow_path = args.allowlist or os.path.join(args.repo, ALLOWLIST)
    allowed, errors = read_allowlist(allow_path)
    dead = scan(args.repo)
    dead_names = {n.qualname for n in dead}
    unexpected = 0
    for n in dead:
        mark = "  (allowlisted)" if n.qualname in allowed else ""
        unexpected += not mark
        print(f"{n.path}:{n.line} {n.qualname}{mark}")
    for name in sorted(set(allowed) - dead_names):
        errors.append(f"{allow_path}: `{name}` is reached or gone; drop its entry")
    for name, spec in sorted(allowed.items()):
        if not _spec_exists(args.repo, spec):
            errors.append(f"{allow_path}: `{name}` names {spec}, which is not under src/test")
    for e in errors:
        print(e, file=sys.stderr)
    print(f"{len(dead)} unreached, {unexpected} not allowlisted", file=sys.stderr)
    return 1 if unexpected or errors else 0


if __name__ == "__main__":
    sys.exit(main())
