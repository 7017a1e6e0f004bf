#!/usr/bin/env python3
"""List the definitions in `src/main` that no entry point reaches.

Usage:
  python3 dev/unreachable_defs.py [--repo DIR] [--allowlist FILE]
  python3 dev/unreachable_defs.py --params [--repo DIR] [--allowlist FILE]

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

With `--params`, it lists instead the defaulted parameters of reached
definitions (case-class fields included) that every call site leaves at
one value. For each such parameter it collects the value at every call
site in reached `src/main` code and in the harness: the argument, by
position or by name, the default where the argument is left out, and `v`
for `x.copy(field = v)`. A call that passes the caller's own parameter
takes that parameter's values (iterated to a fixed point). An
unqualified call resolves to a member of an enclosing definition first,
then to every definition of that name. An argument
that names any other local is a value of its own call site; a function
named without a call is a value of its own. Spec call sites do not
count. By-name parameters (`body: => T`) are code, not settings. Each
single-valued parameter prints as `file:line Qualified.name(param) =
value`; the run exits 1 if one is not on `dev/param_allowlist.txt`, or
an entry there is malformed, names no spec, or names a parameter that is
multi-valued or gone. An entry is `Qualified.name(param)  SomeSpec: why`,
`... deployment: why` or `... safety: why`.
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
PARAM_ALLOWLIST = "dev/param_allowlist.txt"

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
        self.refs = []                  # (qualifier or None, name, offset)
        self.locals = set()             # names this node binds itself
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
                node.name_end = toks[j + 1][1] + len(name)
                node.src, node.text = src, text
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
    """Give each identifier to the innermost node whose span holds it.

    A name the node binds locally (see `_local_binding`) shadows every
    other definition of it there: its bare uses are not refs.
    """
    ordered = sorted(nodes, key=lambda n: (n.start, -n.end))
    in_tuple_params = {m.start(1) + g.start() for m in LAMBDA_TUPLE.finditer(text)
                       for g in IDENT.finditer(m.group(1))}
    owned = []
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
        owned.append((owner, qual, t, pos))
        if _local_binding(text, toks, k, in_tuple_params):
            owner.locals.add(t)
    for owner, qual, t, pos in owned:
        if qual is not None or t not in owner.locals:
            owner.refs.append((qual, t, pos))


# `(a, b) =>`: a lambda's or a pattern's untyped parameters.
LAMBDA_TUPLE = re.compile(r"\(\s*([a-z_]\w*(?:\s*,\s*[a-z_]\w*)*)\s*\)\s*=>")
LAMBDA_ARROW = re.compile(r"\s*=>")
# `name:` declares a parameter; `xs: _*`, `x :: xs` and `xs :+ x` use one.
BINDING_COLON = re.compile(r"\s*:(?![:=+\\])(?!\s*_\s*\*)")


def _local_binding(text, toks, k, in_tuple_params):
    """Whether toks[k] binds its name: `val`/`var`/`def NAME`, a lambda
    or pattern parameter (`x =>`, `(a, b) =>`) or a `name:` parameter.
    Parameters start lower-case: a capitalized name in a pattern is a
    stable identifier, not a binding."""
    t, pos = toks[k]
    if k and toks[k - 1][0] in ("val", "var", "def"):
        return True
    if not t[0].islower():
        return False
    end = pos + len(t)
    return (pos in in_tuple_params or LAMBDA_ARROW.match(text, end) is not None
            or BINDING_COLON.match(text, end) is not None)


def _strip_imports(src):
    return re.sub(r"(?m)^[ \t]*import[ \t][^\n]*", lambda m: " " * len(m.group()), src)


# ---------------------------------------------------------------- reachability

def load(repo):
    """Every node under `repo`, the reached ones, and the harness text.

    Returns (nodes, reached ids, targets, harness) where `targets(qual,
    name)` resolves a reference and `harness` is a list of (path, src,
    stripped text, refs) for the root files.
    """
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
    harness = []
    for f in ROOT_FILES:
        p = os.path.join(repo, f)
        if os.path.exists(p):
            with open(p, encoding="utf-8") as fh:
                src = _strip_imports(fh.read())
            text = strip(src)
            toks = list(tokens(text))
            refs = []
            for k, (t, pos) in enumerate(toks):
                if IDENT.fullmatch(t):
                    qual = toks[k - 2][0] if k >= 2 and toks[k - 1][0] == "." else None
                    refs.append((qual, t, pos))
                    for n in targets(qual, t):
                        reach(n)
            harness.append((f, src, text, refs))
    while work:
        n = work.pop()
        if n.parent is not None:
            reach(n.parent)
        if n.kind in ("object", "class", "trait"):
            for c in n.children:
                if c.name in IMPLICIT_MEMBERS or "override" in c.modifiers:
                    reach(c)
        for qual, name, _ in n.refs:
            for m in targets(qual, name):
                reach(m)
    return nodes, reached, targets, harness


def scan(repo):
    """Unreached nodes under `repo`, sorted by file and line."""
    nodes, reached, _, _ = load(repo)
    dead = [n for n in nodes if id(n) not in reached]
    # An unreached object or class reports itself, not each of its members.
    dead_ids = {id(n) for n in dead}
    dead = [n for n in dead if n.parent is None or id(n.parent) not in dead_ids]
    return sorted(dead, key=lambda n: (n.path, n.line))


# ---------------------------------------------------------------- parameters

PARAM_MODIFIERS = {"val", "var", "private", "protected", "override", "final", "implicit"}
# A value that means the same thing at every call site. Anything else
# (a local, an expression over locals) is a value of its own site.
CONSTANT = re.compile(r"(?:[a-z]\w*\.)*[A-Z]\w*(?:\.[A-Z]\w*)*")
# A lower-case name that is not called, not a keyword and not a package
# root: a local or a parameter, so the argument is a value of its own
# call site.
LOCAL = re.compile(r"(?<![\w.])(?!(?:true|false|null|new|graft|scala|java|org|math)\b)"
                   r"[a-z]\w*\b(?!\s*[(\[])")
DECLARED = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+$")
PARAM_DECL = re.compile(r"[A-Za-z_]\w*\s*:(?![:=])")
BINARY_EQ = re.compile(r"(?<![=<>!:+\-*/%&|^])=(?![=>])")


class Param:
    def __init__(self, node, index, name, default, by_name, implicit):
        self.node, self.index, self.name = node, index, name
        self.default, self.by_name, self.implicit = default, by_name, implicit
        self.values = set()             # value keys seen at call sites
        self.sources = set()            # Params whose values this one takes

    @property
    def label(self):
        return f"{self.node.qualname}({self.name})"


def _group(text, i):
    """End index (after the closer) of the bracket group opening at i."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = []
    while i < len(text):
        c = text[i]
        if c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
            if not stack:
                return i + 1
        i += 1
    return i


def _split_top(text, a, b):
    """(start, end) spans of the comma-separated items in text[a:b]."""
    spans, depth, s = [], 0, a
    for k in range(a, b):
        c = text[k]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((s, k))
            s = k + 1
    if text[s:b].strip():
        spans.append((s, b))
    return spans


def _skip_ws(text, i, newlines=True):
    while i < len(text) and (text[i] in " \t" or (newlines and text[i] == "\n")):
        i += 1
    return i


def _norm(s):
    return " ".join(s.split())


OPAQUE = "<site> "


def _const(expr):
    """One spelling for a qualified constant: `Dedup.X` and `X` are alike."""
    return re.sub(r"^(?:\w+\.)+(?=[A-Z]\w*$)", "", expr) if CONSTANT.fullmatch(expr) else expr


def _params(node):
    """The parameter lists of a def or class node: a list of lists of Param."""
    if node.kind not in ("def", "class"):
        return []
    text, src = node.text, node.src
    i = _skip_ws(text, node.name_end)
    if i < len(text) and text[i] == "[":
        i = _skip_ws(text, _group(text, i))
    if node.kind == "class":            # `class C private (...)`
        m = re.match(r"(?:private|protected)(?:\[\w+\])?\s*", text[i:])
        if m:
            i += m.end()
    lists = []
    while i < len(text) and text[i] == "(":
        end = _group(text, i)
        plist, implicit = [], False
        for a, b in _split_top(text, i + 1, end - 1):
            item = text[a:b]
            words = item.split(":", 1)
            head = words[0].split()
            if "implicit" in head:
                implicit = True
            names = [w for w in head if w not in PARAM_MODIFIERS and IDENT.fullmatch(w)]
            if not names or len(words) < 2:
                continue
            rest_at = a + len(words[0]) + 1
            m = BINARY_EQ.search(text, rest_at, b)
            default = _norm(src[m.end():b]) if m else None
            by_name = text[rest_at:b].lstrip().startswith("=>")
            plist.append(Param(node, len(plist), names[-1], default, by_name, implicit))
        lists.append(plist)
        i = _skip_ws(text, end)
    return lists


def _call_args(text, i):
    """Argument groups after a name at i: a list of (start, end, braces)."""
    j = _skip_ws(text, i, newlines=False)
    if j < len(text) and text[j] == "[":
        j = _group(text, j)
    groups = []
    while True:
        k = _skip_ws(text, j, newlines=False)
        if k < len(text) and text[k] in "({":
            end = _group(text, k)
            groups.append((k + 1, end - 1, text[k] == "{"))
            j = end
        else:
            return groups


def param_scan(repo):
    """Defaulted parameters of reached definitions and their value sets.

    Returns (defaulted, single) lists of Param, where `single` holds the
    parameters that every non-spec call site leaves at one value.
    """
    nodes, reached, targets, harness = load(repo)
    objects = {n.name for n in nodes if n.kind == "object"}
    params = {id(n): _params(n) for n in nodes}
    copy_fields = {}
    for n in nodes:
        if n.kind == "class" and "case" in n.modifiers and params[id(n)]:
            for p in params[id(n)][0]:
                copy_fields.setdefault(p.name, []).append(p)
    UNKNOWN = OPAQUE + "unknown"

    def owner_param(owner, name):
        for plist in params.get(id(owner), []) if owner else []:
            for p in plist:
                if p.name == name:
                    return p
        return None

    def scoped(owner, qual, name):
        """Callees of a call: an unqualified name resolves to a member of
        an enclosing definition first, as Scala's scoping does."""
        if qual is None:
            scope = owner
            while scope is not None:
                hits = [c for c in scope.children if c.name == name]
                if hits:
                    return hits
                scope = scope.parent
        return targets(qual, name)

    def record(p, owner, src, a, b, path):
        """Record the argument src[a:b] as a value of parameter `p`."""
        expr = _norm(src[a:b])
        fwd = owner_param(owner, expr) if IDENT.fullmatch(expr) else None
        if fwd is not None:
            p.sources.add(fwd)
        elif not LOCAL.search(strip(expr)):
            p.values.add(_const(expr))
        else:
            p.values.add(f"{OPAQUE}{expr} @{path}:{src.count(chr(10), 0, a) + 1}")

    def bind(plist, owner, src, text, a, b, path, braces):
        """Match one argument group against one parameter list."""
        spans = [(a, b)] if braces else _split_top(text, a, b)
        given = set()
        for k, (x, y) in enumerate(spans):
            m = re.match(r"\s*([A-Za-z_]\w*)\s*=(?![=>])", text[x:y])
            target = None
            if m:                       # named: `param = value`
                target = next((p for p in plist if p.name == m.group(1)), None)
                x += m.end()
            elif k < len(plist):
                target = plist[k]
            if target is None:
                continue
            given.add(id(target))
            record(target, owner, src, x, y, path)
        for p in plist:
            if id(p) not in given and p.default is not None:
                p.values.add(_const(p.default))

    def calls(owner, path, src, text, refs):
        for qual, name, pos in refs:
            if DECLARED.search(text, max(0, pos - 40), pos) or PARAM_DECL.match(text, pos):
                continue                # a definition's own name
            if pos and text[pos - 1] != src[pos - 1]:
                continue                # a class named in a string literal
            groups = _call_args(text, pos + len(name))
            if name == "copy" and groups:
                a, b, _ = groups[0]
                for x, y in _split_top(text, a, b):
                    m = re.match(r"\s*([A-Za-z_]\w*)\s*=(?![=>])", text[x:y])
                    if m:
                        for p in copy_fields.get(m.group(1), []):
                            record(p, owner, src, x + m.end(), y, path)
                continue
            for callee in scoped(owner, qual, name):
                lists = [pl for pl in params.get(id(callee), []) if not (pl and pl[0].implicit)]
                if not lists:
                    continue
                if not groups:
                    if callee.kind == "class" or (qual is not None and qual not in objects):
                        continue        # a type, or a field of a value
                    # Named without a call (eta-expansion, a function
                    # value): its arguments are unknown.
                    for pl in lists:
                        for p in pl:
                            p.values.add(f"{UNKNOWN} @{path}:{src.count(chr(10), 0, pos) + 1}")
                    continue
                for g, (a, b, braces) in enumerate(groups[:len(lists)]):
                    bind(lists[g], owner, src, text, a, b, path, braces)

    for n in nodes:
        if id(n) in reached:
            # Only the refs this node owns; nested nodes report their own.
            calls(n, n.path, n.src, n.text, n.refs)
    for path, src, text, refs in harness:
        calls(None, path, src, text, refs)

    everything = [p for n in nodes if id(n) in reached for pl in params[id(n)] for p in pl]
    for p in everything:
        if not p.values and not p.sources:
            # No call site seen: a runtime callback or syntax-invoked member.
            p.values.add(_const(p.default) if p.default is not None else UNKNOWN)
    changed = True
    while changed:
        changed = False
        for p in everything:
            for q in p.sources:
                if not q.values <= p.values:
                    p.values |= q.values
                    changed = True
    defaulted = [p for p in everything if p.default is not None and not p.by_name]
    single = [p for p in defaulted
              if len(p.values) == 1 and not next(iter(p.values)).startswith(OPAQUE)]
    return defaulted, single


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


PARAM_ALLOW_LINE = re.compile(
    r"(?P<name>[A-Za-z_][\w.]*\([A-Za-z_]\w*\))\s+(?P<kind>\w+Spec|deployment|safety):\s*\S.*")


def read_param_allowlist(path):
    """{`Qualified.name(param)`: kind}, and a list of malformed lines."""
    allowed, bad = {}, []
    if not os.path.exists(path):
        return allowed, bad
    with open(path, encoding="utf-8") as fh:
        for k, raw in enumerate(fh, 1):
            line = raw.split("#", 1)[0].strip()
            if not line:
                continue
            m = PARAM_ALLOW_LINE.fullmatch(line)
            if m:
                allowed[m.group("name")] = m.group("kind")
            else:
                bad.append(f"{path}:{k}: expected `Qualified.name(param)  SomeSpec|deployment|safety: reason`: {line}")
    return allowed, bad


def main_params(repo, allow_path):
    allowed, errors = read_param_allowlist(allow_path)
    defaulted, single = param_scan(repo)
    labels = {p.label for p in single}
    unexpected = 0
    for p in sorted(single, key=lambda p: (p.node.path, p.node.line, p.index)):
        mark = "  (allowlisted)" if p.label in allowed else ""
        unexpected += not mark
        print(f"{p.node.path}:{p.node.line} {p.label} = {next(iter(p.values))}{mark}")
    for name in sorted(set(allowed) - labels):
        errors.append(f"{allow_path}: `{name}` is multi-valued or gone; drop its entry")
    for name, kind in sorted(allowed.items()):
        if kind.endswith("Spec") and not _spec_exists(repo, kind):
            errors.append(f"{allow_path}: `{name}` names {kind}, which is not under src/test")
    for e in errors:
        print(e, file=sys.stderr)
    print(f"{len(defaulted)} defaulted parameters, {len(single)} single-valued, "
          f"{unexpected} not allowlisted", file=sys.stderr)
    return 1 if unexpected or errors else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--repo", default=here)
    ap.add_argument("--allowlist", default=None)
    ap.add_argument("--params", action="store_true",
                    help="list defaulted parameters that every call site leaves at one value")
    args = ap.parse_args()
    if args.params:
        return main_params(args.repo, args.allowlist or os.path.join(args.repo, PARAM_ALLOWLIST))
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
