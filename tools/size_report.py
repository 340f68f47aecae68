#!/usr/bin/env python3
"""Print the size of the engine's main code, the graft.* conf keys it reads,
the default-valued parameters a caller can set, the public members no
other file names, and the classes that extend a Catalyst expression type.

    python3 tools/size_report.py [--list] [--against OTHER_ROOT] [REPO_ROOT]

Lines are counted as `find src/main -name '*.scala' | xargs cat | wc -l`
counts them (newline characters). A conf key counts when a main source
passes it as a string literal to `.get`, `.getOption` or `.getConfString`
(whitespace and line breaks between the call and the literal allowed), which
is how the engine reads `spark.conf`.

A default-valued parameter counts when it sits in a parameter list of a
`def` under src/main whose own modifiers (the text between the statement's
start and `def`) hold no `private` (so `private[graft]` is private too) and
the parameter has a top-level `=` after its name (`x: Int = 5`; the `=>` of
a function type is not one). Comments and string literals are blanked first.
The enclosing class's visibility is not looked at, and case-class and class
constructor fields are not defs, so neither counts.

An unreferenced public member is a `def`, `val`, `var`, `type`, `class`,
`trait` or `object` declared directly in the body of a class, trait or
object under src/main (top-level declarations, locals inside a method body
and members of anonymous classes are not members), with no `private`,
`protected`, `override` or `implicit` among its modifiers, whose name occurs
as a whole word in no other `.scala` file under src/ or perfbench/src
(comments and string literals blanked). Names the language or the JVM call
without naming them (`apply`, `unapply`, `main`, `toString`, ...) are
skipped, and, as for parameters, the enclosing class's visibility is not
looked at. A name shared with an unrelated member elsewhere counts as a
reference, so the count errs low.

A Catalyst expression class is a `class`, `trait` or `object` under
src/main whose `extends ... with ...` clause names a type of the package
`org.apache.spark.sql.catalyst.expressions` or one of its subpackages,
written fully qualified or brought in by a named import of the same file
(`import a.b.X`, `import a.b.{X, Y => Z}`, or the package itself); names
brought in by a wildcard import are not followed, so the count errs low.

`--list` also prints each counted parameter as `file:line def param`, each
unreferenced member as `file:line kind name` and each Catalyst expression
class as `file:line name` (file relative to the repo root).
`--against OTHER_ROOT` also prints OTHER_ROOT's totals (the unreferenced
member and expression class counts included) and the knobs removed (in
OTHER_ROOT only, at its line) and added (here only, at this tree's line)
between the two checkouts, matched by (file, def, param) so lines shifted
by other edits do not show as changes. Stdlib only.
"""
import os
import re
import sys
from collections import Counter

KEY_READ = re.compile(
    r'\.(?:get|getOption|getConfString)\s*\(\s*"(graft\.[A-Za-z0-9_.]+)"')
DEF = re.compile(r'\bdef\s+([^\s(\[:=]+)')
PARAM_NAME = re.compile(r'\s*(?:implicit\s+)?(?:(?:val|var)\s+)?([^\s:]+)')
PRIVATE = re.compile(r'\bprivate\b')
MEMBER = re.compile(
    r'\b(def|val|var|type|class|trait|object)\s+([A-Za-z_][A-Za-z0-9_]*)')
TEMPLATE_KW = re.compile(r'\b(class|object|trait|def|val|var)\b')
HIDDEN = re.compile(r'\b(private|protected|override|implicit)\b')
NESTED = re.compile(r'\([^()]*\)|\[[^\[\]]*\]')
IDENT = re.compile(r'[A-Za-z_][A-Za-z0-9_]*')
TEMPLATE = re.compile(r'\b(?:class|trait|object)\s+([A-Za-z_][A-Za-z0-9_]*)')
IMPORT = re.compile(
    r'\bimport\s+([A-Za-z_][A-Za-z0-9_.]*)\.(\{[^}]*\}|[A-Za-z_][A-Za-z0-9_]*)')
QUALIFIED = re.compile(
    r'[A-Za-z_][A-Za-z0-9_]*(?:\s*\.\s*[A-Za-z_][A-Za-z0-9_]*)*')
CATALYST_EXPRESSIONS = "org.apache.spark.sql.catalyst.expressions"
IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq", "update", "main",
                  "toString", "equals", "hashCode", "this", "readResolve"}


def blank_comments_and_strings(src):
    """Replace comment and string-literal text with spaces, keeping offsets."""
    out = list(src)
    i, n = 0, len(src)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2  # Scala block comments nest
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" closes at the last
                j += 1
            blank(i, j)
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            blank(i, j + 1)
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:i + 12]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            blank(i, j)
            i = j
        else:
            i += 1
    return "".join(out)


def balanced(src, i):
    """Index just past the bracket group opening at src[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = [pairs[src[i]]]
    j = i + 1
    while j < len(src) and stack:
        c = src[j]
        if c in pairs:
            stack.append(pairs[c])
        elif c == stack[-1]:
            stack.pop()
        j += 1
    return j


def top_level_split(body):
    """Split a parameter list body on commas outside any bracket, as
    (offset in body, text) pairs."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(body):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append((start, body[start:k]))
            start = k + 1
    parts.append((start, body[start:]))
    return parts


def has_default(param):
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = param[k - 1] if k else ""
            nxt = param[k + 1] if k + 1 < len(param) else ""
            if nxt not in "=>" and prev not in "=<>!":
                return True
    return False


def default_params(src):
    """The default-valued parameters on the non-private defs of `src`, as
    (line, def name, parameter name) triples."""
    code = blank_comments_and_strings(src)
    found = []
    for m in DEF.finditer(code):
        stmt_start = max(code.rfind(c, 0, m.start()) for c in "\n;{}") + 1
        if PRIVATE.search(code, stmt_start, m.start()):
            continue
        j = m.end()
        while True:
            while j < len(code) and code[j] in " \t\n":
                j += 1
            if j >= len(code) or code[j] not in "([":
                break
            end = balanced(code, j)
            if code[j] == "(":
                for off, p in top_level_split(code[j + 1:end - 1]):
                    if has_default(p):
                        name = PARAM_NAME.match(p)
                        at = j + 1 + off + name.start(1)
                        found.append((code.count("\n", 0, at) + 1,
                                      m.group(1), name.group(1)))
            j = end
    return found


def template_depths(code):
    """For each offset of `code`, whether its innermost enclosing brace
    opens a class, trait or object body (top level counts as not)."""
    inside = [False] * len(code)
    stack = []
    last = 0  # offset just past the previous structural `{`, `}` or `;`
    for k, c in enumerate(code):
        inside[k] = bool(stack) and stack[-1]
        if c == "{":
            seg, prev = code[last:k], None
            while seg != prev:  # keywords inside (...) and [...] do not count
                seg, prev = NESTED.sub(" ", seg), seg
            kws = TEMPLATE_KW.findall(seg)
            stack.append(bool(kws) and kws[-1] in ("class", "object", "trait"))
            last = k + 1
        elif c == "}":
            if stack:
                stack.pop()
            last = k + 1
        elif c == ";":
            last = k + 1
    return inside


def public_members(code):
    """The public members declared in template bodies of blanked `code`,
    as (line, kind, name) triples."""
    inside = template_depths(code)
    found = []
    for m in MEMBER.finditer(code):
        kind, name = m.group(1), m.group(2)
        if not inside[m.start()] or name in IMPLICIT_NAMES:
            continue
        stmt_start = max(code.rfind(c, 0, m.start()) for c in "\n;{}(,") + 1
        if HIDDEN.search(code, stmt_start, m.start()):
            continue
        # a `val`/`var` inside a parameter list is a constructor field,
        # and `case` marks a pattern, not a declaration
        if code[stmt_start - 1:stmt_start] in "(," and stmt_start > 0:
            continue
        found.append((code.count("\n", 0, m.start()) + 1, kind, name))
    return found


def unreferenced_members(root):
    """Public src/main members whose name occurs in no other .scala file
    under src/ or perfbench/src, as (file, line, kind, name)."""
    codes = {}
    for top in (os.path.join(root, "src"),
                os.path.join(root, "perfbench", "src")):
        for dirpath, _, names in os.walk(top):
            for name in names:
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    with open(path, encoding="utf-8", errors="replace") as fh:
                        codes[os.path.relpath(path, root)] = \
                            blank_comments_and_strings(fh.read())
    files_with = {}
    for rel, code in codes.items():
        for ident in set(IDENT.findall(code)):
            files_with.setdefault(ident, set()).add(rel)
    main_prefix = os.path.join("src", "main") + os.sep
    out = []
    for rel, code in sorted(codes.items()):
        if not rel.startswith(main_prefix):
            continue
        for ln, kind, name in public_members(code):
            if files_with.get(name, set()) <= {rel}:
                out.append((rel, ln, kind, name))
    return out


def imported_names(code):
    """Local name -> fully qualified name of the named imports of `code`."""
    names = {}
    for m in IMPORT.finditer(code):
        prefix, sel = m.group(1), m.group(2)
        for part in (sel[1:-1].split(",") if sel.startswith("{") else [sel]):
            orig, _, local = (w.strip() for w in part.partition("=>"))
            if orig and orig != "_" and local != "_":
                names[local or orig] = f"{prefix}.{orig}"
    return names


def parent_types(code, i):
    """The type names in the `extends ... with ...` clause of the template
    header that continues at code[i] (just past the template's name)."""
    def skip_ws(j):
        while j < len(code) and code[j] in " \t\n":
            j += 1
        return j

    j = skip_ws(i)
    while True:  # type parameters, constructor lists, access modifiers
        if j < len(code) and code[j] in "([":
            j = skip_ws(balanced(code, j))
            continue
        m = re.compile(r'(?:private|protected)\b').match(code, j)
        if not m:
            break
        j = skip_ws(m.end())
    if not re.compile(r'extends\b').match(code, j):
        return []
    types, j = [], j + len("extends")
    while True:
        m = QUALIFIED.match(code, skip_ws(j))
        if not m:
            return types
        types.append(re.sub(r"\s", "", m.group(0)))
        j = skip_ws(m.end())
        while j < len(code) and code[j] in "([":
            j = skip_ws(balanced(code, j))
        if not re.compile(r'with\b').match(code, j):
            return types
        j += len("with")


def expression_classes(code):
    """The templates of blanked `code` that extend a Catalyst expression
    type, as (line, name) pairs."""
    names = imported_names(code)
    found = []
    for m in TEMPLATE.finditer(code):
        for t in parent_types(code, m.end()):
            head, _, rest = t.partition(".")
            full = names.get(head, head) + ("." + rest if rest else "")
            if (full + ".").startswith(CATALYST_EXPRESSIONS + "."):
                found.append((code.count("\n", 0, m.start()) + 1, m.group(1)))
                break
    return found


def scan(root):
    """(lines, files, conf keys, [(file, line, def, param)],
    [(file, line, class)] of the Catalyst expression classes) of src/main."""
    main_dir = os.path.join(root, "src", "main")
    lines = files = 0
    keys = set()
    params = []
    exprs = []
    for dirpath, _, names in os.walk(main_dir):
        for name in names:
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                data = fh.read()
            text = data.decode("utf-8", "replace")
            files += 1
            lines += data.count(b"\n")
            keys.update(KEY_READ.findall(text))
            rel = os.path.relpath(path, root)
            params += [(rel, ln, d, p) for ln, d, p in default_params(text)]
            exprs += [(rel, ln, c) for ln, c in
                      expression_classes(blank_comments_and_strings(text))]
    return lines, files, keys, params, sorted(exprs)


def knob_diff(old, new):
    """The knobs of `old` missing from `new` and those of `new` missing from
    `old`, matched by (file, def, param) with multiplicity (overloads)."""
    def unmatched(a, b):
        left = Counter((f, d, p) for f, _, d, p in b)
        out = []
        for f, ln, d, p in sorted(a):
            if left[(f, d, p)]:
                left[(f, d, p)] -= 1
            else:
                out.append((f, ln, d, p))
        return out
    return unmatched(old, new), unmatched(new, old)


def main():
    args = sys.argv[1:]
    listing = "--list" in args
    args = [a for a in args if a != "--list"]
    against = None
    if "--against" in args:
        i = args.index("--against")
        against = args[i + 1]
        del args[i:i + 2]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir)
    lines, files, keys, params, exprs = scan(root)
    print(f"main scala: {lines:,} lines in {files} files")
    print(f"graft.* conf keys read by main code: {len(keys)}")
    for k in sorted(keys):
        print(f"  {k}")
    print(f"default-valued parameters on non-private defs: {len(params)}")
    if listing:
        for rel, ln, d, p in sorted(params):
            print(f"{rel}:{ln} {d} {p}")
    unref = unreferenced_members(root)
    print(f"public members never referenced outside their own file: "
          f"{len(unref)}")
    if listing:
        for rel, ln, kind, name in unref:
            print(f"{rel}:{ln} {kind} {name}")
    print(f"classes extending a Catalyst expression type: {len(exprs)}")
    if listing:
        for rel, ln, c in exprs:
            print(f"{rel}:{ln} {c}")
    if against:
        o_lines, o_files, _, o_params, o_exprs = scan(against)
        removed, added = knob_diff(o_params, params)
        print(f"against {against}: {o_lines:,} -> {lines:,} lines, "
              f"{o_files} -> {files} files, "
              f"{len(o_params)} -> {len(params)} default-valued parameters, "
              f"{len(unreferenced_members(against))} -> {len(unref)} "
              "unreferenced public members, "
              f"{len(o_exprs)} -> {len(exprs)} Catalyst expression classes")
        print(f"knobs removed: {len(removed)}")
        for rel, ln, d, p in removed:
            print(f"- {rel}:{ln} {d} {p}")
        print(f"knobs added: {len(added)}")
        for rel, ln, d, p in added:
            print(f"+ {rel}:{ln} {d} {p}")


if __name__ == "__main__":
    main()
