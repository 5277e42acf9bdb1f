#!/usr/bin/env python3
"""Count the public API surface of Scala sources.

For each file (default: every .scala file under src/main) print its
line count, its public object-member defs, their parameters, and how
many of those parameters have a default value (the settable ones), then
a total row.

A def counts when it sits directly in an `object` body (top-level or
nested objects alike) and is not `private` or `protected`. Defs in
classes and traits, and local defs inside a method body, do not count.
Parameters are counted over every parameter list of the def, implicit
lists included; a parameter is settable when it has `= default`.

Usage:
    python3 tools/api_counts.py                      # all of src/main
    python3 tools/api_counts.py src/main/scala/graft/operators/LanguageModel.scala
    python3 tools/api_counts.py --defs FILE...       # also list each def
    python3 tools/api_counts.py --unreached          # public defs no code calls

--unreached lists the counted defs of src/main/scala/graft/operators and
src/main/scala/graft/streaming whose name occurs nowhere else in the code
of src/main: comments and string literals do not count (the code spliced
into an interpolated string does), nor does any line that declares a def
of that name. A name that also occurs as another
identifier (a common word, a Spark method) reads as reached, so the list
is a lower bound.

Run it from the root of a checkout; for a before/after receipt run it
once in the parent's checkout and once in the change's.
"""
import argparse
import os
import re
import sys


def strip_code(src):
    """Blank out comments, string and char literals (newlines kept), so
    braces and keywords are only seen in code. The code spliced into an
    `s`/`f`/`raw` interpolated string (`${expr}`, `$name`) stays code."""
    return _strip(src, 0, False)[0]


INTERPOLATOR = re.compile(r"(?<![\w$])(s|f|raw)$")


def _strip(src, i, in_splice):
    """(blanked text, end index) from src[i]. In a `${...}` splice, stop
    at the `}` that closes it (end index points at that brace)."""
    out = []
    n, depth = len(src), 0
    while i < n:
        c = src[i]
        if in_splice and c == "}" and depth == 0:
            break
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth_c, j = 1, i + 2
            while j < n and depth_c:
                if src.startswith("/*", j):
                    depth_c, j = depth_c + 1, j + 2
                elif src.startswith("*/", j):
                    depth_c, j = depth_c - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif c == '"' and INTERPOLATOR.search(src, max(0, i - 4), i):
            text, i = _interpolated(src, i)
            out.append(text)
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append('"' + re.sub(r"[^\n]", " ", src[i + 1:j - 1]) + '"')
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append('"' + " " * (j - i - 1) + '"')
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            out.append(" " * len(m.group(0)))
            i += len(m.group(0))
        else:
            depth += {"{": 1, "}": -1}.get(c, 0)
            out.append(c)
            i += 1
    return "".join(out), i


def _interpolated(src, i):
    """(blanked text, end index) of the interpolated string opening at
    src[i]: literal text blanked, `${expr}` and `$name` kept as code."""
    n = len(src)
    triple = src.startswith('"""', i)
    out = ['"' + ("  " if triple else "")]
    j = i + (3 if triple else 1)
    while j < n:
        if triple and src.startswith('"""', j):
            k = j + 3
            while k < n and src[k] == '"':
                k += 1
            out.append(" " * (k - j - 1) + '"')
            return "".join(out), k
        c = src[j]
        if not triple and c in '"\n':
            out.append('"' if c == '"' else "\n")
            return "".join(out), j + 1
        if c == "$" and src.startswith("{", j + 1):
            code, k = _strip(src, j + 2, True)
            out.append("  " + code + " ")
            j = k + 1
        elif c == "$" and re.match(r"[A-Za-z_]", src[j + 1:j + 2]):
            m = re.compile(r"[A-Za-z_][A-Za-z0-9_]*").match(src, j + 1)
            out.append(" " + m.group(0))
            j = m.end()
        elif (c == "$" or (c == "\\" and not triple)) and src[j + 1:j + 2] not in ("", "\n"):
            out.append("  ")   # $$, $" and single-line backslash escapes
            j += 2
        else:
            out.append("\n" if c == "\n" else " ")
            j += 1
    return "".join(out), n


SCOPE = re.compile(r"\b(object|class|trait|def)\b")
MODIFIERS = re.compile(r"\b(private|protected)\b(\[[^\]]*\])?\s*$")


def matching(code, i, open_c, close_c):
    """Index just past the bracket closing the one at code[i]."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] == open_c:
            depth += 1
        elif code[j] == close_c:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(code)


def split_top(s):
    """Split on commas outside (), [] and {}."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in parts if p.strip()]


def has_default(param):
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = param[k + 1:k + 2]
            prev = param[k - 1:k]
            if nxt not in (">", "=") and prev not in ("<", ">", "!", "="):
                return True
    return False


def def_params(code, i):
    """(params, defaulted) over every parameter list of the def whose
    name ends at code[i]."""
    params = defaulted = 0
    j = i
    while True:
        while j < len(code) and code[j] in " \t\n":
            j += 1
        if j < len(code) and code[j] == "[":
            j = matching(code, j, "[", "]")
            continue
        if j < len(code) and code[j] == "(":
            end = matching(code, j, "(", ")")
            body = code[j + 1:end - 1].strip()
            body = re.sub(r"^implicit\b", "", body)
            for p in split_top(body):
                params += 1
                defaulted += has_default(p)
            j = end
            continue
        return params, defaulted


def scan(path):
    src = open(path, encoding="utf-8").read()
    code = strip_code(src)
    lines = src.count("\n") + (0 if src.endswith("\n") else 1)
    defs = []
    # scope stack entries: (kind, brace depth at which its body opened)
    stack = [("file", 0)]
    pending = None  # a scope keyword seen, waiting for its `{` (or not)
    depth = 0
    i, n = 0, len(code)
    while i < n:
        c = code[i]
        if c == "{":
            depth += 1
            if pending is not None:
                stack.append((pending, depth))
                pending = None
            else:
                stack.append(("block", depth))
            i += 1
            continue
        if c == "}":
            if stack and stack[-1][1] == depth:
                stack.pop()
            depth -= 1
            i += 1
            continue
        m = SCOPE.match(code, i)
        if m and (i == 0 or not (code[i - 1].isalnum() or code[i - 1] in "_$")):
            kind = m.group(1)
            if kind == "def":
                name_m = re.compile(r"\s+([^\s(\[:=]+)").match(code, m.end())
                name = name_m.group(1) if name_m else "?"
                line_start = code.rfind("\n", 0, i) + 1
                prefix = code[line_start:i]
                # a pending `def` here was a brace-less one that ended
                if stack[-1][0] == "object" and not MODIFIERS.search(prefix):
                    p, d = def_params(code, name_m.end() if name_m else m.end())
                    lineno = code.count("\n", 0, i) + 1
                    defs.append((name, p, d, lineno))
                # a def body is a scope whose nested defs are local
                pending = "def"
            else:
                pending = kind
            i = m.end()
            continue
        if pending is not None and c in "\n;" and pending != "def":
            # object/class/trait without a body (`case object X`,
            # `class A(x: Int)` on one line): look ahead for `{`
            rest = code[i:i + 200].lstrip()
            if not (rest.startswith("{") or rest.startswith("extends")
                    or rest.startswith("with") or rest.startswith("(")
                    or rest.startswith("[")):
                pending = None
        i += 1
    return lines, defs


UNREACHED_DIRS = (os.path.join("src", "main", "scala", "graft", "operators"),
                  os.path.join("src", "main", "scala", "graft", "streaming"))


def unreached(files):
    """(file, line, name) of every counted def under UNREACHED_DIRS with
    no code reference in `files` outside the lines declaring it."""
    code_lines = {f: strip_code(open(f, encoding="utf-8").read()).split("\n")
                  for f in files}
    out = []
    for f in files:
        if not f.startswith(UNREACHED_DIRS):
            continue
        for name, _, _, lineno in scan(f)[1]:
            word = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
            decl = re.compile(r"\bdef\s+" + re.escape(name) + r"(?![\w$])")
            if not any(word.search(ln) and not decl.search(ln)
                       for lines in code_lines.values() for ln in lines):
                out.append((f, lineno, name))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="*")
    ap.add_argument("--defs", action="store_true",
                    help="list every counted def with its parameter counts")
    ap.add_argument("--unreached", action="store_true",
                    help="list public operator/streaming defs that no code in src/main calls")
    a = ap.parse_args()
    files = a.files or sorted(
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join("src", "main"))
        for f in fs if f.endswith(".scala"))
    if a.unreached:
        found = unreached(files)
        for f, ln, name in found:
            print(f"{f}:{ln}: {name}")
        print(f"{len(found)} unreached public defs")
        return 0
    tot = [0, 0, 0, 0]
    print(f"{'lines':>7} {'defs':>5} {'params':>6} {'settable':>8}  file")
    for f in files:
        lines, defs = scan(f)
        row = [lines, len(defs), sum(d[1] for d in defs),
               sum(d[2] for d in defs)]
        tot = [x + y for x, y in zip(tot, row)]
        print(f"{row[0]:>7} {row[1]:>5} {row[2]:>6} {row[3]:>8}  {f}")
        if a.defs:
            for name, p, d, ln in defs:
                print(f"{'':>7} {'':>5} {p:>6} {d:>8}    {ln}: {name}")
    print(f"{tot[0]:>7} {tot[1]:>5} {tot[2]:>6} {tot[3]:>8}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
