#!/usr/bin/env python3
"""Count the settable values ("knobs") of Scala code, per file and in total.

Three kinds are counted:
  params  parameters with a default value in a `def` or `class` parameter
          list (a caller may leave them out, so each one is a knob);
  env     distinct environment-variable names read through
          `sys.env.get("X")`, `sys.env.getOrElse("X", ..)`, `sys.env("X")`
          or `System.getenv("X")`;
  conf    distinct Spark/Hadoop conf keys and JVM properties read through
          `conf.get(..)`, `conf.getOption(..)`, `conf.getConfString(..)`,
          `getConf(..)`, `sys.props.get(..)` or `System.getProperty(..)`.
          A key given as an identifier resolves to the nearest preceding
          `val NAME = "literal"` in the same file.

Comments are skipped. Env names and conf keys count once per file; the
total line sums `params` over files and counts distinct env names and conf
keys over all files (a name read in three files is one knob).

Usage:
  python3 tools/knobs.py [PATH ...]     # files or directories, default src/main/scala

Prints one line per file (params, env, conf, sum) and a total line last.
"""

import os
import re
import sys

ENV_RE = re.compile(
    r'(?:sys\.env(?:\.get|\.getOrElse)?|System\.getenv)\(\s*"([^"]+)"')
CONF_RE = re.compile(
    r'(?:\bconf\.get(?:Option|ConfString)?|\bgetConf|sys\.props\.get|'
    r'System\.getProperty)\(\s*("[^"]*"|[A-Za-z_][\w.]*)')
VAL_RE = re.compile(r'\bval\s+([A-Za-z_]\w*)\s*(?::\s*String\s*)?=\s*"([^"]*)"')
DECL_RE = re.compile(r'\b(?:def|class)\s+([A-Za-z_]\w*|[^\s\w\[(:]+)')
MODIFIER_RE = re.compile(r'\s*(?:private|protected)(?:\[[^\]]*\])?')


def strip_comments(text, blank_strings):
    """`text` without comments; string literals kept or blanked to `""`."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                if text[i] == "\n":
                    out.append("\n")
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth += 1
            i += 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append('""' if blank_strings else text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            out.append('""' if blank_strings else text[i:j])
            i = j
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append("' '" if blank_strings else text[i:j])
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def balanced(code, i):
    """Index just past the bracket group opening at `code[i]`."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = []
    while i < len(code):
        c = code[i]
        if c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
            if not stack:
                return i + 1
        i += 1
    return i


def defaulted(params):
    """Number of parameters with a default in one parameter list's body."""
    count, depth, has_default = 0, 0, False
    for k, c in enumerate(params + ","):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif depth == 0 and c == ",":
            count += has_default
            has_default = False
        elif depth == 0 and c == "=":
            nxt = params[k + 1] if k + 1 < len(params) else ""
            prev = params[k - 1] if k > 0 else ""
            if nxt not in "=>" and prev not in "<>!=:":
                has_default = True
    return count


def count_params(code):
    total = 0
    for m in DECL_RE.finditer(code):
        i = m.end()
        while i < len(code) and code[i].isspace():
            i += 1
        if i < len(code) and code[i] == "[":
            i = balanced(code, i)
        mod = MODIFIER_RE.match(code, i)
        if mod:
            i = mod.end()
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if i >= len(code) or code[i] != "(":
                break
            end = balanced(code, i)
            total += defaulted(code[i + 1:end - 1])
            i = end
    return total


def knobs(text):
    """(defaulted params, env names, conf keys) of Scala source `text`."""
    code = strip_comments(text, blank_strings=False)
    env = set(ENV_RE.findall(code))
    conf = set()
    for m in CONF_RE.finditer(code):
        arg = m.group(1)
        if arg.startswith('"'):
            conf.add(arg.strip('"'))
        else:
            vals = [v for v in VAL_RE.finditer(code, 0, m.start())
                    if v.group(1) == arg.split(".")[-1]]
            conf.add(vals[-1].group(2) if vals else arg)
    return count_params(strip_comments(text, blank_strings=True)), env, conf


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    paths = argv or ["src/main/scala"]
    params, env, conf = 0, set(), set()
    print(f"{'params':>6} {'env':>4} {'conf':>4} {'sum':>5}  file")
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            p, e, c = knobs(fh.read())
        params += p
        env |= e
        conf |= c
        print(f"{p:6d} {len(e):4d} {len(c):4d} {p + len(e) + len(c):5d}  {f}")
    print(f"{params:6d} {len(env):4d} {len(conf):4d} "
          f"{params + len(env) + len(conf):5d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
