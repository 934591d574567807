"""Every defaulted parameter of a package function is passed by some
call: a value that no caller sets is a constant, not an option.  The
scan reads every call in the package, tests/, tools/, perfbench/,
examples/, bench.py and __spark_entry__.py with `ast`.

A function is checked only when every reference to its name in those
files is a direct call without *args or **kwargs; a name handed around
as an object (a registry entry, a wrapped target, a callback) may be
called with anything, so it is skipped.  A class name counts as a call
of its __init__; a method call through an attribute passes its first
positional argument after self.  Names are matched without resolving
imports, so two package functions that share a name share their calls:
the scan can miss an unpassed parameter, never invent one."""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "semantic_query_engine_spark"
CALLER_ROOTS = (
    PACKAGE, "tests", "tools", "perfbench", "examples", "bench.py", "__spark_entry__.py"
)

# (module, qualname, parameter): why it stays with no caller passing it
ALLOWED = {
    ("api.py", "SemanticQueryEngine.ask", "top_k"): "the reference's request surface",
    ("api.py", "SemanticQueryEngine.ask_stream", "top_k"): "the reference's request surface",
    ("plans/rag.py", "rag_ask", "top_k"): "the reference's request surface",
    ("plans/index_build.py", "write_index", "mode"): "appending uploads (ROADMAP direction 5)",
}


def _python_files(rel: str):
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        yield rel
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.relpath(os.path.join(d, f), REPO)


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for root in CALLER_ROOTS:
        for rel in _python_files(root):
            with open(os.path.join(REPO, rel), encoding="utf-8") as f:
                trees[rel] = ast.parse(f.read(), rel)
    return trees


def _package_defs(trees):
    """(module, qualname, called name, def node, kind) for every
    function and method in the package, kind one of "function",
    "method" and "init"; a class's __init__ is entered under the class
    name, called without self."""
    out = []

    def visit(module, body, prefix):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = prefix + node.name
                if node.name == "__init__":
                    out.append((module, qual, prefix[:-1].rsplit(".", 1)[-1], node, "init"))
                else:
                    out.append((module, qual, node.name, node, "method" if prefix else "function"))
                visit(module, node.body, qual + ".<locals>.")
            elif isinstance(node, ast.ClassDef):
                visit(module, node.body, prefix + node.name + ".")

    for rel, tree in trees.items():
        if rel.startswith(PACKAGE + os.sep):
            visit(os.path.relpath(rel, PACKAGE), tree.body, "")
    return out


def _calls(trees, names):
    """Per name: (positional count, keyword names, called through an
    attribute) of each direct call, and the set of names referenced
    any other way."""
    calls, escaped = defaultdict(list), set()
    for tree in trees.values():
        # a name the file binds itself (`import ask`, `ask = ...`, a
        # parameter) is not the package function of that name
        local = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                local.update(a.asname or a.name.split(".")[0] for a in n.names)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                local.add(n.id)
            elif isinstance(n, ast.arg):
                local.add(n.arg)
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in names and node.id not in local:
                name, via_attr = node.id, False
            elif isinstance(node, ast.Attribute) and node.attr in names:
                name, via_attr = node.attr, True
            else:
                continue
            call = parent.get(node)
            if not (isinstance(call, ast.Call) and call.func is node):
                escaped.add(name)
            elif any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                escaped.add(name)
            else:
                calls[name].append((len(call.args), {k.arg for k in call.keywords}, via_attr))
    return calls, escaped


def _defaulted(node):
    args = node.args
    positional = args.posonlyargs + args.args
    defaulted = positional[len(positional) - len(args.defaults):] if args.defaults else []
    keyword_only = [a for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return positional, defaulted + keyword_only


def never_passed() -> list[tuple[str, str, str]]:
    trees = _trees()
    defs = _package_defs(trees)
    calls, escaped = _calls(trees, {d[2] for d in defs})
    out = []
    for module, qual, name, node, kind in defs:
        if name in escaped:
            continue
        positional, defaulted = _defaulted(node)
        for param in defaulted:
            index = positional.index(param) if param in positional else None
            for n_pos, keywords, via_attr in calls[name]:
                # self is bound by an attribute call or by the constructor
                bound = kind == "init" or (kind == "method" and via_attr)
                if param.arg in keywords or (index is not None and n_pos > index - bound):
                    break
            else:
                out.append((module, qual, param.arg))
    return out


def test_every_defaulted_parameter_has_a_caller():
    unpassed = [p for p in never_passed() if p not in ALLOWED]
    assert not unpassed, (
        "defaulted parameters that no call passes; make each a constant: "
        + ", ".join(f"{m}:{q}({a})" for m, q, a in unpassed)
    )


def test_allowed_parameters_still_exist():
    defs = {(m, q): node for m, q, _, node, _ in _package_defs(_trees())}
    for module, qual, param in ALLOWED:
        assert (module, qual) in defs, (module, qual)
        _, defaulted = _defaulted(defs[module, qual])
        assert param in {a.arg for a in defaulted}, (module, qual, param)
