"""Dead-code guards, over the package, the tests, the benchmark, the
scripts and the entry points.  Spark-free.

- Every top-level ``def``, ``class`` and module constant in the package is
  referenced in code outside its own definition: a name, an attribute, an
  import, or a string that is a bare identifier (``setattr(mod, "NAME",
  ...)``).  Comments and docstrings do not count.  A function that nothing
  calls is deleted, not kept "for later".
- Every defaulted parameter of a top-level package function is passed, by
  some call, an expression other than its own default.  A default that no
  caller overrides is a constant: the body reads a module constant
  instead, and an operator and its twin read the same one."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pytorch_bert_bilstm_crf_ner_spark"
SEARCHED = [f"{d}/**/*.py" for d in (PACKAGE, "tests", "perfbench", "scripts")] + [
    "bench.py", "bench_extra.py", "__spark_entry__.py"]


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for pattern in SEARCHED:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            with open(path, encoding="utf-8") as fh:
                trees[os.path.relpath(path, REPO)] = ast.parse(fh.read())
    assert len(trees) > 50  # the globs found the code
    return trees


def _references(tree: ast.Module):
    """(name, line) for every name the code uses: a ``Name``, an
    attribute, an imported name, or a string constant that is a bare
    identifier; docstrings and other bare-string statements are prose."""
    prose = {id(node.value) for node in ast.walk(tree)
             if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            for name in [*node.name.split("."), node.asname]:
                yield name, node.lineno
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in prose):
            yield node.value, node.lineno


def _definitions(tree: ast.Module):
    """(name, first line, last line) of every top-level def, class and
    non-dunder constant, decorators included."""
    for node in tree.body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, first, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name) and not name.id.startswith("__"):
                        yield name.id, first, node.end_lineno


def test_every_top_level_definition_is_referenced():
    trees = _trees()
    used: dict[str, list] = {}  # name -> [(path, line)]
    for path, tree in trees.items():
        for name, line in _references(tree):
            used.setdefault(name, []).append((path, line))
    unused = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for name, first, last in _definitions(tree):
            if all(other == path and first <= line <= last
                   for other, line in used.get(name, [])):
                unused.append(f"{path}:{first} {name}")
    assert unused == [], "nothing references:\n" + "\n".join(unused)


def test_every_default_is_passed_somewhere():
    trees = _trees()
    # callee name -> its calls; a callee is resolved by bare name
    # (``f(...)`` and ``x.f(...)``), so a name shared by two functions
    # keeps the knobs of both
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for call in ast.walk(tree):
            if isinstance(call, ast.Call):
                name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
                calls.setdefault(name, []).append(call)

    def overrides(call: ast.Call, i: int | None, arg: str, default: ast.expr) -> bool:
        # the same literal or the same name as the default passes nothing new
        if any(k.arg is None for k in call.keywords):
            return True  # **kwargs passes every name
        given = [k.value for k in call.keywords if k.arg == arg]
        if i is not None:
            if any(isinstance(a, ast.Starred) for a in call.args[: i + 1]):
                return True  # *args passes every position from there on
            given += call.args[i : i + 1]
        return any(ast.dump(g) != ast.dump(default) for g in given)

    n_knobs, dead = 0, []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = node.args
            positional = args.posonlyargs + args.args
            first = len(positional) - len(args.defaults)
            knobs = [(i, a.arg, d) for i, (a, d) in
                     enumerate(zip(positional[first:], args.defaults), first)]
            knobs += [(None, a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults)
                      if d is not None]
            for i, arg, default in knobs:
                n_knobs += 1
                if not any(overrides(call, i, arg, default)
                           for call in calls.get(node.name, [])):
                    dead.append(f"{path}:{node.lineno} {node.name}.{arg}")
    assert n_knobs > 50  # the walk found the defaults
    assert dead == [], (f"{len(dead)} of {n_knobs} defaults no call overrides:\n"
                        + "\n".join(dead))
