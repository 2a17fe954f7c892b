"""Dead-code guards, over the package, the tests, the benchmark, the
scripts and the entry points.  Spark-free.

- Every top-level ``def`` and ``class`` in the package is referenced, by
  word, outside its own definition.  A function that nothing calls is
  deleted, not kept "for later".
- Every defaulted parameter of a top-level package function is passed by
  some call.  A default that no caller overrides is a constant: the body
  reads a module constant instead, and an operator and its twin read the
  same one."""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pytorch_bert_bilstm_crf_ner_spark"
SEARCHED = [f"{d}/**/*.py" for d in (PACKAGE, "tests", "perfbench", "scripts")] + [
    "bench.py", "bench_extra.py", "__spark_entry__.py"]


def _sources() -> dict[str, str]:
    sources = {}
    for pattern in SEARCHED:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            with open(path, encoding="utf-8") as fh:
                sources[os.path.relpath(path, REPO)] = fh.read()
    assert len(sources) > 50  # the globs found the code
    return sources


def test_every_top_level_definition_is_referenced():
    sources = {path: text.splitlines() for path, text in _sources().items()}
    unused = []
    for path, lines in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            # the definition's own lines, decorators included (0-based)
            own = range(min([node.lineno] + [d.lineno for d in node.decorator_list]) - 1,
                        node.end_lineno)
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(word.search(line)
                       for other, text in sources.items()
                       for i, line in enumerate(text)
                       if not (other == path and i in own)):
                unused.append(f"{path}:{node.lineno} {node.name}")
    assert unused == [], "nothing references:\n" + "\n".join(unused)


def test_every_default_is_passed_somewhere():
    trees = {path: ast.parse(text) for path, text in _sources().items()}
    # callee name -> [positional arguments passed, keyword names passed];
    # a callee is resolved by bare name (``f(...)`` and ``x.f(...)``), so a
    # name shared by two functions keeps the knobs of both; ``*args``
    # passes every position and ``**kwargs`` every name (keyword None)
    passed: dict[str, list] = {}
    for tree in trees.values():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            if name is None:
                continue
            seen = passed.setdefault(name, [0, set()])
            n_pos = (float("inf") if any(isinstance(a, ast.Starred) for a in call.args)
                     else len(call.args))
            seen[0] = max(seen[0], n_pos)
            seen[1].update(k.arg for k in call.keywords)
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
            knobs = [(i, a.arg) for i, a in enumerate(positional) if i >= first]
            knobs += [(None, a.arg) for a, d in zip(args.kwonlyargs, args.kw_defaults)
                      if d is not None]
            n_pos, names = passed.get(node.name, (0, set()))
            for i, arg in knobs:
                n_knobs += 1
                if not (None in names or arg in names or (i is not None and i < n_pos)):
                    dead.append(f"{path}:{node.lineno} {node.name}.{arg}")
    assert n_knobs > 50  # the walk found the defaults
    assert dead == [], (f"{len(dead)} of {n_knobs} defaults no call passes:\n"
                        + "\n".join(dead))
