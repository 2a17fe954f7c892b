"""Dead-code guards, over the package, the tests, the benchmark, the
scripts and the entry points.  Spark-free.

- Every top-level ``def``, ``class`` and module constant in the package is
  reached from an entry point.  The roots are every name the entry files
  (`scripts/`, `perfbench/`, `bench.py`, `__spark_entry__.py`) use, plus
  `ROOTS`, the public surface no entry file calls, each with its reason.
  From a reached definition the walk follows every name its code uses: a
  name, an attribute, or a string that is a bare identifier
  (``setattr(mod, "NAME", ...)``), resolved by bare name.  Tests are never
  roots, and an import line or an ``__all__`` string reaches nothing;
  comments and docstrings do not count.  A function that only a test
  calls is deleted, or moved into the tests when it is their reference.
- Every defaulted parameter of a top-level package function is a knob the
  product uses.  Only calls in the package and the entry files count,
  never a test's: some call passes it a pass-through (an expression that
  is not a literal, a package constant or the default's own spelling) or
  a splat, or the calls use two constant values, where a module constant
  is its literal value and a call that omits the parameter uses the
  default.  Any other default is a constant: the body reads a module
  constant instead, an operator and its twin read the same one, and a
  test that needs another value monkeypatches it.
- Every field of a package dataclass is set, by some call to its class in
  the package or the entry files (never a test's), to an expression other
  than its default.  A ``**`` splat sets nothing: the one splat, in
  `core/checkpoint.py`, rebuilds a config from the JSON that `save_tagger`
  wrote from a config.  A field that no caller sets is a module constant,
  or it is deleted, unless `UNSET_FIELDS_KEPT` names it with its reason.
- Both call-reading guards resolve ``f(...)`` through the calling module's
  own definitions and ``from … import`` lines, so two functions that share
  a name are judged by their own calls; ``x.f(...)`` counts for every
  function named ``f``."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pytorch_bert_bilstm_crf_ner_spark"
SEARCHED = [f"{d}/**/*.py" for d in (PACKAGE, "tests", "perfbench", "scripts")] + [
    "bench.py", "__spark_entry__.py"]
ENTRY_FILES = ("scripts" + os.sep, "perfbench" + os.sep, "bench.py", "__spark_entry__.py")
# Package names no entry file uses that stay: name -> why.  `perfbench/`
# is an entry file set, which is what keeps the relation views and
# `canonicalize_mentions` reached until its layer sweep
# (`perfbench/workloads.py::kg_layers`) is re-pointed at `run_pipeline`.
ROOTS = {
    "run_pipeline": "the pipeline as a library call (scripts/run_pipeline.py wraps it)",
    "PipelineConfig": "run_pipeline's config, built by library callers",
    "evaluate_extractor": "E2: the reference's dev/test evaluation as one Spark job",
    "classification_report": "E2: the reference's per-type P/R/F1 report",
    "triple_metrics": "the north rule's triple P/R >= 0.95 measure",
    "read_mid_data": "the one corpus format evaluate_extractor takes",
    "save_tagger": "writes the checkpoint PipelineConfig.checkpoint_dir reads",
    "stream_kg": "streaming: transcripts in, the batch's mentions and triples out",
    "read_stream_triples": "streaming: the triples stream_kg wrote, as the batch reads them",
    "stream_neardup_simhash": "streaming: near-dup pairs per micro-batch",
    "stream_dedup_exact": "streaming: exact dedup with a watermark",
    "windowed_entity_counts": "streaming: windowed entity-mention counts",
}
# Config fields no product call sets that stay: "Class.field" -> why.
UNSET_FIELDS_KEPT = {
    "PipelineConfig.tagger": "the benchmark's layer sweep "
                             "(`perfbench/workloads.py::kg_layers`) reads it",
    "PipelineConfig.relations": "the benchmark's layer sweep passes it to the relation views",
    "PipelineConfig.broadcast_dict": "the benchmark's layer sweep passes it to link_mentions",
    "PipelineConfig.checkpoint_dir": "deployment path: the trained weights to serve",
    "TaggerConfig.scheme": "north star: BIO/BIOES label schemes",
    "TaggerConfig.feature_layer": "north star: BiLSTM encoding",
}


def _trees() -> dict[str, ast.Module]:
    trees = {}
    for pattern in SEARCHED:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            with open(path, encoding="utf-8") as fh:
                trees[os.path.relpath(path, REPO)] = ast.parse(fh.read())
    assert len(trees) > 50  # the globs found the code
    return trees


def _product_trees() -> dict[str, ast.Module]:
    """The package and the entry files: the code whose calls count."""
    return {path: tree for path, tree in _trees().items()
            if path.startswith((PACKAGE + os.sep,) + ENTRY_FILES)}


def _references(tree: ast.AST):
    """(name, line) for every name the code under ``tree`` uses: a
    ``Name``, an attribute, or a string constant that is a bare
    identifier; docstrings and other bare-string statements are prose.
    An import uses nothing: the name it binds is used where it is read."""
    prose = {id(node.value) for node in ast.walk(tree)
             if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in prose):
            yield node.value, node.lineno


def _definitions(tree: ast.Module):
    """(name, first line, last line, node) of every top-level def, class
    and non-dunder constant, decorators included."""
    for node in tree.body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, first, node.end_lineno, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name) and not name.id.startswith("__"):
                        yield name.id, first, node.end_lineno, node


def test_every_definition_is_reached_from_an_entry_point():
    trees = _trees()
    defs: dict[str, list] = {}  # name -> [(path, first, last, node)]
    for path, tree in trees.items():
        if path.startswith(PACKAGE + os.sep):
            for name, first, last, node in _definitions(tree):
                defs.setdefault(name, []).append((path, first, last, node))
    missing = sorted(set(ROOTS) - set(defs))
    assert missing == [], f"ROOTS names no definition: {missing}"
    assert all(ROOTS.values())  # every root says why
    todo = set(ROOTS)
    for path, tree in trees.items():
        if path.startswith(ENTRY_FILES):
            todo.update(name for name, _ in _references(tree))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _, _, _, node in defs[name]:
            todo.update(used for used, _ in _references(node))
    unreached = sorted((path, first, last, name) for name, sites in defs.items()
                       if name not in reached for path, first, last, _ in sites)
    assert unreached == [], (
        f"{len(unreached)} definitions, {sum(l - f + 1 for _, f, l, _ in unreached)} "
        "lines, that no entry point reaches:\n" + "\n".join(
            f"{path}:{first}-{last} {name} ({last - first + 1})"
            for path, first, last, name in unreached))


def _module(path: str) -> str:
    """``a/b/c.py`` -> ``a.b.c``; a package's ``__init__.py`` is the package."""
    module = path[: -len(".py")].replace(os.sep, ".")
    return module[: -len(".__init__")] if module.endswith(".__init__") else module


def _imports(path: str, tree: ast.Module) -> dict[str, set[tuple[str, str]]]:
    """Name -> the (module, name) pairs the module's ``from … import``
    lines bind it to, at any depth, relative ones resolved against the
    module's own package."""
    package = _module(path) if path.endswith("__init__.py") else _module(path).rpartition(".")[0]
    bound: dict[str, set[tuple[str, str]]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            source = node.module or ""
            if node.level:
                base = package
                for _ in range(node.level - 1):
                    base = base.rpartition(".")[0]
                source = ".".join(filter(None, (base, node.module)))
            for alias in node.names:
                bound.setdefault(alias.asname or alias.name, set()).add((source, alias.name))
    return bound


def _calls(trees: dict[str, ast.Module]) -> dict[tuple[str | None, str], list[ast.Call]]:
    """(module, name) of the callee -> its calls.  ``f(...)`` resolves
    through the calling module's own top-level definitions and its
    ``from … import`` lines (a re-export is followed to the defining
    module); ``x.f(...)`` names no module and is keyed ``(None, "f")``,
    so it counts for every function named ``f``."""
    imports = {_module(path): _imports(path, tree) for path, tree in trees.items()}
    defined = {(_module(path), name) for path, tree in trees.items()
               for name, *_ in _definitions(tree)}

    def resolve(key: tuple[str, str]) -> set[tuple[str, str]]:
        module, name = key
        if key in defined or name not in imports.get(module, {}):
            return {key}
        return set().union(*(resolve(k) for k in imports[module][name]))

    calls: dict[tuple[str | None, str], list[ast.Call]] = {}
    for path, tree in trees.items():
        module = _module(path)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            if isinstance(call.func, ast.Attribute):
                keys = {(None, call.func.attr)}
            elif isinstance(call.func, ast.Name):
                keys = resolve((module, call.func.id))
            else:
                keys = set()
            for key in keys:
                calls.setdefault(key, []).append(call)
    return calls


def _calls_to(calls, path: str, name: str) -> list[ast.Call]:
    """The calls of the top-level ``name`` defined in ``path``."""
    return calls.get((_module(path), name), []) + calls.get((None, name), [])


def _overrides(call: ast.Call, i: int | None, arg: str, default: ast.expr) -> bool:
    """Whether ``call`` passes ``arg`` (position ``i``) something other
    than ``default``: the same literal or the same name passes nothing
    new, and neither does a ``*args`` or ``**kwargs`` splat."""
    given = [k.value for k in call.keywords if k.arg == arg]
    if i is not None:
        if any(isinstance(a, ast.Starred) for a in call.args[: i + 1]):
            return False
        given += call.args[i : i + 1]
    return any(ast.dump(g) != ast.dump(default) for g in given)


def _constants(trees: dict[str, ast.Module]) -> dict[str, str]:
    """Module constant name -> its literal value (as ``repr``), for every
    package constant bound to one literal; a name bound to two values
    resolves to neither."""
    values: dict[str, set[str]] = {}
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            target = node.targets[0] if isinstance(node, ast.Assign) and len(
                node.targets) == 1 else getattr(node, "target", None)
            if isinstance(target, ast.Name) and node.value is not None:
                try:
                    value = repr(ast.literal_eval(node.value))
                except ValueError:
                    continue
                values.setdefault(target.id, set()).add(value)
    return {name: v for name, (v, *more) in values.items() if not more}


def _value(expr: ast.expr, default: ast.expr, constants: dict[str, str]) -> str | None:
    """``expr`` as a constant: its literal value, the value of the module
    constant it names, or, for the default's own spelling, that spelling.
    None for anything else: a pass-through, whose own source is checked
    where it is a parameter."""
    try:
        return repr(ast.literal_eval(expr))
    except ValueError:
        pass
    name = getattr(expr, "id", None) or getattr(expr, "attr", None)
    if isinstance(expr, (ast.Name, ast.Attribute)) and name in constants:
        return constants[name]
    if ast.dump(expr) == ast.dump(default):
        return ast.dump(default)
    return None


def _is_knob(calls: list[ast.Call], i: int | None, arg: str, default: ast.expr,
             constants: dict[str, str]) -> bool:
    """Whether the calls use the parameter as a knob: some call passes it a
    pass-through or a splat, or the calls use two constant values (a call
    that omits it uses the default)."""
    used = set()
    for call in calls:
        if any(k.arg is None for k in call.keywords):
            return True
        given = [k.value for k in call.keywords if k.arg == arg]
        if i is not None:
            if any(isinstance(a, ast.Starred) for a in call.args[: i + 1]):
                return True  # *args covers every position from there on
            given += call.args[i : i + 1]
        for expr in given or [default]:
            value = _value(expr, default, constants)
            if value is None:
                return True
            used.add(value)
    return len(used) > 1


def test_every_default_is_passed_somewhere():
    """Every defaulted parameter of a top-level package function is a knob
    that the product uses: calls in the package and the entry files, never
    in the tests, pass it two constant values or a pass-through."""
    trees = _product_trees()
    calls, constants = _calls(trees), _constants(trees)
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
                if not _is_knob(_calls_to(calls, path, node.name), i, arg, default, constants):
                    dead.append((f"{node.name}.{arg}", f"{path}:{node.lineno}"))
    assert n_knobs > 30  # the walk found the defaults
    dead = [f"{where} {name}" for name, where in dead]
    assert dead == [], (f"{len(dead)} of {n_knobs} defaults the product uses at "
                        "one value:\n" + "\n".join(dead))


def _field_default(value: ast.expr) -> ast.expr:
    """A dataclass field's default as a caller would pass it:
    ``field(default_factory=F)`` is ``F()``."""
    if isinstance(value, ast.Call) and getattr(value.func, "id", None) == "field":
        (factory,) = [k.value for k in value.keywords if k.arg == "default_factory"]
        return ast.Call(func=factory, args=[], keywords=[])
    return value


def test_every_config_field_is_set_somewhere():
    """Every field of a package dataclass is set, by some call in the
    package or the entry files (never a test's), to an expression other
    than its default, bar the `UNSET_FIELDS_KEPT` entries."""
    trees = _product_trees()
    calls = _calls(trees)
    n_fields, dead = 0, []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if not (isinstance(node, ast.ClassDef) and any(
                    "dataclass" in ast.dump(d) for d in node.decorator_list)):
                continue
            fields = [f for f in node.body
                      if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)]
            for i, f in enumerate(fields):
                n_fields += 1
                name = f"{node.name}.{f.target.id}"
                if f.value is None:
                    continue  # a field with no default is set by every call
                default = _field_default(f.value)
                if not any(_overrides(call, i, f.target.id, default)
                           for call in _calls_to(calls, path, node.name)):
                    dead.append((name, f"{path}:{f.lineno}"))
    assert n_fields > 5  # the walk found the configs
    kept = {name for name, _ in dead} & set(UNSET_FIELDS_KEPT)
    stale = sorted(set(UNSET_FIELDS_KEPT) - kept)
    assert stale == [], f"UNSET_FIELDS_KEPT names a field some call sets: {stale}"
    assert all(UNSET_FIELDS_KEPT.values())  # every kept field says why
    dead = [f"{where} {name}" for name, where in dead if name not in kept]
    assert dead == [], (f"{len(dead)} of {n_fields} config fields no product call sets:\n"
                        + "\n".join(dead))
