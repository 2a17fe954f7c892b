"""Dead-code guard: every top-level ``def`` and ``class`` in the package is
referenced, by word, outside its own definition somewhere in the package,
the tests, the benchmark, the scripts or the entry points.  A function
that nothing calls is deleted, not kept "for later".  Spark-free."""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pytorch_bert_bilstm_crf_ner_spark"
SEARCHED = [f"{d}/**/*.py" for d in (PACKAGE, "tests", "perfbench", "scripts")] + [
    "bench.py", "bench_extra.py", "__spark_entry__.py"]


def test_every_top_level_definition_is_referenced():
    sources = {}
    for pattern in SEARCHED:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            with open(path, encoding="utf-8") as fh:
                sources[os.path.relpath(path, REPO)] = fh.read().splitlines()
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
    assert len(sources) > 50  # the globs found the code
    assert unused == [], "nothing references:\n" + "\n".join(unused)
