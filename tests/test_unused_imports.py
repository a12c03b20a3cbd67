"""Every imported name is used in the scope that imports it.

Walks ``__spark_entry__.py``, ``bench.py`` and the package with stdlib
``ast`` (no Spark, no linter dependency). An import binds a name in its
scope: the module, or the function or class whose body holds it. The
name counts as used when any load of it appears inside that scope's
subtree, nested functions included, or when ``__all__`` lists it. Text in
docstrings and comments does not count. An import whose lines carry
``# noqa: F401`` is exempt: that marks an import made for its side
effect, such as probing whether an optional codec is installed.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "text_sentiment_classification_hadoop_spark_spark"

_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources():
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / PACKAGE).rglob("*.py"))


def _own_imports(scope):
    """Import statements whose names bind in ``scope`` itself, not in a
    function or class nested inside it."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif not isinstance(node, _SCOPES + (ast.Lambda,)):
            todo.extend(ast.iter_child_nodes(node))


def _bound_names(node):
    if isinstance(node, ast.ImportFrom) and node.module == "__future__":
        return
    for alias in node.names:
        if alias.name == "*":
            continue
        yield alias.asname or alias.name.split(".")[0]


def _used_names(scope):
    used = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)
              and isinstance(node.value, (ast.List, ast.Tuple))):
            used.update(e.value for e in node.value.elts
                        if isinstance(e, ast.Constant))
    return used


def unused_imports(path: Path):
    """``(line, name, scope)`` for each imported name its scope never uses."""
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text, str(path))
    out = []
    for scope in ast.walk(tree):
        if not isinstance(scope, _SCOPES):
            continue
        imports = [imp for imp in _own_imports(scope)
                   if not any("noqa: F401" in lines[i - 1]
                              for i in range(imp.lineno, imp.end_lineno + 1))]
        if not imports:
            continue
        used = _used_names(scope)
        for imp in imports:
            for name in _bound_names(imp):
                if name not in used:
                    out.append((imp.lineno, name, getattr(scope, "name", "<module>")))
    return sorted(out)


def test_no_unused_imports():
    found = [f"{p.relative_to(ROOT)}:{line}: {name} (in {scope})"
             for p in _sources() for line, name, scope in unused_imports(p)]
    assert found == [], "unused imports:\n" + "\n".join(found)


def test_scan_sees_function_scopes_and_noqa(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\n"
        "import av  # noqa: F401\n"
        "from pyspark.sql import functions as F\n"
        "def f():\n"
        "    import sys\n"
        "    from json import dumps\n"
        "    def g():\n"
        "        return dumps\n"
        "    return os.sep, g\n"
        "def h():\n"
        "    '''F is named here only.'''\n")
    assert unused_imports(src) == [(3, "F", "<module>"), (5, "sys", "f")]
