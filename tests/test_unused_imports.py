"""Every top-level import of the package's modules and of the driver entry
is used in its module. Package ``__init__.py`` files are exempt: their
imports are the package's re-exports."""

import ast
import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _names_used(tree):
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            # string annotations ("pa.Table") and __all__ entries
            try:
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")  # regex escapes
                    expr = ast.parse(node.value, mode="eval")
            except SyntaxError:
                continue
            used.update(n.id for n in ast.walk(expr)
                        if isinstance(n, ast.Name))
    return used


def _unused_imports(path):
    tree = ast.parse(path.read_text())
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[(a.asname or a.name).split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    used = _names_used(tree)
    return sorted(f"{name} (line {line})" for name, line in bound.items()
                  if name not in used)


def test_no_unused_top_level_imports():
    files = [p for p in sorted((ROOT / "duckdb_spatial_spark").rglob("*.py"))
             if p.name != "__init__.py"]
    files.append(ROOT / "__spark_entry__.py")
    unused = {str(p.relative_to(ROOT)): u for p in files
              if (u := _unused_imports(p))}
    assert unused == {}
