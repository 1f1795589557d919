"""One bounded probe: outside ``runtime.py`` no package module chains
``.limit(...)`` straight into an action, so every guard that decides
whether to finish in the driver reads through ``runtime.probe_arrow``.

Allowed without a name: a limit on an ``orderBy``/``sort`` (a top-k,
planned as TakeOrderedAndProject, not a CollectLimit). Exempt by module
and function: the four first-N samples, which are not guards."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "duckdb_spatial_spark"
ACTIONS = {"collect", "count", "toArrow", "toPandas"}
SAMPLES = {
    ("operators/join.py", "_sample_cell_size"),
    ("operators/pq.py", "train_pq"),
    ("operators/similarity.py", "train_ivf_centroids"),
    ("sources/gml.py", "st_read_gml"),
}


def _method(node, names):
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in names)


def _limit_actions(tree):
    """(function, line) of each ``<x>.limit(..).<action>()`` whose ``x``
    is not an ``orderBy``/``sort`` call."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if _method(node, ACTIONS):
            lim = node.func.value
            if (_method(lim, {"limit"})
                    and not _method(lim.func.value, {"orderBy", "sort"})):
                found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_hand_rolled_limit_probe():
    bad = []
    seen = set()
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel == "runtime.py":
            continue
        for func, line in _limit_actions(ast.parse(p.read_text())):
            if (rel, func) in SAMPLES:
                seen.add((rel, func))
            else:
                bad.append(f"{rel}:{line} ({func})")
    assert bad == []
    # an exemption whose sample is gone must go too
    assert seen == SAMPLES


def test_no_second_probe_mechanism():
    hits = [f"{p.relative_to(ROOT)}: {word}"
            for p in sorted(PKG.rglob("*.py"))
            for word in ("probe_limit_collect",
                         "spark.sql.limit.initialNumPartitions")
            if word in p.read_text()]
    assert hits == []


def test_no_arrow_to_row_conversion():
    """The broadcast joins keep the probed table in Arrow from probe to
    output: no module converts it to ``Row``s."""
    hits = [str(p.relative_to(ROOT)) for p in sorted(PKG.rglob("*.py"))
            if "ArrowTableToRowsConversion" in p.read_text()]
    assert hits == []


def test_join_emits_in_arrow_without_collect():
    """``operators/join.py`` has no ``mapInPandas`` and no ``collect``
    outside the cell-size sample: its build sides come from the bounded
    probe and its matches leave through ``mapInArrow``."""
    bad = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) and (
                node.attr == "mapInPandas"
                or (node.attr == "collect" and func != "_sample_cell_size")):
            bad.append(f"{node.lineno}: {node.attr} ({func})")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse((PKG / "operators" / "join.py").read_text()), None)
    assert bad == []
