"""scripts/check_oracle.py resolves its query arguments before it starts
Spark: a full ``queries()`` key or its ``qNN`` prefix selects a query,
and an argument that selects none is an error, not a silent green."""

import importlib.util
import pathlib
import subprocess
import sys

SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" \
    / "check_oracle.py"
NAMES = ["q01_point_in_envelope", "q02_zone_pip_join", "q158_bfs_hops"]


def _resolve_names():
    spec = importlib.util.spec_from_file_location("check_oracle", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.resolve_names


def test_full_names_and_prefixes_resolve_in_query_order():
    resolve = _resolve_names()
    assert resolve(NAMES, ["q158", "q01_point_in_envelope"]) == (
        ["q01_point_in_envelope", "q158_bfs_hops"], [])
    assert resolve(NAMES, ["q02", "q02_zone_pip_join"]) == (
        ["q02_zone_pip_join"], [])


def test_no_arguments_select_every_query():
    assert _resolve_names()(NAMES, []) == (NAMES, [])


def test_unknown_names_are_reported():
    resolve = _resolve_names()
    assert resolve(NAMES, ["q15", "q158", "q02_zone", "bfs_hops"]) == (
        ["q158_bfs_hops"], ["q15", "q02_zone", "bfs_hops"])


def test_unknown_name_exits_nonzero_before_spark(tmp_path):
    out = subprocess.run(
        [sys.executable, str(SCRIPT), str(tmp_path), "q158", "q9999"],
        capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "q9999" in out.stderr and "q158" not in out.stderr
    assert "all green" not in out.stdout
