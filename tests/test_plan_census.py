"""scripts/plan_census.py takes the same query names as check_oracle.py
(full ``queries()`` keys or ``qNN`` prefixes) and rejects a name that
selects no query before it starts Spark."""

import importlib.util
import pathlib
import subprocess
import sys

SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


def test_imports_without_reading_argv(monkeypatch):
    monkeypatch.syspath_prepend(str(SCRIPTS))
    monkeypatch.setattr(sys, "argv", ["plan_census.py", "q9999"])
    spec = importlib.util.spec_from_file_location(
        "plan_census", SCRIPTS / "plan_census.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.resolve_names is sys.modules["check_oracle"].resolve_names
    assert not hasattr(mod, "SF") and not hasattr(mod, "ONLY")


def test_unknown_name_exits_nonzero_before_spark(tmp_path):
    out = subprocess.run(
        [sys.executable, str(SCRIPTS / "plan_census.py"), str(tmp_path),
         "q02", "q9999", "zone_pip"],
        capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "q9999" in out.stderr and "zone_pip" in out.stderr
    assert "q02" not in out.stderr
    assert "census:" not in out.stdout
