"""Tooling checks for scripts/: every script compiles and its imports
resolve, the plan dumper fails loudly, and the plan-hash differ keeps
unfingerprinted plans apart from unchanged ones."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO_ROOT, "scripts")
SCRIPT_FILES = sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))
SMOKE_SF = "/root/testdata/sf0.001"


def _top_level_names(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _parse(fname: str) -> ast.Module:
    path = os.path.join(SCRIPTS, fname)
    with open(path) as f:
        return ast.parse(f.read(), path)


@pytest.mark.parametrize("fname", SCRIPT_FILES)
def test_script_compiles_and_imports_resolve(fname):
    path = os.path.join(SCRIPTS, fname)
    with open(path) as f:
        compile(f.read(), path, "exec")
    tree = _parse(fname)
    # optional dependencies: imports under `try: ... except ImportError`
    optional = {
        id(n)
        for t in ast.walk(tree)
        if isinstance(t, ast.Try)
        and any(
            isinstance(h.type, ast.Name)
            and h.type.id in ("ImportError", "ModuleNotFoundError")
            for h in t.handlers
        )
        for stmt in t.body
        for n in ast.walk(stmt)
    }
    unresolved = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imports = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            imports = [(node.module, [a.name for a in node.names])]
        else:
            continue
        for module, members in imports:
            top = module.split(".")[0]
            if f"{top}.py" in SCRIPT_FILES:
                if members and module == top:
                    missing = set(members) - _top_level_names(_parse(f"{top}.py"))
                    unresolved += [f"{module}.{m}" for m in sorted(missing)]
            elif id(node) not in optional and importlib.util.find_spec(top) is None:
                unresolved.append(module)
    assert not unresolved, f"{fname}: unresolved imports {unresolved}"


def _dump_plans(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    return subprocess.run(
        [sys.executable, os.path.join(SCRIPTS, "dump_plans.py"), *args],
        capture_output=True, text=True, env=env, timeout=600,
    )


def test_dump_plans_unknown_name_exits_1_before_spark(tmp_path):
    out = tmp_path / "plans"
    r = _dump_plans(SMOKE_SF, str(out), "x", "q1_pricing_summary", "no_such_query")
    assert r.returncode == 1
    assert "no_such_query" in r.stderr
    # names are checked before the output dir is made or Spark is started
    assert not out.exists()
    assert "SparkContext" not in r.stderr


@pytest.mark.skipif(not os.path.isdir(SMOKE_SF), reason=f"{SMOKE_SF} missing")
def test_dump_plans_plain_mode(tmp_path):
    r = _dump_plans(SMOKE_SF, str(tmp_path), "cur", "q1_pricing_summary")
    assert r.returncode == 0, r.stderr[-2000:]
    text = (tmp_path / "q1_pricing_summary_cur.txt").read_text()
    header, plan = text.split("\n", 1)
    assert header.startswith("# q1_pricing_summary") and "plan_hash=" in header
    assert "== Physical Plan ==" in plan


@pytest.mark.skipif(not os.path.isdir(SMOKE_SF), reason=f"{SMOKE_SF} missing")
def test_dump_plans_write_mode(tmp_path):
    r = _dump_plans(SMOKE_SF, str(tmp_path), "cur", "sink_gdpr_erasure", "--writes")
    assert r.returncode == 0, r.stderr[-2000:]
    files = sorted(p.name for p in tmp_path.iterdir())
    assert files and all(
        f.startswith("sink_gdpr_erasure_write") and f.endswith("_cur.txt")
        for f in files
    )
    assert "plan_hash=" in (tmp_path / files[0]).read_text().split("\n", 1)[0]


def _load_plan_hash_diff():
    spec = importlib.util.spec_from_file_location(
        "plan_hash_diff", os.path.join(SCRIPTS, "plan_hash_diff.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_hash_diff_reports_err_as_errored(tmp_path):
    prev, curr = tmp_path / "prev.json", tmp_path / "curr.json"
    prev.write_text(json.dumps({
        "plan_hash": {"both_err": "err", "now_err": "abc", "fixed": "err",
                      "same": "def", "moved": "111"},
        "queries": {},
    }))
    curr.write_text(json.dumps({
        "plan_hash": {"both_err": "err", "now_err": "err", "fixed": "abc",
                      "same": "def", "moved": "222"},
        "queries": {},
    }))
    report = _load_plan_hash_diff().diff(str(prev), str(curr))
    assert "unchanged: 1, changed: 1, errored: 3," in report
    errored = next(ln for ln in report.splitlines() if ln.startswith("- errored"))
    for q in ("both_err", "now_err", "fixed"):
        assert f"`{q}`" in errored
    changed = report.split("- changed", 1)[1]
    assert "`moved`" in changed and "`now_err`" not in changed
