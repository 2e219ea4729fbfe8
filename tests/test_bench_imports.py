"""Every name the bench tooling imports from the package or from tools/
resolves. bench.py imports its scale helpers lazily inside budget-gated
branches, so a moved name would otherwise fail only deep into a bench
run."""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py"), *sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))]


def _from_imports(path):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.level == 0 and node.module
                and node.module.split(".")[0] in ("big_data_elt_pipeline_spark", "tools")):
            for alias in node.names:
                yield node.module, alias.name


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_bench_tooling_imports_resolve(path):
    for module, name in _from_imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):  # a submodule: ``from pkg import mod``
            importlib.import_module(f"{module}.{name}")
        assert hasattr(mod, name), f"{os.path.basename(path)}: {module}.{name}"
