"""Every script compiles and imports only names the package still has.

Scripts are not imported by the suite, so a deleted or renamed helper
used to surface only when someone next ran the script. This checks each
``scripts/*.py`` and the subprocess code templates inside it (module
string constants such as RUNNER/PREPARE/EXECUTOR, compiled after their
placeholders are filled), then resolves every
``from gossiphs_spark... import name`` against the package."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


class _Placeholders(dict):
    """format_map filler: every ``{field}`` becomes a literal ``1``."""

    def __missing__(self, key):
        return 1


def _templates(tree: ast.Module) -> dict[str, str]:
    out = {}
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
                and "gossiphs_spark" in node.value.value
                and "import" in node.value.value):
            out[node.targets[0].id] = node.value.value
    return out


def _compiled(path: str) -> list[tuple[str, ast.AST]]:
    """(label, AST) for the script and each of its code templates."""
    src = open(path).read()
    compile(src, path, "exec")
    tree = ast.parse(src, path)
    units = [(os.path.basename(path), tree)]
    for name, tpl in _templates(tree).items():
        code = tpl.format_map(_Placeholders())
        label = f"{os.path.basename(path)}:{name}"
        compile(code, label, "exec")
        units.append((label, ast.parse(code, label)))
    return units


def test_scripts_found():
    assert any(p.endswith("scaling_bench.py") for p in SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(path):
    missing = []
    for label, tree in _compiled(path):
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "gossiphs_spark"):
                continue
            try:
                mod = importlib.import_module(node.module)
            except ImportError:
                missing.append(f"{label}: {node.module}")
                continue
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(f"{label}: {node.module}.{alias.name}")
    assert not missing, missing


def test_templates_are_checked():
    """The template scan sees the subprocess bodies it exists for."""
    labels = {label for p in SCRIPTS for label, _ in _compiled(p)}
    assert {"ab_bench.py:RUNNER", "scaling_bench.py:PREPARE",
            "scaling_bench.py:EXECUTOR"} <= labels
