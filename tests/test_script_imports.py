"""Every name a ``scripts/*.py`` file takes from the package resolves.

The rehearsal scripts run for minutes and reach most of their package
imports only inside functions behind argv flags, so a helper deleted
from ``chainweb_data_spark`` would otherwise surface as an ImportError
deep into a run.  Parsed with ``ast``, nothing is executed: every
``from chainweb_data_spark... import name`` (at any scope) and every
``alias.attr`` read off a package module bound to an alias must exist.
"""

import ast
import importlib
import importlib.util
import pathlib
import sys

import pytest

PKG = "chainweb_data_spark"
SCRIPTS = sorted(
    (pathlib.Path(__file__).resolve().parents[1] / "scripts").glob("*.py")
)


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ImportError:
        return False


def _refs(path: pathlib.Path) -> list[tuple[int, str, str]]:
    """``(line, module, name)`` for each package name the script uses."""
    tree = ast.parse(path.read_text(), filename=str(path))
    refs: list[tuple[int, str, str]] = []
    aliases: dict[str, str] = {}  # local name -> package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod != PKG and not mod.startswith(PKG + "."):
                continue
            for a in node.names:
                refs.append((node.lineno, mod, a.name))
                if _is_module(f"{mod}.{a.name}"):
                    aliases[a.asname or a.name] = f"{mod}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG + ".") and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            refs.append((node.lineno, aliases[node.value.id], node.attr))
    return refs


def test_scripts_exist_and_shadow_no_stdlib_module():
    # ``python scripts/x.py`` puts scripts/ first on sys.path, so a
    # script named like a stdlib module (profile.py: cProfile, which
    # pyspark imports, loads ``profile``) breaks every other script
    assert SCRIPTS, "no scripts/*.py found"
    shadowing = [p.name for p in SCRIPTS if p.stem in sys.stdlib_module_names]
    assert not shadowing, shadowing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_package_names_used_by_script_exist(path):
    missing = []
    for line, mod, name in _refs(path):
        if hasattr(importlib.import_module(mod), name):
            continue
        if _is_module(f"{mod}.{name}"):
            continue
        missing.append(f"{path.name}:{line}: {mod}.{name}")
    assert not missing, "scripts use names the package no longer has:\n" + (
        "\n".join(missing)
    )
