"""Every name the scripts import from `sourmash_spark` exists, and every
keyword they pass to a package function is one of its parameters.

The tools, jobs and bench scripts run outside the test suite, so a name
or option deleted from the package would only surface when someone next
runs the script.  This reads each script with `ast` (nothing is executed)
and resolves its `from sourmash_spark... import name` statements, plus
`alias.attr` uses of an imported package module, against the package;
each `f(kw=...)` call to a resolved function or class is checked against
`inspect.signature(f)`."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("jobs/*.py")]
    + [ROOT / n for n in ("bench.py", "__spark_entry__.py")]
)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    if importlib.util.find_spec(f"{module}.{name}") is not None:
        return importlib.import_module(f"{module}.{name}")
    return None


def _missing(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    missing, modules, names = [], {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level:
            if not (node.module or "").startswith("sourmash_spark"):
                continue
            for alias in node.names:
                obj = _resolve(node.module, alias.name)
                if obj is None:
                    missing.append(f"{node.module}.{alias.name}")
                elif isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
                else:
                    names[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("sourmash_spark"):
                    if importlib.util.find_spec(alias.name) is None:
                        missing.append(alias.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
        elif isinstance(node, ast.Call):
            missing += _unknown_keywords(node, modules, names)
    return missing


def _unknown_keywords(call: ast.Call, modules: dict, names: dict) -> list[str]:
    """`f(kw=)` for each keyword of `call` that the package callable `f`
    has no parameter for; [] when `f` is not a package callable or takes
    **kwargs."""
    f = call.func
    if isinstance(f, ast.Name):
        obj = names.get(f.id)
    elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        obj = getattr(modules.get(f.value.id), f.attr, None)
    else:
        return []
    try:
        params = inspect.signature(obj).parameters
    except (TypeError, ValueError):  # None, or no signature to read
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [
        f"{obj.__module__}.{obj.__qualname__}({kw.arg}=)"
        for kw in call.keywords
        if kw.arg is not None
        and (kw.arg not in params
             or params[kw.arg].kind is inspect.Parameter.POSITIONAL_ONLY)
    ]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(path):
    assert path.exists()
    assert _missing(path) == []
