"""Import-resolution guard: every package-internal ``import`` / ``from``
in the package, scripts, tests and benches names a module that exists and
a name that module defines.

Walks the AST (function bodies included), so a lazy import of a deleted
module or function fails here even when no other test executes the
function that holds it.  Nothing is imported or executed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "agenticknowledgegraphconstructionsystem_spark"


def _sources() -> list[Path]:
    files = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "tests").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        *ROOT.glob("bench*.py"),
        ROOT / "__spark_entry__.py",
    ]
    return sorted(f for f in files if f.exists())


def _module_path(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_of(path: Path) -> tuple[str, bool]:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    is_pkg = parts[-1] == "__init__"
    if is_pkg:
        parts.pop()
    return ".".join(parts), is_pkg


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names bound at module level, through if/try/with blocks."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        for field in ("body", "orelse", "finalbody", "handlers"):
            sub = getattr(node, field, None)
            if isinstance(sub, list) and not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names |= _bound_names(sub)
    return names


_BOUND: dict[Path, set[str]] = {}


def _defines(mod_path: Path, name: str) -> bool:
    if mod_path not in _BOUND:
        _BOUND[mod_path] = _bound_names(ast.parse(mod_path.read_text()).body)
    return name in _BOUND[mod_path]


def _problems(path: Path) -> list[str]:
    here, is_pkg = _module_of(path)
    out: list[str] = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and _module_path(a.name) is None:
                    out.append(f"{path.name}:{node.lineno} import {a.name}")
            continue
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            anchor = here.split(".")
            if not is_pkg:
                anchor.pop()
            anchor = anchor[: len(anchor) - (node.level - 1)]
            target = ".".join(anchor + ([node.module] if node.module else []))
        else:
            target = node.module or ""
        if target.split(".")[0] != PKG:
            continue
        mod_path = _module_path(target)
        if mod_path is None:
            out.append(f"{path.name}:{node.lineno} from {target}")
            continue
        for a in node.names:
            if a.name == "*" or _module_path(f"{target}.{a.name}") is not None:
                continue
            if not _defines(mod_path, a.name):
                out.append(f"{path.name}:{node.lineno} from {target} import {a.name}")
    return out


def test_package_internal_imports_resolve():
    sources = _sources()
    assert any(p.parent.name == "perfbench" for p in sources)
    problems = [p for f in sources for p in _problems(f)]
    assert not problems, "dangling imports:\n" + "\n".join(problems)

