"""The kept measurement tools stay runnable: every tools/*.py compiles,
and every import of a sibling tool names a file that exists.

Tools are parsed with ``ast``, never imported: some (verify_pipeline)
start Spark at import time."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parents[1] / "tools"
ROOT = TOOLS.parent
TOOL_FILES = sorted(TOOLS.glob("*.py"))


def _dirname_depth(node: ast.AST) -> int | None:
    """k for ``os.path.dirname^k(os.path.abspath(__file__))``, else None."""
    depth = 0
    while isinstance(node, ast.Call) and ast.unparse(node.func) == "os.path.dirname":
        depth += 1
        node = node.args[0]
    if isinstance(node, ast.Call) and ast.unparse(node.func) in (
        "os.path.abspath",
        "os.path.realpath",
    ):
        node = node.args[0]
    return depth if isinstance(node, ast.Name) and node.id == "__file__" else None


def _resolvable(name: str) -> bool:
    return (
        (ROOT / f"{name}.py").exists()
        or (ROOT / name / "__init__.py").exists()
        or importlib.util.find_spec(name) is not None
    )


def broken_tool_imports(source: str) -> list[str]:
    """Imported module names that should be a tools/X.py but are not:
    ``tools.X`` and relative imports always, bare names when the file
    puts its own directory on sys.path and nothing else provides them."""
    tree = ast.parse(source)
    siblings_on_path = any(
        isinstance(n, ast.Call)
        and ast.unparse(n.func) in ("sys.path.insert", "sys.path.append")
        and _dirname_depth(n.args[-1]) == 1
        for n in ast.walk(tree)
    )
    wanted: list[tuple[str, str]] = []  # (imported name, tool module)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                head, _, rest = a.name.partition(".")
                if head == "tools" and rest:
                    wanted.append((a.name, rest.partition(".")[0]))
                elif siblings_on_path and not _resolvable(head):
                    wanted.append((a.name, head))
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level or module == "tools":
                if module and module != "tools":
                    wanted.append((module, module.partition(".")[0]))
                else:
                    wanted.extend((a.name, a.name) for a in node.names)
            elif module.startswith("tools."):
                wanted.append((module, module.split(".")[1]))
            elif siblings_on_path and not _resolvable(module.partition(".")[0]):
                wanted.append((module, module.partition(".")[0]))
    return [name for name, mod in wanted if not (TOOLS / f"{mod}.py").exists()]


def test_tools_directory_is_not_empty():
    assert (TOOLS / "adjudicate.py") in TOOL_FILES


@pytest.mark.parametrize("path", TOOL_FILES, ids=lambda p: p.name)
def test_tool_compiles(path):
    compile(path.read_text(), str(path), "exec")


@pytest.mark.parametrize("path", TOOL_FILES, ids=lambda p: p.name)
def test_tool_imports_name_existing_tools(path):
    assert broken_tool_imports(path.read_text()) == []


def test_checker_flags_imports_of_missing_tools():
    header = "import os, sys\n"
    assert broken_tool_imports(header + "from tools.drift import py_probe\n") == []
    assert broken_tool_imports(header + "from tools.no_such_probe import synth\n") == [
        "tools.no_such_probe"
    ]
    assert broken_tool_imports(header + "import tools.no_such_probe\n") == [
        "tools.no_such_probe"
    ]
    assert broken_tool_imports(header + "from tools import drift, no_such_probe\n") == [
        "no_such_probe"
    ]
    assert broken_tool_imports(header + "from .no_such_probe import synth\n") == [
        "no_such_probe"
    ]
    sibling = "sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))\n"
    assert broken_tool_imports(header + sibling + "import drift, json\n") == []
    assert broken_tool_imports(header + sibling + "from no_such_probe import x\n") == [
        "no_such_probe"
    ]
    # without the sibling path insert, a bare name is not a tool import
    assert broken_tool_imports(header + "import no_such_probe\n") == []
