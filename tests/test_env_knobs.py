"""Every environment variable the package reads is documented.

The names are collected from the source (``os.environ[...]``,
``os.environ.get(...)``, ``os.getenv(...)``, ``... in os.environ``) and
must equal the README's "Configuration" list, each listed once. A new
knob fails here until it is documented; a read whose name is not a
string literal fails too, because it cannot be documented.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "biomedical_knowledge_graph_spark"

KNOBS = {"SPARK_GRAFT_CPUS", "BKG_DRIVER_MEM", "SPARK_CONF_DIR", "JAVA_HOME"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _literal(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _env_reads(path: Path) -> list[str]:
    """Names read from the environment in one file; a read this cannot
    resolve to a literal name is returned as ``<path:line>``."""
    tree = ast.parse(path.read_text(), str(path))
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "getenv")
            or (isinstance(node.func, ast.Name) and node.func.id == "getenv")
        ):
            key = node.args[0] if node.args else None
        elif _is_environ(node):
            up = parent.get(node)
            if isinstance(up, ast.Subscript) and up.value is node:
                key = up.slice
            elif (
                isinstance(up, ast.Attribute)
                and isinstance(parent.get(up), ast.Call)
                and parent[up].args
            ):
                key = parent[up].args[0]
            elif isinstance(up, ast.Compare) and node in up.comparators:
                key = up.left
            else:
                key = None
        else:
            continue
        names.append(_literal(key) or f"<{path.relative_to(ROOT)}:{node.lineno}>")
    return names


def _documented() -> list[str]:
    readme = (ROOT / "README.md").read_text()
    section = readme.split("\n## Configuration\n", 1)[1].split("\n## ", 1)[0]
    return re.findall(r"^- `([A-Z0-9_]+)`", section, flags=re.M)


def test_env_reads_are_documented():
    read = {n for p in sorted(PACKAGE.rglob("*.py")) for n in _env_reads(p)}
    documented = _documented()
    assert len(documented) == len(set(documented)), documented
    assert read == set(documented) == KNOBS, (read, documented)
