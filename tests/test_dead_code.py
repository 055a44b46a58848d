"""Every top-level def and class of the package is referenced somewhere.

A reference is a name, attribute or imported name equal to the
definition's name, or a string constant equal to it, in the package, the
tests, the examples, the tools, the benchmark or an entry-point script,
outside the definition's own body. A function decorated with the
registry's ``@register`` is reached through the registry and counts as
referenced. No Spark session: the check parses the sources only.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark"
SCANNED = (PACKAGE, "tests", "examples", "tools", "perfbench")
ENTRY_SCRIPTS = ("bench.py", "__spark_entry__.py")


def _sources() -> list[Path]:
    files = [p for d in SCANNED for p in sorted((ROOT / d).rglob("*.py"))]
    return files + [ROOT / f for f in ENTRY_SCRIPTS if (ROOT / f).exists()]


def _names_in(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def unreferenced() -> list[str]:
    """``module:name`` of each package top-level def/class referenced
    nowhere outside its own body."""
    defined: list[tuple[str, str]] = []
    referenced: set[str] = set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = path.is_relative_to(ROOT / PACKAGE)
        for node in tree.body:
            defines = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if in_package and defines and not node.name.startswith("__"):
                if not _is_registered(node):
                    defined.append((str(path.relative_to(ROOT)), node.name))
                # the body's references to itself (recursion) do not count
                referenced |= _names_in(node) - {node.name}
            else:
                referenced |= _names_in(node)
    return sorted(f"{mod}:{name}" for mod, name in defined if name not in referenced)


def test_every_package_definition_is_referenced():
    assert unreferenced() == []
