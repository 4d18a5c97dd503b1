"""Every top-level ``def``/``class`` name is bound once per module.

A second top-level definition silently rebinds the name: every call site
(including ones written above it) runs the later body, and the earlier one
is dead code that still reads as live.
"""

from __future__ import annotations

import ast
import pathlib

import scalable_blocking_for_privacy_preserving_record_linkage_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent


def test_no_top_level_name_defined_twice():
    dups = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        seen: dict[str, int] = {}
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    dups.append(
                        f"{path.relative_to(PKG_DIR)}: {node.name} "
                        f"(lines {seen[node.name]} and {node.lineno})"
                    )
                seen.setdefault(node.name, node.lineno)
    assert not dups, dups
