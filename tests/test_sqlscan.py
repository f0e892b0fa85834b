"""One definition per scanner primitive: sqlscan.py is the only module of
the package that defines the SQL lexical helpers (literal and comment
skipping, balanced-group and top-level scans).  Every other module
imports them, so the text passes cannot drift apart again."""

from __future__ import annotations

import ast
from pathlib import Path

import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

_PRIMITIVES = (
    "_skip_literal",
    "_skip_comment",
    "_skip_opaque",
    "_code_indices",
    "_scan_balanced",
    "_split_top_level",
    "_search_unquoted",
    "_find_top_level_keyword",
    "_literal_spans",
)


def _defined_names(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id


def test_scanner_primitives_defined_only_in_sqlscan():
    root = Path(pkg.__file__).parent
    homes: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        for name in _defined_names(ast.parse(path.read_text())):
            # prefixes, so _split_top_level_and or _search_unquoted_re
            # elsewhere count as strays too
            if name.startswith(_PRIMITIVES):
                homes.setdefault(name, []).append(
                    path.relative_to(root).as_posix()
                )
    assert all(any(n.startswith(p) for n in homes) for p in _PRIMITIVES)
    strays = {n: p for n, p in homes.items() if p != ["sqlscan.py"]}
    assert strays == {}
