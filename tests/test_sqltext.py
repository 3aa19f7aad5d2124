"""Source scan: package code quotes names in SQL text through
``sqltext.ident``, never with raw backticks around an interpolated value
(``f"`{name}`"`` breaks on a name that holds a backtick)."""

import ast
from pathlib import Path

_PACKAGE = Path(__file__).resolve().parents[1] / "data_warehouse_migrate_spark"


def _raw_backtick_interpolations(source: str) -> list[int]:
    """Line numbers of f-strings whose text puts a backtick right before
    an interpolated value. ``schema.py``'s MySQL DDL escapes its names
    with ``_bt`` (MySQL, not Spark, quoting), so ``_bt(...)`` is allowed."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.JoinedStr):
            continue
        for prev, part in zip(node.values, node.values[1:]):
            if (isinstance(prev, ast.Constant)
                    and str(prev.value).endswith("`")
                    and isinstance(part, ast.FormattedValue)
                    and not (isinstance(part.value, ast.Call)
                             and getattr(part.value.func, "id", "") == "_bt")):
                lines.append(node.lineno)
    return lines


def test_scan_catches_raw_backticks():
    assert _raw_backtick_interpolations('x = f"`{name}` > 0"') == [1]
    assert _raw_backtick_interpolations('x = f"{ident(name)} > 0"') == []
    assert _raw_backtick_interpolations('x = f"`{_bt(name)}`"') == []


def test_package_sql_names_go_through_ident():
    found = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        lines = _raw_backtick_interpolations(path.read_text())
        if lines:
            found[str(path.relative_to(_PACKAGE))] = lines
    assert found == {}, f"raw backtick around an interpolated name: {found}"
