"""The package's environment knobs are a pinned set: every
``os.environ`` / ``getenv`` name read under ``marex_spark/`` must be
listed here, so adding a knob means changing this test on purpose."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "marex_spark"

PINNED = {
    "MAREX_BAND_SHUFFLE_FACTOR",
    "MAREX_THR_CHUNK_MAX",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _name(node, where) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal name at {where}>"


def _env_reads(root: Path) -> set[str]:
    names = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Call) and node.args:
                f = node.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr in ("get", "pop", "setdefault")
                    and _is_environ(f.value)
                ) or (
                    (isinstance(f, ast.Attribute) and f.attr == "getenv")
                    or (isinstance(f, ast.Name) and f.id == "getenv")
                ):
                    names.add(_name(node.args[0], where))
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                names.add(_name(node.slice, where))
            elif isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
            ) and any(_is_environ(c) for c in node.comparators):
                names.add(_name(node.left, where))
    return names


def test_env_knobs_are_the_pinned_set():
    assert _env_reads(PACKAGE) == PINNED


def test_scanner_sees_every_read_form(tmp_path):
    (tmp_path / "m.py").write_text(
        "import os\nfrom os import environ, getenv\n"
        "a = os.environ.get('A', '1')\nb = os.environ['B']\n"
        "c = os.getenv('C')\nd = getenv('D')\ne = 'E' in environ\n"
        "import os as _os\nf = _os.environ.get('F')\n"
    )
    assert _env_reads(tmp_path) == {"A", "B", "C", "D", "E", "F"}
