"""No environment-selected code paths in the engine.

Process environment is read only where a session or an AWS identity is
built (``session.py``, ``aws.py``). Anywhere else an environment read
would pick a twin code path that no caller selects and no benchmark
runs, so this test refuses one. Pure AST scan: no Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "easy_alterator_spark"
ALLOWED = {"session.py", "aws.py"}
_ENV_NAMES = {"environ", "getenv"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` uses, including
    aliased ``import os as x`` and ``from os import environ``."""
    os_names: set[str] = set()
    bare: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            bare |= {a.asname or a.name for a in node.names if a.name in _ENV_NAMES}
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _ENV_NAMES
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        ) or (isinstance(node, ast.Name) and node.id in bare):
            lines.append(node.lineno)
    return sorted(lines)


def test_env_reads_detected():
    src = "import os as o\nfrom os import getenv\nx = o.environ.get('A')\ny = getenv('B')\n"
    assert _env_reads(ast.parse(src)) == [3, 4]


def test_engine_reads_env_only_in_session_and_aws():
    offenders = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path.name in ALLOWED and path.parent == ENGINE:
            continue
        for line in _env_reads(ast.parse(path.read_text(), str(path))):
            offenders.append(f"{path.relative_to(ENGINE.parent)}:{line}")
    assert not offenders, f"environment read outside session.py/aws.py: {offenders}"
