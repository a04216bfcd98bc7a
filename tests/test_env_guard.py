"""No engine module reads the process environment, except the session
factory's deployment settings. A behaviour switch in an environment
variable is an untested second code path (and one the driver's vanilla
session never sees), so decisions settle in code, not in ``os.environ``.
Pure-Python AST scan — no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mapreduce_system_spark"
ALLOWED = {
    "session.py": {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"},
}


def _is_env(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")) or (
        isinstance(node, ast.Name) and node.id in ("environ", "getenv")
    )


def _env_reads(tree: ast.AST) -> list[str | None]:
    """The literal key of every environment reference; None for a
    reference that is not a keyed read (iteration, copy, ``in``...)."""
    keys: dict[int, str | None] = {}
    refs = [n for n in ast.walk(tree) if _is_env(n)]
    for node in ast.walk(tree):
        target, key = None, None
        if isinstance(node, ast.Subscript) and _is_env(node.value):
            target, key = node.value, node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "get" and _is_env(f.value):
                target, key = f.value, node.args[0]
            elif _is_env(f):
                target, key = f, node.args[0]
        if target is not None and isinstance(key, ast.Constant):
            keys[id(target)] = key.value
    return [keys.get(id(r)) for r in refs]


def test_only_session_deployment_settings_read_the_environment():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        reads = _env_reads(ast.parse(path.read_text(), str(path)))
        allowed = ALLOWED.get(path.name, set()) if path.parent == PACKAGE else set()
        bad = [k for k in reads if k not in allowed]
        if bad:
            found[str(path.relative_to(PACKAGE))] = bad
    assert not found, f"environment reads outside session deployment settings: {found}"
