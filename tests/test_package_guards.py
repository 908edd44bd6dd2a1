"""Source guards on the package: locks live only in ``memo.py`` (its
per-slot build locks serialise every derived artifact), and the
environment is read only in ``session.py`` (deployment settings), so
neither per-module caches nor on/off switches creep back in."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "hive3_replication_spark"


def _offences(tree: ast.AST) -> tuple[list[int], list[int]]:
    locks, env = [], []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute):
                name = f.attr
            else:
                name = getattr(f, "id", "")
            if name in ("Lock", "RLock"):
                locks.append(node.lineno)
            elif name in ("getenv", "getenvb"):
                env.append(node.lineno)
        elif isinstance(node, ast.Attribute) and node.attr in (
            "environ", "environb"
        ):
            env.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            names = {a.name for a in node.names}
            if names & {"environ", "environb", "getenv"}:
                env.append(node.lineno)
    return locks, env


def test_locks_only_in_memo_and_env_only_in_session():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        locks, env = _offences(ast.parse(path.read_text(), rel))
        if locks and rel != "memo.py":
            bad.append(f"{rel}:{locks} constructs a lock outside memo.py")
        if env and rel != "session.py":
            bad.append(f"{rel}:{env} reads the environment outside session.py")
    assert not bad, bad


def test_guard_catches_offences():
    src = (
        "import os, threading\n"
        "from os import environ\n"
        "L = threading.Lock()\n"
        "R = threading.RLock()\n"
        "A = os.environ.get('X')\n"
        "B = os.getenv('Y')\n"
    )
    locks, env = _offences(ast.parse(src))
    assert (sorted(locks), sorted(env)) == ([3, 4], [2, 5, 6])
