"""What every tool in scripts/ shares: the Spark session, the `nproc`
stamp on each JSON it writes, and running itself against an older tree
(a throwaway checkout, re-run in a fresh process).

The session is the engine's own (``session.get_spark``), and `nproc` is
its core count, so a number recorded by a tool always says how many
cores it was taken on.
"""

from __future__ import annotations

import contextlib
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from etl_ml_pipeline_spark.session import cores, get_spark  # noqa: E402

NPROC = cores()


def session(app_name: str):
    """The engine's session, with Spark's log quietened to errors."""
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stamp(record: dict) -> dict:
    """The record with the core count it was measured on."""
    return {**record, "nproc": NPROC}


@contextlib.contextmanager
def worktree(rev: str):
    """A detached checkout of ``rev`` in a temp dir, removed on exit."""
    path = Path(tempfile.mkdtemp(prefix="tree_"))
    git = ["git", "-C", str(REPO), "worktree"]
    try:
        add = subprocess.run([*git, "add", "--detach", str(path), rev],
                             capture_output=True, text=True)
        if add.returncode:
            raise SystemExit(f"git worktree add {rev}: {add.stderr.strip()}")
        yield path
    finally:
        subprocess.run([*git, "remove", "--force", str(path)], capture_output=True)
        subprocess.run([*git, "prune"], capture_output=True)
        shutil.rmtree(path, ignore_errors=True)


def run_in(tree: Path, script: str, argv: list[str], **kw) -> subprocess.CompletedProcess:
    """Re-run ``script argv`` in a fresh process against ``tree``.

    The cwd is the tree, since Spark's Python workers import the package
    from their cwd first (older trees ship no worker path); ``--tree``
    makes the child's ``use_tree()`` import it ahead of the working tree.
    """
    return subprocess.run(
        [sys.executable, str(Path(script).resolve()), *argv, "--tree", str(tree)],
        cwd=tree, text=True, **kw,
    )


def use_tree(tree: str | None) -> None:
    """In a child started by ``run_in()``: import the package from ``tree``,
    keeping the working tree's ``get_spark`` so both sides share a policy."""
    if tree:
        sys.path.insert(0, tree)
        for name in [m for m in sys.modules if m.split(".")[0] == "etl_ml_pipeline_spark"]:
            del sys.modules[name]
