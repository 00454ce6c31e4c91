"""What every tool in scripts/ shares: the Spark session, the `nproc`
stamp on each JSON it writes, and running itself against an older tree
(a throwaway checkout, re-run in a fresh process).

The session always runs on every core this process may use, so a number
recorded by a tool always says how many cores it was taken on.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
NPROC = len(os.sched_getaffinity(0))


def session(app_name: str):
    """local[nproc] with 2 * nproc shuffle partitions and the engine's confs."""
    from etl_ml_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=app_name, master=f"local[{NPROC}]", shuffle_partitions=2 * NPROC
    )
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
    from their cwd; ``--tree`` makes the child's ``use_tree()`` import it
    ahead of the working tree.
    """
    return subprocess.run(
        [sys.executable, str(Path(script).resolve()), *argv, "--tree", str(tree)],
        cwd=tree, text=True, **kw,
    )


def use_tree(tree: str | None) -> None:
    """In a child started by ``run_in()``: import the package from ``tree``."""
    if tree:
        sys.path.insert(0, tree)
