"""The benchmark's own tests start a Spark driver per run (several
minutes in all). They are collected when the command line names this
directory or a path inside it:

    python3 -m pytest perfbench/tests -q

and left out when pytest walks the whole repository, so that a bare
``pytest`` from the root runs the engine's suite under ``tests/`` only.
"""

from __future__ import annotations

from pathlib import Path

HERE = Path(__file__).resolve().parent


def _names_this_directory(config) -> bool:
    base = Path(config.invocation_params.dir)
    for arg in config.args:
        target = (base / arg.split("::", 1)[0]).resolve()
        if target == HERE or HERE in target.parents:
            return True
    return False


def pytest_ignore_collect(collection_path, config):
    path = Path(collection_path).resolve()
    inside = path == HERE or HERE in path.parents
    if inside and not _names_this_directory(config):
        return True
    return None
