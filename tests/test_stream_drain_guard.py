"""Stream-drain guard: every bounded stream is started through
``pipelines.run_available_now``, the one place a stream's state
shuffle is sized (from its own plan) and its checkpoint manager
pinned. Enforced statically: no module under
``dist_map_reduce_spark/`` mentions ``awaitTermination`` or
``availableNow`` outside that function's body, none but
``pipelines.py`` sets the checkpoint file manager, and none but
``pipelines.py`` and ``session.py`` sets the shuffle partitions.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "dist_map_reduce_spark"
_PIPELINES = _PKG / "streaming" / "pipelines.py"
_SESSION = _PKG / "session.py"


def _drain_lines() -> range:
    [fn] = [
        node
        for node in ast.parse(_PIPELINES.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "run_available_now"
    ]
    return range(fn.lineno, fn.end_lineno + 1)


def test_streams_start_only_in_run_available_now():
    allowed = _drain_lines()
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"awaitTermination|availableNow", line)
        and not (path == _PIPELINES and n in allowed)
    ]
    assert not offenders, "stream started outside run_available_now:\n" + "\n".join(
        offenders
    )


def test_checkpoint_manager_set_only_in_pipelines():
    """The checkpoint-manager pin lives at the drain point: no other
    module carries its own ``checkpointFileManagerClass`` override."""
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _PIPELINES
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "checkpointFileManagerClass" in line
    ]
    assert not offenders, "checkpoint manager set outside pipelines.py:\n" + "\n".join(
        offenders
    )


def test_shuffle_partitions_set_only_in_pipelines_and_session():
    """The session sets its default and the drain point sizes each
    stream: no other module overrides ``spark.sql.shuffle.partitions``."""
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path not in (_PIPELINES, _SESSION)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "spark.sql.shuffle.partitions" in line
    ]
    assert not offenders, "shuffle partitions set elsewhere:\n" + "\n".join(
        offenders
    )
