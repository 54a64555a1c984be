"""One scratch root per process (``dist_map_reduce_spark/scratch.py``).

Processes never share, overwrite or delete each other's artifacts; a
dead process's root is swept by the next process, and a live one's
root is removed when it exits. No Spark is needed.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from dist_map_reduce_spark import scratch

_REPO = Path(__file__).resolve().parent.parent
_PKG = _REPO / "dist_map_reduce_spark"

# prints its roots, then holds them until stdin closes
_CHILD = """
import os, sys
sys.path.insert(0, sys.argv[1])
from dist_map_reduce_spark import scratch
scratch.SCRATCH = sys.argv[2]
root = scratch.scratch_path("/data/sf0.001", "")
named = scratch.scratch_path("/data/sf0.001", "docs_text")
os.makedirs(named)
print(root, named, flush=True)
sys.stdin.read()
"""


def test_sweep_dead_roots_removes_only_dead_pids(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "SCRATCH", str(tmp_path))
    # a pid that certainly ran and is certainly reaped
    proc = subprocess.Popen(["true"])
    proc.wait()
    keep = [
        tmp_path / "sf0.001" / "p1",  # live pid (init), other uid
        tmp_path / "sf0.001" / f"p{os.getpid()}",  # our own
        tmp_path / "sf0.001" / "pnotapid",  # malformed
        tmp_path / "sf0.001" / "bucketed",  # not a root
    ]
    gone = [
        tmp_path / "sf0.001" / f"p{proc.pid}",
        tmp_path / "sf0.01" / f"p{proc.pid}",
    ]
    for d in keep + gone:
        d.mkdir(parents=True)
    scratch.sweep_dead_roots()
    for d in keep:
        assert d.is_dir(), d
    for d in gone:
        assert not d.exists(), d


def test_each_process_owns_one_root_removed_at_exit(tmp_path):
    procs, roots = [], []
    for _ in range(2):
        p = subprocess.Popen(
            [sys.executable, "-c", _CHILD, str(_REPO), str(tmp_path)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        root, named = p.stdout.readline().split()
        assert os.path.dirname(named) == os.path.normpath(root)
        assert os.path.basename(os.path.normpath(root)) == f"p{p.pid}"
        procs.append(p)
        roots.append(root)
    assert roots[0] != roots[1]
    # the second process's first call swept nothing of the live first
    assert all(os.path.isdir(r) for r in roots)
    for p, root in zip(procs, roots):
        p.communicate("")
        assert p.returncode == 0
        assert not os.path.exists(root)


def test_only_scratch_module_owns_processes_and_paths():
    """No other engine module names a process (``os.getpid``,
    ``os.kill``, ``atexit``) or spells the scratch dir."""
    pattern = re.compile(r"\bos\.(getpid|kill)\b|\batexit\b|[\"'/]\.scratch\b")
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.name != "scratch.py" or path.parent != _PKG
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, "\n".join(offenders)
