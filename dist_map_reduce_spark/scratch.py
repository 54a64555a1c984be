"""Repo-local scratch directory for streaming replays, sink
round-trips and other per-fixture artifacts.

Ownership rule: every on-disk artifact of the engine lives under
``scratch_path``, which gives each process its own root,
``SCRATCH/<sf_tag>/p<pid>/``. A process writes, reads and removes only
its own root, so two processes (a sweep beside the test suite, two
benchmark runs) never see, overwrite or delete each other's files, and
nothing is shared across processes. Re-running a query overwrites only
this process's artifact of the same name.

The first call in a process removes the roots of dead pids, and this
pid's own roots (left by a dead process whose pid was reused), then
registers one ``atexit`` hook that removes this process's roots. That
happens lazily, never at import: Spark's Python workers import engine
modules too.
"""

from __future__ import annotations

import atexit
import glob
import os
import re
import shutil

# repo-local scratch (gitignored); never touches /root/testdata
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

_ROOT = re.compile(r"p(\d+)")
# the pid whose roots are claimed; a forked child claims its own
_claimed_pid: int | None = None


def scratch_path(sf_dir: str, name: str) -> str:
    """This process's path for artifact ``name`` of input ``sf_dir``;
    ``scratch_path(sf_dir, "")`` is the root holding all of them."""
    if _claimed_pid != os.getpid():
        _claim()
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(SCRATCH, sf_tag, f"p{os.getpid()}", name)


def sweep_dead_roots() -> None:
    """Remove every ``SCRATCH/<sf_tag>/p<N>`` whose pid is dead; leave
    live pids (this one included) and other names alone."""
    for path in glob.glob(os.path.join(SCRATCH, "*", "p*")):
        m = _ROOT.fullmatch(os.path.basename(path))
        if m is None:
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass  # e.g. EPERM: the pid exists under another uid


def _remove_own_roots() -> None:
    for path in glob.glob(os.path.join(SCRATCH, "*", f"p{os.getpid()}")):
        shutil.rmtree(path, ignore_errors=True)


def _claim() -> None:
    global _claimed_pid
    sweep_dead_roots()
    _remove_own_roots()
    atexit.register(_remove_own_roots)
    _claimed_pid = os.getpid()
