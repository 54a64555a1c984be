"""Repo-local scratch directory for streaming replays, sink
round-trips and other per-fixture artifacts.
"""

from __future__ import annotations

import os

# repo-local scratch (gitignored); never touches /root/testdata
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_path(sf_dir: str, name: str) -> str:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(SCRATCH, sf_tag, name)
