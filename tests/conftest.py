from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Workers spawn fresh interpreters; they need the repo root and tests dir
# on PYTHONPATH to unpickle closures defined in test modules.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [REPO, os.path.join(REPO, "tests"), os.environ.get("PYTHONPATH")] if p
)
sys.path.insert(0, os.path.join(REPO, "tests"))

from maillogsentinel_spark import session as _session  # noqa: E402

# What session._local_scratch_dir() returned while the `spark` fixture
# built the session. Recorded at build time because /dev/shm's free space
# moves during the run (query fixtures are written there), so calling the
# policy again later could give a different answer than the session got.
_SCRATCH_DECISIONS: list[str | None] = []


@pytest.fixture(scope="session")
def spark():
    decide = _session._local_scratch_dir

    def recording_decide():
        decision = decide()
        _SCRATCH_DECISIONS.append(decision)
        return decision

    _session._local_scratch_dir = recording_decide
    try:
        s = _session.get_spark(app_name="mls-tests", shuffle_partitions=8)
    finally:
        _session._local_scratch_dir = decide
    yield s


@pytest.fixture(scope="session")
def spark_scratch_decision(spark):
    """The scratch dir the local-master policy chose for `spark`."""
    assert len(_SCRATCH_DECISIONS) == 1, _SCRATCH_DECISIONS
    return _SCRATCH_DECISIONS[0]
