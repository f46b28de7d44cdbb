"""Local-master shuffle scratch policy (session._local_scratch_dir):
local-mode shuffle/spill files are intra-run scratch — round 11 measured
the stream/tx micro-batch queries' wall tracking the host's DISK-load
canary purely through blockmgr writes under /tmp — so they go to tmpfs,
but only where tmpfs has room for them.

- $SPARK_GRAFT_LOCAL_DIR, when set, wins over everything else.
- Otherwise /dev/shm is adopted only when it exists and statvfs reports
  at least 16 GiB free (f_bavail * f_frsize >= 16 << 30); one block less
  and the default is None (tmpfs is capped at about half of RAM, and
  spill that fits on disk could die there with ENOSPC).
- No /dev/shm means no default.
- The live test session carries exactly the decision the policy made
  while it was built.
- A non-local master never gets the default (cluster managers own
  executor local dirs)."""

import os
from types import SimpleNamespace
from unittest import mock

from maillogsentinel_spark import session
from maillogsentinel_spark.session import _local_scratch_dir

_GATE_BYTES = 16 << 30
_BLOCK = 4096


def _statvfs_with_free(free_bytes):
    assert free_bytes % _BLOCK == 0
    blocks = free_bytes // _BLOCK
    return os.statvfs_result(
        (_BLOCK, _BLOCK, blocks, blocks, blocks, 0, 0, 0, 0, 255)
    )


def test_env_override_wins():
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_LOCAL_DIR": "/x/y"}):
        assert _local_scratch_dir() == "/x/y"


def test_tmpfs_default_when_present():
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
        with mock.patch("os.path.isdir", return_value=True):
            with mock.patch(
                "os.statvfs", return_value=_statvfs_with_free(_GATE_BYTES)
            ):
                assert _local_scratch_dir() == "/dev/shm"
            with mock.patch(
                "os.statvfs",
                return_value=_statvfs_with_free(_GATE_BYTES - _BLOCK),
            ):
                assert _local_scratch_dir() is None


def test_no_tmpfs_means_no_default():
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
        with mock.patch("os.path.isdir", return_value=False):
            assert _local_scratch_dir() is None


def test_live_session_uses_tmpfs_scratch(spark, spark_scratch_decision):
    # conftest's session is local-master, so get_spark applied the
    # policy; the session must carry the decision made while it was
    # built (on a box with roomy tmpfs, "/dev/shm").
    assert spark.conf.get("spark.local.dir", None) == spark_scratch_decision


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(master):
    fake = SimpleNamespace(builder=_RecordingBuilder())
    with mock.patch.object(session, "SparkSession", fake), mock.patch.object(
        session, "_local_scratch_dir", return_value="/dev/shm"
    ):
        return session.get_spark(master=master)


def test_non_local_master_never_gets_default():
    assert _built_conf("local[2]")["spark.local.dir"] == "/dev/shm"
    assert "spark.local.dir" not in _built_conf("yarn")
