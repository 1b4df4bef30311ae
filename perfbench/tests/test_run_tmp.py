"""Self-tests for how a run keeps /tmp as it found it: the private /tmp,
and the fallback cleanup of the shared one."""

import os
import subprocess
import time
import uuid

import pytest

import run


def test_private_tmp_takes_the_writes(tmp_path):
    name = f"perfbench-selftest-{uuid.uuid4().hex}"
    cmd = run.private_tmp_cmd(str(tmp_path), ["sh", "-c", f"touch /tmp/{name}"])
    if subprocess.run(cmd, capture_output=True).returncode != 0:
        pytest.skip("no mount namespace on this system")
    assert (tmp_path / name).exists()
    assert not os.path.exists(os.path.join(run.SYSTEM_TMP, name))


def test_fallback_cleanup_removes_only_new_unheld_entries(tmp_path):
    (tmp_path / "old").mkdir()
    before = run.tmp_entries(str(tmp_path))
    since = time.time()
    (tmp_path / "ours").mkdir()
    (tmp_path / "ours" / "part-0.parquet").write_text("x")
    (tmp_path / "ours.xml").write_text("x")
    (tmp_path / "theirs").mkdir()
    (tmp_path / "theirs.bin").write_text("x")
    # Live processes of someone else: one works in a new directory, one
    # holds a new file open.
    cwd_holder = subprocess.Popen(["sleep", "30"], cwd=tmp_path / "theirs")
    fd_holder = open(tmp_path / "theirs.bin")
    try:
        removed = run.remove_new_tmp(before, since, str(tmp_path))
    finally:
        cwd_holder.kill()
        cwd_holder.wait()
        fd_holder.close()
    assert sorted(removed) == ["ours", "ours.xml"]
    assert sorted(os.listdir(tmp_path)) == ["old", "theirs", "theirs.bin"]
