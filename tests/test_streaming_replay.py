"""The file-replay helper (streaming/replay.py): it is the only place a
stream is started and awaited, a replay that stalls or fails raises, and
its scratch directories are fresh per call and gone when the process
exits."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

import pytest
from pyspark.errors import StreamingQueryException

from data_integration_spark.streaming import replay
from data_integration_spark.streaming.replay import replay_source, run, scratch_dir

PKG = os.path.dirname(os.path.abspath(replay.__file__)).rsplit(os.sep, 1)[0]
REPO = os.path.dirname(PKG)


def _code_without_docstrings(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return re.sub(r'""".*?"""', "", fh.read(), flags=re.DOTALL)


def test_trigger_and_await_only_in_the_helper():
    """Every streaming query runs through ``replay.run``: no other module
    sets the availableNow trigger or waits for a query itself."""
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                code = _code_without_docstrings(path)
                for pattern in (r"trigger\(availableNow=True\)", r"\.awaitTermination\("):
                    hits += [(os.path.relpath(path, PKG), pattern)] * len(
                        re.findall(pattern, code)
                    )
    assert sorted(hits) == [
        (os.path.join("streaming", "replay.py"), r"\.awaitTermination\("),
        (os.path.join("streaming", "replay.py"), r"trigger\(availableNow=True\)"),
    ]


@pytest.fixture
def two_batches(spark):
    frames = [spark.range(0, 5), spark.range(5, 10)]
    return replay_source(spark, frames, max_files_per_trigger=1)


def test_stalled_replay_raises_and_stops(spark, two_batches, monkeypatch):
    monkeypatch.setattr(replay, "TIMEOUT_S", 0.5)

    def stall(batch_df, batch_id):
        time.sleep(3)

    with pytest.raises(TimeoutError, match="replay_stall_probe"):
        run(two_batches.writeStream.foreachBatch(stall), "replay_stall_probe")
    assert not [q for q in spark.streams.active if q.name == "replay_stall_probe"]


def test_failed_replay_propagates(spark, two_batches):
    def fail(batch_df, batch_id):
        raise ValueError("planted batch failure")

    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        run(two_batches.writeStream.foreachBatch(fail), "replay_fail_probe")


def test_replay_runs_every_batch(spark, two_batches):
    seen = []
    q = run(
        two_batches.writeStream.foreachBatch(
            lambda df, batch_id: seen.append(sorted(r.id for r in df.collect()))
        ),
        "replay_batches_probe",
    )
    assert not q.isActive
    assert seen == [list(range(5)), list(range(5, 10))]


def test_scratch_dirs_are_fresh_per_call():
    a, b = scratch_dir("same"), scratch_dir("same")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b)
    assert not os.path.exists(a) and not os.path.exists(b)


def test_run_root_is_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from data_integration_spark.streaming.replay import scratch_dir\n"
        "d = scratch_dir('probe')\n"
        "os.makedirs(d)\n"
        "open(os.path.join(d, 'f'), 'w').close()\n"
        "print(os.path.dirname(d))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
