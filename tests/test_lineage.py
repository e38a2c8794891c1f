"""Lineage log and stage commit: concurrent lineage updates are never lost,
and named stage counters cost no Spark job beyond the write."""

from __future__ import annotations

import threading
import time

from entity_extractor_spark.plans.lineage import LineageLog, commit_stage


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


class _ObservedLock:
    """Wraps the log's lock and flags when a given thread finds it held and
    starts waiting for it."""

    def __init__(self, lock, thread_name: str, waiting: threading.Event):
        self._lock, self._name, self._waiting = lock, thread_name, waiting

    def __enter__(self):
        if not self._lock.acquire(blocking=False):
            if threading.current_thread().name == self._name:
                self._waiting.set()
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()


def test_mark_done_during_invalidate_is_not_lost(tmp_path):
    """invalidate_from reads the lineage file, then a concurrent mark_done
    commits, then invalidate_from writes. Without one lock around both
    read-modify-writes the invalidation writes back its stale read and the
    commit vanishes. The interleaving is forced with events: the
    invalidating thread's read blocks until the committing thread has
    either finished or is waiting for the lock."""
    log = LineageLog(str(tmp_path))
    log.mark_done("a")

    read_started, release_read = threading.Event(), threading.Event()
    committer_waiting, committer_done = threading.Event(), threading.Event()
    log._lock = _ObservedLock(log._lock, "committer", committer_waiting)
    plain_read = log._read

    def slowed_read():
        rec = plain_read()
        if threading.current_thread().name == "invalidator":
            read_started.set()
            assert release_read.wait(30)
        return rec

    log._read = slowed_read

    def commit():
        log.mark_done("other")
        committer_done.set()

    inv = threading.Thread(target=log.invalidate_from, args=("a", ["a", "b"]), name="invalidator")
    com = threading.Thread(target=commit, name="committer")
    inv.start()
    assert read_started.wait(30)
    com.start()
    deadline = time.time() + 30
    while not (committer_done.is_set() or committer_waiting.is_set()):
        assert time.time() < deadline, "committer neither finished nor waited for the lock"
        time.sleep(0.01)
    release_read.set()
    inv.join(30)
    com.join(30)
    assert not inv.is_alive() and not com.is_alive()

    stages = plain_read()["stages"]
    assert "a" not in stages
    assert stages.get("other", {}).get("status") == "done", "mark_done was lost"


def test_commit_counters_add_no_job_after_the_write(spark, tmp_path):
    """Named counters come from the write itself: a commit with counters
    runs exactly as many Spark jobs as the same commit without them, and
    records the same sum a separate aggregate would."""
    rows = [(i, i % 3) for i in range(200)]
    log = LineageLog(str(tmp_path))

    def commit(stage, counters):
        df = spark.createDataFrame(rows, "k int, n_dropped int").repartition(3)
        j0 = _jobs(spark)
        commit_stage(log, spark, stage, df, counters_cols=counters)
        return _jobs(spark) - j0

    commit("warm", None)
    plain = commit("plain", None)
    counted = commit("counted", {"dropped": "n_dropped"})
    assert counted == plain, (plain, counted)
    assert log.stage_counters("counted")["dropped"] == sum(n for _, n in rows)
    assert log.stage_counters("counted")["rows"] == len(rows)
    assert "dropped" not in log.stage_counters("plain")
