"""Query builders scope their session settings on a cached child session
(``session.scoped``) and never change the caller's session."""

from __future__ import annotations

import os
import re
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from lookup_transform_spark import registry, scale_profile, stats
from lookup_transform_spark.session import full_width, scoped

SHUFFLE = "spark.sql.shuffle.partitions"


def _bus_listeners(spark) -> int:
    return spark.sparkContext._jsc.sc().listenerBus().listeners().size()


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.batches: list[int] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches.append(event.progress.batchId)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_scoped_child_is_cached_isolated_and_tracks_parent_conf(spark):
    child = scoped(spark, {SHUFFLE: "7"})
    assert scoped(spark, {SHUFFLE: "7"}) is child
    assert child.conf.get(SHUFFLE) == "7"
    assert spark.conf.get(SHUFFLE) != "7"
    assert stats._registry(child) is stats._registry(spark)
    # a parent setting made after cloning never reaches an existing
    # child, so a changed parent conf gets a fresh child
    marker = "spark.lookup_transform_spark.test.marker"
    spark.conf.set(marker, "1")
    try:
        fresh = scoped(spark, {SHUFFLE: "7"})
        assert fresh is not child
        assert fresh.conf.get(marker) == "1"
    finally:
        spark.conf.unset(marker)
    assert scoped(spark, {SHUFFLE: "7"}) is child


def test_concurrent_scoped_calls_share_one_child_and_one_listener_copy(spark):
    seen = _Progress()
    spark.streams.addListener(seen)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        settings = {SHUFFLE: "11"}
        barrier = threading.Barrier(8, timeout=60)
        got: list = []

        def call() -> None:
            barrier.wait()
            got.append(scoped(spark, settings))

        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 8 and all(c is got[0] for c in got)
        mirrored = got[0]._jsparkSession.streams().listListeners()
        parent = spark._jsparkSession.streams().listListeners()
        assert len(mirrored) == len(parent)
    finally:
        sys.setswitchinterval(switch)
        spark.streams.removeListener(seen)


def _widths(plan: str) -> set[int]:
    return {
        int(n) for n in re.findall(r"(?:hash|range)partitioning\(.*?, (\d+)\)", plan)
    }


def test_concurrent_builds_keep_their_own_regime(spark, sf_dir, tmp_path, monkeypatch):
    # an at-scale input: sf0.001's files under a dir whose cached size
    # is above the small-input gate
    big = tmp_path / "sf_big"
    big.mkdir()
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, f), big / f)
    monkeypatch.setitem(
        scale_profile._dir_bytes, str(big), scale_profile.SMALL_INPUT_MAX_BYTES + 1
    )
    assert scale_profile.profile_for(sf_dir) == "small"
    assert scale_profile.profile_for(str(big)) == "full"

    barrier = threading.Barrier(2, timeout=120)
    plans: dict[str, str] = {}
    errors: list[Exception] = []

    def build(sf: str) -> None:
        try:
            barrier.wait()
            df = registry.QUERIES["tpch_q1"](spark, sf)
            # both queries are built before either is planned
            barrier.wait()
            plans[sf] = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=build, args=(d,)) for d in (sf_dir, str(big))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    small, full = plans[sf_dir], plans[str(big)]
    assert "AdaptiveSparkPlan" not in small
    assert _widths(small) == {8}
    assert "AdaptiveSparkPlan" in full
    assert _widths(full) == {int(full_width())}


def test_caller_listener_sees_registry_stream_triggers(spark, sf_dir):
    # the stream runs on a child session; the caller's listeners are
    # mirrored onto it, so monitoring on the caller's session still works
    seen = _Progress()
    spark.streams.addListener(seen)
    try:
        registry.QUERIES["stream_tumbling"](spark, sf_dir)
        deadline = time.monotonic() + 30
        while not seen.batches and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(seen)
    assert seen.batches


def test_repeated_stream_builds_reuse_child_sessions(spark, sf_dir):
    # every session that runs a stream keeps a listener on the shared
    # SparkContext bus for good; cached children keep repeated builds
    # from adding sessions. Spark itself adds one entry per stateful
    # stream run (the run's own cloned session) on any session, so the
    # bound is one per build: a fresh child per build would add more.
    registry.QUERIES["stream_tumbling"](spark, sf_dir)
    n0 = _bus_listeners(spark)
    builds = 3
    for _ in range(builds):
        registry.QUERIES["stream_tumbling"](spark, sf_dir)
    assert _bus_listeners(spark) - n0 <= builds
