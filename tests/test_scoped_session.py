"""``tsengine.session.scoped_session``: the one way the engine runs work
under other SQL conf.  The caller's session is never written; the child
is cached per (caller, bundle), carries the caller's runtime conf and
forwards its streaming listeners."""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from tsengine.registry import all_queries
from tsengine.session import scoped_session

_BUNDLE = {"spark.sql.shuffle.partitions": "8"}


def test_scopes_never_write_the_callers_conf(spark, sf_dir):
    """A drain and the bloom join run on another thread while this one
    polls the shared session: neither scope's conf may show through."""
    qs = all_queries()
    results: dict[str, int] = {}

    def work() -> None:
        results["drain"] = qs["stream_tumbling"].fn(spark, sf_dir).count()
        results["bloom"] = qs["bloom_pruned_join"].fn(spark, sf_dir).count()

    worker = threading.Thread(target=work)
    seen = set()
    worker.start()
    while worker.is_alive():
        seen.add(
            (
                spark.conf.get("spark.sql.shuffle.partitions"),
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
            )
        )
        time.sleep(0.002)
    worker.join()
    assert results["drain"] > 0 and results["bloom"] > 0
    assert {p for p, _ in seen} == {"32"}, seen
    assert "-1" not in {b for _, b in seen}, seen


class _Events(StreamingQueryListener):
    def __init__(self):
        self.started, self.progress, self.terminated = [], [], []

    def onQueryStarted(self, event) -> None:
        self.started.append(event.name)

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress.name)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(event.id)


def test_callers_listener_hears_child_drains(spark, sf_dir):
    """A listener added to the caller after its drain child exists still
    sees the next drain start, progress and end; once removed from the
    caller, the child drops it too."""
    drain = all_queries()["stream_tumbling"].fn
    drain(spark, sf_dir)  # the child exists before the listener does
    events = _Events()
    spark.streams.addListener(events)
    try:
        drain(spark, sf_dir)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(events)
    assert len(events.started) == 1 and events.started[0].startswith("s_tumb_")
    assert events.progress and set(events.progress) == set(events.started)
    assert len(events.terminated) == 1
    child = scoped_session(spark, _BUNDLE)
    assert len(child.streams._jsqm.listListeners()) == len(
        spark.streams._jsqm.listListeners()
    )


def test_child_runs_under_callers_runtime_conf(spark):
    """A child inherits only the SparkConf; the caller's runtime SQL conf
    is copied on each call, with the bundle on top."""
    caller = spark.newSession()  # a throwaway caller: the shared one stays clean
    caller.conf.set("spark.sql.ansi.enabled", "false")
    child = scoped_session(caller, _BUNDLE)
    # ANSI off: an unparsable cast yields NULL instead of failing
    assert child.sql("SELECT CAST('x' AS INT) AS v").collect()[0].v is None
    assert child.conf.get("spark.sql.shuffle.partitions") == "8"
    assert caller.conf.get("spark.sql.shuffle.partitions") == "32"
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"

    caller.conf.set("spark.sql.ansi.enabled", "true")
    caller.conf.set("spark.sql.shuffle.partitions", "16")  # the bundle wins
    assert scoped_session(caller, _BUNDLE) is child
    assert child.conf.get("spark.sql.ansi.enabled") == "true"
    assert child.conf.get("spark.sql.shuffle.partitions") == "8"


def test_one_child_per_caller_and_bundle(spark):
    child = scoped_session(spark, _BUNDLE)
    assert child is not spark
    assert scoped_session(spark, dict(_BUNDLE)) is child
    assert scoped_session(spark, {"spark.sql.shuffle.partitions": "4"}) is not child
    assert scoped_session(spark.newSession(), _BUNDLE) is not child


def test_drain_leaves_no_sink_view(spark, sf_dir):
    """The memory sink's temp view is dropped once the read-back is
    analyzed; the frame still reads the sink."""
    out = all_queries()["stream_session"].fn(spark, sf_dir)
    child = out.sparkSession
    assert child is scoped_session(spark, _BUNDLE)
    for session in (child, spark):
        views = [t.name for t in session.catalog.listTables() if t.isTemporary]
        assert not [v for v in views if v.startswith("s_sess_")], views
    assert out.count() > 0
