import threading
import types

from spans import Tracer


class FakeContext:
    """Per-thread local properties, like SparkContext's."""

    def __init__(self):
        self._local = threading.local()
        self.seen = []  # (thread, description) at each job-like call

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = getattr(self._local, "props", None)
        if props is None:
            props = self._local.props = {}
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value

    def setJobDescription(self, value):
        self.setLocalProperty("spark.job.description", value)

    def job(self):
        self.seen.append((threading.current_thread().name,
                          self.getLocalProperty("spark.job.description")))


def test_spans_label_jobs_per_thread_and_parent_engine_threads():
    sc = FakeContext()
    tracer = Tracer(types.SimpleNamespace(sparkContext=sc))

    def commit(table):
        sc.job()

    def run_wave():
        # the engine's pattern: a commit on its own thread, overlapping
        # one on the calling thread
        t = threading.Thread(target=lambda: tracer.call("commit:results", commit, "results"),
                             name="results-commit")
        t.start()
        tracer.call("commit:frontier", commit, "frontier")
        t.join(timeout=10)
        assert not t.is_alive()
        sc.job()

    tracer.call("wave.run", run_wave)
    by_name = {s.name: s for s in tracer.spans}
    wave = by_name["wave.run"]
    assert wave.parent is None
    assert by_name["commit:results"].parent == wave.id
    assert by_name["commit:results"].thread == "results-commit"
    assert by_name["commit:frontier"].parent == wave.id
    labels = dict((name, desc) for name, desc in sc.seen if name != "MainThread")
    assert labels["results-commit"] == by_name["commit:results"].label
    # the calling thread's description is restored after each span
    assert sc.seen[-1] == ("MainThread", wave.label)
    assert sc.getLocalProperty("spark.job.description") is None
    assert {c.name for c in tracer.children(wave)} == {"commit:results", "commit:frontier"}


def test_install_wraps_targets_and_uninstall_restores():
    import json

    sc = FakeContext()
    tracer = Tracer(types.SimpleNamespace(sparkContext=sc))
    orig = json.dumps
    tracer.target("json", "dumps", "json.dumps")
    tracer.target("json", "no_such_function")
    assert tracer.install() == ["json.no_such_function"]
    try:
        assert json.dumps([1]) == "[1]"
        assert json.dumps is not orig
    finally:
        tracer.uninstall()
    assert json.dumps is orig
    assert [s.name for s in tracer.spans] == ["json.dumps"]
