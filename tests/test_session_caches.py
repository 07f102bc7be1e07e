"""The one scratch-cache rule: every library persist goes through the
session-tracked helpers in ``labelmain_spark.session``, so
``release_caches(spark)`` drops exactly what ``spark``'s queries cached.

The tracked list is a WeakKeyDictionary keyed by session; it must be
able to actually collect an abandoned session, which requires that
tracked handles never strongly reference the Python SparkSession (r10
self-review: DataFrame values hold ``_session`` → they pin the weak key
forever, degrading the dict to a strong one for exactly the sessions it
exists to clean up). That every registry key releases to zero storage
is checked per key by the parity tests (tests/test_oracle_parity.py)."""

from __future__ import annotations

import ast
import pathlib

from labelmain_spark import session as sess


def test_tracked_handles_hold_no_session_backref(spark, sf_dir):
    from labelmain_spark.functions.text import bm25_topk

    sess.release_caches(spark)  # clean slate
    bm25_topk(spark, sf_dir)  # plan build registers the persisted base
    entry = sess._TRACKED_PERSISTS.get(spark)
    assert entry, "bm25_topk should have tracked its persisted projection"
    # classic path: every handle is the py4j JVM Dataset — a DataFrame
    # here would re-pin the session (the defect this test pins closed).
    # isinstance, not hasattr: py4j JavaObjects answer hasattr for any
    # name, including sparkSession.
    from pyspark.sql import DataFrame

    assert all(not isinstance(h, DataFrame) for h in entry), (
        "tracked handle is a Python DataFrame — it strongly references "
        "the SparkSession and defeats the WeakKeyDictionary"
    )
    sess.release_caches(spark)
    assert not sess._TRACKED_PERSISTS.get(spark), "release must drop the entry"


def test_release_caches_scoped_to_caller(spark, sf_dir):
    """Releasing one session must only drop that session's entry — a
    second session's tracked list survives. (Simulated with a distinct
    weak-key object: real concurrent sessions share the test JVM.)"""

    class _FakeSession:
        pass

    other = _FakeSession()
    sess._TRACKED_PERSISTS[other] = ["sentinel"]
    from labelmain_spark.functions.text import bm25_topk

    bm25_topk(spark, sf_dir)
    sess.release_caches(spark)
    assert sess._TRACKED_PERSISTS.get(other) == ["sentinel"]
    assert not sess._TRACKED_PERSISTS.get(spark)
    del sess._TRACKED_PERSISTS[other]


def test_persist_round_without_jvm_handle_tracks_the_frame(spark):
    """A Spark Connect frame has no ``_jdf`` to re-root on:
    persist_round persists and tracks the frame itself instead of
    raising, and unpersist drops it again."""

    class _ConnectFrame:
        sparkSession = spark
        level = released = None

        def persist(self, level):
            self.level = level
            return self

        def unpersist(self):
            self.released = True

    df = _ConnectFrame()
    assert sess.persist_round(df) is df
    assert df.level == sess.STORAGE_LEVEL
    assert any(h is df for h in sess._TRACKED_PERSISTS[spark])
    sess.unpersist(df)
    assert df.released
    assert not any(h is df for h in sess._TRACKED_PERSISTS.get(spark, []))


_CACHE_CALLS = {"persist", "unpersist", "cache"}


def test_persists_only_in_session_module():
    """Source pin: outside ``session.py`` no library module calls
    ``.persist(``, ``.unpersist(`` or ``.cache(``, or imports
    ``StorageLevel`` — a new site cannot bypass the tracked helpers
    (one storage level, one release)."""
    root = pathlib.Path(__file__).resolve().parents[1] / "labelmain_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', 0)}"
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CACHE_CALLS
            ):
                bad.append(f"{where} .{node.func.attr}(")
            elif isinstance(node, (ast.Import, ast.ImportFrom)) and any(
                a.name.split(".")[-1] == "StorageLevel" for a in node.names
            ):
                bad.append(f"{where} imports StorageLevel")
            elif isinstance(node, ast.Attribute) and node.attr == "StorageLevel":
                bad.append(f"{where} uses StorageLevel")
    assert not bad, "cache calls outside session.py: " + ", ".join(bad)


def test_conf_writes_only_in_the_reader_contract():
    """Source pin: no library code calls ``.conf.set(`` except
    ``readers._enable_nanos_as_long``, whose two reader confs are the
    data contract — a loop never replans the caller's shared session
    to suit itself."""
    root = pathlib.Path(__file__).resolve().parents[1] / "labelmain_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.relative_to(root).as_posix() == "sources/readers.py":
            fn = next(
                n
                for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "_enable_nanos_as_long"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and id(node) not in allowed
            ):
                bad.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not bad, "runtime conf writes: " + ", ".join(bad)
