"""lifecycle: the one module that pins and releases frames and scopes
Spark confs — its contract, and the structural rule that nothing else
in the package persists a frame or saves and restores a conf."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from samyama_graph_spark import lifecycle

PKG = Path(__file__).resolve().parents[1] / "samyama_graph_spark"
SHUFFLE = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "lifecycle.py":
            yield path.relative_to(PKG).as_posix(), path.read_text()


def test_only_lifecycle_persists_frames_and_sets_confs():
    frame_calls, conf_calls, old_names, weak_caches = [], [], [], []
    for rel, text in _sources():
        for no, line in enumerate(text.splitlines(), 1):
            where = f"{rel}:{no}: {line.strip()}"
            if re.search(r"\.persist\(|\.cache\(\)|\.unpersist\(", line):
                # dedup's per-round codebook is a Broadcast, not a frame
                if not (rel == "datapipe/dedup.py"
                        and "bc.unpersist(blocking=False)" in line):
                    frame_calls.append(where)
            if re.search(r"conf\.(set|unset)\(", line):
                # the session-wide parquet switch, never restored
                if not (rel in ("loaders.py", "streaming/windows.py")
                        and "spark.sql.legacy.parquet.nanosAsLong" in line):
                    conf_calls.append(where)
            if re.search(
                r"\b(_PINNED_SIGS|_PINS|_ACTIVE_SCOPES|_pin_frames"
                r"|_scoped_shuffle_partitions)\b",
                line,
            ):
                old_names.append(where)
            # a session-keyed cache outside the session keeps it alive
            if "WeakKeyDictionary" in line:
                weak_caches.append(where)
    assert not frame_calls, frame_calls
    assert not conf_calls, conf_calls
    assert not old_names, old_names
    assert not weak_caches, weak_caches


def test_scope_restores_confs_and_releases_pins_after_exception(spark):
    before = (spark.conf.get(SHUFFLE), spark.conf.get(AQE))
    with pytest.raises(RuntimeError):
        with lifecycle.scope(spark, {SHUFFLE: 3, AQE: "false"}):
            assert spark.conf.get(SHUFFLE) == "3"
            assert spark.conf.get(AQE) == "false"
            inside = lifecycle.pin(spark.range(19))
            raise RuntimeError("boom")
    assert (spark.conf.get(SHUFFLE), spark.conf.get(AQE)) == before
    assert not inside.storageLevel.useMemory


def test_nested_scopes_restore_in_order(spark):
    before = spark.conf.get(SHUFFLE)
    with lifecycle.scope(spark, {SHUFFLE: 5}):
        with lifecycle.scope(spark, {SHUFFLE: 7}):
            assert spark.conf.get(SHUFFLE) == "7"
        assert spark.conf.get(SHUFFLE) == "5"
    assert spark.conf.get(SHUFFLE) == before


def test_scope_none_value_leaves_key_untouched(spark):
    with lifecycle.scope(spark, {SHUFFLE: 6}):
        with lifecycle.scope(spark, {SHUFFLE: None}):
            assert spark.conf.get(SHUFFLE) == "6"
            spark.conf.set(SHUFFLE, "9")
        # the inner scope saved nothing, so it restores nothing
        assert spark.conf.get(SHUFFLE) == "9"


def test_scope_releases_its_pins_and_only_its_pins(spark):
    outside = lifecycle.pin(spark.range(11), "test.outside")
    try:
        with lifecycle.scope(spark):
            inside = lifecycle.pin(spark.range(13))
            named = lifecycle.pin(spark.range(17), "test.named")
            assert inside.storageLevel.useMemory
        assert not inside.storageLevel.useMemory
        assert not inside.storageLevel.useDisk
        assert outside.storageLevel.useMemory
        assert named.storageLevel.useMemory
    finally:
        lifecycle.release(spark, "test.outside")
        lifecycle.release(spark, "test.named")
    assert not outside.storageLevel.useMemory
    assert not named.storageLevel.useMemory


def test_pin_without_owner_needs_a_scope(spark):
    with pytest.raises(RuntimeError):
        lifecycle.pin(spark.range(23))



def test_dropped_session_frees_its_registry(spark):
    """A pinned frame holds its session, so the registry must not be
    what keeps a dropped session alive."""
    import gc
    import weakref

    from pyspark.sql import session as pyspark_session

    other = spark.newSession()
    pinned = lifecycle.pin(other.range(29), "test.dropped", eager=False)
    jdf, ref = pinned._jdf, weakref.ref(other)
    del other, pinned
    # creating a session rebinds pyspark's RDD.toDF to it: bind it back
    pyspark_session._monkey_patch_RDD(spark)
    gc.collect()
    try:
        assert ref() is None
    finally:
        jdf.unpersist(True)


def _collected(spark, build) -> bool:
    """Whether a new session that ran ``build`` is collected once
    dropped."""
    import gc
    import weakref

    from pyspark.sql import session as pyspark_session

    other = spark.newSession()
    build(other)
    ref = weakref.ref(other)
    del other
    # creating a session rebinds pyspark's RDD.toDF to it: bind it back
    pyspark_session._monkey_patch_RDD(spark)
    gc.collect()
    return ref() is None


def test_dropped_session_frees_its_graphs_and_engines(spark, sf_dir):
    """Memoized graphs and engines hold their session, so they must be
    held by the session, not by a module-level table keyed on it."""
    from samyama_graph_spark import workloads_cypher, workloads_finbench
    from samyama_graph_spark import workloads_ldbc
    from samyama_graph_spark.loaders import tpch_graph

    def build(other):
        tpch_graph(other, sf_dir)
        workloads_ldbc.ldbc_graph(other, sf_dir)
        workloads_ldbc._engine(other, sf_dir)
        workloads_cypher._engine(other, sf_dir)
        workloads_finbench.finbench_graph(other, sf_dir)
        # the KNOWS ring is cached in the CacheManager the sessions
        # share: free it here, as dropping its session cannot
        lifecycle.release(other, ("workloads_ldbc.knows", sf_dir))

    assert _collected(spark, build)


@pytest.fixture
def other(spark):
    """A second session on the shared context."""
    from pyspark.sql import session as pyspark_session

    second = spark.newSession()
    # creating a session rebinds pyspark's RDD.toDF to it: bind it back
    pyspark_session._monkey_patch_RDD(spark)
    return second


def test_memo_builds_once_per_session_and_owner(spark, other):
    calls = []

    def build():
        calls.append(1)
        return object()

    try:
        first = lifecycle.memo(spark, "test.memo", build)
        assert lifecycle.memo(spark, "test.memo", build) is first
        assert len(calls) == 1
        theirs = lifecycle.memo(other, "test.memo", build)
        assert theirs is not first and len(calls) == 2
        assert lifecycle.memo(other, "test.memo", build) is theirs
        assert lifecycle.memo(spark, "test.memo.2", build) is not first
        assert len(calls) == 3
    finally:
        for owner in ("test.memo", "test.memo.2"):
            lifecycle.release(spark, owner)


def test_memo_build_may_memo(spark):
    """Builds nest (a graph memo builds the table memo), so a build
    runs outside the registry lock."""
    try:
        outer = lifecycle.memo(
            spark, "test.outer", lambda: [lifecycle.memo(spark, "test.inner", list)]
        )
        assert outer[0] is lifecycle.memo(spark, "test.inner", list)
    finally:
        lifecycle.release(spark, "test.outer")
        lifecycle.release(spark, "test.inner")


def test_release_forgets_only_that_sessions_memo(spark, other):
    mine = lifecycle.memo(spark, "test.release", object)
    theirs = lifecycle.memo(other, "test.release", object)
    try:
        lifecycle.release(other, "test.release")
        assert lifecycle.memo(spark, "test.release", object) is mine
        fresh = lifecycle.memo(other, "test.release", object)
        assert fresh is not theirs
    finally:
        lifecycle.release(spark, "test.release")
    assert lifecycle.memo(spark, "test.release", object) is not mine
    lifecycle.release(spark, "test.release")
