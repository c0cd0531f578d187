"""Pin ownership in ``operators._ckpt``: a scope releases exactly the
frames pinned inside it, on every exit path; a pin made outside any
scope lives for the session."""

import pytest
from pyspark.sql import functions as F

from boon_spark.operators._ckpt import StorageLevel, pin, release, scope


def _frame(spark, salt):
    # a plan no other test caches (the CacheManager matches equal plans)
    return spark.range(50).select((F.col("id") * salt + 7).alias("x"))


def _persisted(df):
    return df.storageLevel != StorageLevel.NONE


def _checkpoint_held(spark, df):
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    return rdd_id in spark.sparkContext._jsc.getPersistentRDDs()


def test_pin_levels(spark):
    with scope() as pins:
        a = pin(_frame(spark, 3), StorageLevel.MEMORY_AND_DISK)
        b = pin(_frame(spark, 5), StorageLevel.MEMORY_AND_DISK_DESER)
        c = pin(_frame(spark, 11))
        assert a.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert b.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        # level=None is a lazy local checkpoint: a LogicalRDD leaf
        plan = c._jdf.queryExecution().analyzed()
        assert plan.getClass().getName().endswith(".LogicalRDD")
        assert c.count() == 50
        assert len(pins) == 3
        assert all(p is q for p, q in zip(pins, (a, b, c)))


def test_nested_scopes_release_only_their_own_pins(spark):
    with scope() as outer:
        a = pin(_frame(spark, 13), StorageLevel.MEMORY_AND_DISK)
        with scope() as inner:
            b = pin(_frame(spark, 17), StorageLevel.MEMORY_AND_DISK)
            c = pin(_frame(spark, 19))
            assert c.count() == 50
            assert _checkpoint_held(spark, c)
            assert len(inner) == 2
        assert not _persisted(b)
        assert not _checkpoint_held(spark, c)
        assert _persisted(a) and len(outer) == 1
    assert not _persisted(a)


def test_scope_releases_pins_when_body_raises(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            a = pin(_frame(spark, 23), StorageLevel.MEMORY_AND_DISK)
            c = pin(_frame(spark, 29))
            c.count()
            raise RuntimeError("boom")
    assert not _persisted(a)
    assert not _checkpoint_held(spark, c)


def test_release_twice_is_harmless(spark):
    a = pin(_frame(spark, 31), StorageLevel.MEMORY_AND_DISK)
    c = pin(_frame(spark, 37))
    a.count()
    c.count()
    for _ in range(2):
        release(a)
        release(c)
    assert not _persisted(a)
    assert not _checkpoint_held(spark, c)


def test_pin_outside_scope_survives_a_later_scope(spark):
    # a repeated query reads the frames an earlier, unscoped run pinned
    a = pin(_frame(spark, 41), StorageLevel.MEMORY_AND_DISK)
    c = pin(_frame(spark, 43))
    a.count()
    c.count()
    with scope() as pins:
        b = pin(_frame(spark, 47), StorageLevel.MEMORY_AND_DISK)
        b.count()
        assert len(pins) == 1
    assert not _persisted(b)
    assert _persisted(a) and _checkpoint_held(spark, c)
    release(a)
    release(c)
