"""Versioned atomic publish (sources/publish.py): marker-flip commit,
snapshot isolation for readers, crash orphans, time travel."""

from __future__ import annotations

import os

import pytest

from data_engineering_hs_spark.sources.publish import (
    current_version,
    publish,
    read_published,
)


class TestPublish:
    def test_publish_and_read_round_trip(self, spark, tmp_path):
        root = str(tmp_path / "pub")
        v = publish(
            {
                "dim": spark.createDataFrame([(1, "a")], "k long, v string"),
                "fct": spark.createDataFrame([(1, 10.0)], "k long, x double"),
            },
            root,
        )
        assert v == 1 and current_version(root) == 1
        assert read_published(spark, root, "fct").count() == 1

    def test_new_version_flips_atomically_and_old_survives(self, spark, tmp_path):
        root = str(tmp_path / "pub")
        publish({"t": spark.createDataFrame([(1,)], "k long")}, root)
        publish({"t": spark.createDataFrame([(1,), (2,)], "k long")}, root)
        assert current_version(root) == 2
        assert read_published(spark, root, "t").count() == 2
        # v1 still complete on disk (time travel until deleted)
        assert spark.read.parquet(os.path.join(root, "v=1", "t")).count() == 1

    def test_crashed_publish_is_invisible(self, spark, tmp_path):
        root = str(tmp_path / "pub")
        publish({"t": spark.createDataFrame([(1,)], "k long")}, root)
        # simulate a crash AFTER staging v=2 but BEFORE the marker flip
        spark.createDataFrame([(9,)], "k long").write.parquet(
            os.path.join(root, "v=2", "t")
        )
        assert current_version(root) == 1
        assert read_published(spark, root, "t").count() == 1
        # next successful publish supersedes the orphan number
        v = publish({"t": spark.createDataFrame([(1,), (2,)], "k long")}, root)
        assert v == 3 and read_published(spark, root, "t").count() == 2

    def test_read_before_first_publish_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            read_published(spark, str(tmp_path / "nothing"), "t")

    def test_remote_root_rejected_up_front(self, spark, tmp_path):
        # every probe is os.path and the commit is os.replace: on a
        # URI root, os.makedirs would create a literal local 's3a:/…'
        # dir and the publish would 'succeed' invisibly to any remote
        # reader — reject loudly instead (streaming_cdc_apply pattern)
        df = spark.range(1)
        for call in (
            lambda: publish({"t": df}, "s3a://bucket/pub"),
            lambda: read_published(spark, "hdfs://nn/pub", "t"),
        ):
            with pytest.raises(ValueError, match="driver-local root"):
                call()


def test_time_travel_reads_explicit_version(spark, tmp_path):
    from data_engineering_hs_spark.sources.publish import (
        publish,
        read_published,
    )

    root = str(tmp_path / "store")
    v1 = publish({"t": spark.range(5)}, root)
    v2 = publish({"t": spark.range(9)}, root)
    assert read_published(spark, root, "t", version=v1).count() == 5
    assert read_published(spark, root, "t", version=v2).count() == 9
    assert read_published(spark, root, "t").count() == 9  # head


def test_time_travel_guards(spark, tmp_path):
    import shutil

    import pytest as _pytest

    from data_engineering_hs_spark.sources.publish import (
        publish,
        read_published,
    )

    root = str(tmp_path / "store")
    publish({"t": spark.range(3)}, root)
    publish({"t": spark.range(4)}, root)
    v3 = publish({"t": spark.range(5)}, root)
    # nonexistent version: explicit not-found
    with _pytest.raises(FileNotFoundError):
        read_published(spark, root, "t", version=v3 + 10)
    # staged-but-uncommitted version (in-flight or crashed publish —
    # no _COMMITTED marker): never readable, whatever its number
    os.makedirs(os.path.join(root, f"v={v3 + 1}"))
    with _pytest.raises(ValueError, match="never committed"):
        read_published(spark, root, "t", version=v3 + 1)
    # deleted version: explicit error, not a silent empty frame
    shutil.rmtree(os.path.join(root, "v=1"))
    with _pytest.raises(FileNotFoundError):
        read_published(spark, root, "t", version=1)


def test_version_claim_is_exclusive(spark, tmp_path):
    """A competing writer's already-claimed version directory is
    skipped, not co-written: the next publish claims a fresh number."""
    from data_engineering_hs_spark.sources.publish import publish

    root = str(tmp_path / "race")
    df = spark.range(3)
    assert publish({"t": df}, root) == 1
    os.makedirs(os.path.join(root, "v=2"))  # another writer mid-stage
    assert publish({"t": df}, root) == 3


def test_crashed_orphan_below_later_commit_never_readable(spark, tmp_path):
    """A publish that crashed mid-write must stay unreadable even
    after LATER publishes commit past its version number — the
    per-version _COMMITTED marker, not position vs _LATEST, decides."""
    import pytest as _pytest

    from data_engineering_hs_spark.sources.publish import (
        publish,
        read_published,
    )

    root = str(tmp_path / "store")
    publish({"a": spark.range(2)}, root)  # v1 committed
    # simulate a crash: v2 claimed, table written, NO commit marker
    orphan = os.path.join(root, "v=2", "a")
    spark.range(99).write.parquet(orphan)
    v3 = publish({"a": spark.range(3)}, root)  # commits past the orphan
    assert v3 == 3
    with _pytest.raises(ValueError, match="never committed"):
        read_published(spark, root, "a", version=2)
