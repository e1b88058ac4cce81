"""The checkpoint ledger's release contract (r17, ADVICE item 2).

release_checkpoints() walks a private py4j chain to unpersist the
blocks behind every lazy/eager localCheckpoint taken through the
ledger. These tests pin the two properties the bench protocol's
per-run reset depends on: every registered checkpoint actually
releases (count == registered), and the JVM's persistent-RDD map is
empty afterwards — so a Spark upgrade that silently breaks the chain
fails HERE instead of as cross-run bench drift. The same release drops
the labels connected_components caches for its run.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from cubert_spark import checkpoints


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_checkpoints_releases_every_registered(spark):
    checkpoints.release_checkpoints()  # drain any prior ledger state
    # other fixtures may hold non-ledger persists (e.g. CC labels) —
    # the contract is on the DELTA this ledger creates and removes
    base_n = _n_persistent_rdds(spark)

    a = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    ck1 = checkpoints.eager_checkpoint(a)
    ck2 = checkpoints.lazy_checkpoint(a.groupBy((F.col("id") % 3)).count())
    ck2.write.format("noop").mode("overwrite").save()  # materialize lazy
    assert ck1.count() == 100
    assert _n_persistent_rdds(spark) >= base_n + 2

    released = checkpoints.release_checkpoints()
    assert released == 2
    assert checkpoints._LIVE == []
    assert _n_persistent_rdds(spark) == base_n


def test_release_checkpoints_counts_and_reports_failures(spark, capsys):
    checkpoints.release_checkpoints()
    df = checkpoints.eager_checkpoint(spark.range(10))

    class Broken:
        def __getattr__(self, name):  # any py4j access raises
            raise RuntimeError("plan shape changed")

    df._jdf = Broken()
    before = checkpoints._RELEASE_FAILURES
    released = checkpoints.release_checkpoints()
    assert released == 0
    assert checkpoints._RELEASE_FAILURES == before + 1
    assert "release_checkpoints failed" in capsys.readouterr().err


def test_release_drops_connected_components_caches(spark):
    from cubert_spark.datapipe.components import connected_components

    checkpoints.release_checkpoints()
    base_n = _n_persistent_rdds(spark)
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    # union-find path twice, label-propagation path three times
    for small_graph_edges in (2_000_000, 2_000_000, 0, 0, 0):
        cc = connected_components(edges, small_graph_edges=small_graph_edges)
        assert sorted(tuple(r) for r in cc.collect()) == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
        cached = list(checkpoints._PERSISTED)
        assert cached
        checkpoints.release_checkpoints()
        # <=: the ContextCleaner may reap an earlier test's RDD meanwhile
        assert _n_persistent_rdds(spark) <= base_n
        assert all(df.storageLevel == StorageLevel.NONE for df in cached)
