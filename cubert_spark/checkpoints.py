"""Session-lifetime ledger of localCheckpoint'ed DataFrames.

``localCheckpoint`` materializes a DataFrame's partitions into block-
manager storage (memory, spilling to disk) and truncates its lineage —
the repo uses it wherever a subtree feeds several consumers (diamond
lineage: guide §2.4/§5) or an iterative loop would otherwise re-evaluate
earlier rounds. The blocks, however, live until the backing RDD is
garbage-collected on BOTH the Python and JVM side, which is lazy and
non-deterministic — across a ~120-query bench session the litter from
prior runs measurably degrades later queries (r16 A/B: rows running
after checkpoint-heavy rows drifted 1.2-1.8x purely from accumulated
blocks).

So every checkpoint taken through :func:`lazy_checkpoint` /
:func:`eager_checkpoint` is registered here, and
:func:`release_checkpoints` — called from the bench protocol's existing
per-run reset hook (``queries.extensions.reset_materialized``), OUTSIDE
the timed region — deterministically unpersists the backing RDDs of
every PRIOR run. Within a run nothing is released, so the checkpoint
semantics (compute once, every consumer reads blocks) are unchanged;
across runs nothing survives, so every timed run still computes from
the parquet inputs alone. DataFrames cached through :func:`run_persist`
are released by the same call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []
#: run_persist'ed DataFrames: released with the checkpoints, not counted
_PERSISTED: list[DataFrame] = []


def run_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` for the current run: the cache is dropped by the
    next :func:`release_checkpoints`, like the checkpoints' blocks."""
    out = df.persist()
    _PERSISTED.append(out)
    return out


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` + ledger registration."""
    out = df.localCheckpoint(eager=False)
    _LIVE.append(out)
    return out


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + ledger registration."""
    out = df.localCheckpoint(eager=True)
    _LIVE.append(out)
    return out


#: Failures swallowed by release_checkpoints since process start —
#: surfaced (r17, ADVICE): the release walks a private py4j chain
#: (queryExecution().analyzed().rdd().unpersist) and a Spark upgrade
#: that changes the localCheckpoint plan shape would otherwise turn
#: the release into a silent no-op, re-introducing the cross-run
#: block-litter drift this module exists to fix.
_RELEASE_FAILURES = 0


def release_checkpoints() -> int:
    """Unpersist the backing RDD of every registered checkpoint, drop
    every :func:`run_persist` cache and clear the ledger; returns how
    many checkpoints were released. Callers invoke this only between
    query constructions (the per-run reset hook), so every registered
    DataFrame is already dead to its consumers — unpersisting a
    truncated-lineage RDD is then a pure storage release, never a
    recompute hazard.

    Contract (enforced by tests/test_checkpoints.py): every ledger
    entry releases — the return value equals the number of checkpoints
    registered, and the session's persistent-RDD map and cache manager
    are back where they were before the run. A swallowed failure is
    counted in ``_RELEASE_FAILURES`` and logged once per call, so a
    py4j-chain break under a Spark upgrade is a visible warning, not
    silent litter."""
    global _RELEASE_FAILURES
    n = 0
    failed = 0
    for i, df in enumerate(_LIVE + _PERSISTED):
        checkpoint = i < len(_LIVE)
        try:
            sc = df.sparkSession._sc
            if sc._jsc is not None:  # else the JVM took the blocks with it
                if checkpoint:
                    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
                else:
                    df._jdf.unpersist(False)
            n += checkpoint
        except Exception:  # noqa: BLE001 - best-effort storage release
            failed += 1
    if failed:
        import sys

        _RELEASE_FAILURES += failed
        print(
            f"WARNING: release_checkpoints failed to unpersist {failed}/"
            f"{len(_LIVE) + len(_PERSISTED)} registered entries (total failures this "
            f"process: {_RELEASE_FAILURES}) — localCheckpoint blocks may "
            "accumulate across runs; check the private py4j release "
            "chain against this Spark version",
            file=sys.stderr,
        )
    _LIVE.clear()
    _PERSISTED.clear()
    return n
