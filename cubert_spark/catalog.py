"""Dataset loading conventions (Cubert LOAD / STORE, SURVEY.md §2.1).

Cubert LOADs datasets by path + format with a declared schema
(reference: src/io/StorageFactory.java:21-62); our canonical store is
Parquet, where schema, column pruning and predicate pushdown are native.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: The driver-generated star schema (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Session confs that change the schema Spark infers from parquet; each
#: is part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: Parquet schemas already known to this process: absolute path ->
#: (identity, schema), one entry per path, replaced when the file at the
#: path changes. Cubert fixed a dataset's schema at LOAD; here a plain
#: ``spark.read.parquet`` fires a one-task inference job on every read,
#: so each file's schema is inferred once and later reads pass it to
#: ``spark.read.schema``.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple[str, tuple] | None:
    """(absolute path, identity), where the identity is the file's
    device, inode, size and mtime plus the inference confs; None where
    no identity can be had (URI-schemed or missing paths), which keeps
    those reads inferring. A rewrite that keeps inode, size and mtime
    alike is not seen."""
    if _is_uri_schemed(path):
        return None
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return path, (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, *confs)


def _remember_schema(spark: SparkSession, path: str, schema: T.StructType) -> None:
    """Record the schema of parquet the engine has just written at
    ``path``, so reading it back infers nothing. Spark makes a schema
    given to a file source nullable throughout, as inference does."""
    key = _schema_key(spark, path)
    if key is not None:
        _SCHEMAS[key[0]] = (key[1], schema)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred at most once
    per file identity. A directory's inferred schema is not memoized:
    its own stat does not change when a part file inside is rewritten
    in place. Directories the engine wrote are covered by
    _remember_schema."""
    key = _schema_key(spark, path)
    if key is not None:
        ident, schema = _SCHEMAS.get(key[0], (None, None))
        if ident == key[1]:
            return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None and os.path.isfile(path):
        _SCHEMAS[key[0]] = (key[1], df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table from a scale-factor directory, inferring
    its schema once per session (_read_parquet).

    TIMESTAMP(NANOS) parquet columns arrive as long nanos (see
    session.SCALE_DEFAULTS) and are converted to TIMESTAMP_NTZ at
    micro precision, truncating like DuckDB/Arrow do.
    """
    from pyspark.sql import functions as F

    if name == "events":
        # Self-sufficient under ANY session (e.g. a driver-created one
        # without our defaults): nanosAsLong is runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    """Load the star schema as a dict of DataFrames."""
    return {n: load_table(spark, sf_dir, n) for n in names}


@dataclass
class Catalog:
    """Lazy star-schema catalog bound to one scale-factor directory.

    Keeps DataFrames lazy (no caching): at 100 TB the tables are
    re-scanned with per-query pushed filters, not pinned in memory.
    """

    spark: SparkSession
    sf_dir: str = DEFAULT_SF_DIR
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in STAR_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view for spark.sql use."""
        for n in STAR_TABLES:
            self.table(n).createOrReplaceTempView(n)


def _is_uri_schemed(path: str) -> bool:
    """True for scheme://-prefixed paths (hdfs://, s3a://, file://).
    The single detection rule shared by every local-FS-contract guard
    in this module, so the guards cannot drift apart."""
    import re

    return bool(re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path))


def _latest_candidates(path_pattern: str) -> list[str]:
    """The shared #LATEST candidate set: every filesystem match of the
    pattern with #LATEST as a glob star, sorted ascending (newest
    last). resolve_latest and vacuum_versions both resolve through
    here so they can never disagree about what the newest version is."""
    import glob as _glob

    # glob.glob on a URI-schemed path always returns [] — on
    # hdfs://s3a:// that silently turns resolve_latest into
    # "not found" and (worse) vacuum_versions into a NO-OP that never
    # applies retention. Same loud-contract rule as the streaming
    # state probes and the tx log: raise instead of misbehaving.
    if _is_uri_schemed(path_pattern):
        raise ValueError(
            f"#LATEST/vacuum resolution is local-filesystem glob (got "
            f"{path_pattern!r}); on cluster storage resolve versions "
            "with Hadoop fs.globStatus and pass the resolved path."
        )
    return sorted(_glob.glob(path_pattern.replace("#LATEST", "*")))


def resolve_latest(path: str) -> str:
    """``#LATEST`` path tag (FileSystemUtils.java:247-271 /
    CHANGELOG:45): each #LATEST globs to the lexicographically
    greatest match — the newest dated directory under date-named
    layouts. Local-FS resolution here; on a cluster this is one
    fs.globStatus against the object store."""
    if "#LATEST" not in path:
        return path
    matches = _latest_candidates(path)
    if not matches:
        raise FileNotFoundError(f"no paths match {path!r}")
    return matches[-1]


def load(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Cubert ``LOAD "path" USING fmt(params)``.

    Formats (SURVEY.md §1.4): TEXT -> csv, AVRO -> avro, RUBIX ->
    parquet (block-aligned binary store replaced by parquet + optional
    bucketing, see operators.blockgen). ``schema`` accepts the Cubert
    schema string grammar, e.g. ``"STRING word, INT count"``.
    """
    fmt = {"text": "csv", "rubix": "parquet"}.get(fmt.lower(), fmt.lower())
    if fmt == "avro":
        # no spark-avro jar in this environment: route to the pure-
        # Python object-container-file source (sources.AvroDataSource)
        from cubert_spark.sources import register_sources

        register_sources(spark)
        fmt = "cubert_avro"
    if isinstance(path, str):
        path = resolve_latest(path)
    reader = spark.read
    if schema is not None:
        from cubert_spark.schema import parse_schema

        reader = reader.schema(parse_schema(schema))
    if fmt == "csv":
        options.setdefault("sep", "\t")
    return reader.format(fmt).options(**options).load(path)


def load_date_range(
    spark: SparkSession,
    path_pattern: str,
    start: str,
    end: str,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Cubert date-range LOAD: ``LOAD "(path, startDate, endDate)"``
    (grammar CubertPhysical.g4:180-181) over daily-partitioned
    datasets. ``path_pattern`` contains ``{date}`` substituted with
    yyyy-MM-dd for each day in [start, end]; missing days are skipped
    (the reference tolerates absent daily folders via #LATEST tags).
    """
    import datetime as dt
    import glob as _glob

    d0 = dt.date.fromisoformat(start)
    d1 = dt.date.fromisoformat(end)
    paths = []
    cur = d0
    while cur <= d1:
        # {date} = yyyy-MM-dd; {ymd} = yyyyMMdd (the reference's daily
        # directory layout, DateTimeUtilities int-date convention)
        p = path_pattern.format(
            date=cur.isoformat(), ymd=cur.strftime("%Y%m%d")
        )
        if _glob.glob(p):
            paths.append(p)
        cur += dt.timedelta(days=1)
    if not paths:
        raise FileNotFoundError(f"no inputs for {path_pattern} in [{start}, {end}]")
    fmt = {"text": "csv", "rubix": "parquet"}.get(fmt.lower(), fmt.lower())
    return spark.read.format(fmt).options(**options).load(paths)


def store(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options: str) -> None:
    """Cubert ``STORE x INTO "path" USING fmt()`` (overwrite analyzer ->
    mode). RUBIX storage maps to parquet; AVRO to the pure-Python
    object-container-file sink."""
    fmt = {"text": "csv", "rubix": "parquet"}.get(fmt.lower(), fmt.lower())
    if fmt == "avro":
        from cubert_spark.sources import register_sources

        register_sources(df.sparkSession)
        fmt = "cubert_avro"
    if fmt == "csv":
        options.setdefault("sep", "\t")
    df.write.format(fmt).mode(mode).options(**options).save(path)


def store_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Layout-aware STORE — the 100 TB read-side lever the plain sink
    doesn't pull:

    - ``partition_by``: hive-style directory partitioning. Reads that
      filter on these columns prune whole directories at PLANNING time
      (PartitionFilters in the scan; zero IO for pruned values).
    - ``cluster_by``: range-repartition + sort within files on these
      columns, so each parquet file covers a narrow key range and
      row-group min/max stats skip everything else at EXECUTION time
      (PushedFilters actually eliminate row groups instead of being
      re-checked decorations).

    The two compose: daily dirs partition-pruned, key-sorted files
    inside each day stat-skipped. Equivalent job in the reference is
    BLOCKGEN BY PARTITION KEY into RUBIX blocks with a sorted index
    (blockgen.py covers the bucketed-join use; this covers the
    scan-pruning use).
    """
    fmt = {"text": "csv", "rubix": "parquet"}.get(fmt.lower(), fmt.lower())
    from pyspark.sql import functions as F

    out = df
    if cluster_by:
        cols = [F.col(c) for c in cluster_by]
        out = out.repartitionByRange(*cols).sortWithinPartitions(*cols)
    w = out.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def zorder_value(cols, bits: int = 8):
    """Morton (Z-order) curve value from per-column bucket ids.

    ``cols`` are integer bucket-id Columns in [0, 2**bits); the result
    interleaves their bits (column i contributes bit j to output bit
    j*len(cols)+i). Rows close on the curve are close in EVERY input
    dimension, which is what makes multi-column stat-skipping work —
    a single-column sort gives perfect locality on one column and none
    on the others.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for j in range(bits):
        for i, c in enumerate(cols):
            z = z + (
                F.shiftright(c.cast("bigint"), j).bitwiseAND(F.lit(1))
                * F.lit(1 << (j * len(cols) + i)).cast("bigint")
            )
    return z


def store_zorder(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 8,
    num_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Multi-dimensional clustered STORE: range-repartition + sort on
    the Morton curve over ``zorder_by`` (all must be numeric), so each
    parquet file/row-group covers a narrow range in EVERY listed
    column and min/max stats skip on any of them — the lakehouse
    OPTIMIZE ZORDER analog, complementing the single-column
    ``store_clustered`` (perfect on one dim, blind on the rest).

    Bucketization is linear min/max scaling into 2**bits buckets via
    one broadcast stats row — exact integer arithmetic, no sampling.
    Heavily skewed columns would crowd buckets; the production upgrade
    is quantile-based bucket ids (range-partition ids), same
    interleave. The stats pass is one extra scan of the zorder
    columns only (column-pruned); the write itself is the same single
    range shuffle ``store_clustered`` pays.
    """
    from pyspark.sql import functions as F

    fmt = {"text": "csv", "rubix": "parquet"}.get(fmt.lower(), fmt.lower())
    nb = 1 << bits
    stats = df.agg(
        *[
            x
            for c in zorder_by
            for x in (
                F.min(c).cast("bigint").alias(f"__min_{c}"),
                F.max(c).cast("bigint").alias(f"__max_{c}"),
            )
        ]
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    # exact integer division (`div`), not `/`: float division + cast
    # can floor one bucket off at the boundary
    buckets = [
        F.expr(
            f"((cast(`{c}` as bigint) - `__min_{c}`) * {nb})"
            f" div (`__max_{c}` - `__min_{c}` + 1)"
        )
        for c in zorder_by
    ]
    out = (
        with_stats.withColumn("__z", zorder_value(buckets, bits))
        .repartitionByRange(*( [num_files] if num_files else [] ), F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__{m}_{c}" for c in zorder_by for m in ("min", "max")])
    )
    out.write.format(fmt).mode(mode).options(**options).save(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> None:
    """MERGE INTO for plain-parquet tables — the storage half of the
    CDC story (operators.cdc compacts changelogs; this applies one to
    a stored table): delta rows REPLACE same-key stored rows, rows
    with ``delete_col`` true remove their key, every other stored row
    carries forward.

    Rewrite = base anti-join delta-keys ∪ delta-inserts — the only
    join keys on ``key_cols`` and the delta side is small by
    construction (broadcastable), so the base never shuffles; at
    100 TB pair this with partitioned layout so only touched
    partitions rewrite. Commit = write to a scratch dir then swap
    (the plain-parquet stand-in for a table format's atomic commit;
    readers mid-swap need a real table format — documented limit)."""
    import shutil

    from pyspark.sql import functions as F

    base = _read_parquet(spark, path)
    dkeys = delta.select(*key_cols).distinct()
    keep = base.join(F.broadcast(dkeys), list(key_cols), "left_anti")
    ins = delta
    if delete_col is not None:
        ins = delta.filter(~F.col(delete_col)).drop(delete_col)
    merged = keep.unionByName(ins)
    staged = path.rstrip("/") + ".__staged"
    merged.write.mode("overwrite").parquet(staged)
    # swap via two renames, not delete-then-rename: a crash between
    # them leaves either the old table or both directories — never
    # NO table. Cleanup of the old copy is the only non-critical step.
    bak = path.rstrip("/") + ".__old"
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(staged, path)
    shutil.rmtree(bak, ignore_errors=True)
    _remember_schema(spark, path, merged.schema)


def vacuum_versions(
    path_pattern: str,
    keep_last: int = 3,
    dry_run: bool = False,
) -> tuple[list[str], list[str]]:
    """Retention for versioned (date-named) layouts: of every
    directory matching ``path_pattern`` (same glob position as
    ``#LATEST`` — e.g. ``/data/daily/#LATEST`` vacuums
    ``/data/daily/*``), keep the ``keep_last`` lexicographically
    greatest versions and delete the rest. The lifecycle complement
    of resolve_latest — Cubert managed this with per-script
    ONCOMPLETION rm blocks (grammar ONCOMPLETION,
    FileSystemUtils.java); here it is one idempotent library call a
    scheduler can own.

    Returns (kept, removed), both sorted. ``dry_run`` reports without
    deleting. ``keep_last`` must be >= 1 — the newest version (what
    ``#LATEST`` resolves to) is never deletable through this API.
    Local-FS here; on an object store the rmtree becomes a prefix
    delete."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # the SAME candidate set resolve_latest uses (files and dirs), so
    # "the newest version is never deletable" is computed over exactly
    # what #LATEST resolves against
    versions = _latest_candidates(path_pattern)
    kept = versions[-keep_last:]
    removed = versions[: max(0, len(versions) - keep_last)]
    if not dry_run:
        for p in removed:
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    return kept, removed


# --- versioned commit log (time travel) -------------------------------------

class TxConflictError(RuntimeError):
    """Two writers committed the same tx version: exactly one manifest
    link wins; the loser gets this error (its data dir is an inert,
    vacuumable orphan). Retry by re-reading the log head."""


def _txlog_dir(path: str) -> str:
    import os

    # the tx log's compare-and-swap is os.link create-exclusive —
    # POSIX-local by construction. A URI-schemed path (hdfs://,
    # s3a://) would NOT error here: os.makedirs would silently create
    # a literal local directory named "hdfs:/..." while Spark wrote
    # the data to the real remote FS — a split-brain table. Same
    # failure class as the streaming state probes (r9 VERDICT #2),
    # so the same contract: raise loudly instead of misbehaving.
    if _is_uri_schemed(path):
        raise ValueError(
            f"tx tables require a plain local filesystem path (got "
            f"{path!r}): the commit log's atomic publish is os.link "
            "create-exclusive. On cluster storage use a lakehouse "
            "table format's commit protocol instead."
        )
    return os.path.join(path, "_txlog")


def tx_versions(path: str) -> list[int]:
    """Committed versions of a tx table, ascending (empty if none)."""
    import os
    import re

    d = _txlog_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        m = re.fullmatch(r"v(\d+)\.json", f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def tx_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    meta: dict | None = None,
    retries: int = 0,
    abort_if=None,
    on_conflict: str = "fail",
) -> int:
    """Commit ``df`` to a versioned table (the public Delta-lake /
    Iceberg snapshot idea in its minimal parquet-native form — no
    reference analog; the reference's nearest concept is dated
    #LATEST layouts, which ``vacuum_versions`` manages):

    - data files are IMMUTABLE: each commit writes new parquet files
      into a unique ``data/c-{uuid}/`` directory and never touches old
      ones;
    - a manifest ``_txlog/v{N}.json`` lists the file set of version N
      (append = parent's files + new; overwrite = new only);
    - the manifest is PUBLISHED with ``os.link`` (create-exclusive:
      fails EEXIST if ``v{N}.json`` already exists) — atomic on
      POSIX, so readers see either version N-1 or N, never a partial
      file list, AND two writers racing to the same version number
      get one winner and one ``TxConflictError`` instead of a silent
      clobber. The loser's data directory becomes an unreferenced
      orphan (inert; reclaimable by ``tx_vacuum``); the caller may
      retry, which re-reads the log and targets N+1 (optimistic
      concurrency — the manifest link IS the compare-and-swap).
    - ``retries > 0`` turns conflict DETECTION into RESOLUTION for
      **append** commits: the data files are already written and
      immutable, so a lost race rebases at manifest level only —
      re-read the new head, recompute the file list as head's files
      plus ours, and re-attempt the link at the next version. No
      parquet is rewritten and both writers' rows land in a linear
      version chain. **Overwrite** conflicts surface to the caller by
      default even with retries: "replace the table" racing "replace
      the table" is a semantic conflict (one writer's intent would be
      silently discarded), not an ordering problem.
    - ``on_conflict`` (overwrite mode only) makes that policy
      explicit: ``"fail"`` (default) raises ``TxConflictError`` on a
      lost overwrite race; ``"last_writer_wins"`` OPTS IN to
      resolving it by re-linking this commit's file set at the next
      version — the loser becomes the new head, superseding the other
      writer's table state (which stays in the chain for
      ``tx_read(version=...)`` time travel — nothing is destroyed,
      the discard is of headship, not data). Because LWW can discard
      another writer's intent, it demands an explicit retry budget:
      ``retries >= 1`` is required with it (ValueError otherwise),
      and the budget bounds how many lost races are resolved before
      surfacing. ``abort_if`` is still re-checked before every
      attempt, so exactly-once callers keep their guard under LWW.
    - ``abort_if`` (zero-arg callable) is re-evaluated at the top of
      EVERY publish attempt, after the head re-read would happen:
      returning True abandons the commit and tx_commit returns 0 (the
      written data dir is an inert, vacuumable orphan). This is how
      idempotent callers keep exactly-once under rebase — tx_sink
      passes "was my batch_id already committed?", so a zombie
      attempt that loses the race to its own replay re-checks and
      aborts instead of rebasing a duplicate in (a plain retries
      loop would happily commit the same batch twice).

    Returns the committed version number (1-based), or 0 if
    ``abort_if`` abandoned the commit.
    ``tx_read(spark, path, version=K)`` time-travels to any retained
    version; storage is reclaimed only by dropping whole versions
    (files referenced by any retained manifest are never rewritten).
    """
    import json
    import os

    if mode not in ("append", "overwrite"):
        raise ValueError(f"tx_commit: unknown mode {mode!r}")
    if on_conflict not in ("fail", "last_writer_wins"):
        raise ValueError(f"tx_commit: unknown on_conflict {on_conflict!r}")
    if on_conflict == "last_writer_wins":
        if mode != "overwrite":
            raise ValueError(
                "tx_commit: on_conflict='last_writer_wins' applies to "
                "overwrite commits only (append conflicts rebase "
                "losslessly via retries=)"
            )
        if int(retries) < 1:
            raise ValueError(
                "tx_commit: on_conflict='last_writer_wins' can discard "
                "another writer's headship — pass an explicit retries>=1 "
                "budget to opt in"
            )
    _txlog_dir(path)  # validate the local-path contract BEFORE writing data
    import uuid

    # attempt-unique data dir: a commit that died after writing data
    # but before the manifest rename leaves only an orphan directory
    # no manifest references — the retry writes fresh files instead
    # of colliding with the orphan (immutability makes orphans inert;
    # they are reclaimable by any manifest-aware vacuum)
    attempt = f"c-{uuid.uuid4().hex[:12]}"
    data_dir = os.path.join(path, "data", attempt)
    df.write.mode("error").parquet(data_dir)
    new_files = [
        os.path.join("data", attempt, f)
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    ]
    attempts_left = max(0, int(retries))
    while True:
        versions = tx_versions(path)
        # ORDER MATTERS: abort_if reads the log AFTER the head read
        # that picks this attempt's version target. Any commit
        # abort_if misses therefore landed after the head read and
        # collides with our os.link (EEXIST) — the next iteration
        # re-checks and aborts. Checking before the head read leaves
        # a window where a commit lands between check and read and we
        # link cleanly on top of it — a double commit.
        if abort_if is not None and abort_if():
            return 0  # superseded (e.g. replayed batch already landed)
        parent = versions[-1] if versions else 0
        n = parent + 1
        files = list(new_files)
        if mode == "append" and parent:
            with open(os.path.join(_txlog_dir(path), f"v{parent}.json")) as fh:
                files = json.load(fh)["files"] + files
        os.makedirs(_txlog_dir(path), exist_ok=True)
        manifest = {"version": n, "mode": mode, "files": files}
        if meta:
            manifest["meta"] = meta
        tmp = os.path.join(
            _txlog_dir(path), f".v{n}.json.{uuid.uuid4().hex[:8]}.tmp"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        target = os.path.join(_txlog_dir(path), f"v{n}.json")
        try:
            # create-exclusive publish: os.link fails EEXIST instead of
            # replacing, so a concurrent commit of the same version is a
            # DETECTED conflict, not a silent clobber of the winner
            os.link(tmp, target)
        except FileExistsError:
            # rebase-and-retry is sound ONLY for appends: the data
            # files are immutable and attempt-unique, so losing the
            # race just means the file list is recomputed on top of
            # the new head and the link re-attempted at n+1 — both
            # writers' rows end up in one linear chain. An overwrite
            # conflict is semantic (two "replace the table" intents)
            # and always surfaces.
            # Overwrite + last_writer_wins: re-link OUR file set at the
            # next version — the overwrite intent is "replace whatever
            # is there", so replaying it on top of the new head is the
            # policy the caller opted into. The superseded version
            # stays readable via tx_read(version=...).
            resolvable = mode == "append" or on_conflict == "last_writer_wins"
            if resolvable and attempts_left > 0:
                attempts_left -= 1
                continue
            raise TxConflictError(
                f"tx_commit conflict: version {n} of {path} was committed "
                f"concurrently; this commit's data ({attempt}) is an orphan "
                "(vacuumable). Re-read the log and retry against the new "
                "head (append commits may pass retries= to auto-rebase; "
                "overwrite commits may opt into "
                "on_conflict='last_writer_wins')."
            ) from None
        finally:
            os.unlink(tmp)
        return n


def tx_files(path: str, version: int | None = None) -> list[str]:
    """The manifest file list of a tx-table version (default: latest),
    relative to ``path`` — the snapshot's exact file set. Public so
    delta readers (plans.ivm.tx_delta) can diff two snapshots at
    manifest level instead of re-scanning data."""
    import json
    import os

    versions = tx_versions(path)
    if not versions:
        raise FileNotFoundError(f"no tx log at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_txlog_dir(path), f"v{v}.json")) as fh:
        return json.load(fh)["files"]


def tx_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a tx table at ``version`` (default: latest). The manifest's
    file list IS the snapshot — no directory listing races, and a
    concurrent commit cannot change what this reader sees.
    ``merge_schema=True`` null-pads across commits whose schemas
    evolved (a later append added a column — the mergeSchema path the
    schema_evolution row proves for plain directories, here scoped to
    exactly the snapshot's files)."""
    import os

    files = tx_files(path, version)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(path, f) for f in files])


def tx_committed_batches(path: str) -> set:
    """batch ids recorded by ``tx_sink`` commits (for exactly-once
    retry skipping)."""
    import json
    import os

    out = set()
    for v in tx_versions(path):
        with open(os.path.join(_txlog_dir(path), f"v{v}.json")) as fh:
            m = json.load(fh).get("meta", {})
        if "batch_id" in m:
            out.add(m["batch_id"])
    return out


def tx_sink(
    stream_df: DataFrame, path: str, checkpoint_dir: str, retries: int = 3
):
    """Stream into a versioned tx table with EXACTLY-ONCE commits:
    each micro-batch becomes one atomic append commit whose manifest
    records the batch id — a retried batch whose commit already
    landed is skipped, so failures between the data write and
    Spark's own checkpoint can never double-append (the idempotent-
    sink contract foreachBatch requires, here provided by the commit
    log itself instead of partition overwrites). Readers always see
    a manifest-consistent snapshot: a batch is either fully visible
    or not yet visible, never half.

    ``retries`` (append rebase attempts per batch, see tx_commit)
    makes the stream resilient to a CONCURRENT batch writer appending
    to the same table: a lost version race rebases at manifest level
    instead of failing the stream. Exactly-once survives the rebase
    because every publish attempt re-checks "did my batch_id already
    land?" via tx_commit's ``abort_if`` — a zombie attempt racing its
    own replayed batch loses the link race, re-checks, and aborts
    instead of rebasing the same rows in twice (the pre-check alone
    cannot see a commit that lands between check and link).

    Returns the started query handle (availableNow trigger)."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        if bid in tx_committed_batches(path):
            return  # retry of an already-committed batch
        tx_commit(
            batch_df, path, mode="append",
            meta={"batch_id": bid}, retries=retries,
            abort_if=lambda: bid in tx_committed_batches(path),
        )

    return (
        stream_df.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def tx_vacuum(path: str, keep_last: int = 1) -> dict:
    """Reclaim tx-table storage: retain the newest ``keep_last``
    manifests, delete older manifests, then delete every data file
    (and empty commit dir) no RETAINED manifest references — this is
    also what collects the inert orphan dirs a crashed commit leaves
    (attempt-unique names, see tx_commit). Time travel remains exact
    for every retained version; older versions become unreadable by
    construction, never partially readable (their manifests go first).

    Returns {"kept_versions", "deleted_manifests", "deleted_files"}.
    Single-writer assumption as tx_commit; do not vacuum concurrently
    with a commit."""
    import json
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("tx_vacuum: keep_last must be >= 1")
    versions = tx_versions(path)
    if not versions:
        return {"kept_versions": [], "deleted_manifests": 0, "deleted_files": 0}
    kept = versions[-keep_last:]
    dropped = [v for v in versions if v not in kept]
    # manifests first: a reader can no longer open a version whose
    # files are about to disappear
    for v in dropped:
        os.remove(os.path.join(_txlog_dir(path), f"v{v}.json"))
    referenced = set()
    for v in kept:
        with open(os.path.join(_txlog_dir(path), f"v{v}.json")) as fh:
            referenced.update(json.load(fh)["files"])
    deleted = 0
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        for cdir in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, cdir)
            keep_any = False
            for f in os.listdir(full):
                rel = os.path.join("data", cdir, f)
                if rel in referenced:
                    keep_any = True
                elif f.endswith(".parquet"):
                    os.remove(os.path.join(full, f))
                    deleted += 1
            if not keep_any:
                shutil.rmtree(full)
    return {
        "kept_versions": kept,
        "deleted_manifests": len(dropped),
        "deleted_files": deleted,
    }


def tx_history(spark: SparkSession, path: str) -> DataFrame:
    """The commit history as a DataFrame: (version, mode, n_files,
    batch_id) per retained manifest — the DESCRIBE HISTORY analog for
    the tx table (audit surface for tx_sink exactly-once claims and
    vacuum decisions). Driver-side manifest reads: manifests are
    O(versions) tiny JSON files, never data-scaled."""
    import json
    import os

    rows = []
    for v in tx_versions(path):
        with open(os.path.join(_txlog_dir(path), f"v{v}.json")) as fh:
            m = json.load(fh)
        rows.append(
            (
                m["version"],
                m["mode"],
                len(m["files"]),
                m.get("meta", {}).get("batch_id"),
            )
        )
    return spark.createDataFrame(
        rows, "version int, mode string, n_files int, batch_id long"
    )
