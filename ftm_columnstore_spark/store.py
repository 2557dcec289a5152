"""Parquet-backed statement store (SURVEY §2.1 S3-S11, §1.4, §4 P1/P5).

Replaces the reference's ClickHouse ``ReplacingMergeTree`` table
(``engine.py:129-155``) with:

- **append-only parquet writes**, hive-partitioned by ``dataset`` (the
  reference's scoping unit, engine.py:140) so dataset filters become
  partition pruning, sorted within partitions by ``canonical_id`` so
  parquet row-group min/max stats skip on entity lookups — the Spark
  analogue of the reference's clustered primary key (engine.py:153-154);
- **dedup-on-read**: the ReplacingMergeTree(last_seen) upsert contract
  (equal sort key → keep max last_seen, engine.py:152) as a deterministic
  window — no "eventual" semantics, no 5s sleeps (tests/test_store.py:83);
- **compaction** (``optimize()``): the ``OPTIMIZE TABLE … FINAL DEDUPLICATE``
  analogue (engine.py:114-125) — rewrites the store with the same window so
  subsequent reads skip the dedup shuffle.
- **a small-store copy**: a compacted store (or value index) of at most
  ``SMALL_STORE_BYTES`` is read once per compaction into one in-memory
  partition (an eager local checkpoint), keyed on its marker's nonce,
  which each compaction and each value-index build draws anew. Reads
  are served from it while the marker is current and keeps that nonce,
  so a serving call neither lists nor opens parquet files and
  plans no shuffle — the analogue of the reference's one warm table. The
  Store releases a replaced copy itself and reads a copy whose block was
  lost again from parquet (see ``Store._small_copy``).

At 100TB: appends are embarrassingly parallel; the dedup window shuffles on
``canonical_id`` which is also the write-sort key, and AQE handles skewed
entities. Readers that don't touch re-written entities pay nothing after
compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from functools import cache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ftm_columnstore_spark import lifecycle, settings
from ftm_columnstore_spark.model.schemas import (
    STATEMENT_COLUMNS,
    STATEMENT_KEY,
    STATEMENT_SCHEMA,
)
from ftm_columnstore_spark.sources.statements import entities_to_statements

#: dataset partitions smaller than this share one compaction rewrite job
#: (see ``Store._group_datasets``)
REWRITE_BATCH_BYTES = 4 << 30
#: a compacted store or value index of at most this many data bytes
#: reads as one partition (see ``Store.statements``). Set from the
#: serve corpus k-fold on 4 cores: one partition assembled every entity
#: of a 1.06 MB store faster (0.53 vs 0.71 s) and of a 1.6 MB one slower
#: (0.93 vs 0.80 s), while the View mix kept its gain up to 3 MB.
SMALL_STORE_BYTES = 1 << 20


def dedup_statements(df: DataFrame) -> DataFrame:
    """ReplacingMergeTree semantics (SURVEY §1.4, §2.8 U2): rows equal on
    the statement key collapse to the max ``last_seen``.

    Implemented as groupBy + max(struct(last_seen, other_cols)) — a hash
    aggregate with map-side partial combine — rather than a row_number
    window: no per-partition sort, measured ~2× faster on doubled sf0.1
    lineitem and strictly better at scale (partial aggregation collapses
    duplicates before the shuffle; a window must shuffle every row)."""
    others = [c for c in df.columns if c not in STATEMENT_KEY]
    winner = F.max(
        F.struct(F.col("last_seen").alias("__v"), *[F.col(c) for c in others])
    ).alias("__m")
    return (
        df.groupBy(*STATEMENT_KEY)
        .agg(winner)
        .select(*STATEMENT_KEY, *[F.col(f"__m.{c}").alias(c) for c in others])
        .select(*df.columns)
    )


def _write_json(path: str, payload) -> None:
    """Write ``payload`` to ``path`` whole or not at all (tmp + rename)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def _read_marker(path: str) -> dict | None:
    """An ``{"epoch": N, ...}`` marker, or None when it is missing,
    unreadable or a pre-epoch legacy marker (fail-safe: the reader
    takes the slower path, never a wrong one)."""
    try:
        with open(path) as fh:
            payload = json.load(fh)
    except (OSError, ValueError):
        return None
    if not isinstance(payload, dict) or "epoch" not in payload:
        return None
    return payload


def _data_bytes(root: str) -> int:
    """Bytes of the files under ``root`` that a parquet scan reads: Spark
    skips names that start with ``_`` or ``.`` (``_SUCCESS``,
    checksums)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


class _Copy:
    """The small-store rule's copy of one parquet directory: its rows in
    ONE in-memory partition, read by one eager local checkpoint.

    A local checkpoint keeps the single partition in the plan (the
    aggregates above need no Exchange) and, unlike ``persist()``, never
    enters Spark's CacheManager, so no query pays its plan look-ups.
    ``key`` is the nonce of the marker the copy was read under."""

    def __init__(self, scan: DataFrame, key: str):
        self.key = key
        self.df = scan.coalesce(1).localCheckpoint(eager=True)
        self._rdd = self.df._jdf.queryExecution().analyzed().rdd()
        self._block = scan.sparkSession._jvm.org.apache.spark.storage.RDDBlockId(
            self._rdd.id(), 0
        )
        self._master = scan.sparkSession._jsc.sc().env().blockManager().master()

    def live(self) -> bool:
        """Whether the copy's one block is still stored: an unpersist or
        a lost executor removes it, and reading the copy then fails."""
        return self._master.contains(self._block)

    def release(self) -> None:
        self._rdd.unpersist(False)


def _scoped(df: DataFrame, dataset: str | list[str] | None) -> DataFrame:
    """Rows of one dataset or a catalog (list) of them; all when None."""
    if isinstance(dataset, str):
        return df.filter(F.col("dataset") == dataset)
    if dataset is not None:
        return df.filter(F.col("dataset").isin(list(dataset)))
    return df


class Store:
    """A statement store rooted at a parquet directory."""

    def __init__(self, spark: SparkSession, uri: str | None = None):
        self.spark = spark
        self.uri = uri or settings.STORE_URI
        self._path = os.path.join(self.uri, "statements")
        self._marker = os.path.join(self.uri, "_compacted")
        self._epoch_file = os.path.join(self.uri, "_epoch")
        self._index_path = os.path.join(self.uri, "value_index")
        # inside the index directory, so it is swapped in with the index
        self._index_marker = os.path.join(self._index_path, "_built")
        self._canonical: DataFrame | None = None
        self._bucketed: str | None = None
        # the small-store rule's copies, by parquet directory (see
        # _small_copy); built under the lock, as View calls may come
        # from several threads
        self._copies: dict[str, _Copy] = {}
        self._copy_lock = threading.Lock()

    # --- compaction marker / write epoch --------------------------------------
    # After optimize() the on-disk rows are unique on STATEMENT_KEY, so
    # the dedup-on-read groupBy collapses nothing — yet it still costs a
    # full corpus shuffle on EVERY read (measured: the sf1 spine soak's
    # e3 query paid the 40M-row dedup twice). The marker records "store
    # is dedup-clean AT write-epoch N". Every mutator (write_statements,
    # optimize, pop, drop — including the streaming ingest sink, which
    # goes through write_statements) bumps the epoch BEFORE its job
    # commits, so a crash mid-write can only cost an extra dedup, never
    # a silently-skipped one; the read path compares two tiny files
    # (marker epoch vs current epoch) instead of walking the store —
    # O(1) regardless of file count, no mtime assumption, object-store
    # friendly. CONTRACT: a writer that places files under
    # ``statements/`` without bumping the epoch (raw ``cp``/``rsync``
    # into the directory) is out-of-contract and will NOT invalidate
    # the fast path; external writers must call ``bump_epoch()`` (or any
    # store API); the read path does not look at the files. The fast
    # path applies ONLY when no resolver is installed: the content-hash
    # ``id`` excludes canonical_id, so two on-disk rows distinct only in
    # canonical_id (written at different resolution states) share an id
    # — a resolver remap CAN merge them into equal keys, and that read
    # must dedup (round-8 self-review finding, regression-tested).
    def _read_epoch(self) -> int:
        try:
            with open(self._epoch_file) as fh:
                return int(fh.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    def bump_epoch(self) -> int:
        """Advance the write epoch (invalidates the compaction fast
        path). Public so out-of-band writers can stay in contract."""
        epoch = self._read_epoch() + 1
        os.makedirs(self.uri, exist_ok=True)
        tmp = self._epoch_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(epoch))
        os.replace(tmp, self._epoch_file)
        return epoch

    def _set_compacted(self) -> None:
        # the marker stays a few bytes, so the per-DataFrame-build
        # is_compacted() parse is O(1) however many files the store
        # holds. It carries the data bytes for the small-store rule (see
        # statements()), so reads never walk the store to size it, and a
        # nonce, the key of the small-store copy: a store re-created at
        # the same path never matches a copy read from the old one.
        _write_json(self._marker, {
            "epoch": self._read_epoch(),
            "bytes": _data_bytes(self._path),
            "nonce": uuid.uuid4().hex,
        })

    def _clear_compacted(self) -> None:
        if os.path.exists(self._marker):
            os.remove(self._marker)

    def _current(self, marker: str) -> dict | None:
        """The payload of ``marker`` if it was written at the current
        write epoch, else None."""
        payload = _read_marker(marker)
        if payload is None or payload["epoch"] != self._read_epoch():
            return None
        return payload

    def is_compacted(self) -> bool:
        """True iff the compaction marker exists AND no in-contract
        write happened since it was set (marker epoch == current
        epoch). Two small metadata reads per DataFrame build — no
        directory walk, no mtime comparison (see the epoch contract
        above for what out-of-contract writers must do). A missing or
        pre-epoch legacy marker reads as not compacted (fail-safe —
        costs one dedup, never skips one)."""
        return self._current(self._marker) is not None

    # --- DDL (S8, S9) -------------------------------------------------------
    def ensure(self) -> None:
        os.makedirs(self.uri, exist_ok=True)

    def drop(self) -> None:
        shutil.rmtree(self._path, ignore_errors=True)
        self.bump_epoch()
        self._clear_compacted()
        self._small_copy(self._path, None)

    def exists(self) -> bool:
        return os.path.exists(self._path)

    # --- write path (S2-S5) -------------------------------------------------
    def write_statements(self, df: DataFrame, cluster: bool = True) -> None:
        """Append statements, partitioned by dataset, entity-clustered.

        ``cluster=False`` skips the repartition+sort and appends the
        incoming partitioning as-is — the streaming ingest path uses
        it because a per-micro-batch shuffle+sort costs ~3.5× drain
        throughput (measured: 860k → 243k statements/s at sf1) for
        clustering that the next ``optimize()`` rebuilds anyway;
        until then, unclustered appends only weaken row-group
        min/max pruning on the NEW files, never correctness."""
        out = df.select(*STATEMENT_COLUMNS)
        # an append may re-write existing statement keys — reads must
        # dedup again until the next optimize(); the epoch is bumped
        # BEFORE the job so a crash mid-write fails safe (marker epoch
        # < current epoch → dedup path, never a skipped dedup). The
        # marker file itself stays: it records "clean at epoch N" and
        # goes stale by comparison, not by deletion.
        self.bump_epoch()
        if cluster:
            out = out.repartition("dataset", "canonical_id").sortWithinPartitions(
                "canonical_id", "entity_id", "prop", "value"
            )
        out.write.mode("append").partitionBy("dataset").parquet(self._path)

    def write_entities(
        self,
        entities: DataFrame,
        dataset: str = "default",
        last_seen: str | None = None,
        with_fingerprints: bool = False,
    ) -> None:
        """S2+S5: explode entities to statements; optionally derive the
        phonetic fingerprint side table in the same job (the reference
        writes fpx rows with every batch, store.py:59-60)."""
        stmts = entities_to_statements(
            entities, default_dataset=dataset, last_seen=last_seen
        )
        if not with_fingerprints:
            self.write_statements(stmts)
            return
        from ftm_columnstore_spark.operators.blocking import derive_fingerprints

        # both writes read the explode: persisted once, released when
        # the block exits, whether or not a write raised
        with lifecycle.scope():
            stmts = lifecycle.persist(stmts)
            self.write_statements(stmts)
            (
                derive_fingerprints(stmts)
                .repartition("dataset")
                .write.mode("append")
                .partitionBy("dataset")
                .parquet(os.path.join(self.uri, "fpx"))
            )

    def fingerprints(self) -> DataFrame:
        """The fpx side table (empty frame if never written)."""
        from ftm_columnstore_spark.model.schemas import FPX_SCHEMA

        path = os.path.join(self.uri, "fpx")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], FPX_SCHEMA)
        # fpx rows carry no version column; re-written batches dedup on
        # read by full-row distinct (cheap: dictionary-encoded columns).
        return self.spark.read.schema(FPX_SCHEMA).parquet(path).distinct()

    # --- read path (S6, F1) ---------------------------------------------------
    def _scan(self, path: str) -> DataFrame:
        return self.spark.read.schema(STATEMENT_SCHEMA).parquet(path)

    def _small_copy(self, path: str, marker: dict | None) -> DataFrame | None:
        """The small-store rule: the in-memory copy of the parquet data at
        ``path`` when ``marker`` (a current marker payload, or None)
        records at most ``SMALL_STORE_BYTES`` of data, else None.

        Key: the copy is read once and served while ``marker`` carries
        the nonce it was read under. A compaction, a value-index build
        and a store re-created at the same path each draw a new nonce; a
        write makes the marker stale (``marker`` is None), which releases
        the copy. The re-stamp :meth:`optimize` gives a current value
        index keeps its nonce, and with it the copy: the index files did
        not change. A marker without a byte count (size unknown) or
        without a nonce gets no copy.

        Release: a copy whose key no longer matches (or when the rule no
        longer applies) is unpersisted here, at the next read, and by
        :meth:`drop`; never left to garbage collection. A DataFrame built
        over a copy must run its action before that.

        Lost blocks: a copy whose block is gone (unpersisted from outside,
        or lost with its executor) is read again from parquet, never
        served: reading it would fail. One block look-up per read checks
        this.

        One copy per directory per Store, built under a lock: concurrent
        first reads build it once."""
        marker = marker or {}
        size, nonce = marker.get("bytes"), marker.get("nonce")
        small = (
            nonce is not None
            and isinstance(size, int)
            and size <= SMALL_STORE_BYTES
        )
        with self._copy_lock:
            held = self._copies.pop(path, None)
            if held is not None:
                if small and held.key == nonce and held.live():
                    self._copies[path] = held
                    return held.df
                held.release()
            if not small:
                return None
            copy = _Copy(self._scan(path), nonce)
            self._copies[path] = copy
            return copy.df

    def statements(
        self,
        dataset: str | list[str] | None = None,
        deduped: bool = True,
        as_of: str | None = None,
    ) -> DataFrame:
        """The statement table. ``dataset`` may be one name or a catalog
        (list) of names — either way the predicate prunes the hive
        partitions, so a catalog view only scans its member datasets
        (reference: store over a catalog, tests/test_store.py:72-75).

        ``as_of`` time-travels the upsert log: the append-only layout
        plus dedup-on-read means "state at time T" is just the same
        max-``last_seen`` reduction restricted to versions written by T —
        a pushed-down min/max-prunable predicate, no snapshot copies
        (the ReplacingMergeTree analogue keeps only the latest row, so
        the reference cannot answer this at all).

        History horizon: ``optimize()`` physically destroys superseded
        versions (like OPTIMIZE FINAL), so a post-compaction
        ``as_of=T`` read returns the compacted SURVIVORS filtered by
        ``last_seen <= T`` — not the historical state at T. Rows stay
        unique and the result is a consistent subset, but versions
        overwritten before the compaction are gone; keep compaction
        cadence coarser than the oldest ``as_of`` you need
        (test_store pins this semantic).

        The compacted fast path is decided once at DataFrame BUILD
        time (lazy plans keep it even if an append lands before an
        action runs), and the marker check is not atomic against
        concurrent writers in other processes — consistent with the
        store's single-writer design.

        Small-store rule: a compacted store whose data is at most
        ``SMALL_STORE_BYTES`` (1 MB, about 30k statements) is read once
        per compaction into an in-memory copy of ONE partition, and reads
        are served from that copy until the compaction marker changes
        (see :meth:`_small_copy` for its key, release and lost blocks).
        So a read neither lists nor opens parquet files, and every
        canonical_id-keyed aggregate above it — the frontier, entity
        assembly, dedup under a resolver, grouped aggregations,
        ``stats()`` — plans with no hash or range Exchange. ``dataset``,
        ``as_of`` and the resolver apply to the copy as they apply to the
        scan (a filter over the copy's rows, not partition pruning). The
        rule holds for every reader, bulk ones (export, xref, CLI stats)
        included: the limit is where a full assembly in one task stops
        beating the shuffled plan. The resolver's own join still shuffles
        when its map has no size estimate to broadcast by (one built from
        Python rows); its output is coalesced back to one partition. A map
        read from parquet is broadcast. Uncompacted stores (many small
        appended files), larger ones, stores compacted before the byte
        count was recorded and the bucketed snapshot keep their parquet
        scan and its partitioning.

        With :meth:`use_bucketed` enabled, reads serve from the
        bucketed snapshot table instead of the parquet store — same
        columns, same filters, zero-Exchange plans for every
        canonical_id-keyed consumer; see that method for the staleness
        contract."""
        copy = None
        if self._bucketed is not None:
            # snapshot was written from statements() (already deduped);
            # treated like a compacted store: fast path unless a
            # resolver can merge rows distinct only in canonical_id
            df = self.spark.table(self._bucketed)
            already_clean = True
        else:
            if not self.exists():
                return self.spark.createDataFrame([], STATEMENT_SCHEMA)
            marker = self._current(self._marker)
            already_clean = marker is not None
            copy = self._small_copy(self._path, marker)
            df = copy if copy is not None else self._scan(self._path)
        df = _scoped(df, dataset)
        if as_of is not None:
            df = df.filter(
                F.col("last_seen") <= F.to_timestamp(F.lit(as_of))
            )
        df = self._apply_canonical(df)
        if copy is not None and self._canonical is not None:
            # a shuffled resolver join repartitions the copy's rows:
            # one partition again, so the dedup above needs no exchange
            df = df.coalesce(1)
        if deduped and self._canonical is None and already_clean:
            # compacted store, no resolver: rows already unique on
            # STATEMENT_KEY — skip the corpus-wide dedup shuffle (the
            # compaction payoff). With a resolver installed the remap
            # can merge rows distinct only in canonical_id (shared
            # content-hash id), so that read takes the dedup path.
            return df
        return dedup_statements(df) if deduped else df

    def view(self, dataset: str | None = None):
        """Reference-parity accessor: ``store.view()`` → query facade."""
        from ftm_columnstore_spark.view import View

        return View(self, dataset)

    def writer(self) -> "Store":
        """Reference-parity alias (the store itself is the writer)."""
        return self

    # --- canonicalization (J3, D5) -------------------------------------------
    def set_resolver(self, canonical_map: DataFrame | None) -> None:
        """Install an entity_id → canonical_id mapping (nomenklatura
        Resolver analogue, store.py:25-28). Broadcast-joined at read."""
        if canonical_map is not None:
            canonical_map = canonical_map.select("entity_id", "canonical_id")
        self._canonical = canonical_map

    def _apply_canonical(self, df: DataFrame) -> DataFrame:
        if self._canonical is None:
            return df
        # resolver maps scale with the resolved-entity count; AQE
        # broadcasts small ones and falls back to sort-merge on the
        # clustered key for big ones (matches README scale posture)
        cmap = self._canonical.withColumnRenamed("canonical_id", "__canon")
        return (
            df.drop("canonical_id")
            .join(cmap, on="entity_id", how="left")
            .withColumn("canonical_id", F.coalesce("__canon", "entity_id"))
            .drop("__canon")
            .select(*STATEMENT_COLUMNS)
        )

    def to_bucketed_table(
        self, table: str = "statements_bucketed", buckets: int = 64
    ) -> None:
        """P1/P2 at cluster scale: materialize the (deduped) statement
        table as a managed table bucketed+sorted on ``canonical_id``.
        Every downstream groupBy/join keyed on canonical_id (entity
        assembly, dedup window, point lookups, canonical-map joins) then
        plans with ZERO Exchange — the bucketed scan already satisfies the
        clustered distribution. Size ``buckets`` ≈ table_size / 128MB.

        Always snapshots the LIVE parquet store, even while
        :meth:`use_bucketed` serving is enabled — a rebuild must pick up
        appends made since the previous snapshot, not re-copy the stale
        snapshot (round-10 self-review finding, regression-tested)."""
        serving, self._bucketed = self._bucketed, None
        try:
            src = self.statements()
        finally:
            self._bucketed = serving
        (
            src.write.mode("overwrite")
            .bucketBy(buckets, "canonical_id")
            .sortBy("canonical_id")
            .saveAsTable(table)
        )

    def use_bucketed(
        self, table: str = "statements_bucketed", enabled: bool = True
    ) -> None:
        """Opt-in: serve all reads (``statements()``, ``view()``, the
        CLI) from the bucketed snapshot built by :meth:`to_bucketed_table`
        instead of the parquet store. Every canonical_id-keyed consumer
        (entity assembly, adjacency, xref join-back, point lookups) then
        plans with zero Exchange on the corpus side — measured 2.68× on
        assembly at 200M statements, and the only configuration that
        completed at 400M in the sandbox's disk budget (NOTES).

        Staleness contract: the bucketed table is a SNAPSHOT taken at
        ``to_bucketed_table()`` time. Statements written after the build
        are not visible through it until the table is rebuilt — rebuild
        after bulk loads, like the value index (staleness is
        operational, not a correctness risk for the snapshot's own
        contents: the copy is deduped at build time). ``enabled=False``
        reverts to the live parquet store."""
        self._bucketed = table if enabled else None

    def build_value_index(self) -> None:
        """P2: the ONE reference projection worth materializing (the
        reference keeps a value-sorted projection for reverse lookups,
        engine.py:236-262; the other 11 are redundant under Catalyst).
        The main table is clustered by canonical_id, so a reverse lookup
        (``value = X``) must scan every row group; this second copy holds
        only entity-reference statements, range-partitioned and sorted by
        ``value`` — a point lookup prunes to one file via parquet
        min/max, independent of corpus size. Derived artifact: rebuild
        after writes (see :meth:`value_index` for when it is read).

        Built from the store WITHOUT its resolver: the index holds raw
        ``canonical_id`` values, and :meth:`entity_refs` applies the
        resolver of whichever store reads it, as the main table does.
        A marker inside the index directory records the write epoch
        the build read and the index's data bytes."""
        path = self._index_path
        tmp = path + ".build"
        # read before the build's scan: a write that lands during the
        # build leaves the index stale, never wrongly current
        epoch = self._read_epoch()
        resolver, self._canonical = self._canonical, None
        try:
            src = self.statements()
        finally:
            self._canonical = resolver
        (
            src.filter(F.col("prop_type") == "entity")
            .repartitionByRange(F.col("value"))
            .sortWithinPartitions("value")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        _write_json(
            os.path.join(tmp, os.path.basename(self._index_marker)),
            {
                "epoch": epoch,
                "bytes": _data_bytes(tmp),
                "nonce": uuid.uuid4().hex,
            },
        )
        # same rename-aside discipline as _promote (derived artifact, so
        # a crash here is harmless either way — readers fall back to the
        # main table when the index is absent)
        old = path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    def value_index(self) -> DataFrame | None:
        """The value-clustered reverse-lookup copy while it is current,
        else None.

        Staleness contract: the index is current while the write epoch
        it was built at is still the store's epoch. Any in-contract
        mutation (write, pop, drop) bumps the epoch, so from then on
        this returns None and readers fall back to the main table until
        :meth:`build_value_index` runs again. :meth:`optimize` bumps the
        epoch too but changes no deduped row, so it carries an index
        that was current when it started over to the new epoch. An index
        without a marker (built before markers were written) is never
        current. The small-store rule of :meth:`statements` applies to
        the index by its own marker: an index of at most
        ``SMALL_STORE_BYTES`` is served from an in-memory copy of one
        partition, read once per build and keyed on the index marker's
        nonce (a rebuild reads a new copy and releases the old one; the
        re-stamp :meth:`optimize` gives a current index keeps its copy);
        see :meth:`_small_copy`."""
        marker = self._current(self._index_marker)
        # asked with a stale marker too: that releases a held copy
        copy = self._small_copy(self._index_path, marker)
        if marker is None:
            return None
        return copy if copy is not None else self._scan(self._index_path)

    def entity_refs(self, dataset: str | list[str] | None = None) -> DataFrame:
        """Entity-reference statements (``prop_type='entity'``) of
        ``dataset`` (as in :meth:`statements`), served from the value
        index while it is current (file-pruned point lookups), else from
        a filtered scan of the main table. Both paths carry the
        resolver's ``canonical_id``."""
        idx = self.value_index()
        if idx is None:
            return self.statements(dataset).filter(F.col("prop_type") == "entity")
        return self._apply_canonical(_scoped(idx, dataset))

    # --- maintenance (P5) -----------------------------------------------------
    def _promote(
        self, tmp: str, dst: str | None = None, aside: str | None = None
    ) -> None:
        """Swap a fully-written rewrite into place. Old dir is renamed
        ASIDE first (two cheap renames), then removed — a crash leaves
        either the old dir live or both ``tmp`` and the aside dir intact
        for manual recovery; data is never inside an in-progress
        ``rmtree``. The post-swap cleanup ignores errors (ADVICE r7): a
        transiently-open handle must not fail an already-committed
        rewrite — the stale aside dir is cleared by the next promote.
        ``dst``/``aside`` default to the whole statement path; the
        per-dataset compaction passes a single hive partition dir with
        an aside OUTSIDE the scan root (an ``X.old`` dir left inside
        ``statements/`` would read back as a phantom dataset).
        Single-writer assumption: rewrites are not atomic for
        concurrent readers in OTHER processes (same-process reads
        re-list files per action and are fine after the swap)."""
        dst = dst or self._path
        old = aside or (dst + ".old")
        shutil.rmtree(old, ignore_errors=True)
        parent = os.path.dirname(old)
        if parent:
            os.makedirs(parent, exist_ok=True)
        os.rename(dst, old)
        os.rename(tmp, dst)
        shutil.rmtree(old, ignore_errors=True)

    def _live_partition_dir(self, ds) -> str | None:
        """The on-disk hive child for a dataset value (undoing Spark's
        %-escaping of partition values), or None if absent."""
        from urllib.parse import unquote

        if ds is None:
            name = "dataset=__HIVE_DEFAULT_PARTITION__"
            return name if os.path.exists(os.path.join(self._path, name)) else None
        for entry in os.listdir(self._path):
            if entry.startswith("dataset=") and unquote(
                entry[len("dataset="):]
            ) == str(ds):
                return entry
        return None

    def _partition_bytes(self, ds) -> int:
        """On-disk bytes of one dataset partition (driver-side listing
        on the WRITE path only — the read path never walks)."""
        live = self._live_partition_dir(ds)
        if live is None:
            return 0
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self._path, live)):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass
        return total

    def _group_datasets(self, datasets) -> list[list]:
        """Greedy size-bounded grouping for the rewrite loop: a
        catalog-style store holds hundreds of SMALL datasets, and one
        Spark job per dataset would pay per-job overhead hundreds of
        times for seconds of work — small partitions share one rewrite
        job (combined size ≤ ``REWRITE_BATCH_BYTES``), while any
        partition at or above the threshold rewrites alone (``slices``
        bounds its shuffle). Scratch stays bounded by
        max(REWRITE_BATCH_BYTES, largest_dataset/slices) + one group's
        output."""
        sized = sorted(
            ((self._partition_bytes(ds), ds) for ds in datasets),
            key=lambda t: (-t[0], str(t[1])),
        )
        groups: list[list] = []
        cur: list = []
        cur_bytes = 0
        for size, ds in sized:
            if size >= REWRITE_BATCH_BYTES:
                groups.append([ds])
                continue
            if cur and cur_bytes + size > REWRITE_BATCH_BYTES:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(ds)
            cur_bytes += size
        if cur:
            groups.append(cur)
        return groups

    def _rewrite_datasets(self, datasets, slices: int = 1, keep=None) -> None:
        """Rewrite the named dataset partitions deduplicated (and
        filtered to ``keep`` rows, if given), one size-bounded GROUP of
        datasets at a time (see ``_group_datasets``), in ``slices``
        hash-of-canonical_id jobs each, swapping every finished
        partition in via rename-aside before the next group starts.
        ``keep`` predicates select whole STATEMENT_KEY groups (they
        filter on key columns), so filtering before the dedup is
        equivalent and cheaper. A dataset whose every row is filtered
        away has its live partition removed (rename-aside, then
        delete).

        Every slice job writes its own files, so the output file count
        grows with ``slices`` (measured ~22% more bytes on disk at 200M+
        statements, from dictionary-page resets in the smaller files)."""
        tmp = self._path + ".compact"
        aside_root = self._path + ".aside"
        for group in self._group_datasets(datasets):
            shutil.rmtree(tmp, ignore_errors=True)
            vals = [d for d in group if d is not None]
            pred = (
                F.col("dataset").isin(vals) if vals else F.lit(False)
            )
            if any(d is None for d in group):
                pred = pred | F.col("dataset").isNull()
            src = self._scan(self._path).filter(pred)
            if keep is not None:
                src = src.filter(keep)
            for i in range(slices):
                part = src
                if slices > 1:
                    part = src.filter(
                        F.pmod(
                            F.xxhash64(
                                F.coalesce(F.col("canonical_id"), F.lit(""))
                            ),
                            F.lit(slices),
                        )
                        == i
                    )
                (
                    dedup_statements(part)
                    .repartition("canonical_id")
                    .sortWithinPartitions(
                        "canonical_id", "entity_id", "prop", "value"
                    )
                    .write.mode("append")
                    .partitionBy("dataset")
                    .parquet(tmp)
                )
            # partitionBy wrote one correctly-escaped hive child per
            # dataset of the group that still has rows — swap each over
            # the live child of the same name
            children = {
                c for c in os.listdir(tmp) if c.startswith("dataset=")
            }
            for child in sorted(children):
                self._promote(
                    os.path.join(tmp, child),
                    dst=os.path.join(self._path, child),
                    aside=os.path.join(aside_root, child),
                )
            for ds in group:
                live = self._live_partition_dir(ds)
                if live is None or live in children:
                    continue
                # every row of this dataset was filtered away: retire
                # the live partition with the same rename-aside safety
                aside = os.path.join(aside_root, live)
                shutil.rmtree(aside, ignore_errors=True)
                os.makedirs(aside_root, exist_ok=True)
                os.rename(os.path.join(self._path, live), aside)
                shutil.rmtree(aside, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(aside_root, ignore_errors=True)

    def optimize(
        self, datasets: list[str] | None = None, slices: int = 1
    ) -> None:
        """Compaction: rewrite the store deduplicated (the reference's
        ``OPTIMIZE TABLE … FINAL DEDUPLICATE``, engine.py:114-125) —
        incrementally, one dataset partition at a time.

        Unlike a monolithic whole-store rewrite (and unlike OPTIMIZE
        FINAL, which is one whole-table merge), peak scratch here is
        bounded by ONE rewrite group's input + shuffle + output, not
        the corpus's: datasets are rewritten into a side dir and
        swapped in via the rename-aside ``_promote`` group by group —
        small datasets share a job (combined size ≤
        ``REWRITE_BATCH_BYTES``, so
        a catalog of hundreds of small datasets doesn't pay per-job
        overhead hundreds of times), large ones rewrite alone.
        Per-dataset dedup is EXACT, not approximate: the statement
        ``id`` is a content hash that embeds the dataset
        (``sources/statements.py:39``) and is part of STATEMENT_KEY, so
        a dedup group can never span dataset partitions.

        ``slices`` further bounds the shuffle: each dataset is rewritten
        in ``slices`` jobs, slice i covering
        ``xxhash64(canonical_id) % slices == i`` — STATEMENT_KEY starts
        with canonical_id, so hash-of-canonical_id slicing also never
        splits a dedup group. Each slice job re-scans the dataset
        partition (read amplification ×slices — scans are the cheap
        term) but shuffles and spills only ~1/slices of it, which is
        what fits a 100 TB compaction into bounded executor/scratch
        space (the monolithic rewrite ENOSPC'd this sandbox at 400M
        statements; the sliced one completes — see NOTES).

        ``datasets`` limits the rewrite to the named partitions
        (incremental compaction after a targeted backfill). The
        fast-path marker is set only by a FULL compaction
        (``datasets=None``) that completes every partition; a partial
        or crashed run leaves the marker stale and reads simply keep
        the dedup-on-read path — correct, just unaccelerated.

        Destroys superseded versions — see ``statements()`` for the
        ``as_of`` history-horizon consequence. Single-writer: no other
        process may write (or hold mid-job reads) during the swaps."""
        if not self.exists():
            return
        if slices < 1:
            raise ValueError(f"slices must be >= 1, got {slices}")
        full = datasets is None
        if datasets is None:
            # partition values via the scan (handles hive-escaped names)
            datasets = [
                r["dataset"]
                for r in self._scan(self._path)
                .select("dataset")
                .distinct()
                .collect()
            ]
        index = self._current(self._index_marker)
        # the physical rewrite begins: stale the marker up front so a
        # crash mid-loop fails safe (dedup-on-read resumes)
        self.bump_epoch()
        self._rewrite_datasets(datasets, slices=slices)
        if full:
            self._set_compacted()
        if index is not None:
            # compaction changes no deduped row: a current index stays so
            _write_json(self._index_marker, {**index, "epoch": self._read_epoch()})

    def changed_statements(self, since: str) -> DataFrame:
        """Delta read: statements (re)written after ``since`` — the
        change-feed primitive for incremental downstream refresh."""
        return self.statements().filter(F.col("last_seen") > F.to_timestamp(F.lit(since)))

    def changed_entities(self, since: str) -> DataFrame:
        """Whole entities touched after ``since`` (changed statements →
        semi-join back to all statements → assemble)."""
        from ftm_columnstore_spark.operators.assembly import assemble_entities

        ids = self.changed_statements(since).select("canonical_id").distinct()
        # ids is the incremental change set — usually tiny (AQE
        # broadcasts it) but unbounded after a full rewrite
        scoped = self.statements().join(
            ids, on="canonical_id", how="left_semi"
        )
        return assemble_entities(scoped)

    def pop(self, entity_id: str) -> list:
        """S11: return an entity's statements and rewrite the store without
        them (the reference's ``writer.pop`` has DELETE commented out for
        lack of GRANTs, store.py:63-71; a parquet rewrite needs none).

        Incremental: only the dataset partitions that physically contain
        the entity are rewritten (a point delete must not cost a corpus
        rewrite at 100 TB). A store that was compacted going in stays
        compacted (the affected partitions are re-deduped in the same
        pass and the others were already clean); an uncompacted store
        stays on dedup-on-read — pop no longer compacts the whole store
        as a side effect.

        Exactly the returned statements are deleted. Under a resolver
        the entity is matched by its resolved ``canonical_id``, so the
        rewrite drops rows by their statement ``id``, not by the raw
        ids on disk."""
        match = (F.col("entity_id") == entity_id) | (
            F.col("canonical_id") == entity_id
        )
        popped = self.statements().filter(match).collect()
        if not popped:
            return []
        if self._canonical is None:
            # the read returned the on-disk canonical_id, so the same
            # predicate drops exactly the popped rows; ``id`` alone
            # would also drop the statement written under another
            # canonical_id, which excludes it
            drop = match
        else:
            # the remap makes canonical_id a function of entity_id,
            # which ``id`` hashes: every row with a popped id was popped
            drop = F.col("id").isin(sorted({r["id"] for r in popped}))
        # ``id`` hashes the dataset, so the rows of one STATEMENT_KEY
        # group share it and the popped rows name every partition that
        # holds a dropped row
        affected = sorted({r["dataset"] for r in popped})
        was_clean = self.is_compacted() and self._canonical is None
        # rewrite starts: fail-safe marker invalidation (see optimize)
        self.bump_epoch()
        self._rewrite_datasets(affected, keep=~drop)
        if was_clean:
            # the untouched partitions were clean and the rewritten
            # ones went through dedup — the whole store still is
            self._set_compacted()
        return popped


@cache
def get_store(uri: str | None = None) -> Store:
    from ftm_columnstore_spark.session import get_spark

    store = Store(get_spark(), uri)
    store.ensure()
    return store
