"""Batch star-load orchestration — the reference's two-Lambda pipeline
(entry points 1+2, SURVEY.md §3) as one DataFrame program over a
file-backed warehouse.

The reference moves data S3 → pandas → 5 CSVs → S3 → Redshift COPY →
staged SQL (lambda_function_s3.py + lambda_function_redishift.py). Here the
CSV hop disappears (stages chain as one lazy plan) and the warehouse is a
directory of parquet tables, the plain-filesystem stand-in for a
transactional table format with Delta Lake's log-commit discipline:

- dims: SCD1 upsert → commit a new immutable version through the one
  commit protocol, ``ParquetWarehouse._commit`` (readers never see a
  half-written table; the reference got this from one Redshift
  transaction, lambda_function_redishift.py:171-183)
- fact: append-only, one subdirectory per batch id; a batch directory that
  already exists is skipped → idempotent replay (exactly-once under
  retries, the streaming path's requirement T5)

Scale notes: dim publishes are O(churn), not O(table) — ``publish_delta``
writes only the batch's new keys and hardlinks the base snapshot's files.
The fact append is a pure write of the new batch — no read-modify-write of
existing data, so batch cost is O(batch), not O(warehouse).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl__project_spark.operators import (
    build_fact,
    parse_raw,
)
from etl__project_spark.operators.layout import prune_files_for_rect
from etl__project_spark.session import empty_frame, state_checkpoint

# Output file sizing for fact appends (guide §6): per-row estimate for
# the 4-surrogate-key fact (4 int64 + parquet framing) and the target
# output file size. Local fixtures produce 1 file per batch; 128 MB
# keeps a cluster run's files in the guide's 128 MB - 1 GB band.
FACT_ROW_BYTES = 64
TARGET_FILE_BYTES = 128 * 1024 * 1024

DIM_SPECS = [
    # (table, natural key column in parsed staging, skey column)
    ("dimdate", "datetime", "datetime_skey"),
    ("dimplatform", "platform", "platform_skey"),
    ("dimsite", "site", "site_skey"),
    ("dimtitle", "video", "title_skey"),
]


class ConcurrentWriteError(RuntimeError):
    """A second writer raced the versioned publish of the same table.

    The publish protocol is optimistic CAS: a writer that loses the
    version claim (or whose base version moved underneath it) fails
    LOUDLY here instead of silently overwriting the winner's snapshot
    or duplicating SCD surrogate keys (the documented ``max(skey)``
    read in ``operators/dims.py:scd1_upsert`` is only safe when
    publishes of a dim are serialized — this error is what makes that
    assumption checkable rather than asserted in prose).
    """

FACT_COLS = ["datetime_skey", "platform_skey", "site_skey", "title_skey"]


def _footer_schema(path: str) -> T.StructType:
    """The Spark schema stored in the footer of the first data file
    under ``path`` (Spark writes its schema there as row metadata) —
    what Spark's own inference reads, without the inference job. Files
    not written by Spark map through their Arrow schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for parent, subdirs, files in os.walk(path):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                arrow = pq.read_schema(os.path.join(parent, f))
                spark_json = (arrow.metadata or {}).get(
                    b"org.apache.spark.sql.parquet.row.metadata"
                )
                if spark_json is None:
                    return from_arrow_schema(arrow)
                return T.StructType.fromJson(json.loads(spark_json))
    raise ValueError(f"{path} holds no parquet file")


def _atomic_write(path: str, text: str) -> None:
    """Replace ``path``'s content with one rename, so a reader sees the
    old file or the new one, never a torn write. The staging file's name
    starts with a dot, which parquet listings of a data directory skip."""
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink, or copy where the filesystem refuses; never overwrite."""
    try:
        os.link(src, dst)
    except FileExistsError:
        raise
    except OSError:
        shutil.copy2(src, dst)


def _sidecar_cols(names: set[str], prefix: str) -> list[str]:
    """The columns that ``<prefix><column>.json`` sidecars among the file
    ``names`` describe, sorted."""
    return sorted(
        n[len(prefix) : -len(".json")]
        for n in names
        if n.startswith(prefix) and n.endswith(".json")
    )


class ParquetWarehouse:
    """Parquet tables under a root directory.

    A versioned table is ``<root>/<table>/v<N>/`` snapshots, each holding
    every data file of version N, and a ``CURRENT`` file naming the
    committed one. Every version commits through :meth:`_commit`:

    1. claim ``v<N>.claim`` (N = CURRENT + 1) with O_EXCL — of two
       writers racing from one base exactly one wins; the other raises
       ConcurrentWriteError before writing anything;
    2. write ``v<N>/`` and, for merged folds, ``v<N>.meta``;
    3. swap ``CURRENT`` by atomic rename — the commit point.

    A write that raises before step 3 removes ``v<N>/`` and ``v<N>.meta``
    and releases the claim. A writer that dies between steps 1 and 3
    leaves its claim, and the table's next publish fails loudly until
    :meth:`force_release`. Committed snapshots are immutable, so retained
    versions time-travel. K3's CREATE IF NOT EXISTS is implicit (absent
    table reads as empty), K4's TRUNCATE is a publish of an empty version.
    Fact tables are batch directories plus a MANIFEST (see below).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _current(self, table: str) -> int | None:
        try:
            with open(os.path.join(self._tdir(table), "CURRENT")) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def read(
        self, table: str, schema: T.StructType | None, version: int | None = None
    ) -> DataFrame:
        """Read the current snapshot, or — time travel — any retained
        older ``version``: snapshots are immutable directories and the
        pointer swap never deletes them, so audits/debugging/reprocessing
        can read the table exactly as of an earlier publish (the same
        contract Delta/Iceberg expose as VERSION AS OF).

        ``schema`` is the read contract, for empty and non-empty tables
        alike — the same evolution contract as :meth:`read_fact`: a
        column the snapshot lacks null-fills, a column the caller does
        not name never leaks, and the result has ``schema``'s column
        order. Handing the reader the schema also skips the footer job
        Spark would otherwise launch to infer it, once per read.
        ``schema=None`` (inspection) reads the snapshot's footer schema."""
        v = self._current(table) if version is None else version
        if v is None:
            return empty_frame(self.spark, schema)
        path = os.path.join(self._tdir(table), f"v{v}")
        if version is not None and not os.path.isdir(path):
            raise ValueError(f"{table} has no retained version {version}")
        return self._read_paths([path], schema if schema is not None else _footer_schema(path))

    @staticmethod
    def _strip_layout_cols(df: DataFrame) -> DataFrame:
        """Drop layout helper columns a partitioned Z-order write leaves
        as directory-partition columns, so a table's read schema is
        stable whether or not it was written under a layout."""
        from etl__project_spark.operators.layout import ZBUCKET_COL

        return df.drop(ZBUCKET_COL) if ZBUCKET_COL in df.columns else df

    def _read_paths(self, paths: list[str], schema: T.StructType) -> DataFrame:
        """Read parquet directories, or the data files a pruner kept, as
        ``schema`` (no inference job); files always read in one scan.
        Directory-partitioned (equal-width Z-order) and flat dirs can
        coexist: when any dir is partitioned the read goes per-directory
        and unions — Spark's one-shot multi-path partition discovery
        would otherwise throw CONFLICTING_DIRECTORY_STRUCTURES (pinned by
        ``tests/test_layout.py:test_mixed_layout_dirs_stay_readable``)."""
        if not self._any_partitioned(paths):
            return self._strip_layout_cols(
                self.spark.read.schema(schema).parquet(*paths)
            )
        frames = [
            self._strip_layout_cols(self.spark.read.schema(schema).parquet(d))
            for d in paths
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def versions(self, table: str) -> list[int]:
        """Retained snapshot versions, oldest first (current = last)."""
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(tdir)
            if d.startswith("v") and d[1:].isdigit() and os.path.isdir(
                os.path.join(tdir, d)
            )
        )

    def _claim_path(self, table: str, v: int) -> str:
        return os.path.join(self._tdir(table), f"v{v}.claim")

    def _claim_version(self, table: str, v: int, base: int | None) -> None:
        """CAS half 1: reserve version ``v`` with an O_EXCL claim file.
        Claims are never deleted on success (one empty file per version),
        so a writer holding a STALE view of CURRENT also fails — its
        target version's claim already exists. CAS half 2 (re-read
        CURRENT after claiming) catches an operator having deleted claim
        files. Only :meth:`_commit` releases a claim, when its write
        raises."""
        os.makedirs(self._tdir(table), exist_ok=True)
        try:
            fd = os.open(
                self._claim_path(table, v),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{table} v{v} is already claimed by another writer "
                f"(base version {base}); if that writer crashed, run "
                f"force_release({table!r}, {v})"
            ) from None
        try:
            os.write(fd, f"pid={os.getpid()}\n".encode())
        finally:
            os.close(fd)
        cur = self._current(table)
        if cur != base:
            # claim files were tampered with / removed; the base moved
            raise ConcurrentWriteError(
                f"{table} CURRENT moved {base} -> {cur} during claim of v{v}"
            )

    def force_release(self, table: str, v: int) -> None:
        """Crash recovery: drop a dead writer's claim on version ``v``.
        Only valid once the claiming process is confirmed gone."""
        try:
            os.remove(self._claim_path(table, v))
        except FileNotFoundError:
            pass

    @staticmethod
    def _layout_write(df: DataFrame, layout, path: str) -> None:
        """Write ``df`` to ``path``, optionally under a physical layout
        (``operators/layout.py:ZOrderLayout`` — VERDICT r9 #3). The
        layout decides partitioning; equal-width mode adds a directory
        partition column that :meth:`read` / :meth:`read_fact` strip.

        A layouted write also PRIMES the zone-map sidecar cache for
        each layout dimension that is a plain column (the usual case):
        the files' footers are read once here, at write time, so even
        the FIRST ``read_fact_range`` on the clustered dimensions pays
        one JSON per directory — the stats land with the data, the
        Delta/Iceberg commit-log shape end to end. Expression dims
        (e.g. ``hour(ts)``) have no stored column to map and are
        skipped; compaction keeps sidecars current thereafter
        (:meth:`_compact_zone_maps`)."""
        if layout is None:
            df.write.mode("overwrite").parquet(path)
            return
        frame, pcol = layout.apply(df)
        writer = frame.write.mode("overwrite")
        if pcol is not None:
            writer = writer.partitionBy(pcol)
        writer.parquet(path)
        import re

        from etl__project_spark.operators.layout import _dir_zone_maps_cached

        for dim in layout._dims:
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", str(dim)):
                _dir_zone_maps_cached(path, dim)

    def _commit(
        self, table: str, write, *, inherit: bool = False, merged: set[str] | None = None
    ) -> int:
        """Commit version N = CURRENT + 1 of ``table`` (protocol: class
        docstring) and return N. ``write(path)`` writes the version's own
        files; ``inherit`` then hardlinks the base snapshot's
        ``*.parquet`` in under their own names (Spark part names carry a
        per-job UUID, so they never collide); ``merged``: the batch ids
        for ``v<N>.meta``. The claim is taken outside the cleanup, so a
        loser never deletes the winner's files; a dead writer's leftovers
        (claim force-released) are discarded before writing."""
        base = self._current(table)
        tdir = self._tdir(table)
        bdir = os.path.join(tdir, f"v{base}")
        if inherit and base is not None and self._any_partitioned([bdir]):
            raise ValueError(
                f"{table} v{base} is directory-partitioned; a delta publish "
                "would leave it unreadable — publish the full table instead"
            )
        v = (base or 0) + 1
        self._claim_version(table, v, base)
        path = os.path.join(tdir, f"v{v}")
        meta = os.path.join(tdir, f"v{v}.meta")
        try:
            self._discard(path, meta)
            write(path)
            if inherit and base is not None:
                for f in os.listdir(bdir):
                    if f.endswith(".parquet"):
                        _link_or_copy(os.path.join(bdir, f), os.path.join(path, f))
            if merged is not None:
                _atomic_write(meta, json.dumps({"merged": sorted(merged)}))
            _atomic_write(os.path.join(tdir, "CURRENT"), str(v))
        except Exception:
            self._discard(path, meta)
            self.force_release(table, v)
            raise
        return v

    @staticmethod
    def _discard(path: str, meta: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.remove(meta)
        except FileNotFoundError:
            pass

    def publish(self, table: str, df: DataFrame, layout=None) -> int:
        """Commit ``df`` as the table's new full snapshot. ``layout``:
        optional ZOrderLayout applied to the snapshot files
        (multi-dimensional data skipping on read)."""
        return self._commit(table, lambda path: self._layout_write(df, layout, path))

    def publish_delta(self, table: str, delta: DataFrame) -> int:
        """Commit ``current ∪ delta``, content-identical to
        ``publish(current.union(delta))``, writing only the delta and
        hardlinking the base snapshot's files: an O(churn) publish, the
        manifest-reference move Delta/Iceberg make on commit, whose plan
        is a filter+project over the checkpointed delta instead of a
        scan+union of the table (guide §1.2/§5). A directory-partitioned
        base (an equal-width ``ZOrderLayout`` publish) raises ValueError
        before claiming: flat files beside its partition dirs would be
        unreadable."""
        return self._commit(table, delta.write.mode("overwrite").parquet, inherit=True)

    def _merged_ids(self, table: str) -> set[str]:
        v = self._current(table)
        if v is None:
            return set()
        try:
            with open(os.path.join(self._tdir(table), f"v{v}.meta")) as fh:
                return set(json.load(fh)["merged"])
        except FileNotFoundError:
            return set()

    def publish_merged(
        self,
        table: str,
        delta: DataFrame,
        schema: T.StructType,
        batch_id: str,
        merge_fn,
    ) -> bool:
        """Exactly-once incremental merge-publish: fold one batch's delta
        into the table via ``merge_fn(existing, delta)`` and publish the
        result, recording ``batch_id`` in the version's ``.meta``
        (cumulative merged-id set). A replayed batch is a no-op (returns
        False). Data and merged set become visible together, so a failure
        leaves the old state (retry re-merges; the half-written version
        dir is removed, or, for a dead writer, overwritten once its claim
        is released) or the new one (retry no-ops).

        The folded frame must carry ``schema``'s column types (nullability
        aside): a drifted type raises ValueError before claiming, instead
        of being cast silently on every later read.

        Intended for SMALL aggregated state (rollups): each publish
        rewrites the table — at real scale, partition the rollup and
        rewrite only the partitions the delta touches.
        """
        done = self._merged_ids(table)
        if batch_id in done:
            return False
        folded = merge_fn(self.read(table, schema), delta)
        got, want = (
            {f.name: f.dataType.simpleString() for f in s.fields}
            for s in (folded.schema, schema)
        )
        if got != want:
            raise ValueError(
                f"{table}: merged frame {got} does not match declared schema {want}"
            )
        self._commit(
            table, folded.write.mode("overwrite").parquet, merged=done | {batch_id}
        )
        return True

    # --- append-only fact -------------------------------------------------
    #
    # Batch directories are the append unit; compaction merges many small
    # batch dirs into one (the streaming small-files problem at scale).
    # After the first compaction a MANIFEST file (atomically renamed into
    # place) is the single commit point: it lists the live data dirs plus
    # every absorbed batch id, so a re-delivered batch stays idempotent
    # even after its directory was merged away. Before any compaction the
    # directory listing itself is the manifest (no extra commit I/O on
    # the hot append path). Single writer assumed (foreachBatch
    # serializes micro-batches); a real table format (Delta/Iceberg, not
    # available in this build) would replace this wholesale.

    def fact_batch_dir(self, table: str, batch_id: str) -> str:
        return os.path.join(self._tdir(table), f"batch={batch_id}")

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "MANIFEST")

    def _manifest(self, table: str) -> dict:
        """The fact's MANIFEST; before the first rewrite commit, the empty
        one (no compacted dirs, nothing absorbed, rewrite counter 0)."""
        try:
            with open(self._manifest_path(table)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"dirs": [], "absorbed": [], "n": 0}

    def _live_batch_dirs(self, table: str) -> list[str]:
        base = self._tdir(table)
        if not os.path.isdir(base):
            return []
        # Absorbed ids are EXCLUDED here, not just deleted: compaction
        # and batch replacement remove absorbed directories best-effort
        # AFTER their manifest commit, so a crash mid-delete must not
        # resurrect an absorbed batch's rows (the manifest, not the
        # directory listing, is the source of truth once an id appears
        # in it).
        absorbed = set(self._manifest(table)["absorbed"])
        return [
            os.path.join(base, d)
            for d in os.listdir(base)
            if d.startswith("batch=")
            and d.split("=", 1)[1] not in absorbed
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        ]

    def _live_dirs(self, table: str) -> list[str]:
        dirs = [os.path.join(self._tdir(table), d) for d in self._manifest(table)["dirs"]]
        # batch dirs appended after the last compaction are live too
        return sorted(set(dirs) | set(self._live_batch_dirs(table)))

    def fact_append(
        self, table: str, df: DataFrame, batch_id: str, layout=None
    ) -> bool:
        """Append one batch; returns False if the batch already landed —
        as a live directory OR absorbed into a compaction (idempotent
        replay across compactions). ``layout``: optional ZOrderLayout —
        the batch's files come out bounded in both interleaved
        dimensions, so range predicates on either prune files at read
        (measured by ``operators/layout.py:files_read_under_range``)."""
        path = self.fact_batch_dir(table, batch_id)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        if batch_id in self._manifest(table)["absorbed"]:
            return False
        self._layout_write(df, layout, path)
        return True

    def replace_batch(self, table: str, batch_id: str, df: DataFrame) -> None:
        """Backfill: atomically replace one landed batch's rows — the
        reprocess-a-bad-day operation. The replacement commits as a
        ``rebatch-<n>`` dir with the old batch id absorbed
        (:meth:`_rewrite_fact`), so re-delivery of the ORIGINAL batch
        after replacement stays a no-op (absorbed ids gate
        ``fact_append``).

        Only batches still present as their own directory are
        replaceable; a batch already absorbed by compaction has no
        per-batch rows to swap — reprocess from sources and re-compact
        instead (raised as ValueError).
        """
        old = self.fact_batch_dir(table, batch_id)
        m = self._manifest(table)
        if batch_id in m["absorbed"]:
            raise ValueError(
                f"batch {batch_id!r} of {table!r} was absorbed by a prior "
                "compaction/replacement; its rows are no longer separable — "
                "reprocess from source batches and re-compact"
            )
        if not os.path.exists(os.path.join(old, "_SUCCESS")):
            raise ValueError(f"batch {batch_id!r} of {table!r} is not landed")
        self._rewrite_fact(
            table, m, ("rewriting", "rebatch"), df.write.mode("overwrite").parquet,
            keep=m["dirs"], absorb=[batch_id], drop=[old],
        )

    def _rewrite_fact(
        self, table: str, m: dict, names: tuple[str, str], write,
        keep: list[str], absorb: list[str], drop: list[str],
    ) -> None:
        """The fact table's one rewrite commit (compaction, batch
        replacement), crash-safe at every step: ``write`` fills staging
        dir ``<names[0]>-<n>``, which readers never list; one rename
        makes it ``<names[1]>-<n>`` and the MANIFEST swap commits it
        (live dirs := ``keep`` + it, absorbed += ``absorb``); then the
        ``drop`` dirs, now unreferenced, are deleted best-effort —
        :func:`gc_fact` reclaims what a crash leaves."""
        n = m["n"] + 1
        staging = os.path.join(self._tdir(table), f"{names[0]}-{n}")
        final = f"{names[1]}-{n}"
        write(staging)
        os.replace(staging, os.path.join(self._tdir(table), final))
        absorbed = sorted(set(m["absorbed"]) | set(absorb))
        _atomic_write(
            self._manifest_path(table),
            json.dumps({"dirs": sorted({*keep, final}), "absorbed": absorbed, "n": n}),
        )
        for d in drop:
            shutil.rmtree(d, ignore_errors=True)

    @staticmethod
    def _any_partitioned(dirs: list[str]) -> bool:
        """True when any live directory is internally partitioned by the
        layout helper column (an equal-width Z-order write). Spark's
        multi-path partition discovery cannot unify such a directory
        with flat ones (CONFLICTING_DIRECTORY_STRUCTURES — one
        equal-width append alongside plain appends made the table
        unreadable through the API; round-11 advisory fix), so reads
        must go per-directory in that case. Pure listdir, no data I/O."""
        from etl__project_spark.operators.layout import ZBUCKET_COL

        prefix = f"{ZBUCKET_COL}="
        return any(
            entry.startswith(prefix)
            for d in dirs
            if os.path.isdir(d)
            for entry in os.listdir(d)
        )

    def read_fact(self, table: str, schema: T.StructType) -> DataFrame:
        """Read all live fact rows as ``schema``. The schema is passed
        to the reader EXPLICITLY, which makes it the evolution contract:
        a batch directory written before a column existed null-fills it,
        and a directory carrying columns the caller doesn't know yet
        neither breaks the read nor silently leaks — where first-file
        schema inference DROPPED new columns whenever an old directory
        was listed first (order-dependent data loss on read, caught in
        round 10; pinned by ``tests/test_star_load.py``). Partitioned
        and flat batch dirs can coexist (see :meth:`_read_paths`)."""
        dirs = self._live_dirs(table)
        if not dirs:
            return empty_frame(self.spark, schema)
        return self._read_paths(dirs, schema)

    def compact_fact(
        self, table: str, num_files: int = 1, layout=None
    ) -> int:
        """Merge all live batch directories into one ``compact-<n>``
        directory, committed by :meth:`_rewrite_fact` with every merged
        batch id absorbed. Returns the number of directories absorbed
        (0 = nothing to do).
        """
        batch_dirs = self._live_batch_dirs(table)
        m = self._manifest(table)
        old_compacts = [os.path.join(self._tdir(table), d) for d in m["dirs"]]
        sources = sorted(set(batch_dirs) | set(old_compacts))
        if len(sources) < 2:
            return 0
        # mergeSchema: a compaction over batch dirs written before and
        # after a column was added must union the shapes (null-filling
        # the old rows), not inherit whichever file is listed first —
        # the same evolution contract read_fact pins with its explicit
        # schema. Per-directory reads when any source is equal-width
        # partitioned (same CONFLICTING_DIRECTORY_STRUCTURES hazard as
        # read_fact); allowMissingColumns carries cross-dir evolution.
        if not self._any_partitioned(sources):
            merged = self._strip_layout_cols(
                self.spark.read.option("mergeSchema", "true").parquet(*sources)
            )
        else:
            frames = [
                self._strip_layout_cols(
                    self.spark.read.option("mergeSchema", "true").parquet(d)
                )
                for d in sources
            ]
            merged = frames[0]
            for f in frames[1:]:
                merged = merged.unionByName(f, allowMissingColumns=True)

        def write(tmp: str) -> None:
            if layout is not None:
                # compaction is where a table gets (re-)clustered: many
                # append-ordered batch dirs merge into one Z-ordered dir
                # (Delta OPTIMIZE ZORDER's moment), layout.n_files governs
                # the output file count instead of coalesce.
                self._layout_write(merged, layout, tmp)
            else:
                merged.coalesce(num_files).write.mode("overwrite").parquet(tmp)
            names = {f for d in sources for f in os.listdir(d)}
            self._compact_sidecars(sources, tmp, _sidecar_cols(names, "_BLOOM_"))
            self._compact_zone_maps(tmp, _sidecar_cols(names, "_ZONEMAP_"))

        self._rewrite_fact(
            table, m, ("compacting", "compact"), write, keep=[],
            absorb=[os.path.basename(d).split("=", 1)[1] for d in batch_dirs],
            drop=sources,
        )
        return len(sources)

    @staticmethod
    def _compact_zone_maps(tmp: str, cols: list[str]) -> None:
        """Re-derive zone-map sidecars for a compaction output INSIDE
        the same commit: each of ``cols`` (the columns some source kept a
        ``_ZONEMAP_`` sidecar for) gets one on the compacted directory
        too, computed from the new files' footers BEFORE the atomic
        rename — so the range-read path never pays a first-touch footer
        scan over a fresh compaction, and the cache commits atomically
        with the data it describes (the same discipline as the bloom
        sidecars). Cost: one KB footer read per output file, once per
        compaction."""
        from etl__project_spark.operators.layout import _dir_zone_maps_cached

        for col in cols:
            _dir_zone_maps_cached(tmp, col)

    def _compact_sidecars(
        self, sources: list[str], tmp: str, key_cols: list[str]
    ) -> None:
        """Rebuild bloom data-skipping sidecars for a compaction output
        INSIDE the same commit (VERDICT r6 #6 — compaction previously
        produced always-read directories, eroding skipping over time).
        Written into the ``compacting-*`` dir before the rename, so the
        index commits atomically with the data it describes.

        For each of ``key_cols`` (the keys some source is indexed on):
        when EVERY source carries a sidecar for it (same bit-width/k),
        the compacted sidecar is the pure metadata UNION of their bit
        sets — bits(A ∪ B) = bits(A) ∪ bits(B), no data rescan, the O(1)
        path a 100 TB compaction needs. When only some sources are
        indexed, a union would miss the unindexed dirs' keys (false
        negatives — the one thing the index must never do), so the bits
        are recomputed from the compacted data with the same bounded
        distinct used by ``index_fact_batch``.
        """
        for key in key_cols:
            metas = []
            for d in sources:
                p = os.path.join(d, f"_BLOOM_{key}.json")
                if not os.path.exists(p):
                    metas = None
                    break
                with open(p) as fh:
                    metas.append(json.load(fh))
            if metas is not None and all(
                mm["n_bits"] == BLOOM_BITS and mm["k"] == BLOOM_K
                for mm in metas
            ):
                bits = sorted(set().union(*[set(mm["bits"]) for mm in metas]))
            else:
                bits = sorted(
                    int(r["p"])
                    for r in self.spark.read.parquet(tmp)
                    .select(
                        F.explode(
                            F.array(*_bloom_position_cols(key))
                        ).alias("p")
                    )
                    .distinct()
                    .collect()
                )
            _write_bloom(tmp, key, bits)


def read_range(
    wh: ParquetWarehouse,
    table: str,
    schema: T.StructType,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Zone-map pruned range scan over a VERSIONED snapshot table — the
    :func:`read_fact_range` twin for pointer-swapped tables
    (``ParquetWarehouse.read``'s current version). Version directories
    are immutable once published, so the per-directory sidecar cache is
    coherent here for the same reason it is on fact dirs. Returns rows
    of the CURRENT snapshot with ``column BETWEEN lo AND hi``, reading
    only the files whose footer rectangle intersects the range."""
    v = wh._current(table)
    vdirs = [] if v is None else [os.path.join(wh._tdir(table), f"v{v}")]
    return _read_rect(wh, vdirs, schema, {column: (lo, hi)})


def check_manifest(paths: list[str]) -> list[str]:
    """K5 — precondition gate: the reference aborts the load unless all 5
    expected processed/ files exist (lambda_function_redishift.py:25-40).
    Returns the missing paths (empty = good to go)."""
    return [p for p in paths if not os.path.exists(p)]


def _dim_schema(natural_key: str, skey: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(skey, T.LongType(), False),
            T.StructField(natural_key, T.StringType(), True),
        ]
    )


FACT_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType(), True) for c in FACT_COLS]
)


def load_batch(
    raw: DataFrame,
    wh: ParquetWarehouse,
    batch_id: str,
    spark: SparkSession,
    join_stats: dict[str, int] | None = None,
    broadcast_row_limit: int | None = None,
) -> dict[str, int]:
    """One load cycle: parse → SCD1-upsert 4 dims → star-join fact append.

    ``join_stats`` (optional): maintained {skey_col: size estimate}
    from :func:`join_stats_from_warehouse` (the unified interface over
    the CMS join-size bounds and the ANALYZE NDV state) — a dim whose
    estimate exceeds the broadcast limit flips to the salted-shuffle
    plan in ``operators/fact.py:build_fact`` instead of an
    executor-memory-blind broadcast (VERDICT r8 #8, r9 #6).

    Mirrors lambda_function_redishift.py:56-169 (DDL/COPY/upserts/fact/
    truncate) with per-batch frames playing the staging-table role.
    Returns row-count audit info (O1).

    CROSS-TABLE ATOMICITY (the recovery invariant, pinned by the crash
    matrix in ``tests/test_star_load.py``): the five publishes (4 dims +
    fact) are NOT one transaction — a crash can leave dims ahead of the
    fact. That intermediate state is safe by construction, and RE-RUNNING
    the same (raw, batch_id) converges to the clean one-shot result:

    - dim upserts are idempotent in CONTENT — SCD1 only appends NEW
      natural keys with skeys continuing past max(skey), so a re-run
      over the same staging rows republishes an identical table (a new
      version number, same rows) and every already-issued skey is stable;
    - the fact append is idempotent in PRESENCE — keyed by batch_id,
      committed by ``_SUCCESS``; a partial fact directory (no marker) is
      invisible to readers and simply overwritten on retry;
    - a dim publish that RAISES leaves nothing behind (its version files
      are removed and its claim released), so a plain re-run proceeds;
      a writer that DIED between claim and pointer swap leaves its claim,
      and the retry fails LOUDLY (ConcurrentWriteError) rather than
      racing a possibly-live writer — recovery is ``force_release`` once
      the dead writer is confirmed gone, then re-run.

    Readers never see a torn batch: dims are pointer-swapped snapshots,
    and the batch's fact rows appear only at the ``_SUCCESS`` commit.

    Round-11 optimization (guide §1.2 step 1 — the distributed
    algorithm): the four per-dim upsert chains (each: distinct →
    anti-join → checkpoint → count → number → publish, ~4 Spark jobs per
    dim even when zero or four keys are new) are BATCHED into one
    unpivoted delta job. One pass over ``parsed`` explodes each staging
    row to its four ``(dim, key)`` pairs, one hash aggregate
    deduplicates them, one anti-join against the tagged union of the
    four current dims isolates the new keys, and one eager checkpoint
    materializes that combined delta. Numbering is a window partitioned
    by dim (four independent partitions — parallel, each bounded by
    per-batch NEW-key churn), with per-dim ``max(skey)+1`` bases merged
    via one broadcast. Only the four publishes remain per-table (they
    must be: the versioned CAS commit is per table directory), and they
    still overlap from the thread pool. Per-dim content is bit-identical
    to ``scd1_upsert`` (same distinct/anti-join/row_number-over-key
    construction — pinned by the ``vs_warehouse_load`` oracle), so the
    crash matrix and replay invariants above are untouched.
    """
    parsed = parse_raw(raw).persist()
    n_staged = parsed.count()  # A3 audit; also materializes the cache

    # one combined new-keys delta for all four dims (dim tag = position
    # in DIM_SPECS; all natural keys are strings)
    pairs = (
        parsed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("__dim"),
                            F.col(nk).alias("__key"),
                        )
                        for i, (_t, nk, _s) in enumerate(DIM_SPECS)
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("__key").isNotNull())
        .distinct()
    )
    current_tagged = None
    for i, (table, nk, skey) in enumerate(DIM_SPECS):
        cur = wh.read(table, _dim_schema(nk, skey)).select(
            F.lit(i).alias("__dim"),
            F.col(nk).alias("__key"),
            F.col(skey).alias("__skey"),
        )
        current_tagged = cur if current_tagged is None else current_tagged.unionByName(cur)
    new_keys = pairs.join(
        current_tagged.select("__dim", "__key"), ["__dim", "__key"], "left_anti"
    )
    bases = current_tagged.groupBy("__dim").agg(
        (F.max("__skey") + 1).alias("__base")
    )
    # ONE eager materialization of the fully-numbered delta (churn-sized:
    # new keys only). Publishing from the un-materialized lineage made
    # each of the four concurrent publishes re-run the window + base
    # broadcast (~2.5 s each, measured); from the checkpoint each is a
    # filter + union + write.
    numbered = state_checkpoint(
        new_keys.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__dim").orderBy("__key")
            )
            - 1,
        )
        .join(F.broadcast(bases), "__dim", "left")
        .withColumn(
            "__skey",
            (F.coalesce(F.col("__base"), F.lit(0)) + F.col("__rn")).cast("long"),
        )
        .select("__dim", "__key", "__skey"),
        table_sized=False,
    )

    # The four publishes touch disjoint table directories, so their
    # write jobs run concurrently from a thread pool: wall time is the
    # slowest dim, not the sum. On a cluster the concurrent jobs share
    # executors (FAIR scheduling overlaps their stages).
    def _publish_dim(spec_i: tuple[int, tuple[str, str, str]]) -> tuple[str, DataFrame, str]:
        i, (table, nk, skey) = spec_i
        wh.publish_delta(
            table,
            numbered.filter(F.col("__dim") == i).select(
                F.col("__skey").alias(skey), F.col("__key").alias(nk)
            ),
        )
        return skey, wh.read(table, _dim_schema(nk, skey)), nk

    with ThreadPoolExecutor(max_workers=len(DIM_SPECS)) as pool:
        dims = {
            skey: (df, nk, nk)
            for skey, df, nk in pool.map(_publish_dim, enumerate(DIM_SPECS))
        }

    limit_kw = (
        {} if broadcast_row_limit is None
        else {"broadcast_row_limit": broadcast_row_limit}
    )
    fact = build_fact(parsed, dims, join_stats=join_stats, **limit_kw)
    # Output file sizing (guide §6): the star join preserves staging
    # cardinality (dims are unique-keyed), so the batch's output size is
    # known before the write — target-sized files instead of one tiny
    # file per upstream partition. Scale-adaptive: file count grows
    # linearly with batch bytes. HOW the file count lands matters
    # (VERDICT r11 #5, guide §2.1): ``coalesce(n)`` with n below the
    # upstream partition count propagates through the narrow broadcast
    # joins and runs the whole star join at n-way (worst case 1-way)
    # parallelism; ``repartition(n)`` inserts a shuffle boundary so the
    # join keeps upstream parallelism and only the batch-sized output
    # crosses the exchange. For big batches (n_files >= upstream
    # parallelism) coalesce is the cheaper move — no shuffle at all.
    n_files = max(1, -(-n_staged * FACT_ROW_BYTES // TARGET_FILE_BYTES))
    if n_files < spark.sparkContext.defaultParallelism:
        sized = fact.repartition(n_files)
    else:
        sized = fact.coalesce(n_files)
    appended = wh.fact_append("factvideostart", sized, batch_id)
    parsed.unpersist()
    return {"n_staged": n_staged, "fact_appended": int(appended)}


def join_stats_from_cms(
    wh: ParquetWarehouse, grids: dict[str, tuple[str, str]]
) -> dict[str, int]:
    """Maintained join-size statistics for :func:`load_batch`'s strategy
    choice (VERDICT r8 #8) — the ``ev_join_size_cdc`` bound promoted from
    a catalog query into the planner loop.

    ``grids`` maps skey column → (fact-side grid table, dim-side grid
    table): two turnstile-CMS cell tables maintained in the warehouse by
    ``streaming/pipeline.py:stream_cms_cdc``-shaped folds (each absorbs
    its side's churn as signed cells; a missing/empty table means "no
    statistic" and the dim keeps the default broadcast plan). The
    estimate per dim is the min-over-rows inner product of the two KB
    grids (``datapipe/sketches.py:cms_join_size_bound``) — a
    no-underestimate upper bound on the join cardinality, so a dim that
    quietly grew past the broadcast limit can only be flagged, never
    missed. BOUNDED driver collect: one 1-row frame per dim (d·w = 1024
    cells per grid scanned executor-side), independent of corpus size.
    """
    from etl__project_spark.datapipe.sketches import cms_join_size_bound
    from etl__project_spark.streaming.pipeline import CMS_CELLS_SCHEMA

    out: dict[str, int] = {}
    for skey_col, (grid_fact, grid_dim) in grids.items():
        cells_a = wh.read(grid_fact, CMS_CELLS_SCHEMA)
        cells_b = wh.read(grid_dim, CMS_CELLS_SCHEMA)
        row = cms_join_size_bound(cells_a, cells_b).first()
        if row is not None and row["est_size"] is not None:
            out[skey_col] = int(row["est_size"])
    return out


def should_recluster(
    wh: ParquetWarehouse,
    table: str,
    column: str,
    threshold: float = 0.5,
    n_probes: int = 64,
) -> tuple[bool, dict[str, float]]:
    """The OPTIMIZE-scheduling trigger that closes the layout loop:
    Z-ordered writes give pruned reads (``ZOrderLayout``), appends
    erode the clustering (each new append-ordered batch dir overlaps
    the whole key domain), and this statistic decides when
    ``compact_fact(table, layout=...)`` should pay the re-cluster.
    Reads ONLY parquet footers over the fact's live dirs
    (``operators/layout.py:zone_read_amplification``): a
    mean_read_fraction above ``threshold`` means a typical point
    predicate on ``column`` opens more than that fraction of files —
    re-cluster; a fresh Z-ordered table sits near 1/n_files. The
    statistic is weighted by files, so erosion grows with the number of
    files each append writes, not only with its rows. Returns
    (trigger, measured stats); a table with no live files never
    triggers."""
    from etl__project_spark.operators.layout import zone_read_amplification

    dirs = wh._live_dirs(table)
    if not dirs:
        return False, {"n_files": 0, "mean_read_fraction": 0.0}
    stats = zone_read_amplification(dirs, column, n_probes)
    return stats["n_files"] > 1 and stats["mean_read_fraction"] > threshold, stats


def join_stats_from_analyze(
    wh: ParquetWarehouse, ndv_sources: dict[str, tuple[str, str]]
) -> dict[str, int]:
    """Join statistics from the maintained ANALYZE state (VERDICT r9 #6
    — ``tpch_stats_analyze_cdc`` / ``stream_column_stats_cdc`` promoted
    from a catalog query into the planner loop, like the CMS grids
    before it).

    ``ndv_sources`` maps skey column → (col_stats state table, tracked
    column name). The maintained (column_name, v, n) state holds one
    live row per distinct value, so the dim natural-key column's NDV —
    one filtered COUNT over the state — is a LOWER bound on the dim's
    row count (every distinct live key is at least one row). A dim
    whose key NDV alone exceeds the broadcast row limit has provably
    outgrown the broadcast, whatever the per-key fan-out. Missing/empty
    state means "no statistic" (broadcast default preserved). BOUNDED
    read: one 1-row aggregate per dim over the KB-to-MB stats state."""
    from etl__project_spark.streaming.pipeline import COLSTATS_STATE_SCHEMA

    out: dict[str, int] = {}
    for skey_col, (state_table, column_name) in ndv_sources.items():
        state = wh.read(state_table, COLSTATS_STATE_SCHEMA)
        row = state.filter(
            (F.col("column_name") == column_name)
            & F.col("v").isNotNull()
            & (F.col("n") > 0)
        ).agg(F.count(F.lit(1)).cast("long").alias("ndv")).first()
        if row is not None and row["ndv"]:
            out[skey_col] = int(row["ndv"])
    return out


def join_stats_from_warehouse(
    wh: ParquetWarehouse,
    cms_grids: dict[str, tuple[str, str]] | None = None,
    analyze_ndv: dict[str, tuple[str, str]] | None = None,
) -> dict[str, int]:
    """ONE maintained-statistics interface for :func:`load_batch`'s
    join-strategy choice (VERDICT r9 #6), fed by two maintained
    producers: the turnstile-CMS join-size bounds
    (:func:`join_stats_from_cms`) and the ANALYZE column-NDV state
    (:func:`join_stats_from_analyze`). Per skey the producers combine
    by MAX — the decision this feeds is OOM avoidance (don't broadcast
    a dim that outgrew executor memory), so any producer flagging a dim
    as big must win; a dim neither producer tracks keeps the default
    broadcast plan."""
    out = join_stats_from_cms(wh, cms_grids or {})
    for skey_col, ndv in join_stats_from_analyze(wh, analyze_ndv or {}).items():
        out[skey_col] = max(out.get(skey_col, 0), ndv)
    return out


def audit(wh: ParquetWarehouse) -> dict[str, int]:
    """Warehouse row counts (the reference's console verification step)."""
    out = {}
    for table, nk, skey in DIM_SPECS:
        out[table] = wh.read(table, _dim_schema(nk, skey)).count()
    out["factvideostart"] = wh.read_fact("factvideostart", FACT_SCHEMA).count()
    return out


def snapshot_diff(
    wh: ParquetWarehouse,
    table: str,
    schema: T.StructType,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change feed between two retained versions of a versioned table —
    the Delta CHANGE DATA FEED analog over ``ParquetWarehouse``'s
    immutable snapshots: rows tagged ``insert`` (key only in ``v_to``),
    ``delete`` (key only in ``v_from``), or ``update`` (key in both
    with any non-key column changed). Unchanged rows are not emitted.

    Built on :meth:`ParquetWarehouse.read`'s time travel, so the diff
    needs no change log — any two retained publishes can be compared
    after the fact (backfill auditing, "what did batch 7 actually
    change", downstream incremental refresh from snapshot pairs).

    Scale shape: ONE full-outer equi-join keyed on ``key_cols``
    between the two snapshot scans, with the change classification as
    narrow column expressions — at 100 TB both sides are bucketed by
    key at rest, so the join co-locates without a shuffle, and
    snapshot pruning means only the two compared versions are read.
    """
    non_key = [f.name for f in schema.fields if f.name not in key_cols]
    # Presence is derived from a non-nullable marker column added to each
    # side BEFORE the join, not from key isNotNull: the join condition is
    # eqNullSafe (NULL keys deliberately join), so a row whose key is NULL
    # but that exists in only one snapshot must still classify as
    # insert/delete, not as an update against an all-NULL phantom.
    old = wh.read(table, schema, version=v_from).withColumn(
        "__in_old", F.lit(True)
    ).alias("o")
    new = wh.read(table, schema, version=v_to).withColumn(
        "__in_new", F.lit(True)
    ).alias("n")
    cond = [old[k].eqNullSafe(new[k]) for k in key_cols]
    joined = old.join(new, cond, "full_outer")
    in_old = F.coalesce(old["__in_old"], F.lit(False))
    in_new = F.coalesce(new["__in_new"], F.lit(False))
    changed = (
        F.lit(False)
        if not non_key
        else ~F.struct(*[old[c] for c in non_key]).eqNullSafe(
            F.struct(*[new[c] for c in non_key])
        )
    )
    change = (
        F.when(in_old & ~in_new, F.lit("delete"))
        .when(~in_old & in_new, F.lit("insert"))
        .when(changed, F.lit("update"))
    )
    keys = [F.coalesce(new[k], old[k]).alias(k) for k in key_cols]
    olds = [old[c].alias(f"old_{c}") for c in non_key]
    news = [new[c].alias(f"new_{c}") for c in non_key]
    return (
        joined.select(change.alias("change"), *keys, *olds, *news)
        .filter(F.col("change").isNotNull())
    )


def gc_fact(wh: ParquetWarehouse, table: str) -> list[str]:
    """Reclaim crash garbage under an append-only fact table — the
    companion to :func:`vacuum` (which handles versioned snapshots).
    The compaction/replacement protocols are crash-safe BECAUSE their
    deletes are best-effort after the manifest commit: a crash
    mid-delete leaves directories that readers already ignore but disk
    still pays for. Removable, by the manifests' own rules:

    * ``compacting-*`` / ``rewriting-*`` staging dirs — never listed by
      readers; a live writer would still be mid-job, so run this only
      with no writer active (same single-writer assumption the append
      path already makes);
    * ``batch=<id>`` dirs whose id the manifest marks ABSORBED — their
      rows live on in a compaction output; the directory is dead weight
      and `_live_batch_dirs` already excludes it;
    * ``compact-*`` / ``rebatch-*`` dirs NOT referenced by the current
      manifest — superseded by a later compaction that absorbed them.

    Never touches live batch dirs, manifest-referenced dirs, sidecars,
    or the MANIFEST itself. Returns the directory names removed.
    Idempotent; safe to run on a cadence (the lakehouse VACUUM moment
    for the plain-parquet warehouse)."""
    tdir = wh._tdir(table)
    if not os.path.isdir(tdir):
        return []
    m = wh._manifest(table)
    absorbed, referenced = set(m["absorbed"]), set(m["dirs"])
    removed: list[str] = []
    for d in sorted(os.listdir(tdir)):
        full = os.path.join(tdir, d)
        if not os.path.isdir(full):
            continue
        dead = (
            d.startswith(("compacting-", "rewriting-"))
            or (d.startswith("batch=") and d.split("=", 1)[1] in absorbed)
            or (
                d.startswith(("compact-", "rebatch-"))
                and d not in referenced
            )
        )
        if dead:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(d)
    return removed


def vacuum(wh: ParquetWarehouse, table: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshot versions
    of a versioned table (the Delta VACUUM analog for time travel).
    Never touches CURRENT or anything newer than it; returns the
    version numbers removed. Each removal deletes the immutable ``vN``
    directory and its ``.meta`` — after which ``read(version=N)``
    raises, exactly the time-travel contract (retained versions only).

    ``.claim`` files are RETAINED (they are empty one-per-version
    markers): "claims are never deleted on success" is what makes a
    stale writer targeting an old version fail at CAS half 1, before
    it writes anything. Deleting them here would downgrade that writer
    to the half-2 CURRENT re-read, after it had already created a
    spurious claim file.

    Deletion order is oldest-first and CURRENT is re-read first, so a
    concurrent publish can only ADD versions newer than the ones being
    removed — retention never races the write path.
    """
    current = wh._current(table)
    if current is None:
        return []
    keep = max(1, keep_last)
    removable = [v for v in wh.versions(table) if v <= current][:-keep]
    for v in removable:
        path = os.path.join(wh._tdir(table), f"v{v}")
        wh._discard(path, f"{path}.meta")
    return removable


# --- per-batch bloom indexes: point-lookup data skipping ---------------------

BLOOM_BITS = 4096
BLOOM_K = 4


def _bloom_positions_py(value: str, n_bits: int = BLOOM_BITS, k: int = BLOOM_K):
    """The k bit positions of ``value`` — hashlib twin of the Spark-side
    expression (identical md5 discipline, so a position computed on an
    executor and one computed on the driver probing the index agree)."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}bloom{j}".encode()).hexdigest()[:15], 16) % n_bits
        for j in range(k)
    ]


def _bloom_position_cols(key_col: str, n_bits: int = BLOOM_BITS, k: int = BLOOM_K):
    return [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"bloom{j}"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(n_bits),
        )
        for j in range(k)
    ]


def index_fact_batch(
    wh: ParquetWarehouse,
    table: str,
    batch_id: str,
    key_col: str,
    *,
    schema: T.StructType | None = None,
) -> int:
    """Build the bloom data-skipping index for one landed fact batch:
    the distinct bit positions of every key in the batch (ONE distributed
    distinct over ≤ BLOOM_BITS values — the driver reads at most 4096
    ints, bounded by construction like the HLL registers), written as a
    sidecar ``_BLOOM_<key>.json`` inside the batch directory (the
    underscore prefix keeps it invisible to parquet directory listings,
    like ``_SUCCESS``). The sidecar
    is advisory: a reader that finds no index simply reads the
    directory, so a crash between append and index can never cause a
    false negative — the index only ever REMOVES directories that
    provably lack the key. This is the file-skipping half of what
    Delta/Iceberg keep as column stats + bloom metadata, and the stored
    complement of the query-time runtime filter (`tpch_bloom_prune_join`).
    Only the key column is read, with a known type: from ``schema``
    (the table's schema) when given, else from one parquet footer of
    the batch, read on the driver — never a Spark schema-inference job.
    Returns the number of bits set.
    """
    bdir = wh.fact_batch_dir(table, batch_id)
    if not os.path.exists(os.path.join(bdir, "_SUCCESS")):
        raise ValueError(f"batch {batch_id!r} of {table!r} is not landed")
    field = (schema if schema is not None else _footer_schema(bdir))[key_col]
    df = wh.spark.read.schema(T.StructType([field])).parquet(bdir)
    pos = (
        df.select(
            F.explode(F.array(*_bloom_position_cols(key_col))).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = sorted(int(r["p"]) for r in pos)
    _write_bloom(bdir, key_col, bits)
    return len(bits)


def _write_bloom(bdir: str, key_col: str, bits: list[int]) -> None:
    _atomic_write(
        os.path.join(bdir, f"_BLOOM_{key_col}.json"),
        json.dumps(
            {"key_col": key_col, "n_bits": BLOOM_BITS, "k": BLOOM_K, "bits": bits}
        ),
    )


def prune_dirs_for_key(
    wh: ParquetWarehouse, table: str, key_col: str, value
) -> tuple[list[str], list[str]]:
    """Split the live fact directories into (must_read, skipped) for a
    point lookup ``key_col = value``: a directory is skipped ONLY when
    its bloom sidecar exists and provably excludes the value (some probe
    bit unset). Unindexed directories (pre-index batches, compaction
    outputs not yet re-indexed) are always read — no false negatives by
    construction; false positives just read a directory that returns
    zero rows after the pushed-down filter."""
    probes = set(_bloom_positions_py(str(value)))
    must_read, skipped = [], []
    for d in wh._live_dirs(table):
        meta_path = os.path.join(d, f"_BLOOM_{key_col}.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            if probes - set(meta["bits"]):
                skipped.append(d)
                continue
        must_read.append(d)
    return must_read, skipped


def _read_pruned(
    wh: ParquetWarehouse, kept: list[str], schema: T.StructType, cond: Column
) -> DataFrame:
    """The one body of the pruned reads: read the files or directories a
    pruner ``kept`` as ``schema`` through :meth:`ParquetWarehouse._read_paths`
    (layout columns stripped, partitioned directories read one by one)
    and filter by ``cond``, the predicate the pruner tested, so row-group
    pruning still applies inside the survivors. Nothing kept → the empty
    contract frame, with no scan scheduled."""
    if not kept:
        return empty_frame(wh.spark, schema)
    return wh._read_paths(kept, schema).filter(cond)


def _read_rect(
    wh: ParquetWarehouse,
    dirs: list[str],
    schema: T.StructType,
    ranges: dict[str, tuple],
) -> DataFrame:
    """:func:`_read_pruned` over the files of ``dirs`` whose footer zone
    maps may meet every ``column: (lo, hi)`` range
    (``operators/layout.py:prune_files_for_rect``)."""
    kept, _skipped = prune_files_for_rect(dirs, ranges)
    cond = reduce(
        lambda a, b: a & b,
        [F.col(c).between(F.lit(lo), F.lit(hi)) for c, (lo, hi) in ranges.items()],
    )
    return _read_pruned(wh, kept, schema, cond)


def read_fact_range(
    wh: ParquetWarehouse,
    table: str,
    schema: T.StructType,
    column: str,
    lo,
    hi,
) -> DataFrame:
    """Range scan over the fact table with zone-map FILE pruning — the
    read-side twin of the Z-order write path (VERDICT r10 #2): where
    ``read_fact`` lists every live file and leaves pruning to Spark's
    row-group stats, this consults the parquet FOOTER zone maps first
    (``operators/layout.py:prune_files_for_rect`` over the one column)
    and hands Spark only the files whose [min, max] range intersects
    ``[lo, hi]`` — so on a Z-ordered table the measured ~98% file skip
    becomes wall-time (the skipped files are never listed, opened, or
    scheduled), not just row-group elimination after the fact. Files
    without statistics for ``column`` are always read (no false
    negatives by construction; the equality with the unpruned read is
    oracle-pinned by ``ev_zorder_range_read`` and the files-opened ==
    audit parity by ``tests/test_layout.py``). The range predicate is
    ALSO pushed to the scan of the survivors, so row-group pruning still
    applies inside them. At 100 TB this is Delta/Iceberg's min-max file
    skipping over the plain-parquet warehouse: the driver reads O(files)
    KB footers instead of scheduling O(files) tasks."""
    return _read_rect(wh, wh._live_dirs(table), schema, {column: (lo, hi)})


def read_fact_rect(
    wh: ParquetWarehouse,
    table: str,
    schema: T.StructType,
    ranges: dict[str, tuple],
) -> DataFrame:
    """Rectangle scan over the fact table with multi-column zone-map
    file pruning — :func:`read_fact_range` generalized to a CONJUNCTION
    of range predicates (``{column: (lo, hi), ...}``). On a Z-ordered
    table every file is bounded in all interleaved dimensions, so each
    conjunct independently eliminates files and the skips multiply —
    the payoff a 2-dim predicate gets from the layout that a
    single-column sort cannot give (oracle-paired by
    ``ev_zorder_rect_read``; physical files-opened == audit pinned in
    ``tests/test_layout.py``). All predicates are also pushed to the
    surviving files' scans."""
    if not ranges:
        # an empty conjunction would otherwise prune EVERY file (the
        # rect pruner derives its listing from the predicate columns) —
        # silently returning nothing for "no predicate" is the one
        # wrong answer; make the caller bug loud instead
        raise ValueError("read_fact_rect requires at least one column range")
    return _read_rect(wh, wh._live_dirs(table), schema, ranges)


def read_fact_point(
    wh: ParquetWarehouse, table: str, schema: T.StructType, key_col: str, value
) -> DataFrame:
    """Point lookup over the fact table with bloom directory pruning:
    reads only the directories whose index admits the key (plus any
    unindexed ones), with the equality predicate pushed to the parquet
    scan of those. At 100 TB with daily batches this is the difference
    between scanning every partition for one key and scanning the
    handful whose bloom fires — the same contract as Delta's file-level
    bloom skipping, kept honest here by the no-false-negative test.
    Rows come back as ``schema`` — the same evolution contract as
    :meth:`ParquetWarehouse.read_fact`."""
    kept, _skipped = prune_dirs_for_key(wh, table, key_col, value)
    return _read_pruned(wh, kept, schema, F.col(key_col) == F.lit(value))
