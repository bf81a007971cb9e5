"""Seeded input generators.

Everything the benchmark feeds the program is made here from ``--seed``:

* ``catalog_fixture`` writes the ten fixture tables (TPC-H-shaped star
  schema, ``events``, ``documents``, ``embeddings``) as one parquet file
  each, with the schemas and value domains of the seed-42 fixtures the
  catalog queries were written against.
* ``StreamFiles`` turns generated ``events`` rows into raw ``video_data``
  CSV micro-batch files (DateTime / VideoTitle / events) through the
  package's DuckDB twin of ``refdata.synth_video_data`` and lands each one
  in a landing directory by atomic rename.

Only numpy, pyarrow and duckdb are used, so generation costs no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1 (sf0.1 fixture sizes x 10)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
    "users": 15_000,
}
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (["en", "fr", "zh", "de", "es"], [0.41, 0.15, 0.15, 0.14, 0.15])
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_MS_PER_DAY = 86_400_000
# Assumed key skew: the Zipf exponent of every skewed key draw (hot minutes
# here, read keys in warehouse_read). No source gives one.
ZIPF_S = 1.2


def _rows(sf: float, table: str) -> int:
    return max(1, int(round(_BASE_ROWS[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _MS_PER_DAY, type=pa.timestamp("ms"))


def events_table(
    rng: np.random.Generator, n: int, n_users: int, first_id: int = 0
) -> pa.Table:
    """``events`` rows: ids ascending with time over January 2024."""
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the fixture's "dup" rows)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS[0], n, p=_LANGS[1])),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def catalog_fixture(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten fixture tables for scale factor ``sf``; returns bytes
    written."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = _rows(sf, "customer"), _rows(sf, "supplier")
    n_part, n_ord = _rows(sf, "part"), _rows(sf, "orders")
    n_li = _rows(sf, "lineitem")
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"],
                    n_part,
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        "events": events_table(rng, _rows(sf, "events"), _rows(sf, "users")),
        "documents": _documents(rng, _rows(sf, "documents")),
        "embeddings": _embeddings(rng, _rows(sf, "embeddings")),
    }
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def raw_video_rows(events: pa.Table) -> list[tuple]:
    """(DateTime, VideoTitle, events) rows for ``events``, in event_id
    order, through the package's DuckDB twin of ``synth_video_data``."""
    import duckdb

    from etl__project_spark.refdata import VIDEO_DATA_CTE

    con = duckdb.connect()
    con.register("events", events)
    rows = con.execute(
        f"WITH {VIDEO_DATA_CTE} SELECT DateTime, VideoTitle, events FROM video_data "
        "ORDER BY event_id"
    ).fetchall()
    con.close()
    return rows


def write_csv(path: str, rows: list[tuple]) -> int:
    """Write raw rows as a headed CSV (the reader's quote and escape
    characters); returns bytes written."""
    import csv

    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL, escapechar="\\")
        w.writerow(["DateTime", "VideoTitle", "events"])
        w.writerows(rows)
    return os.path.getsize(path)


def warehouse_batches(out_dir: str, seed: int, n_batches: int) -> list[str]:
    """The sf0.1 ``events`` size as raw CSV batches in time order (batch
    ``b`` holds the ``b``-th slice of the month), like daily loads."""
    rng = np.random.default_rng([seed, 5])
    rows = raw_video_rows(events_table(rng, _rows(0.1, "events"), _rows(0.1, "users")))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(rows) // n_batches)
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch-{b}.csv")
        write_csv(path, rows[b * per : (b + 1) * per])
        paths.append(path)
    return paths


@dataclass(frozen=True)
class StreamShape:
    """The seed-drawn properties of one ``stream_ingest`` input stream."""

    redelivery_share: float  # share of a file's rows re-sent from earlier files
    new_types_per_file: int  # event types first seen in each file (new titles)
    hot_share: float  # share of a file's rows that fall in a few hot minutes


def stream_shape(seed: int) -> StreamShape:
    """Draw the stream's shape. The ranges are assumptions, not measured
    traffic: the workload only asks that rows are re-sent, that dims gain
    members every batch and that keys are skewed."""
    rng = np.random.default_rng([seed, 2])
    return StreamShape(
        redelivery_share=float(rng.uniform(0.05, 0.15)),
        new_types_per_file=int(rng.integers(1, 3)),
        hot_share=float(rng.uniform(0.1, 0.3)),
    )


class StreamFiles:
    """Raw micro-batch CSV files for ``stream_ingest``, made on demand.

    The fresh rows come from one pool of generated events (the sf0.1
    ``events`` size) in a seeded permutation; file ``i`` carries the next
    ``rows_per_file`` of them. A seeded share of every file is re-sent
    from rows already landed, a hot share is moved onto a few Zipf-chosen
    minutes, and every file introduces new event types, so the title
    dimension gains members per batch. When the pool runs dry a new pool
    with fresh event ids is drawn.
    """

    def __init__(self, seed: int, rows_per_file: int, pool_rows: int = 100_000):
        self.seed = seed
        self.shape = stream_shape(seed)
        self.rows_per_file = rows_per_file
        self.pool_rows = pool_rows
        self._pool: list[tuple] = []
        self._pool_no = -1
        self._next = 0
        self._landed: list[tuple] = []
        self._files = 0

    def _refill(self) -> None:
        self._pool_no += 1
        rng = np.random.default_rng([self.seed, 3, self._pool_no])
        ev = events_table(
            rng,
            self.pool_rows,
            _rows(0.1, "users"),
            first_id=self._pool_no * self.pool_rows,
        )
        types = np.array(ev.column("event_type").to_pylist(), dtype=object)
        ts = ev.column("ts").to_numpy().copy()
        order = rng.permutation(self.pool_rows)
        per_file = self.rows_per_file
        n_files = -(-self.pool_rows // per_file)
        hot = np.datetime64("2024-01-15T12:00", "m") + rng.integers(0, 600, 16)
        for f in range(n_files):
            idx = order[f * per_file : (f + 1) * per_file]
            # new dim members: a few rows of each file get a never-seen type
            for t in range(self.shape.new_types_per_file):
                tag = f"type_{self._pool_no}_{f}_{t}"
                types[idx[t :: max(1, per_file // 8)][:8]] = tag
            # key skew: a hot share lands on Zipf-ranked hot minutes
            n_hot = int(len(idx) * self.shape.hot_share)
            ranks = np.minimum(rng.zipf(ZIPF_S, n_hot), len(hot)) - 1
            ts[idx[:n_hot]] = hot[ranks].astype("datetime64[us]").astype(np.int64)
        ev = ev.set_column(1, "ts", pa.array(ts, type=pa.timestamp("us")))
        ev = ev.set_column(3, "event_type", pa.array(types.tolist()))
        raw = raw_video_rows(ev)
        self._pool = [raw[i] for i in order]
        self._next = 0

    def next_rows(self) -> list[tuple]:
        if self._next >= len(self._pool):
            self._refill()
        rng = np.random.default_rng([self.seed, 4, self._files])
        fresh = self._pool[self._next : self._next + self.rows_per_file]
        self._next += self.rows_per_file
        rows = list(fresh)
        if self._landed:
            n_re = int(len(fresh) * self.shape.redelivery_share)
            pick = rng.integers(0, len(self._landed), n_re)
            rows += [self._landed[i] for i in pick]
            rows = [rows[i] for i in rng.permutation(len(rows))]
        self._landed.extend(fresh)
        self._files += 1
        return rows

    def land(self, landing_dir: str, staging_dir: str) -> tuple[str, int]:
        """Write the next file to ``staging_dir`` and rename it into
        ``landing_dir``; returns (path, bytes)."""
        name = f"part-{self._files + 1:05d}.csv"
        tmp = os.path.join(staging_dir, name)
        size = write_csv(tmp, self.next_rows())
        dst = os.path.join(landing_dir, name)
        os.replace(tmp, dst)
        return dst, size
