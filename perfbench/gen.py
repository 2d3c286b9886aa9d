"""Seeded input generator and independent oracle for the CDC benchmark.

Everything the engine sees is written here as files: parquet tables, their
change logs, and Debezium-JSON envelopes stored as Kafka-shaped records
(``key``, ``value``, ``timestamp``).  From the same seed the generator also
computes, in pandas and without the engine, what each workload's sink must
hold at the end.  ``row_hashes`` turns a frame into the sorted row hashes
that the benchmark compares.

Sizes and shares live in the ``*Spec`` dataclasses; ``scaled`` shrinks a
spec for the smoke test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields, replace
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

OP_INSERT, OP_UPDATE, OP_DELETE = "+I", "+U", "-D"
_STATUSES = np.array(["NEW", "PAID", "SHIPPED", "DONE"])


@dataclass(frozen=True)
class SnapshotSpec:
    """``initial_snapshot``: two captured tables, each with a racing log."""

    orders_rows: int = 50_000         # dense BIGINT PK -> even-split planner path
    customers_rows: int = 10_000      # STRING PK -> lazy uneven planner path
    change_share: float = 0.25        # log changes after the initial image, per row
    delete_share: float = 0.10        # of changes
    insert_share: float = 0.10        # of changes: brand-new keys
    zipf_s: float = 1.1               # key skew of updates and deletes
    chunks: int = 2                   # target chunks per table
    warmup_passes: int = 2            # untimed passes during set-up
    log_files: int = 4                # change-log parquet files per table


@dataclass(frozen=True)
class CatchupSpec:
    """``binlog_catchup``: a backlog replayed one file per micro-batch."""

    orders_rows: int = 20_000         # snapshot image the state is seeded from
    regions: int = 1_000              # GROUP BY region -> ~1k groups
    envelopes_per_file: int = 4_000   # one file = one micro-batch
    warmup_files: int = 4             # drained during set-up, after the snapshot file
    delete_share: float = 0.10
    insert_share: float = 0.10
    region_move_share: float = 0.20   # of updates: the row changes group
    tombstone_share: float = 0.50     # of deletes: followed by a null value
    zipf_s: float = 1.1


@dataclass(frozen=True)
class FreshnessSpec:
    """``steady_freshness``: open loop, one envelope file per tick."""

    orders_rows: int = 30_000         # table state kept by the MAX plan
    customers: int = 5_000            # GROUP BY customer_id groups
    tick_s: float = 0.5               # one file per tick, on a fixed schedule
    envelopes_per_tick: int = 250     # 500 events/s
    lead_in_s: float = 4.0            # the open loop runs this long before the window
    delete_share: float = 0.10
    insert_share: float = 0.10
    tombstone_share: float = 0.50
    zipf_s: float = 1.1


def scaled(spec, factor: float):
    """Shrink every row/event count of ``spec`` by ``factor`` (smoke test)."""
    changes = {}
    for f in fields(spec):
        v = getattr(spec, f.name)
        if isinstance(v, int) and f.name.endswith(("_rows", "_file", "_tick", "regions", "customers")):
            changes[f.name] = max(8, int(v * factor))
    return replace(spec, **changes)


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------


def zipf_sampler(rng: np.random.Generator, n: int, s: float):
    """Sample key indices in [0, n) with Zipf(s) popularity; hot keys are
    scattered over the key range by a random rank -> key permutation."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    p /= p.sum()
    rank_to_key = rng.permutation(n)

    def draw(m: int) -> np.ndarray:
        return rank_to_key[rng.choice(n, size=m, p=p)]

    return draw


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def row_hashes(df: pd.DataFrame, columns) -> np.ndarray:
    """Sorted per-row hashes of ``df[columns]``; values are normalised to
    strings first so that engine and oracle dtypes need not agree."""
    norm = pd.DataFrame(
        {c: df[c].map(_canon) for c in columns}, columns=list(columns)
    )
    return np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<null>"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (np.integer,)):
        return str(int(v))
    return str(v)


# --------------------------------------------------------------------------
# initial_snapshot
# --------------------------------------------------------------------------


@dataclass
class SnapshotTable:
    """One captured table: parquet image for the planner, change log for
    the hybrid pipeline, and the oracle's final image."""

    name: str
    key: str
    columns: list
    table_dir: str          # ParquetTableSource sf_dir (holds <name>.parquet)
    log_dir: str            # the table's change log (the "binlog")
    initial_rows: int
    log_tip: int            # last _seq of the log
    expected: pd.DataFrame  # final image (latest row per key, no deletes)
    log: pd.DataFrame       # the log, kept for per-chunk backfill counts
    log_ddl: str            # the log's schema as a Spark DDL string


def _racing_log(rng, n, m, spec):
    """Key indices and ops of the changes after the initial image.
    Updates and deletes pick Zipf-skewed keys; a pick that hits a deleted
    key re-inserts it."""
    draw = zipf_sampler(rng, n, spec.zipf_s)
    r = rng.random(m)
    picks = draw(m)
    live = np.zeros(n + m, dtype=bool)
    live[:n] = True
    keys = np.empty(m, dtype=np.int64)
    ops = np.empty(m, dtype=object)
    nxt = n
    for j in range(m):
        if r[j] < spec.insert_share:
            k, op = nxt, OP_INSERT
            nxt += 1
        else:
            k = picks[j]
            if not live[k]:
                op = OP_INSERT
            elif r[j] < spec.insert_share + spec.delete_share:
                op = OP_DELETE
            else:
                op = OP_UPDATE
        live[k] = op != OP_DELETE
        keys[j] = k
        ops[j] = op
    return keys, ops


def _snapshot_table(rng, root, name, n, spec, string_key):
    m = int(n * spec.change_share)
    total = n + m
    if string_key:
        # STRING PK whose sort order is unrelated to insertion order
        labels = np.char.add("c", np.char.zfill(rng.permutation(total * 7)[:total].astype(str), 9))
        key, cols = "customer_key", ["customer_key", "name", "balance"]
        ddl = "customer_key STRING, name STRING, balance DOUBLE"
        payload = lambda size: {  # noqa: E731
            "name": np.char.add("name-", rng.integers(0, 1_000_000, size).astype(str)),
            "balance": rng.integers(0, 10_000_000, size) / 100.0,
        }
    else:
        labels = np.arange(1, total + 1, dtype=np.int64)
        key, cols = "order_id", ["order_id", "customer_id", "amount", "status"]
        ddl = "order_id BIGINT, customer_id BIGINT, amount DOUBLE, status STRING"
        payload = lambda size: {  # noqa: E731
            "customer_id": rng.integers(1, max(2, n // 10), size),
            "amount": rng.integers(100, 10_000_000, size) / 100.0,
            "status": _STATUSES[rng.integers(0, len(_STATUSES), size)],
        }
    image = pd.DataFrame({key: labels[:n], **payload(n)})
    keys, ops = _racing_log(rng, n, m, spec)
    # every change row carries a fresh payload; the merge ignores it on -D
    changes = pd.DataFrame({key: labels[keys], **payload(m)})
    log = pd.concat(
        [image.assign(_op=OP_INSERT), changes.assign(_op=ops)], ignore_index=True
    )
    log["_seq"] = np.arange(1, total + 1, dtype=np.int64)
    table_dir = os.path.join(root, "tables")
    write_parquet(image, os.path.join(table_dir, f"{name}.parquet"))
    log_dir = os.path.join(root, f"{name}_log")
    os.makedirs(log_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(total), spec.log_files)):
        write_parquet(log.iloc[part], os.path.join(log_dir, f"part-{i:05d}.parquet"))
    final = log.drop_duplicates(key, keep="last")
    expected = final[final["_op"] != OP_DELETE][cols].reset_index(drop=True)
    ddl += ", _op STRING, _seq BIGINT"
    return SnapshotTable(name, key, cols, table_dir, log_dir, n, total, expected, log, ddl)


def make_snapshot_inputs(root: str, seed: int, spec: SnapshotSpec) -> list:
    rng = np.random.default_rng(seed)
    return [
        _snapshot_table(rng, root, "orders", spec.orders_rows, spec, string_key=False),
        _snapshot_table(rng, root, "customers", spec.customers_rows, spec, string_key=True),
    ]


def chunk_watermarks(n_chunks: int, initial_rows: int, tip: int):
    """(low, high) per chunk: the racing changes are cut into one window
    per chunk, so every chunk has a non-empty backfill window and the
    last high watermark is the log tip."""
    m = tip - initial_rows
    bounds = [initial_rows + (m * i) // n_chunks for i in range(n_chunks + 1)]
    return [(bounds[i], bounds[i + 1]) for i in range(n_chunks)]


# --------------------------------------------------------------------------
# Debezium envelopes (binlog_catchup, steady_freshness)
# --------------------------------------------------------------------------

ENVELOPE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


class OrdersChangeStream:
    """MySQL-shape change stream over an ``orders`` table.

    Holds the live table image as arrays (amount in integer cents), emits
    ``c``/``u``/``d`` envelopes with before/after images, and keeps the
    image current so the oracle is the image itself."""

    def __init__(self, rng, rows, n_customers, regions, spec, move_share=0.0):
        self.rng = rng
        self.spec = spec
        self.move_share = move_share
        self.n_customers = n_customers
        self.regions = regions
        cap = rows * 8 + 1024
        self.customer = np.zeros(cap, dtype=np.int64)
        self.region = np.zeros(cap, dtype=np.int64)
        self.cents = np.zeros(cap, dtype=np.int64)
        self.live = np.zeros(cap, dtype=bool)
        self.customer[:rows] = rng.integers(1, n_customers + 1, rows)
        self.region[:rows] = rng.integers(0, regions, rows)
        self.cents[:rows] = rng.integers(100, 1_000_000, rows)
        self.live[:rows] = True
        self.next_id = rows
        self.seq = 0
        self._draw = zipf_sampler(rng, rows, spec.zipf_s)

    def image(self) -> pd.DataFrame:
        idx = np.flatnonzero(self.live)
        return pd.DataFrame(
            {
                "order_id": idx + 1,
                "customer_id": self.customer[idx],
                "region": _region_names(self.region[idx]),
                "amount": self.cents[idx] / 100.0,
            }
        )

    def _json(self, i: int) -> str:
        return (
            f'{{"order_id":{i + 1},"customer_id":{self.customer[i]},'
            f'"region":"r{self.region[i]:04d}","amount":{self.cents[i] / 100:.2f}}}'
        )

    def snapshot_envelopes(self, created: pd.Timestamp) -> pd.DataFrame:
        """The live image as snapshot-read (``op: "r"``) envelopes, the
        way a Debezium connector emits its initial snapshot."""
        keys, values = [], []
        for i in np.flatnonzero(self.live):
            self.seq += 1
            keys.append(f'{{"order_id":{i + 1}}}')
            values.append(
                f'{{"before":null,"after":{self._json(i)},'
                f'"source":{{"db":"shop","table":"orders"}},"op":"r","ts_ms":{self.seq}}}'
            )
        return pd.DataFrame({"key": keys, "value": values, "timestamp": created})

    def envelopes(self, n: int, created: pd.Timestamp) -> tuple[pd.DataFrame, int]:
        """``n`` changes as Kafka-shaped records; returns (records, changes)."""
        rng, spec = self.rng, self.spec
        r = rng.random(n)
        picks = self._draw(n)
        new_cust = rng.integers(1, self.n_customers + 1, n)
        new_region = rng.integers(0, self.regions, n)
        new_cents = rng.integers(100, 1_000_000, n)
        moves = rng.random(n) < self.move_share
        tombs = rng.random(n) < spec.tombstone_share
        keys, values = [], []
        for j in range(n):
            self.seq += 1
            if r[j] < spec.insert_share:
                i = self.next_id
                self.next_id += 1
            else:
                i = int(picks[j])
            if not self.live[i]:
                op, before = "c", "null"
                self.customer[i] = new_cust[j]
                self.region[i] = new_region[j]
                self.cents[i] = new_cents[j]
                self.live[i] = True
                after = self._json(i)
            elif r[j] < spec.insert_share + spec.delete_share:
                op, before, after = "d", self._json(i), "null"
                self.live[i] = False
            else:
                op, before = "u", self._json(i)
                self.cents[i] = new_cents[j]
                if moves[j]:
                    self.region[i] = new_region[j]
                after = self._json(i)
            keys.append(f'{{"order_id":{i + 1}}}')
            values.append(
                f'{{"before":{before},"after":{after},'
                f'"source":{{"db":"shop","table":"orders"}},'
                f'"op":"{op}","ts_ms":{self.seq}}}'
            )
            if op == "d" and tombs[j]:
                keys.append(f'{{"order_id":{i + 1}}}')
                values.append(None)
        records = pd.DataFrame(
            {"key": keys, "value": values, "timestamp": created}
        )
        return records, n


def _region_names(codes: np.ndarray) -> np.ndarray:
    return np.char.add("r", np.char.zfill(codes.astype(str), 4))


def write_envelope_file(records: pd.DataFrame, directory: str, index: int, mtime: float) -> str:
    """Write one replay file atomically: a dot-named temp file (ignored by
    the file stream source) renamed into place, with an explicit
    modification time so files replay in index order."""
    os.makedirs(directory, exist_ok=True)
    final = os.path.join(directory, f"part-{index:06d}.parquet")
    tmp = os.path.join(directory, f".part-{index:06d}.parquet.tmp")
    records = records.assign(timestamp=records["timestamp"].dt.floor("us"))
    pq.write_table(pa.Table.from_pandas(records, schema=ENVELOPE_SCHEMA, preserve_index=False), tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, final)
    return final


def region_aggregates(image: pd.DataFrame) -> pd.DataFrame:
    """Oracle for ``SELECT region, COUNT(*), SUM(CAST(amount AS
    DECIMAL(18,2))), AVG(CAST(amount AS DECIMAL(18,2))) ... GROUP BY
    region``: exact decimal sums; a maintained AVG is a DOUBLE, the
    decimal sum over the count, both as doubles."""
    cents = np.round(image["amount"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"region": image["region"].to_numpy(), "cents": cents}).groupby("region")["cents"]
    agg = pd.DataFrame({"cnt": g.size(), "total": g.sum()}).reset_index()
    agg["amount_sum"] = [Decimal(int(t)).scaleb(-2) for t in agg["total"]]
    agg["amount_avg"] = [float(s) / float(c) for s, c in zip(agg["amount_sum"], agg["cnt"])]
    return agg[["region", "cnt", "amount_sum", "amount_avg"]]


def customer_aggregates(image: pd.DataFrame) -> pd.DataFrame:
    """Oracle for ``SELECT customer_id, COUNT(*), SUM(CAST(amount AS
    DECIMAL(18,2))), MAX(amount) ... GROUP BY customer_id``."""
    cents = np.round(image["amount"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"customer_id": image["customer_id"].to_numpy(), "cents": cents}
    ).groupby("customer_id")["cents"]
    agg = pd.DataFrame({"cnt": g.size(), "total": g.sum(), "top": g.max()}).reset_index()
    agg["amount_sum"] = [Decimal(int(t)).scaleb(-2) for t in agg["total"]]
    agg["amount_max"] = agg["top"] / 100.0
    return agg[["customer_id", "cnt", "amount_sum", "amount_max"]]
