"""Seeded generator for a Cassandra-shaped table, with the expected merge
results built in.

The table has a composite partition key (``tenant``, ``bucket``), one
clustering key (``seq``), eight value columns (text, numbers, a boolean
and a ``map<string,int>``) and the engine's system columns: a per-row
``writetime`` (micros), an optional ``ttl`` (seconds) and a
``tombstone`` marker (``row`` or ``cell:<col>``). Partition deletes are a
separate key list written with one writetime.

Every writetime in a table is unique, so last-write-wins never needs a
tiebreak, and ``NOW`` is never exactly on a TTL expiry boundary. The
generator computes, by construction, the live rows that a row-level and a
cell-level last-write-wins merge must return, and an order-independent
hash of them. The engine only ever sees the generated batches.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import pyarrow as pa

PARTITION_KEYS = ["tenant", "bucket"]
CLUSTERING_KEYS = ["seq"]
KEYS = PARTITION_KEYS + CLUSTERING_KEYS
VALUE_COLUMNS = ["name", "city", "score", "qty", "active", "price", "note", "attrs"]

BASE_MICROS = 1_700_000_000_000_000
# the TTL clock: every writetime is BASE + 10*k + 3, NOW is a whole
# number of 10 us steps after BASE, so writetime + ttl*1e6 != NOW always
NOW_MICROS = BASE_MICROS + 3_600_000_000

SCHEMA = pa.schema(
    [
        ("tenant", pa.string()),
        ("bucket", pa.int32()),
        ("seq", pa.int32()),
        ("name", pa.string()),
        ("city", pa.string()),
        ("score", pa.float64()),
        ("qty", pa.int32()),
        ("active", pa.bool_()),
        ("price", pa.float64()),
        ("note", pa.string()),
        ("attrs", pa.map_(pa.string(), pa.int32())),
        ("writetime", pa.int64()),
        ("ttl", pa.int32()),
        ("tombstone", pa.string()),
    ]
)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango"
).split()
_CITIES = ["Austin", "Berlin", "Cairo", "Delhi", "Lagos", "Lima", "Oslo", "Quito"]


@dataclass(frozen=True)
class TableShape:
    tenants: int = 8
    buckets: int = 40
    seqs: int = 40
    batches: int = 4
    rows_per_batch: int = 5000
    partial: bool = False  # upserts write a random subset of value columns
    row_tombstones: float = 0.0  # share of versions that are row deletes
    cell_tombstones: float = 0.0  # share of versions that are cell deletes
    partition_deletes: float = 0.05  # share of partitions deleted once


@dataclass
class Expected:
    rows: int
    digest: int


@dataclass
class GeneratedTable:
    batches: list[pa.Table]
    deleted_partitions: pa.Table
    delete_writetime: int
    row_lww: Expected
    cell_lww: Expected
    live_by_partition_row: dict = field(repr=False, default_factory=dict)
    knobs: dict = field(default_factory=dict)

    @property
    def versions(self) -> int:
        return sum(b.num_rows for b in self.batches)


def canonical(value):
    """A hashable, engine-independent form of one cell value."""
    if isinstance(value, dict):
        return tuple(sorted(value.items()))
    if isinstance(value, list):  # pyarrow map as list of pairs
        return tuple(sorted(tuple(kv) for kv in value))
    if isinstance(value, float):
        return repr(value)
    return value


def row_hash(row: tuple) -> int:
    digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def digest_rows(rows) -> Expected:
    """Order-independent digest: the row count and the sum of per-row
    hashes modulo 2**64, over rows given as canonical tuples."""
    total = n = 0
    for r in rows:
        total = (total + row_hash(r)) % (1 << 64)
        n += 1
    return Expected(n, total)


def spark_row_tuple(row, columns=KEYS + VALUE_COLUMNS) -> tuple:
    """Canonical tuple for a collected Spark Row."""
    return tuple(canonical(row[c]) for c in columns)


def _value(rng: random.Random, col: str):
    if col == "name":
        return f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"
    if col == "city":
        return rng.choice(_CITIES)
    if col == "score":
        return rng.randrange(100_000) / 1000
    if col == "qty":
        return rng.randrange(1000)
    if col == "active":
        return rng.random() < 0.5
    if col == "price":
        return rng.randrange(100_000) / 100
    if col == "note":
        return " ".join(rng.choices(_WORDS, k=rng.randrange(4, 12)))
    if col == "attrs":
        keys = sorted(set(rng.choices(_WORDS[:8], k=rng.randrange(1, 4))))
        return [(k, rng.randrange(100)) for k in keys]
    raise KeyError(col)


def generate(seed: int, shape: TableShape) -> GeneratedTable:
    rng = random.Random(seed)
    overlap = rng.uniform(0.3, 0.6)
    late_share = rng.uniform(0.1, 0.25)
    ttl_share = rng.uniform(0.05, 0.15)
    knobs = {"overlap": round(overlap, 3), "late_share": round(late_share, 3),
             "ttl_share": round(ttl_share, 3)}

    n_keys = shape.tenants * shape.buckets * shape.seqs
    n_rows = shape.rows_per_batch
    written: list[int] = []
    written_set: set[int] = set()
    used_wt: set[int] = set()
    versions = []  # (key, wt, ttl, tombstone, values)
    batches: list[pa.Table] = []
    for b in range(shape.batches):
        cols = {c: [] for c in SCHEMA.names}
        used_in_batch: set[int] = set()
        for i in range(n_rows):
            if written and rng.random() < overlap:
                key_id = written[rng.randrange(len(written))]
            else:
                key_id = rng.randrange(n_keys)
            while key_id in used_in_batch:
                key_id = rng.randrange(n_keys)
            used_in_batch.add(key_id)
            if key_id not in written_set:
                written_set.add(key_id)
                written.append(key_id)
            # batch b owns clock slice [b*n, (b+1)*n); a late arrival
            # carries a writetime from an earlier slice
            step = b * n_rows + i
            if b > 0 and rng.random() < late_share:
                step = rng.randrange(b * n_rows)
            step = step * 4 + rng.randrange(4)
            while step in used_wt:
                step += 1
            used_wt.add(step)
            wt = BASE_MICROS + 10 * step + 3
            tenant, rest = divmod(key_id, shape.buckets * shape.seqs)
            bucket, seq = divmod(rest, shape.seqs)
            key = (f"t{tenant:02d}", bucket, seq)
            draw = rng.random()
            tomb = None
            if draw < shape.row_tombstones:
                tomb = "row"
            elif draw < shape.row_tombstones + shape.cell_tombstones:
                tomb = "cell:" + rng.choice(VALUE_COLUMNS)
            ttl = None
            if tomb is None and rng.random() < ttl_share:
                age_s = (NOW_MICROS - wt) // 1_000_000
                # half expire before NOW, half outlive it
                if rng.random() < 0.5:
                    ttl = max(1, age_s - rng.randrange(1, 600))
                else:
                    ttl = age_s + rng.randrange(1, 600)
            values = {}
            for c in VALUE_COLUMNS:
                if tomb is not None or (shape.partial and rng.random() < 0.4):
                    values[c] = None
                else:
                    values[c] = _value(rng, c)
            if tomb is None and all(v is None for v in values.values()):
                values["qty"] = _value(rng, "qty")
            for c, v in zip(KEYS, key):
                cols[c].append(v)
            for c in VALUE_COLUMNS:
                cols[c].append(values[c])
            cols["writetime"].append(wt)
            cols["ttl"].append(ttl)
            cols["tombstone"].append(tomb)
            versions.append((key, wt, ttl, tomb, values))
        batches.append(pa.table(cols, schema=SCHEMA))

    # the partition delete lands mid-clock, so a deleted partition keeps
    # its versions written after it and loses the older ones
    partitions = sorted({v[0][:2] for v in versions})
    n_del = max(1, int(len(partitions) * shape.partition_deletes))
    deleted = sorted(rng.sample(partitions, n_del))
    delete_step = 4 * rng.randrange(n_rows * shape.batches // 3,
                                    2 * n_rows * shape.batches // 3)
    while delete_step in used_wt:
        delete_step += 1
    delete_wt = BASE_MICROS + 10 * delete_step + 3
    deleted_tbl = pa.table(
        {"tenant": [p[0] for p in deleted], "bucket": [p[1] for p in deleted]},
        schema=pa.schema([("tenant", pa.string()), ("bucket", pa.int32())]),
    )

    row_live, cell_live = expected_merge(versions, {p: delete_wt for p in deleted})
    return GeneratedTable(
        batches=batches,
        deleted_partitions=deleted_tbl,
        delete_writetime=delete_wt,
        row_lww=digest_rows(row_live.values()),
        cell_lww=digest_rows(cell_live.values()),
        live_by_partition_row=_by_partition(row_live),
        knobs=knobs,
    )


def _by_partition(live: dict) -> dict:
    out: dict = {}
    for key, row in live.items():
        out.setdefault(key[:2], []).append(row)
    return out


def expected_merge(versions, partition_deletes: dict) -> tuple[dict, dict]:
    """Reference last-write-wins merge over (key, wt, ttl, tombstone,
    values) versions; returns {key: canonical row} for row-level and for
    cell-level reconciliation, as of ``NOW_MICROS``."""
    by_key: dict = {}
    for v in versions:
        by_key.setdefault(v[0], []).append(v)
    row_live: dict = {}
    cell_live: dict = {}
    for key, vs in by_key.items():
        kinds = []
        for _, wt, ttl, tomb, values in vs:
            expired = ttl is not None and wt + ttl * 1_000_000 <= NOW_MICROS
            kind = tomb if tomb is not None else ("row" if expired else None)
            kinds.append((kind, wt, values))
        deletion = partition_deletes.get(key[:2])
        row_dels = [wt for kind, wt, _ in kinds if kind == "row"]
        if row_dels:
            deletion = max(row_dels) if deletion is None else max(deletion, max(row_dels))
        cells = [(kind[5:], wt) for kind, wt, _ in kinds if kind and kind.startswith("cell:")]
        data = [(wt, values) for kind, wt, values in kinds
                if kind is None and (deletion is None or wt > deletion)]
        if not data:
            continue
        win_wt, win_vals = max(data, key=lambda d: d[0])
        row_live[key] = key + tuple(
            None if any(c == col and t >= win_wt for c, t in cells)
            else canonical(win_vals[col])
            for col in VALUE_COLUMNS
        )
        merged = []
        for col in VALUE_COLUMNS:
            best = None
            for wt, values in data:
                if values[col] is None:
                    continue
                if any(c == col and t >= wt for c, t in cells):
                    continue
                if best is None or wt > best[0]:
                    best = (wt, values[col])
            merged.append(None if best is None else canonical(best[1]))
        cell_live[key] = key + tuple(merged)
    return row_live, cell_live
