"""Seeded input generators for the three benchmark workloads.

Everything the engine receives is a pure function of ``(seed, sizes)``:
the TPC-H-shaped star schema plus the ``events`` table (sql_read), the
Debezium envelope backlog with its own last-writer-wins model
(cdc_ingest), and the portal operation sequence on the table that backlog
builds (cdc_ingest). Generation uses NumPy and pyarrow only; no Spark.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "search"]
EVENT_WEIGHTS = [0.40, 0.30, 0.12, 0.10, 0.08]
CITIES = ["Pune", "Mumbai", "Austin", "Berlin", "Osaka", "Lagos", "Lima", "Oslo"]

_EPOCH = np.datetime64("1992-01-01T00:00:00", "us")
_ORDER_SPAN_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order window
_DAY_US = 86_400_000_000
# the events stream covers one week starting here
_EVENTS_START = np.datetime64("2024-01-08T00:00:00", "us")


def _strings(fmt: str, values) -> pa.Array:
    return pa.array([fmt % v for v in values.tolist()], pa.string())


# Money values are multiples of 1/4 and rates multiples of 1/64, so every
# product and sum the registered queries take is exact in binary floating
# point. Spark and DuckDB add rows in different orders; with decimal cents
# a sum can land within an ulp of a rounding boundary and round to
# different cents in the two engines, which would fail the oracle check
# for reasons that are not the engine's.


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts in quarters."""
    return rng.integers(int(lo * 4), int(hi * 4) + 1, n) / 4.0


def _rate(rng: np.random.Generator, hi_64ths: int, n: int) -> np.ndarray:
    """Uniform rates in 64ths, from 0 to ``hi_64ths``/64."""
    return rng.integers(0, hi_64ths + 1, n) / 64.0


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables and ``events`` at scale factor ``sf``
    (sf=0.1: 150k orders, ~600k lineitems, 100k events), with the column
    names and parquet types the registered queries read."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(50, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _strings("NATION_%02d", np.arange(25)),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _strings("Customer#%09d", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _strings("Supplier#%09d", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _strings("part %d", pk),
        "p_brand": _strings("Brand#%d", rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)),
        "p_type": pa.array(np.array(["PROMO BRUSHED", "STANDARD POLISHED", "ECONOMY PLATED",
                                     "LARGE ANODIZED", "SMALL BURNISHED"])[rng.integers(0, 5, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    })

    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    o_day = rng.integers(0, _ORDER_SPAN_DAYS, n_ord)
    o_date = _EPOCH + o_day.astype("timedelta64[D]")
    n_lines = rng.integers(1, 8, n_ord)
    n_li = int(n_lines.sum())
    li_order = np.repeat(ok, n_lines)
    li_day = np.repeat(o_day, n_lines) + rng.integers(1, 122, n_li)
    li_ship = _EPOCH + li_day.astype("timedelta64[D]")
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = qty * _money(rng, 9.0, 105.0, n_li)
    disc = _rate(rng, 6, n_li)  # 0 .. 0.094
    tax = _rate(rng, 5, n_li)  # 0 .. 0.078
    shipped = li_ship <= np.datetime64("1995-06-17", "us")
    flag = np.where(shipped, np.array(["R", "A"])[rng.integers(0, 2, n_li)], "N")
    status = np.where(li_ship > np.datetime64("1995-06-17", "us"), "O", "F")
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 850.0, 550_000.0, n_ord),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(status),
        "l_shipdate": pa.array(li_ship, pa.timestamp("us")),
    })

    # distinct, sorted microsecond offsets: no two events share a timestamp,
    # so as-of and last-writer-wins orderings have no ties
    ts_off = np.sort(rng.choice(7 * _DAY_US, n_ev, replace=False))
    # Zipf-like user activity: a few heavy users, a long tail
    users = (rng.zipf(1.3, n_ev) - 1) % n_users + 1
    kinds = rng.choice(len(EVENT_TYPES), n_ev, p=EVENT_WEIGHTS)
    tables["events"] = pa.table({
        "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
        "ts": pa.array(_EVENTS_START + ts_off.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": users.astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[kinds]),
        "value": _money(rng, 0.0, 500.0, n_ev),
        "props": _strings('{"k": %d}', rng.integers(0, 100, n_ev)),
    })
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One parquet file per table (``<out_dir>/<name>.parquet``), the layout
    ``operators.common.t`` reads. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------- cdc_ingest

CDC_ROW_DDL = "id bigint, name string, email string, city string, balance double, updated_at bigint"
CDC_COLUMNS = ["id", "name", "email", "city", "balance", "updated_at"]


@dataclass
class CdcBacklog:
    """Seed rows of the target table, the envelope files of the backlog,
    and the expected final table (generator-side last-writer-wins)."""

    seed_rows: pa.Table
    files: list[str]
    envelope_bytes: int
    expected: dict[int, tuple] = field(repr=False)


def _cdc_row(k: int, v: int, city: str, bal: float, ts: int) -> str:
    return (f'{{"id":{k},"name":"cust_{k}_{v}","email":"c{k}.{v}@example.com",'
            f'"city":"{city}","balance":{bal!r},"updated_at":{ts}}}')


def cdc_backlog(seed: int, n_keys: int, n_files: int, rows_per_file: int, out_dir: str) -> CdcBacklog:
    """Debezium envelopes for a ``customers``-shaped table.

    - ``n_keys`` existing keys seed the table;
    - about 30% creates (fresh keys), 60% updates and 10% deletes;
    - update/delete keys are Zipf-skewed over the key space, so one batch
      carries update chains that last-writer-wins must collapse;
    - wrapped (``{"payload": ...}``) and flat encodings alternate at random;
    - ``updated_at`` is a global sequence number, unique per event, so the
      winner of every chain is unambiguous.

    One JSON-lines file per micro-batch, with modification times in file
    order so the file source admits them in that order."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    seed_ids = np.arange(1, n_keys + 1, dtype=np.int64)
    seed_city = np.array(CITIES)[rng.integers(0, len(CITIES), n_keys)]
    seed_bal = _money(rng, 0.0, 10_000.0, n_keys)
    seed_rows = pa.table({
        "id": seed_ids,
        "name": _strings("cust_%d_0", seed_ids),
        "email": pa.array([f"c{k}.0@example.com" for k in seed_ids.tolist()]),
        "city": pa.array(seed_city),
        "balance": seed_bal,
        "updated_at": np.zeros(n_keys, dtype=np.int64),
    })
    expected: dict[int, tuple] = {
        k: (k, f"cust_{k}_0", f"c{k}.0@example.com", c, b, 0)
        for k, c, b in zip(seed_ids.tolist(), seed_city.tolist(), seed_bal.tolist())
    }
    next_key = n_keys + 1
    seq = 0
    files, total = [], 0
    base_mtime = 1_700_000_000
    for f in range(n_files):
        n = rows_per_file
        op_draw = rng.random(n)
        # 70% uniform over the key space, 30% Zipf-skewed onto low keys
        zipf = np.where(rng.random(n) < 0.3, rng.zipf(1.1, n) - 1, rng.integers(0, 1 << 40, n))
        wrapped = rng.random(n) < 0.5
        cities = np.array(CITIES)[rng.integers(0, len(CITIES), n)].tolist()
        bals = _money(rng, 0.0, 10_000.0, n).tolist()
        lines = []
        for i in range(n):
            seq += 1
            if op_draw[i] < 0.3:
                op, k = "c", next_key
                next_key += 1
            else:
                op = "u" if op_draw[i] < 0.9 else "d"
                k = int(zipf[i]) % (next_key - 1) + 1
            if op == "d":
                row = _cdc_row(k, seq, cities[i], bals[i], seq)
                body = f'"before":{row},"after":null,"op":"d"'
                expected.pop(k, None)
            else:
                row = _cdc_row(k, seq, cities[i], bals[i], seq)
                body = f'"before":null,"after":{row},"op":"{op}"'
                expected[k] = (k, f"cust_{k}_{seq}", f"c{k}.{seq}@example.com", cities[i], bals[i], seq)
            lines.append(f'{{"payload":{{{body}}}}}' if wrapped[i] else f"{{{body}}}")
        path = os.path.join(out_dir, f"batch-{f:05d}.json")
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, (base_mtime + f, base_mtime + f))
        files.append(path)
        total += len(data)
    return CdcBacklog(seed_rows, files, total, expected)


# ------------------------------------------------------------ portal ops

PORTAL_OP_KINDS = ["read", "upsert", "insert", "update", "delete"]


@dataclass
class PortalOp:
    kind: str
    key: int
    row: tuple | None = None  # full row: upsert/insert; expected row: read
    assignments: dict | None = None  # update, as the portal's string form values


class PortalOpStream:
    """Portal traffic over the CDC table (``CDC_COLUMNS``), generated
    against an in-memory model of the table that also checks every read.

    Ops come in blocks of given kinds in a seeded order. Keys are biased:
    40% from a hot set (1% of the keys), 20% from the last 16 inserted
    keys, the rest uniform over live keys."""

    def __init__(self, seed: int, model: dict[int, tuple]):
        self.rng = np.random.default_rng([seed, 3])
        self.model = dict(model)
        self.live = sorted(self.model)
        self.pos = {k: i for i, k in enumerate(self.live)}
        n_hot = max(1, len(self.live) // 100)
        self.hot = [int(k) for k in self.rng.choice(self.live, n_hot, replace=False)]
        self.recent: list[int] = []
        self.next_key = max(self.live) + 1
        self.seq = 1 << 40  # updated_at of portal writes sorts after every CDC event

    def _remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i
        del self.model[k]

    def _add(self, row: tuple) -> None:
        k = row[0]
        if k not in self.model:
            self.pos[k] = len(self.live)
            self.live.append(k)
        self.model[k] = row

    def _pick(self) -> int:
        r = self.rng.random()
        if r < 0.4:
            return self.hot[int(self.rng.integers(len(self.hot)))]
        if r < 0.6 and self.recent:
            return self.recent[int(self.rng.integers(len(self.recent)))]
        return self.live[int(self.rng.integers(len(self.live)))]

    def _live_pick(self) -> int:
        for _ in range(16):
            k = self._pick()
            if k in self.model:
                return k
        return self.live[int(self.rng.integers(len(self.live)))]

    def _new_row(self, k: int) -> tuple:
        self.seq += 1
        city = CITIES[int(self.rng.integers(len(CITIES)))]
        bal = int(self.rng.integers(0, 1_000_001)) / 100.0
        return (k, f"cust_{k}_p{self.seq}", f"c{k}.p{self.seq}@example.com", city, bal, self.seq)

    def block(self, kinds: list[str]) -> list[PortalOp]:
        """The next block of operations in a seeded order. The model
        advances as each op is generated, so each read carries the row it
        must return at its place in the sequence."""
        kinds = list(kinds)
        self.rng.shuffle(kinds)
        return [self._next(kind) for kind in kinds]

    def _next(self, kind: str) -> PortalOp:
        if kind == "read":
            k = self._pick()  # may be a deleted key: the read must be empty
            return PortalOp(kind, k, row=self.model.get(k))
        if kind == "insert":
            k = self.next_key
            self.next_key += 1
            row = self._new_row(k)
            self._add(row)
            self.recent = (self.recent + [k])[-16:]
            return PortalOp(kind, k, row=row)
        k = self._live_pick()
        if kind == "upsert":
            row = self._new_row(k)
            self._add(row)
            return PortalOp(kind, k, row=row)
        if kind == "update":
            new = self._new_row(k)
            old = self.model[k]
            row = (k, old[1], old[2], new[3], new[4], new[5])
            self.model[k] = row
            return PortalOp(kind, k, assignments={
                "city": row[3], "balance": repr(row[4]), "updated_at": str(row[5])})
        self._remove(k)
        return PortalOp("delete", k)
