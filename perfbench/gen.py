"""Seeded input generators for the benchmark.

Two families, both pure numpy/pyarrow (no Spark), so generation cost is
the same on every commit:

- ``write_catalog``: the ten-table catalog the query registry reads
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``), with the value sets and row ratios of the engine's
  fixture catalog at the given scale factor.
- ``write_migrate_dbs``: MySQL-shaped databases for the reference
  lifecycle (parquet tables plus a ``schema_changes.json`` each), with
  the expected read-back of every migrated table computed here, in
  plain Python, from the planted values and the rules' documented
  semantics.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
EPOCH_DAY = dt.date(1970, 1, 1)

# --- query catalog -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.155, 0.155, 0.155, 0.155]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(base: np.datetime64, seconds: np.ndarray) -> pa.Array:
    vals = base.astype("datetime64[us]") + seconds.astype("timedelta64[us]")
    return pa.array(vals, type=pa.timestamp("us"))


def write_catalog(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = n_vecs = 500
    rows: dict[str, int] = {}

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        table = pa.table(cols)
        rows[name] = table.num_rows
        _write(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail),
    })
    day = 86_400
    span = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts_us(
            np.datetime64("1995-01-01"), rng.integers(0, span + 1, n_ord) * day
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    ship_span = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts_us(
            np.datetime64("1995-01-02"), rng.integers(0, ship_span + 1, n_line) * day
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * day * 1_000_000, n_events))
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 0 and i > 0:
            # 5% near-duplicates: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return rows


# --- MySQL-shaped databases --------------------------------------------------

# CSV-hostile values: the sink's quote char, the other quote, the
# delimiter, embedded newlines, the literal NULL and non-ASCII text.
HOSTILE = [
    "O'Brien", "say \"hi\"", "a,b,c", "line1\nline2", "NULL", "null",
    "it''s", "caf\u00e9", "\u4e2d\u6587", "tab\tsep", "back\\slash",
]
ZERO_DATE = "0000-00-00"
ZERO_DATETIME = "0000-00-00 00:00:00"
TIME_VALUES = ["09:30", "23:59:59", "00:00", "7:05", "noon", "12:3"]
INTERVAL_HOURS = 3


def _words(rng: np.random.Generator, n: int) -> list[str]:
    kind = rng.random(n)
    hostile = rng.choice(HOSTILE, n)
    tag = rng.integers(0, 1000, n)
    n_words = rng.integers(1, 6, n)
    words = rng.choice(VOCAB, (n, 5))
    return [
        str(hostile[i]) if kind[i] < 0.1
        else f"{hostile[i]} #{tag[i]}" if kind[i] < 0.3
        else " ".join(words[i, : n_words[i]])
        for i in range(n)
    ]


def _nullify(rng: np.random.Generator, values: list, frac: float) -> list:
    mask = rng.random(len(values)) < frac
    return [None if m else v for v, m in zip(values, mask)]


def _dates(rng: np.random.Generator, n: int) -> list[str]:
    days = np.datetime64("1970-01-01") + rng.integers(0, 20_000, n).astype("timedelta64[D]")
    zero = rng.random(n) < 0.1
    return [ZERO_DATE if z else str(d) for z, d in zip(zero, days)]


def _seconds(rng: np.random.Generator, n: int) -> np.ndarray:
    # whole seconds: the CSV sink renders timestamps at millisecond precision
    return rng.integers(1_500_000_000, 1_700_000_000, n)


def _ts_list(secs: np.ndarray) -> list[dt.datetime]:
    return secs.astype("datetime64[s]").astype(dt.datetime).tolist()


def _as_ts_array(values: list) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


class Expect:
    """Expected read-back of one migrated table: row count plus, per output
    column, (non-null count, checksum) under the checksum kind the
    read-back query uses for that column's type."""

    def __init__(self, name: str, n_rows: int):
        self.name = name
        self.rows = n_rows
        self.cols: dict[str, tuple[str, int, int]] = {}

    def add(self, col: str, kind: str, values: list) -> None:
        present = [v for v in values if v is not None]
        self.cols[col] = (kind, len(present), sum(checksum_value(kind, v) for v in present))

    def as_dict(self) -> dict:
        return {"rows": self.rows, "cols": {c: list(v) for c, v in self.cols.items()}}


def checksum_value(kind: str, v) -> int:
    """Python twin of the per-column checksums in ``run.checksum_exprs``."""
    if kind == "int":
        return int(v)
    if kind == "money":
        return int(round(float(v) * 100))
    if kind == "str":
        return zlib.crc32(str(v).encode("utf-8"))
    if kind == "date":
        return (dt.date.fromisoformat(v) - EPOCH_DAY).days if isinstance(v, str) else (v - EPOCH_DAY).days
    if kind == "ts":
        if isinstance(v, str):
            v = dt.datetime.fromisoformat(v)
        return int((v - EPOCH).total_seconds())
    raise ValueError(kind)


def _bool(v) -> bool:
    # convertStrBoolean: int(v) truthiness; NULL is False
    return v is not None and int(v) != 0


def _date_fallback(v, nullable: bool):
    # defaultDate / notNullableDate: zero-date or NULL -> NULL / 1900-01-01
    bad = v is None or v.startswith("0000")
    return (None if nullable else "1900-01-01") if bad else v


def _datetime_fallback(v, nullable: bool):
    bad = v is None or (isinstance(v, str) and v.startswith("0000"))
    return (None if nullable else "1900-01-01 00:00:00") if bad else v


def _time(v, nullable: bool):
    # makeItTime: keep values that start with HH:MM
    ok = v is not None and re.match(r"^\d\d:\d\d", v) is not None
    return v if ok else (None if nullable else "00:00")


def make_db(rng: np.random.Generator, n_users: int) -> tuple[dict[str, pa.Table], dict, dict]:
    """One database: its source tables, its ``schema_changes.json`` and the
    expected read-back per output table."""
    n_orders, n_items, n_audit = 3 * n_users, 6 * n_users, n_users
    ids = np.arange(1, n_users + 1)

    is_active = _nullify(rng, rng.choice([0, 1, 1, 2, -1], n_users).tolist(), 0.1)
    birth = _nullify(rng, _dates(rng, n_users), 0.1)
    signup = _nullify(rng, _dates(rng, n_users), 0.1)
    opens = _nullify(rng, [str(v) for v in rng.choice(TIME_VALUES, n_users)], 0.1)
    closes = _nullify(rng, [str(v) for v in rng.choice(TIME_VALUES, n_users)], 0.1)
    created = _nullify(rng, _ts_list(_seconds(rng, n_users)), 0.1)
    zero = rng.random(n_users) < 0.1
    last_login = _nullify(
        rng,
        [ZERO_DATETIME if z else str(t) for z, t in zip(zero, _ts_list(_seconds(rng, n_users)))],
        0.1,
    )
    names = _words(rng, n_users)
    nicks = _nullify(rng, _words(rng, n_users), 0.2)
    score = rng.integers(-1_000_000, 1_000_000, n_users).tolist()
    balance = _money(rng, -5_000.0, 90_000.0, n_users).tolist()
    users = pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": pa.array(names),
        "nick": pa.array(nicks, pa.string()),
        "is_active": pa.array(is_active, pa.int32()),
        "birth": pa.array(birth, pa.string()),
        "signup": pa.array(signup, pa.string()),
        "opens_at": pa.array(opens, pa.string()),
        "closes_at": pa.array(closes, pa.string()),
        "avatar": pa.array([bytes(b) for b in rng.integers(0, 256, (n_users, 8), dtype=np.uint8)]),
        "legacy": pa.array(_words(rng, n_users)),
        "created_at": _as_ts_array(created),
        "last_login": pa.array(last_login, pa.string()),
        "score": pa.array(score, pa.int32()),
        "balance": pa.array(balance),
    })

    order_ids = np.arange(1, n_orders + 1)
    # FK 0 means "no parent" (refToNullable); no NULL keys
    user_fk = np.where(
        rng.random(n_orders) < 0.08, 0, rng.integers(1, n_users + 1, n_orders)
    ).tolist()
    placed = _nullify(rng, _ts_list(_seconds(rng, n_orders)), 0.05)
    amount = _money(rng, 0.01, 99_999.99, n_orders).tolist()
    note = _nullify(rng, _words(rng, n_orders), 0.1)
    orders = pa.table({
        "id": pa.array(order_ids, pa.int64()),
        "user_id": pa.array(user_fk, pa.int64()),
        "placed_at": _as_ts_array(placed),
        "amount": pa.array(amount),
        "note": pa.array(note, pa.string()),
    })

    # ~7% orphans, removed by the DELETE ... NOT IN (SELECT ...) idiom
    item_fk = np.where(
        rng.random(n_items) < 0.07,
        n_orders + 1 + rng.integers(0, 1000, n_items),
        rng.integers(1, n_orders + 1, n_items),
    ).tolist()
    qty = rng.integers(1, 100, n_items).tolist()
    price = _money(rng, 0.5, 999.0, n_items).tolist()
    items = pa.table({
        "id": pa.array(np.arange(1, n_items + 1), pa.int64()),
        "order_id": pa.array(item_fk, pa.int64()),
        "qty": pa.array(qty, pa.int32()),
        "price": pa.array(price),
        "blob": pa.array([b"\x00\x01" for _ in range(n_items)]),
    })
    audit = pa.table({
        "id": pa.array(np.arange(1, n_audit + 1), pa.int64()),
        "what": pa.array(_words(rng, n_audit)),
    })

    changes = {
        "tables": {
            "users": {
                "columns": {
                    "nick": {"name": "nickname"},
                    "is_active": {"type": "tinyint", "fullType": "tinyint(1)"},
                    "birth": {"type": "date", "fullType": "date"},
                    "signup": {"type": "date", "fullType": "date", "nullable": False},
                    "opens_at": {"type": "time"},
                    "closes_at": {"type": "time", "nullable": False},
                    "legacy": "_SKIP_",
                    "last_login": {"type": "datetime", "fullType": "datetime", "nullable": False},
                    "score": {"type": "bigint"},
                }
            },
            "orders": {
                "name": "purchase_orders",
                "_PRE_SQL_": [
                    f"UPDATE orders SET placed_at = placed_at - INTERVAL {INTERVAL_HOURS} HOUR"
                ],
                "columns": {
                    "user_id": {"reference": "users (id)"},
                    "placed_at": {"nullable": False},
                },
            },
            "order_items": {
                "_PRE_SQL_": [
                    "DELETE FROM order_items WHERE order_id NOT IN (SELECT id FROM orders)"
                ],
                "columns": {"blob": {"nullable": False}},
            },
            "audit_log": "_SKIP_",
        }
    }

    e_users = Expect("users", n_users)
    e_users.add("id", "int", list(ids))
    e_users.add("name", "str", names)
    e_users.add("nickname", "str", nicks)
    e_users.add("is_active", "int", [int(_bool(v)) for v in is_active])
    e_users.add("birth", "date", [_date_fallback(v, True) for v in birth])
    e_users.add("signup", "date", [_date_fallback(v, False) for v in signup])
    e_users.add("opens_at", "str", [_time(v, True) for v in opens])
    e_users.add("closes_at", "str", [_time(v, False) for v in closes])
    e_users.add("avatar", "str", [None] * n_users)  # makeItEmpty, nullable
    e_users.add("created_at", "ts", [_datetime_fallback(v, True) for v in created])
    e_users.add("last_login", "ts", [_datetime_fallback(v, False) for v in last_login])
    e_users.add("score", "int", score)
    e_users.add("balance", "money", balance)

    shift = dt.timedelta(hours=INTERVAL_HOURS)
    e_orders = Expect("purchase_orders", n_orders)
    e_orders.add("id", "int", list(order_ids))
    e_orders.add("user_id", "int", [v or None for v in user_fk])  # refToNullable
    e_orders.add(
        "placed_at", "ts", [_datetime_fallback(None if v is None else v - shift, False) for v in placed]
    )
    e_orders.add("amount", "money", amount)
    e_orders.add("note", "str", note)

    keep = [i for i, fk in enumerate(item_fk) if fk <= n_orders]
    e_items = Expect("order_items", len(keep))
    e_items.add("id", "int", [i + 1 for i in keep])
    e_items.add("order_id", "int", [item_fk[i] for i in keep])
    e_items.add("qty", "int", [qty[i] for i in keep])
    e_items.add("price", "money", [price[i] for i in keep])
    # makeItEmpty on a NOT NULL column writes '' — which the CSV reader
    # folds to NULL (sources/csv_source.py documents the caveat)
    e_items.add("blob", "str", [None] * len(keep))

    tables = {"users": users, "orders": orders, "order_items": items, "audit_log": audit}
    expect = {e.name: e.as_dict() for e in (e_users, e_orders, e_items)}
    return tables, changes, expect


def write_migrate_dbs(out_dir: str, seed: int, sizes: list[int]) -> list[dict]:
    """Write one directory per database; returns, in op order, each
    database's name, path, migrated source row count and expected read-back."""
    rng = np.random.default_rng([seed, 2])
    dbs = []
    for i, n_users in enumerate(sizes):
        name = f"db{i:02d}"
        path = os.path.join(out_dir, name)
        os.makedirs(path, exist_ok=True)
        tables, changes, expect = make_db(rng, n_users)
        for tname, table in tables.items():
            _write(table, os.path.join(path, f"{tname}.parquet"))
        with open(os.path.join(path, "schema_changes.json"), "w") as f:
            json.dump(changes, f, indent=1)
        migrated = sum(t.num_rows for k, t in tables.items() if changes["tables"].get(k) != "_SKIP_")
        dbs.append({"name": name, "path": path, "source_rows": migrated, "expect": expect})
    return dbs
