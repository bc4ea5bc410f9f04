"""Seeded benchmark inputs, made with numpy and pyarrow only.

Nothing here imports the engine: the program under test receives only the
parquet files written below. The same seed gives byte-identical files.

Two input sets:

- ``write_lake`` — the reference-shaped weekly-DAG input: a ``date``-
  partitioned events table with the nested ``event`` struct and
  ``lat``/``lon``, plus a city dimension with ``tz_name``.
- ``write_tables`` — the flat driver tables (``region`` ... ``embeddings``)
  in the ``core.io.SCHEMAS`` layout, one ``<name>.parquet`` file each, as
  the registry queries read them.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_START = dt.datetime(2024, 1, 1)
TZ_NAMES = (
    "Europe/Moscow",
    "Asia/Novosibirsk",
    "Europe/Berlin",
    "America/New_York",
    "Asia/Tokyo",
    "UTC",
)

# Weekly-DAG input size (events, cities, days, channels).
LAKE_SIZE = dict(users=1500, events=12000, cities=60, days=60, channels=40)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _unique_seconds(rng: np.random.Generator, n: int, span_s: int) -> np.ndarray:
    """n distinct whole-second offsets in [0, span_s), so no two events share
    a timestamp and every latest/first-event choice is unambiguous."""
    return np.sort(rng.choice(span_s, size=n, replace=False))


def write_lake(root: str, seed: int) -> dict:
    """Reference-shaped events + city dimension under ``root``.

    Make-up (FIXTURES.md A1/A2 requirements):
    - every user moves between a few cities in stays of 2-40 days, so some
      stays last longer than 27 days (home city) and others do not;
    - about 2 % of rows carry a null ``event.datetime``;
    - messages, reactions and subscriptions all occur;
    - a third of the message positions snap to a few hot spots per city
      with ~300 m jitter, so co-subscribers of one channel in one city are
      found both within and beyond 1 km of each other;
    - two cities share one coordinate, so the nearest-city tie-break by id
      is exercised.

    Returns the paths and the tables the checks need.
    """
    rng = np.random.default_rng(seed)
    n_users, n_events = LAKE_SIZE["users"], LAKE_SIZE["events"]
    n_cities, n_days, n_channels = (
        LAKE_SIZE["cities"], LAKE_SIZE["days"], LAKE_SIZE["channels"]
    )

    city_id = np.arange(1, n_cities + 1, dtype=np.int32)
    lat_c = rng.uniform(-60.0, 70.0, n_cities)
    lon_c = rng.uniform(-170.0, 170.0, n_cities)
    lat_c[-1], lon_c[-1] = lat_c[0], lon_c[0]  # exact tie: ids 1 and n_cities
    geo = pa.table(
        {
            "id": pa.array(city_id, pa.int32()),
            "city": pa.array([f"City_{i:03d}" for i in city_id]),
            "lat_c": lat_c,
            "lon_c": lon_c,
            "tz_name": pa.array([TZ_NAMES[i % len(TZ_NAMES)] for i in range(n_cities)]),
        }
    )
    geo_path = os.path.join(root, "geo.parquet")
    _write(geo, geo_path)

    span_s = n_days * 86400
    secs = _unique_seconds(rng, n_events, span_s)
    users = rng.integers(0, n_users, n_events)
    # Per-user itinerary: stay boundaries every 2-40 days, each stay in a
    # random city; an event's home city is the stay it falls in.
    stay_len = rng.integers(2, 41, (n_users, n_days // 2 + 1)) * 86400
    stay_end = np.cumsum(stay_len, axis=1)
    stay_city = rng.integers(0, n_cities - 1, stay_len.shape)  # never the tie twin
    stay_idx = (stay_end[users] <= secs[:, None]).sum(axis=1)
    base = stay_city[users, stay_idx]

    kind = rng.choice(3, n_events, p=[0.7, 0.15, 0.15])  # message/reaction/subscription
    hot = rng.random(n_events) < 0.33
    spot = rng.integers(0, 3, n_events)
    spot_dlat = (base * 7 + spot) % 5 * 0.02 - 0.04
    spot_dlon = (base * 3 + spot) % 5 * 0.02 - 0.04
    lat = np.where(
        hot, lat_c[base] + spot_dlat + rng.normal(0, 0.002, n_events),
        lat_c[base] + rng.uniform(-0.3, 0.3, n_events),
    )
    lon = np.where(
        hot, lon_c[base] + spot_dlon + rng.normal(0, 0.002, n_events),
        lon_c[base] + rng.uniform(-0.3, 0.3, n_events),
    )

    stamps = [LAKE_START + dt.timedelta(seconds=int(s)) for s in secs]
    dt_str = np.array([t.strftime("%Y-%m-%d %H:%M:%S") for t in stamps], dtype=object)
    date_str = np.array([t.strftime("%Y-%m-%d") for t in stamps], dtype=object)
    null_dt = rng.random(n_events) < 0.02
    dt_col = np.where(null_dt, None, dt_str)

    is_sub = kind == 2
    event = pa.StructArray.from_arrays(
        [
            pa.array(users, pa.int64()),
            pa.array(np.where(kind == 0, rng.integers(0, n_users, n_events), 0), pa.int64(),
                     mask=kind != 0),
            pa.array(np.arange(n_events), pa.int64()),
            pa.array(dt_col, pa.string()),
            pa.array(np.where(is_sub, users.astype(str), None), pa.string()),
            pa.array(rng.integers(1, n_channels + 1, n_events), pa.int64(), mask=~is_sub),
        ],
        names=["message_from", "message_to", "message_id", "datetime", "user",
               "subscription_channel"],
    )
    etype = np.array(["message", "reaction", "subscription"], dtype=object)[kind]
    events = pa.table(
        {"event": event, "event_type": pa.array(etype, pa.string()), "lat": lat, "lon": lon}
    )
    events_root = os.path.join(root, "events")
    for day in np.unique(date_str):
        _write(
            events.filter(pa.array(date_str == day)),
            os.path.join(events_root, f"date={day}", "part-0.parquet"),
        )
    return {
        "events_root": events_root,
        "geo_path": geo_path,
        "events": events,
        "geo": geo,
    }


# --- flat driver tables ------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = (["en"] * 3 + ["zh", "de", "fr", "es"])
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
PART_TYPES = ["ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]

# Flat-table row counts; shaped like the sf0.1 test data (customer:orders:
# lineitem = 1:10:40, 30 days of events) at a fraction of its sf0.1 size.
TABLE_SIZE = dict(
    customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
    events=20000, users=300, documents=800, embeddings=800,
)


def _days(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    d0 = np.datetime64(lo, "D")
    days = rng.integers(0, (hi - lo).days, n)
    return pa.array((d0 + days).astype("datetime64[us]"), pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def write_tables(sf_dir: str, seed: int) -> None:
    """The ten flat tables under ``sf_dir`` in the core.io.SCHEMAS types."""
    rng = np.random.default_rng(seed)
    s = TABLE_SIZE
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = s["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
        }
    )
    ns = s["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
        }
    )
    npart = s["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = s["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 2)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
        }
    )
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, nl)),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 5)),
        }
    )
    ne = s["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
            "value": np.maximum(0.01, _money(rng.exponential(50.0, ne))),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, s["documents"])
    t["embeddings"] = _embeddings(rng, s["embeddings"])
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in t.items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> pa.Table:
    """Random bag-of-words texts; ~6 % are near-duplicates of an earlier
    document (a trailing " dup" token), so the dedup operators find pairs."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ten label centroids (float32)."""
    centroids = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    v = centroids[label] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
