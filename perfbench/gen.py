"""Seeded input generators for the benchmark.

Two kinds of input, both written under a directory the caller owns and
both a pure function of ``seed`` (the same seed gives byte-identical
files):

* ``write_tables`` - the ten parquet tables the query registry reads
  (TPC-H-ish star plus ``events``, ``documents`` and ``embeddings``), with
  the schemas, key ranges and value domains of the engine's test tables
  at scale factor 0.01 (TESTDATA.md). Documents carry planted near and
  exact duplicates so the dedup operators have work to find.
* ``write_sparkify`` - a Sparkify landing zone (FIXTURES.md sections 1-2):
  NDJSON app-log events in daily files and a song catalog with one JSON
  object per file in nested directories. It returns the star-schema row
  counts the ETL must produce, computed here in plain Python.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Scale of the query tables, named like the engine's test tables.
SCALE = "sf0.01"
#: Row counts of the query tables (the engine's sf0.01 test tables).
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "steel"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * _US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> list[str]:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype("float32")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten query tables as Arrow tables, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), pa.float64()),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, c), pa.string()),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), pa.float64()),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, p), _pick(rng, PART_NOUN, p))],
            pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(p) % 1000) / 10.0, 2), pa.float64()),
    })
    o = n["orders"]
    day0 = _epoch_us(1995, 1, 1)
    order_days = rng.integers(0, 2404, o)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], o), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), pa.float64()),
        "o_orderdate": _ts(day0 + order_days * _DAY_US),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, o), pa.string()),
    })
    li = n["lineitem"]
    l_order = rng.integers(0, o, li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype("float64"), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], li), pa.string()),
        "l_shipdate": _ts(
            day0 + (order_days[l_order] + rng.integers(1, 122, li)) * _DAY_US),
    })
    e = n["events"]
    ev_ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, e))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, e), pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.02, e), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(out_dir: str, seed: int) -> str:
    """Write the query tables as ``<out_dir>/<name>.parquet``; returns
    ``out_dir`` (the registry's ``sf_dir``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- Sparkify landing zone ----------------------------------------------

FIRST = ["Ann", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
LAST = ["Ray", "Li", "Wu", "Kim", "Diaz", "Moss", "Park", "Shah"]
CITIES = ["Portland, OR", "Austin, TX", "New York, NY", "Tampa, FL", "Reno, NV"]
PAGES = ["Home", "Settings", "Logout", "About", "Help"]
WEEKS = 26  # 2018-11-01 .. 2019-05-02: December, a Mar/Apr fiscal boundary


def _songs(rng: np.random.Generator, n_songs: int) -> list[dict]:
    n_artists = max(2, n_songs * 2 // 3)  # artists repeat across songs
    artists = []
    for a in range(n_artists):
        located = rng.random() < 0.5
        artists.append({
            "artist_id": f"AR{a:08d}",
            "artist_latitude": round(float(rng.uniform(-60, 60)), 5) if located else None,
            "artist_longitude": round(float(rng.uniform(-150, 150)), 5) if located else None,
            # empty string is a distinct value from NULL (FIXTURES.md)
            "artist_location": ["", None, CITIES[a % len(CITIES)]][a % 3],
            "artist_name": f"Artist {a}",
        })
    songs = []
    for i in range(n_songs):
        a = artists[int(rng.integers(0, n_artists))]
        songs.append({
            "num_songs": 1,
            **a,
            "song_id": f"SO{i:08d}",
            "title": f"Song {i}",  # unique, so (artist, title) is a key
            "duration": round(float(rng.uniform(60, 600)), 5),
            "year": int(rng.choice([0, 1990, 2001, 2008, 2015])),
        })
    return songs


def _events(rng: np.random.Generator, n_events: int, songs: list[dict]) -> list[dict]:
    start_ms = _epoch_us(2018, 11, 1) // 1000
    span_ms = WEEKS * 7 * 86_400_000
    ts = np.sort(start_ms + rng.integers(0, span_ms, n_events))
    n_users = max(3, n_events // 200)
    events = []
    for t in ts:
        t = int(t)
        logged_in = rng.random() < 0.9
        uid = int(rng.integers(1, n_users + 1))
        page = "NextSong" if logged_in and rng.random() < 0.85 else (
            PAGES[int(rng.integers(0, len(PAGES)))] if logged_in else "Home")
        artist = song = length = None
        if page == "NextSong":
            if rng.random() < 0.2:  # a minority of plays match the catalog
                s = songs[int(rng.integers(0, len(songs)))]
                artist, song, length = s["artist_name"], s["title"], s["duration"]
            else:
                k = int(rng.integers(0, 5000))
                artist, song = f"Garage Band {k % 97}", f"Demo {k}"
                length = round(float(rng.uniform(60, 600)), 5)
        # users upgrade free -> paid halfway through, so some appear at
        # both levels (dim_users keeps both rows)
        level = "paid" if (uid % 3 == 0 or t > start_ms + span_ms // 2 and uid % 2) else "free"
        events.append({
            "artist": artist,
            "auth": "Logged In" if logged_in else "Logged Out",
            "firstName": FIRST[uid % len(FIRST)] if logged_in else None,
            "gender": "FM"[uid % 2] if logged_in else None,
            "itemInSession": int(rng.integers(0, 60)),
            "lastName": LAST[uid % len(LAST)] if logged_in else None,
            "length": length,
            "level": level,
            "location": CITIES[uid % len(CITIES)] if logged_in else None,
            "method": "PUT" if page == "NextSong" else "GET",
            "page": page,
            "registration": 1_530_000_000_000 + uid * 86_400_000 if logged_in else None,
            "sessionId": int(rng.integers(1, 1000)),
            "song": song,
            "status": 200 if rng.random() < 0.95 else 307,
            "ts": t,
            "userAgent": f"UA{uid % 7}" if logged_in else None,
            "userId": uid if logged_in else None,
        })
    return events


def expected_counts(events: list[dict], songs: list[dict]) -> dict[str, int]:
    """Star-schema row counts implied by the reference's SQL, in Python."""
    catalog = {(s["artist_name"], s["title"]) for s in songs}
    plays = [e for e in events if e["page"] == "NextSong"]
    user_cols = ("firstName", "lastName", "gender", "level", "registration", "userId")
    artist_cols = ("artist_id", "artist_latitude", "artist_longitude",
                   "artist_location", "artist_name")
    return {
        "fct_song_plays": len(plays),
        "matched_plays": sum((e["artist"], e["song"]) in catalog for e in plays),
        "dim_users": len({tuple(e[c] for c in user_cols) for e in events}),
        "dim_songs": len({(s["song_id"], s["title"], s["duration"], s["year"])
                          for s in songs}),
        "dim_artists": len({tuple(s[c] for c in artist_cols) for s in songs}),
        "dim_time_dimensions": len({e["ts"] // 3_600_000 for e in events}),
    }


def write_sparkify(out_dir: str, seed: int, n_events: int, n_songs: int) -> dict:
    """Write ``<out_dir>/log_data/YYYY/MM/YYYY-MM-DD-events.json`` (NDJSON)
    and ``<out_dir>/song_data/A/B/C/<song_id>.json`` (one object each).

    Returns ``{"events": glob, "songs": path, "rows": staged rows,
    "bytes": input bytes, "files": input files, "expected": counts}``; the
    events glob names the daily files, since a JSON read of ``log_data``
    itself would not descend into its year and month directories."""
    rng = np.random.default_rng(seed)
    songs = _songs(rng, n_songs)
    events = _events(rng, n_events, songs)
    log_dir = os.path.join(out_dir, "log_data")
    song_dir = os.path.join(out_dir, "song_data")
    files = nbytes = 0
    by_day: dict[str, list[str]] = {}
    for e in events:
        day = dt.datetime.fromtimestamp(e["ts"] / 1000, dt.timezone.utc).strftime("%Y/%m/%Y-%m-%d")
        by_day.setdefault(day, []).append(json.dumps(e))
    for day, lines in by_day.items():
        path = os.path.join(log_dir, f"{day}-events.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files += 1
        nbytes += os.path.getsize(path)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    for i, s in enumerate(songs):
        sub = os.path.join(song_dir, letters[i % 26], letters[i // 26 % 26], letters[i // 676 % 26])
        os.makedirs(sub, exist_ok=True)
        path = os.path.join(sub, f"{s['song_id']}.json")
        with open(path, "w") as f:
            json.dump(s, f)
        files += 1
        nbytes += os.path.getsize(path)
    return {
        "events": os.path.join(log_dir, "*", "*", "*-events.json"),
        "songs": song_dir,
        "rows": len(events) + len(songs),
        "bytes": nbytes,
        "files": files,
        "expected": expected_counts(events, songs),
    }
