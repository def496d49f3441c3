import datetime as dt
import json
import os

import pandas as pd
import pyarrow.parquet as pq

import gen


def _files(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 7)
    gen.write_tables(str(tmp_path / "b"), 7)
    gen.write_tables(str(tmp_path / "c"), 8)
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert sorted(a) == sorted(c) and a != c


def test_tables_have_the_registry_schemas(tmp_path):
    from udacitydatawarehouseprj_spark import session as S

    sf_dir = gen.write_tables(str(tmp_path), 3)
    for table in S.TESTDATA_TABLES:
        assert os.path.isfile(S.table_path(sf_dir, table))
    schema = pq.read_schema(S.table_path(sf_dir, "lineitem"))
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(schema.field("l_linenumber").type) == "int32"
    emb = pq.read_table(S.table_path(sf_dir, "embeddings"))
    assert str(emb.schema.field("embedding").type) == "list<element: float>"
    docs = pq.read_table(S.table_path(sf_dir, "documents")).to_pandas()
    assert (docs.text.str.len() == docs.n_chars).all()
    assert docs.text.str.endswith(" dup").any() and docs.text.duplicated().any()
    orders = pq.read_table(S.table_path(sf_dir, "orders")).num_rows
    assert orders == gen.TABLE_ROWS["orders"]


def test_sparkify_landing_is_byte_identical_for_a_seed(tmp_path):
    a = gen.write_sparkify(str(tmp_path / "a"), 5, 400, 30)
    b = gen.write_sparkify(str(tmp_path / "b"), 5, 400, 30)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a["expected"] == b["expected"]
    assert a["rows"] == 430 and a["files"] == len(_files(tmp_path / "a"))


def _read_landing(root):
    events, songs = [], []
    for dirpath, _, names in os.walk(root):
        for name in names:
            with open(os.path.join(dirpath, name)) as f:
                if name.endswith("-events.json"):
                    events.extend(json.loads(line) for line in f if line.strip())
                else:
                    songs.append(json.load(f))
    return pd.DataFrame(events), pd.DataFrame(songs)


def test_sparkify_expected_counts_match_the_files(tmp_path):
    out = gen.write_sparkify(str(tmp_path), 11, 600, 40)
    ev, songs = _read_landing(tmp_path)
    plays = ev[ev.page == "NextSong"]
    matched = plays.merge(songs, left_on=["artist", "song"],
                          right_on=["artist_name", "title"])
    user_cols = ["firstName", "lastName", "gender", "level", "registration", "userId"]
    artist_cols = ["artist_id", "artist_latitude", "artist_longitude",
                   "artist_location", "artist_name"]
    assert out["expected"] == {
        "fct_song_plays": len(plays),
        "matched_plays": len(matched),
        "dim_users": len(ev[user_cols].drop_duplicates()),
        "dim_songs": len(songs),
        "dim_artists": len(songs[artist_cols].drop_duplicates()),
        "dim_time_dimensions": (ev.ts // 3_600_000).nunique(),
    }
    # FIXTURES.md must-have cases
    assert ev.userId.isna().any() and ev.loc[ev.userId.isna(), "artist"].isna().all()
    levels = ev.dropna(subset=["userId"]).groupby("userId")["level"].nunique()
    assert (levels > 1).any()
    assert 0 < len(matched) < len(plays) / 2
    when = pd.to_datetime(ev.ts, unit="ms", utc=True)
    assert when.dt.month.isin([12]).any() and when.dt.month.isin([3]).any() \
        and when.dt.month.isin([4]).any()
    assert (when.dt.dayofweek >= 5).any()
    assert when.dt.floor("h").nunique() >= 2
    assert (songs.artist_location == "").any() and songs.artist_location.isna().any()
    first = dt.datetime.fromtimestamp(ev.ts.min() / 1000, dt.timezone.utc)
    assert os.path.isfile(os.path.join(
        tmp_path, "log_data", first.strftime("%Y/%m/%Y-%m-%d") + "-events.json"))
