"""Pipeline invariants for the star-schema build (SURVEY §5.3, §4 Q2-Q5)."""

from __future__ import annotations

import pytest

from udacitydatawarehouseprj_spark import schemas
from udacitydatawarehouseprj_spark.plans import star_schema
from tests import sparkify_fixtures as fx


@pytest.mark.parametrize(
    "options", [{}, {"dedupe_users": True, "time_dim_limit": 3}],
    ids=["default", "dedupe_users+time_dim_limit"],
)
def test_declared_star_schemas_match_build(spark, options):
    """schemas.STAR is what the ETL's read-back imposes on the written
    tables; a COUNT reads no column, so a type drift between the build and
    the declaration would otherwise go unnoticed. Nullability is ignored:
    Spark reads every parquet column back as nullable."""
    built = star_schema.build_star_schema(
        fx.make_events(spark), fx.make_songs(spark), **options
    )
    assert set(built) == set(schemas.STAR)
    for name, df in built.items():
        got = [(f.name, f.dataType) for f in df.schema]
        want = [(f.name, f.dataType) for f in schemas.STAR[name]]
        assert got == want, name


def test_fact_preserves_all_plays(spark):
    """Q5 invariant: LEFT join preserves every NextSong row; unmatched
    plays carry NULL song_id (reference sql_queries.py:175-181)."""
    fct = star_schema.build_fct_song_plays(
        fx.make_events(spark), fx.make_songs(spark)
    )
    rows = fct.collect()
    assert len(rows) == fx.N_PLAYS
    matched = [r for r in rows if r.song_id is not None]
    assert len(matched) == fx.N_MATCHED_PLAYS
    assert {r.song_id for r in matched} == {"SO001", "SO002"}


def test_fact_time_derivations(spark):
    fct = star_schema.build_fct_song_plays(
        fx.make_events(spark), fx.make_songs(spark)
    )
    by_item = {(r.session_id, r.item_in_session): r for r in fct.collect()}
    r = by_item[(10, 0)]
    assert r.time_key == 2018110707
    assert r.ts.microsecond == 0  # Q1: millisecond part truncated
    assert r.user_id == 1 and r.level == "free" and r.auth == "Logged In"


def test_dim_users_keeps_quirk_q3(spark):
    """DISTINCT over 6 columns: level-change dupes + NULL-user row kept
    (reference sql_queries.py:184-193; observed 107 rows incl. both)."""
    dim = star_schema.build_dim_users(fx.make_events(spark))
    rows = dim.collect()
    user1_levels = {r.level for r in rows if r.user_id == 1}
    assert user1_levels == {"free", "paid"}  # upgrade kept as two rows
    assert any(r.user_id is None for r in rows)  # logged-out NULL-user row
    assert len(rows) == 5  # user1×2 levels, user2, user3, NULL


def test_dim_users_fixed_variant(spark):
    dim = star_schema.build_dim_users(fx.make_events(spark), dedupe_by_user=True)
    rows = dim.collect()
    assert len(rows) == 3
    assert all(r.user_id is not None for r in rows)
    assert len({r.user_id for r in rows}) == 3


def test_dim_songs_distinct_noop(spark):
    """Q4: song_id unique in the catalog → DISTINCT is a no-op."""
    songs = fx.make_songs(spark)
    dim = star_schema.build_dim_songs(songs)
    assert dim.count() == songs.count() == 4


def test_dim_artists_dedups(spark):
    dim = star_schema.build_dim_artists(fx.make_songs(spark))
    rows = dim.collect()
    assert len(rows) == 3  # AR002 appears twice in the catalog
    locs = {r.artist_id: r.artist_location for r in rows}
    assert locs["AR003"] == ""  # empty string preserved, distinct from NULL


def test_dim_time_covers_all_fact_hours(spark):
    """With quirk Q2 fixed (no LIMIT), every fact time_key must exist in
    the time dimension."""
    events = fx.make_events(spark)
    songs = fx.make_songs(spark)
    fct = star_schema.build_fct_song_plays(events, songs)
    dim = star_schema.build_dim_time(events)
    fact_keys = {r.time_key for r in fct.select("time_key").distinct().collect()}
    dim_keys = {r.time_key for r in dim.collect()}
    assert fact_keys <= dim_keys
    # distinct hours in the fixture: 7 event hours (two plays share 07:00)
    assert len(dim_keys) == 7


def test_dim_time_quirk_q2_limit(spark):
    """limit_rows reproduces the reference's debug LIMIT (sql_queries.py:220)."""
    events = fx.make_events(spark)
    dim = star_schema.build_dim_time(events, limit_rows=2)
    assert dim.count() <= 2
