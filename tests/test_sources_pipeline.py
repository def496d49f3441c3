"""Ingestion (S1/S2) and end-to-end ETL pipeline tests on JSON fixtures
written to a temp dir — the Spark-native replay of the reference's
COPY → INSERT flow (etl.py)."""

from __future__ import annotations

import json
import os

import pytest

from udacitydatawarehouseprj_spark import pipeline
from udacitydatawarehouseprj_spark import queries as Q
from udacitydatawarehouseprj_spark import session as S
from udacitydatawarehouseprj_spark.sources import json_source, sinks
from tests import sparkify_fixtures as fx


@pytest.fixture(scope="module")
def json_data(tmp_path_factory):
    """Write the Sparkify fixtures in the reference's source layouts:
    events as newline-JSON logs (log_data), songs as one-object-per-file
    under a recursive prefix (song_data/A/A/A/…)."""
    root = tmp_path_factory.mktemp("sparkify")
    events_dir = root / "log_data"
    events_dir.mkdir()
    with open(events_dir / "2018-11-events.json", "w") as f:
        for row in fx.EVENTS_ROWS:
            f.write(json.dumps(dict(zip(fx.EVENTS_COLUMNS, row))) + "\n")
        f.write('{"this is not valid json\n')  # malformed line (PERMISSIVE)
    songs_dir = root / "song_data"
    for i, row in enumerate(fx.SONGS_ROWS):
        d = songs_dir / "A" / "A" / chr(ord("A") + i)
        d.mkdir(parents=True, exist_ok=True)
        with open(d / f"TRSONG{i}.json", "w") as f:
            json.dump(dict(zip(fx.SONGS_COLUMNS, row)), f)
    return str(events_dir), str(songs_dir), str(root)


def test_read_events_json_with_corrupt_capture(spark, json_data):
    events_dir, _, _ = json_data
    df = json_source.read_events_json(spark, events_dir)
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == len(fx.EVENTS_ROWS)
    assert len(bad) == 1  # the malformed line is captured, not fatal
    by_page = {r.page for r in good}
    assert "NextSong" in by_page
    # schema plays the jsonpaths role: types coerced per StructType
    r0 = next(r for r in good if r.sessionId == 10 and r.itemInSession == 0)
    assert isinstance(r0.ts, int) and r0.userId == 1


def test_read_songs_json_recursive(spark, json_data):
    _, songs_dir, _ = json_data
    df = json_source.read_songs_json(spark, songs_dir)
    assert df.count() == len(fx.SONGS_ROWS)
    assert {r.song_id for r in df.collect()} == {"SO001", "SO002", "SO003", "SO004"}


def test_glob_read_defines_without_a_spark_job(spark, tmp_path):
    """A glob over more than 32 files (Spark's parallel-listing threshold)
    is listed on the driver of the engine's local session: defining the
    read schedules no Spark job."""
    n_files = 40
    for i in range(n_files):
        day = tmp_path / "log_data" / "2018" / f"{11 + i // 30}"
        day.mkdir(parents=True, exist_ok=True)
        with open(day / f"2018-{11 + i // 30}-{1 + i % 30:02d}-events.json", "w") as f:
            for row in fx.EVENTS_ROWS:
                f.write(json.dumps(dict(zip(fx.EVENTS_COLUMNS, row))) + "\n")
    glob = str(tmp_path / "log_data" / "*" / "*" / "*-events.json")

    sc = spark.sparkContext
    group = f"glob-read-{tmp_path.name}"
    sc.setJobGroup(group, "define a glob read")
    try:
        df = json_source.read_events_json(spark, glob, corrupt_col=None)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == n_files * len(fx.EVENTS_ROWS)


def test_listing_threshold_only_on_sessions_built_for_local(spark):
    """Driver-side listing is a build-time conf of local sessions: a
    cluster master keeps Spark's default and configure() never sets it,
    so an external session is left as it was built."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert key in S.build_conf("local[4]") and key in S.build_conf("local")
    assert key not in S.build_conf("spark://driver:7077")
    assert key not in S.build_conf("local-cluster[2,1,1024]")
    assert key not in S.RUNTIME_CONF
    other = spark.newSession()
    other.conf.unset(key)
    S.configure(other)
    assert other.conf.get(key) == "32"


def test_registry_boundary_configures_the_session(spark, sf_dir):
    """The registry configures the session a query is given at the query
    boundary. python_datasource_scan loads no table, so load_table's own
    configure() cannot stand in for it."""
    key = "spark.sql.session.timeZone"
    other = spark.newSession()
    other.conf.set(key, "America/Los_Angeles")
    Q.queries()["python_datasource_scan"](other, sf_dir)
    assert other.conf.get(key) == "UTC"


def test_runtime_confs_are_all_modifiable(spark):
    """configure() sets only confs a live session accepts; the build-only
    ones still reach every session get_spark builds."""
    assert [k for k in S.RUNTIME_CONF if not spark.conf.isModifiable(k)] == []
    conf = spark.sparkContext.getConf()
    assert {k: conf.get(k) for k in S.BUILD_CONF} == S.BUILD_CONF


def test_run_etl_end_to_end(spark, json_data, tmp_path):
    events_dir, songs_dir, _ = json_data
    out = pipeline.run_etl(spark, events_dir, songs_dir, str(tmp_path / "warehouse"))
    assert set(out) == {
        "fct_song_plays", "dim_users", "dim_songs", "dim_artists",
        "dim_time_dimensions",
    }
    counts = pipeline.validation_counts(spark, out)
    assert counts["fct_song_plays"] == fx.N_PLAYS
    assert counts["dim_songs"] == 4
    assert counts["dim_artists"] == 3
    assert counts["dim_users"] == 5   # quirk Q3 preserved
    assert counts["dim_time_dimensions"] == 7
    # the declared-schema read-back counts what an inferred read counts
    assert counts == {n: spark.read.parquet(p).count() for n, p in out.items()}
    # fact ↔ time-dim referential integrity (quirk Q2 fixed)
    star = pipeline.load_star(spark, out)
    fact_keys = {r.time_key for r in star["fct_song_plays"].select("time_key").collect()}
    dim_keys = {r.time_key for r in star["dim_time_dimensions"].select("time_key").collect()}
    assert fact_keys <= dim_keys


def test_bucketed_table_write(spark):
    """write_table with dist_key+buckets produces a bucketed managed table
    (the distkey co-location path for shuffle-free key joins). Uses the
    session's default warehouse dir (static conf; ./spark-warehouse is
    gitignored)."""
    df = spark.range(100).withColumnRenamed("id", "song_id")
    layout = sinks.TableLayout(dist_key="song_id", buckets=4)
    sinks.drop_table(spark, "t_bucketed")
    # a stale warehouse dir from a previous SESSION is invisible to the
    # catalog but still blocks the managed-table write — clear it
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, "t_bucketed"), ignore_errors=True)
    sinks.write_table(df, "t_bucketed", layout)
    desc = {r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_bucketed").collect()}
    assert desc.get("Num Buckets") == "4"
    assert "song_id" in desc.get("Bucket Columns", "")
    sinks.drop_table(spark, "t_bucketed")


def test_catalog_introspection(spark, sf_dir):
    """S6: pg_table_def catalog listing (reference Fiddle.ipynb cell 19) →
    spark.catalog.listTables."""
    S.load_tables(spark, sf_dir, names=("region", "nation"))
    names = {t.name for t in spark.catalog.listTables()}
    assert {"region", "nation"} <= names


def test_csv_roundtrip_sink(spark, tmp_path):
    """CSV as an interchange sink/source (beyond the reference's
    JSON-in/Redshift-out surface): header + explicit schema read-back."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, score double"
    )
    path = str(tmp_path / "csv_out")
    df.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.option("header", "true")
        .schema("id long, name string, score double")
        .csv(path)
    )
    assert {(r.id, r.name, r.score) for r in back.collect()} == {
        (1, "a", 1.5), (2, "b", 2.5)
    }


def test_csv_source_captures_corrupt_rows(spark, tmp_path):
    from udacitydatawarehouseprj_spark.sources import csv_source

    p = tmp_path / "drop"
    p.mkdir()
    (p / "part.csv").write_text(
        "event_id,user_id,event_type,value,ts_ms\n"
        "1,10,view,1.5,1000\n"
        "not_a_long,11,click,2.5,2000\n"   # malformed event_id
        "3,12,view,3.5,3000\n"
    )
    df = csv_source.read_events_csv(spark, str(p))
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.event_id for r in good} == {1, 3}
    assert len(bad) == 1 and bad[0].event_id is None
