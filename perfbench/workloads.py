"""The benchmark's workloads.

An operation of a query workload is one registry query, built and then
executed through the noop writer; an operation of ``sparkify_etl`` is one
run of the reference pipeline. Each workload is sized so that a warm pass
over its operations takes a few seconds on four cores, which lets one run
time several passes.
"""

from __future__ import annotations

import os
import shutil

import gen

#: An analyst's ad hoc session on data small enough that the per-query
#: fixed cost dominates: star-schema and relational queries and TPC-H;
#: one stateful streaming proof (a landing-zone write, availableNow
#: micro-batches into a state store, a readback); and a pair of
#: near-duplicate reports over the documents table that share one
#: session-cached relation (word-shingle pair counts), built by the first
#: of the pair and hit by the second.
WAREHOUSE_OPS = [
    "flagship_hourly_activity", "sparkify_fct_build", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "streaming_stateful_sessions_readback",
    "dedup_ngram_jaccard", "dedup_ngram_containment",
]
#: The shared-cache pair: the first builds the relation, the second hits it.
SHARED_PAIR = ("dedup_ngram_jaccard", "dedup_ngram_containment")


def _tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            if name.endswith(suffix):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, name))
    return files, nbytes


class WarehouseWorkload:
    """Registry queries over the generated tables, checked against their
    DuckDB oracles with ``tools/parity.py``'s ``compare``."""

    name = "warehouse_adhoc"
    ops = WAREHOUSE_OPS
    phases = ("build", "exec")
    scale = gen.SCALE
    nominal_pass_s = 4.5
    check_every_pass = False

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = gen.write_tables(os.path.join(work, "tables"), seed)

    def arrange(self, order: list[str]) -> list[str]:
        """The seeded order of a pass, with the shared-cache pair swapped
        into place if needed, so the same report builds the relation in
        every pass and each op's latency keeps one meaning."""
        i, j = (order.index(op) for op in SHARED_PAIR)
        if i > j:
            order[i], order[j] = order[j], order[i]
        return order

    def before_pass(self) -> None:
        # every pass starts with no session-shared relation, like a fresh
        # session, so each pass pays its shared builds as well as its hits
        from udacitydatawarehouseprj_spark import session as S

        S.release_shared_caches()

    def execute(self, spark, op: str, phase):
        from udacitydatawarehouseprj_spark import queries as Q

        Q.PHASE_TIMINGS.pop(op, None)
        with phase("build"):
            df = Q.REGISTRY[op].fn(spark, self.sf_dir)
        with phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def op_stats(self, op: str, df) -> dict:
        from udacitydatawarehouseprj_spark import queries as Q

        return {f"streaming.{k}_s": v for k, v in Q.PHASE_TIMINGS.get(op, {}).items()}

    def input_rows(self, ops: list[dict]) -> int:
        """Rows the pass's Spark jobs read from files."""
        return sum(c.get("input_records", 0) for r in ops for c in r["jobs"].values())

    def check(self, spark, op: str, df) -> list[str]:
        import duckdb
        import parity

        from udacitydatawarehouseprj_spark import queries as Q
        from udacitydatawarehouseprj_spark import session as S

        got = df.toPandas()
        with duckdb.connect() as con:
            for t in S.TESTDATA_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{S.table_path(self.sf_dir, t)}'")
            want = con.sql(Q.REGISTRY[op].oracle).fetchdf()
        return parity.compare(op, got, want)


class EtlWorkload:
    """The reference pipeline over a generated Sparkify landing zone:
    ``pipeline.run_etl`` into a fresh directory, then
    ``pipeline.validation_counts``, checked against the generator's
    expected row counts."""

    name = "sparkify_etl"
    ops = ["etl"]
    phases = ("run_etl", "validation_counts")
    n_events, n_songs = 30_000, 300
    scale = f"{n_events} events, {n_songs} songs"
    nominal_pass_s = 4.2
    check_every_pass = True

    def prepare(self, work: str, seed: int) -> None:
        self.landing = gen.write_sparkify(
            os.path.join(work, "landing"), seed, self.n_events, self.n_songs)
        self.out_root = os.path.join(work, "warehouse")

    def arrange(self, order: list[str]) -> list[str]:
        return order

    def before_pass(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)

    def execute(self, spark, op: str, phase):
        from udacitydatawarehouseprj_spark import pipeline

        with phase("run_etl"):
            paths = pipeline.run_etl(
                spark, self.landing["events"], self.landing["songs"], self.out_root)
        with phase("validation_counts"):
            counts = pipeline.validation_counts(spark, paths)
        return counts, paths

    def op_stats(self, op: str, result) -> dict:
        files, nbytes = _tree_size(self.out_root, ".parquet")
        return {
            "sinks.files_written": files,
            "sinks.bytes_written": nbytes,
            "sources.input_files": self.landing["files"],
            "sources.input_bytes": self.landing["bytes"],
        }

    def input_rows(self, ops: list[dict]) -> int:
        """Staged input rows: events plus catalog songs."""
        return self.landing["rows"]

    def check(self, spark, op: str, result) -> list[str]:
        from pyspark.sql import functions as F

        counts, paths = result
        want = self.landing["expected"]
        errs = [f"{t}: {counts.get(t)} rows, expected {n}"
                for t, n in want.items() if t != "matched_plays" and counts.get(t) != n]
        matched = (spark.read.parquet(paths["fct_song_plays"])
                   .filter(F.col("song_id").isNotNull()).count())
        if matched != want["matched_plays"]:
            errs.append(f"matched plays: {matched}, expected {want['matched_plays']}")
        return errs


WORKLOADS = {w.name: w for w in (WarehouseWorkload, EtlWorkload)}
