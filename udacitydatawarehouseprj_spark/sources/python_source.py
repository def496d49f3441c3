"""Custom Python DataSource (the Spark 4 DataSource API) — the
source-plane extension point beside the file formats (parquet / JSON /
CSV / ORC) and the streaming sources.

``synthcorpus`` is a deterministic synthetic-corpus generator exposed
as a first-class table source: `spark.read.format("synthcorpus")`.
It demonstrates the three capabilities a production Python source
(a REST paginator, a proprietary binary format, a feature store)
needs:

* **partition planning** — `partitions()` splits the id range into
  `partitions` independent splits, so reads scale out exactly like a
  file scan (one task per split, no driver bottleneck);
* **Arrow-batch reads** — `read()` yields `pyarrow.RecordBatch`, the
  vectorized path (row-tuple yields are the slow path by ~10-100×);
* **filter pushdown** — `pushFilters()` consumes range predicates on
  `doc_id` and narrows the GENERATED range, so `partitions()` plans
  splits only for surviving ids (the Python-source analogue of
  parquet predicate pushdown — the skipped rows are never produced at
  all). Unsupported filters are returned for Spark to re-apply.

Row content is the portable two-round Lehmer hash family
(mod 999999937 — exact BIGINT on any engine), so a SQL oracle replays
every generated value bit-for-bit: even the SOURCE is under the
driver's hash gate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)

#: portable PRNG constants (shared with the bootstrap / CMS family)
MOD = 999_999_937
MULT = 48_271
OFFSET = 12_345
N_GROUPS = 37


@dataclass
class IdRangePartition(InputPartition):
    start: int
    end: int


def score_of(ids):
    """Vectorized portable score in [0, 1): two Lehmer rounds (one
    round leaves small ids far below the modulus — the bootstrap
    lesson), then one exact IEEE division."""
    h1 = ((ids % MOD) * MULT + OFFSET) % MOD
    h2 = (h1 * MULT) % MOD
    return h2 / float(MOD)


class SynthCorpusReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n_rows", 10_000))
        self.num_parts = int(options.get("partitions", 8))
        self.lo = 0
        self.hi = self.n

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, GreaterThanOrEqual) and f.attribute == ("doc_id",):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, GreaterThan) and f.attribute == ("doc_id",):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, LessThan) and f.attribute == ("doc_id",):
                self.hi = min(self.hi, int(f.value))
            elif isinstance(f, LessThanOrEqual) and f.attribute == ("doc_id",):
                self.hi = min(self.hi, int(f.value) + 1)
            elif isinstance(f, IsNotNull):
                pass  # generated columns are never null — trivially pushed
            else:
                yield f  # unsupported: Spark re-applies it after the scan

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        if hi <= lo:
            return [IdRangePartition(lo, lo)]
        span = -(-(hi - lo) // self.num_parts)
        return [
            IdRangePartition(s, min(s + span, hi))
            for s in range(lo, hi, span)
        ]

    def read(self, partition):
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype="int64")
        if len(ids):
            yield pa.record_batch(
                [
                    pa.array(ids),
                    pa.array(ids % N_GROUPS),
                    pa.array(score_of(ids)),
                ],
                names=["doc_id", "group_key", "score"],
            )


class SynthCorpusDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synthcorpus"

    def schema(self):
        return "doc_id bigint, group_key bigint, score double"

    def reader(self, schema):
        return SynthCorpusReader(self.options)


def _register(spark, source) -> None:
    """Register ``source`` on ``spark``, idempotently. Spark also refuses a
    name that the thread's ACTIVE session already has, so a second
    session of one application could never register a source the first
    one had; ``spark`` is made the active session for the call."""
    jsession = spark._jvm.org.apache.spark.sql.classic.SparkSession
    previous = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if previous.isDefined():
            jsession.setActiveSession(previous.get())
        else:
            jsession.clearActiveSession()


def register(spark) -> None:
    """Idempotent registration of the synthcorpus format."""
    _register(spark, SynthCorpusDataSource)


# --- Custom Python SINK: Arrow batches + a real commit protocol --------
#
# ``ndjsonatomic`` writes ndjson through the DataSourceArrowWriter API
# with the two-phase commit every production sink needs: tasks write to
# a _tmp staging area (names derived from partition/attempt ids — task
# RETRIES never collide and never double-publish), the driver's
# ``commit()`` atomically publishes the file list as a _MANIFEST, and
# readers resolve the manifest — half-written jobs are invisible
# (``abort()`` leaves only unreferenced staging files). This is the
# Python-sink analogue of the Hadoop commit protocol, demonstrated
# end-to-end and oracle-checked via the round-trip query.


from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@dataclass
class NdjsonCommit(WriterCommitMessage):
    staged_path: str
    file_name: str
    n_rows: int


class NdjsonAtomicWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ndjsonatomic requires a save path")
        self.overwrite = overwrite

    def write(self, iterator):
        import os

        from pyspark import TaskContext

        tc = TaskContext.get()
        fname = f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}.json"
        staged = os.path.join(self.path, "_tmp", fname)
        os.makedirs(os.path.dirname(staged), exist_ok=True)
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for batch in iterator:
                for row in batch.to_pylist():
                    import json as _json

                    fh.write(_json.dumps(row, separators=(",", ":")))
                    fh.write("\n")
                    n += 1
        return NdjsonCommit(staged_path=staged, file_name=fname, n_rows=n)

    def commit(self, messages):
        import json as _json
        import os
        import shutil

        published, total = [], 0
        for m in messages:
            if m is None or m.n_rows == 0:
                continue
            dest = os.path.join(self.path, m.file_name)
            os.replace(m.staged_path, dest)
            published.append(m.file_name)
            total += m.n_rows
        # append semantics: a prior committed manifest stays visible —
        # merge its file list (and row count) instead of silently
        # shadowing earlier commits; overwrite clears prior published
        # files (manifest first, then best-effort data-file cleanup, so
        # a crash mid-delete still leaves a consistent view).
        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        prior_files: list[str] = []
        if os.path.exists(manifest_path):
            with open(manifest_path, encoding="utf-8") as fh:
                prior = _json.load(fh)
            if self.overwrite:
                prior_files_to_drop = [
                    f for f in prior.get("files", []) if f not in published
                ]
            else:
                prior_files = prior.get("files", [])
                total += prior.get("n_rows", 0)
                prior_files_to_drop = []
        else:
            prior_files_to_drop = []
        all_files = sorted(set(prior_files) | set(published))
        os.makedirs(os.path.join(self.path, "_tmp"), exist_ok=True)
        manifest_tmp = os.path.join(self.path, "_tmp", "_MANIFEST.json")
        with open(manifest_tmp, "w", encoding="utf-8") as fh:
            _json.dump({"files": all_files, "n_rows": total}, fh)
        os.replace(manifest_tmp, manifest_path)
        for f in prior_files_to_drop:
            try:
                os.remove(os.path.join(self.path, f))
            except OSError:
                pass
        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)

    def abort(self, messages):
        import shutil
        import os

        # staged files are unreferenced by any manifest — readers never
        # see them; cleanup is best-effort
        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)


class NdjsonAtomicDataSource(DataSource):
    @classmethod
    def name(cls):
        return "ndjsonatomic"

    def writer(self, schema, overwrite: bool):
        return NdjsonAtomicWriter(self.options, overwrite)


def register_sink(spark) -> None:
    _register(spark, NdjsonAtomicDataSource)


def read_committed(spark, path, schema):
    """Manifest-resolving reader: only files the commit protocol
    published are visible; typed re-entry is by DECLARED schema (the
    csv_source discipline — never inference)."""
    import json as _json
    import os

    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = _json.load(fh)
    files = [os.path.join(path, f) for f in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


# --- Custom Python STREAMING source ------------------------------------
#
# ``synthcorpus`` as a micro-batch stream: offsets are positions in the
# same deterministic id space the batch reader generates, so every
# micro-batch's contents are a pure function of its (start, end) offset
# pair — exactly-once replay after failure recovery is trivially
# correct (readBetweenOffsets regenerates identical rows). This is the
# SimpleDataSourceStreamReader shape for low-throughput sources (API
# polls, changelogs); partition-planned DataSourceStreamReader is the
# high-throughput variant of the same offset contract.


from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class SynthCorpusStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.n = int(options.get("n_rows", 10_000))
        self.batch = int(options.get("rows_per_batch", 1_000))

    def initialOffset(self):
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        return [
            (int(i), int(i % N_GROUPS), float(score_of_scalar(i)))
            for i in range(start, end)
        ]

    def read(self, start: dict):
        s = int(start["pos"])
        e = min(s + self.batch, self.n)
        return iter(self._rows(s, e)), {"pos": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        # failure replay: identical rows for identical offsets
        return iter(self._rows(int(start["pos"]), int(end["pos"])))

    def commit(self, end: dict):
        pass  # generated source: nothing to clean up


def score_of_scalar(i: int) -> float:
    h1 = ((i % MOD) * MULT + OFFSET) % MOD
    h2 = (h1 * MULT) % MOD
    return h2 / float(MOD)


class SynthCorpusStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synthcorpusstream"

    def schema(self):
        return "doc_id bigint, group_key bigint, score double"

    def simpleStreamReader(self, schema):
        return SynthCorpusStreamReader(self.options)


def register_stream(spark) -> None:
    _register(spark, SynthCorpusStreamDataSource)
