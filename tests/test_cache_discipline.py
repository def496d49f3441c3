"""Tracked-cache discipline (session.track_cache / release_tracked_caches).

Operator caches (shingle relations, signature tables, sketches) must
outlive the operator function — plans are lazy — but a long session
running many queries must not accumulate cached blocks. The registry
releases all tracked caches at each query boundary; these tests assert
the net effect: cached-block count is bounded by ONE query's caches, not
cumulative across a query sequence.
"""

from __future__ import annotations

from types import SimpleNamespace

from udacitydatawarehouseprj_spark import queries as Q
from udacitydatawarehouseprj_spark import session as S


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


#: cache-heavy queries: LSH shingles, trigram doc-gram, simhash signatures
_SEQ = [
    "dedup_minhash_lsh",
    "text_trigram_lm_score",
    "simhash_band_complete_check",
    "dedup_minhash_lsh",
    "text_trigram_lm_score",
    "dedup_minhash_lsh",
]


def test_no_net_cached_block_growth(spark, sf_dir):
    S.release_tracked_caches()
    S.release_shared_caches()
    qs = Q.queries()
    baseline = _n_persisted(spark)
    counts = []
    for name in _SEQ:
        qs[name](spark, sf_dir).count()
        counts.append(_n_persisted(spark))
    # In-flight caches bounded by one query's worth of tracked caches
    # (≤3 relations) plus the session-shared relations this sequence
    # touches (LSH pairs + round-13's shared simhash signatures) —
    # never the sum over the sequence, i.e. the boundary release works.
    assert max(counts) - baseline <= 5, counts
    # Repeat visits to the same query plateau rather than grow.
    assert counts[3] <= counts[0] + 1 and counts[5] <= counts[0] + 1, counts
    S.release_tracked_caches()
    S.release_shared_caches()
    assert _n_persisted(spark) <= baseline


def test_release_is_idempotent_and_safe_before_action(spark, sf_dir):
    df = S.track_cache(Q.queries()["dedup_exact"](spark, sf_dir))
    S.release_tracked_caches()
    S.release_tracked_caches()
    # released before any action: plan still executes correctly, uncached
    assert df.count() > 0


def test_shared_cache_memoizes_across_query_boundaries(spark, sf_dir):
    """The LSH pair relation is built once and REUSED by its consumers —
    the query-boundary release must not drop it, and the explicit shared
    release must. Since round 13 the cluster family additionally shares
    the CC label relation derived from the pairs (one more shared entry,
    still exactly one PAIR build)."""
    S.release_shared_caches()
    qs = Q.queries()
    a = qs["dedup_minhash_lsh"](spark, sf_dir)
    a.count()
    assert set(k.split(":")[0] for k in S._SHARED_CACHES) == {
        "minhash_lsh_pairs"
    }
    pairs_entry = next(iter(S._SHARED_CACHES.values()))
    # crossing a query boundary (which releases tracked caches) must not
    # evict the shared relation; the cluster query adds its shared CC
    # labels but must REUSE the same pair entry, not rebuild it…
    b = qs["dedup_near_dup_clusters"](spark, sf_dir)
    b.count()
    assert set(k.split(":")[0] for k in S._SHARED_CACHES) == {
        "minhash_lsh_pairs", "lsh_cc_labels"
    }
    assert any(df is pairs_entry for df in S._SHARED_CACHES.values())
    c = qs["dedup_keep_best_quality"](spark, sf_dir)
    assert c.count() > 0
    assert len(S._SHARED_CACHES) == 2  # same entries, no second build
    # …and results stay consistent with a fresh, uncached build
    S.release_shared_caches()
    assert len(S._SHARED_CACHES) == 0
    fresh = qs["dedup_minhash_lsh"](spark, sf_dir)
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, a.collect()))
    S.release_shared_caches()



class _OtherApp:
    """The test session, its context reporting another application id."""

    def __init__(self, spark):
        self._spark = spark
        self.sparkContext = self

    def __getattr__(self, name):
        sc = self._spark.sparkContext
        value = getattr(sc if hasattr(sc, name) else self._spark, name)
        app_id = self._spark.conf.get("spark.app.id")
        return value + "-other" if value == app_id else value


def test_shared_build_key_is_stable_across_app_ids(spark, sf_dir, monkeypatch):
    """A registry helper records its shared build under a key naming what
    was computed, never the application id, so bench_guard can match
    shared builds across runs."""
    key = f"shingle_pair_counts:3:{sf_dir}"
    S.release_shared_caches()
    monkeypatch.setattr(S, "TIME_SHARED_BUILDS", True)
    try:
        first = Q._shingle_pair_counts_shared(spark, sf_dir)
        assert list(S.SHARED_BUILD_SECONDS) == list(S._SHARED_CACHES) == [key]
        assert spark.conf.get("spark.app.id") not in key
        assert Q._shingle_pair_counts_shared(_OtherApp(spark), sf_dir) is first
    finally:
        S.release_shared_caches()


def test_shared_cache_rebuilds_entry_from_a_stopped_context(spark):
    """An entry whose SparkContext is no longer the active one is never
    served; the same key is rebuilt on the live context."""
    stale = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=object()))
    S.release_shared_caches()
    S._SHARED_CACHES["k"] = stale
    try:
        df = S.shared_cache("k", lambda: spark.range(3))
        assert df is not stale and S._SHARED_CACHES["k"] is df
        assert S.shared_cache("k", lambda: spark.range(9)) is df
        assert df.count() == 3
    finally:
        S.release_shared_caches()
