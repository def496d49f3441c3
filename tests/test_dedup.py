"""Dedup operator tests: exact winner selection, shingle Jaccard ground
truth vs MinHash LSH, SimHash invariants."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from udacitydatawarehouseprj_spark import session as S
from udacitydatawarehouseprj_spark.operators import dedup, graph


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, ["a b c", "x y z", "a b c", "a b c"])
    out = dedup.exact_dedup(df, ["text"], "doc_id").collect()
    assert {r.doc_id for r in out} == {0, 1}


def test_ngram_jaccard_finds_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    far = "completely different words in this sentence about spark engines"
    out = dedup.ngram_jaccard_pairs(
        _docs(spark, [base, near, far]), threshold=0.5
    ).collect()
    assert len(out) == 1
    assert (out[0].doc_a, out[0].doc_b) == (0, 1)
    assert 0.5 <= out[0].jaccard < 1.0


def test_identical_docs_jaccard_one(spark):
    out = dedup.ngram_jaccard_pairs(
        _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta"]),
        threshold=0.99,
    ).collect()
    assert len(out) == 1 and out[0].jaccard == 1.0


def test_minhash_matches_exact_on_testdata(spark, sf_dir):
    """LSH recall at these parameters is ~1-1e-4 per pair; on the planted
    near-dups the candidate set must reproduce the exact result."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # the testdata plants near-duplicates


def _simhash_pairs(df, variant):
    return dedup.simhash_pairs(dedup.simhash_signatures(df, variant), variant)


def test_simhash_zero_distance_for_identical(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_HAMMING", 0)
    df = _docs(spark, ["one two three four five", "one two three four five",
                       "totally different token stream here"])
    pairs = _simhash_pairs(df, dedup.SIMHASH_NATIVE).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_simhash_signature_is_deterministic(spark):
    df = _docs(spark, ["spark catalyst tungsten arrow"])
    s1 = dedup.simhash_signatures(df, dedup.SIMHASH_NATIVE).collect()[0].simhash
    s2 = dedup.simhash_signatures(df, dedup.SIMHASH_NATIVE).collect()[0].simhash
    assert s1 == s2


#: signatures of three fixed texts, as the two pre-merge SimHash stacks
#: computed them; text 0's native signature has bit 63 set
_PINNED_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "spark catalyst tungsten arrow",
    "near duplicate detection with simhash bands",
]
_PINNED_NATIVE = [-7573889167326994222, 90236097882389186, 2762136701563456548]
_PINNED_PORTABLE = [98421, 9236553, 10651652]


def test_simhash_signatures_match_pinned_values(spark):
    df = _docs(spark, _PINNED_TEXTS)
    for variant, pinned in ((dedup.SIMHASH_NATIVE, _PINNED_NATIVE),
                            (dedup.SIMHASH_PORTABLE, _PINNED_PORTABLE)):
        sig = dedup.simhash_signatures(df, variant).collect()
        assert sorted((r.doc_id, r.simhash) for r in sig) == list(enumerate(pinned))


def test_band_pairs_emits_each_pair_once_in_order(spark):
    """Docs 1 and 2 share two bands, doc 3 shares one with doc 2, doc 4
    shares none: every qualifying pair comes out once, as doc_a < doc_b."""
    bands = spark.createDataFrame(
        [(2, 0, "x"), (1, 0, "x"), (2, 1, "y"), (1, 1, "y"),
         (3, 1, "y"), (4, 0, "z"), (4, 1, "w")],
        "doc_id long, band_id int, band_val string",
    )
    out = dedup.band_pairs(bands, ("band_id", "band_val")).collect()
    assert sorted((r.doc_a, r.doc_b) for r in out) == [(1, 2), (1, 3), (2, 3)]


def test_band_pairs_config_key_keeps_configs_apart(spark):
    """With cfg in the key, docs 1 and 2, equal only across two different
    configs, are not candidates; docs 1 and 3 match within config A."""
    bands = spark.createDataFrame(
        [(1, "A", 0, "k"), (2, "B", 0, "k"), (3, "A", 0, "k"), (2, "A", 0, "m")],
        "doc_id long, cfg string, j int, band_key string",
    )
    out = dedup.band_pairs(
        bands, ("cfg", "j", "band_key"), [F.col("a.cfg").alias("cfg")]
    ).collect()
    assert [(r.doc_a, r.doc_b, r.cfg) for r in out] == [(1, 3, "A")]


def test_prefix_filter_equals_naive(spark, sf_dir):
    """Prefix filtering is an exact optimization: identical output to the
    naive shingle join on the planted near-dups."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs_prefix(docs, threshold=0.5).collect()
    }
    assert pref == naive and len(naive) > 0


def test_prefix_filter_exact_at_other_thresholds(spark):
    from pyspark.sql import Row

    texts = [
        "a b c d e f g h i j",
        "a b c d e f g h i k",   # high overlap
        "a b c x y z q w r t",   # partial overlap
        "zz yy xx ww vv uu tt ss rr qq",
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    for t in (0.3, 0.6, 0.9):
        naive = {(r.doc_a, r.doc_b, r.jaccard)
                 for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()}
        pref = {(r.doc_a, r.doc_b, r.jaccard)
                for r in dedup.ngram_jaccard_pairs_prefix(df, threshold=t).collect()}
        assert pref == naive, t


def test_portable_simhash_identical_docs(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_HAMMING", 0)
    df = _docs(spark, ["one two three four five", "one two three four five",
                       "alpha beta gamma delta epsilon zeta eta theta"])
    pairs = _simhash_pairs(df, dedup.SIMHASH_PORTABLE).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_decontaminate_flags_planted_overlap(spark):
    from pyspark.sql import Row

    eval_doc = "the quick brown fox jumps over the lazy dog every single day"
    contaminated = "prefix words then the quick brown fox jumps over the lazy dog tail"
    clean = "completely unrelated training text with no shared phrases at all"
    train = spark.createDataFrame(
        [Row(doc_id=100, text=contaminated), Row(doc_id=101, text=clean)]
    )
    evals = spark.createDataFrame([Row(doc_id=1, text=eval_doc)])
    out = dedup.decontaminate_overlap(train, evals).collect()
    assert [(r.train_id, r.eval_id) for r in out] == [(100, 1)]
    assert out[0].n_overlap >= 5


def test_prefix_circuit_breaker_falls_back(spark, monkeypatch):
    """Tiny-vocabulary corpus: the candidate estimate blows past the cap,
    the operator falls back to the naive shingle join, and the output is
    still exact (identical to ngram_jaccard_pairs)."""
    monkeypatch.setattr(dedup, "MAX_CANDIDATE_RATIO", 1.0)
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = dedup.ngram_jaccard_pairs_prefix(df, threshold=0.5)
    naive = dedup.ngram_jaccard_pairs(df, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in guarded.collect()} == {
        (r.doc_a, r.doc_b) for r in naive.collect()
    }
    S.release_tracked_caches()


def test_release_caches_unpersists(spark, sf_dir):
    S.release_tracked_caches()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert len(S._TRACKED_CACHES) >= 1
    S.release_tracked_caches()
    assert S._TRACKED_CACHES == []


def _cluster_pairs(pairs):
    """Near-dup pairs (doc_a, doc_b) -> {doc_id: cluster_id}, mapped onto
    the connected-components operator the LSH cluster queries use."""
    labels = graph.connected_components_minlabel(
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")),
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        id_col="doc_id",
    )
    return {r.doc_id: r.component for r in labels.collect()}


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E: components {A,B,C} and {D,E}, labels = min id —
    the transitive collapse pair-level dedup can't do."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    assert _cluster_pairs(pairs) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_path_converges(spark):
    """A 12-edge path graph needs more than one propagation round —
    exercises the convergence loop, not just one round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 32)], "doc_a long, doc_b long"
    )
    out = _cluster_pairs(pairs)
    assert set(out.values()) == {20} and len(out) == 13


def test_incremental_dedup_kill_rules(spark):
    """One batch doc per kill rule: exact-vs-corpus, near-vs-corpus,
    within-batch exact (larger id dies), plus a unique survivor."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely unrelated corpus document about spark")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (101, base),          # exact dup of corpus 1 → killed
            (102, near),          # near dup of corpus 1 → killed
            (103, "a genuinely novel batch document nothing matches it"),
            (104, "a genuinely novel batch document nothing matches it"),
            # 104 = exact dup of batch 103 → killed, 103 survives
        ],
        "doc_id long, text string",
    )
    index = dedup.build_dedup_index(corpus)
    survivors, surv_index = dedup.incremental_dedup(batch, corpus, index)
    assert sorted(r.doc_id for r in survivors.collect()) == [103]
    assert {r.doc_id for r in surv_index.collect()} == {103}
    S.release_tracked_caches()


def test_span_dedup_global_first_occurrence_wins(spark):
    from udacitydatawarehouseprj_spark import queries as Q
    import os, tempfile

    ten = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"x{i}" for i in range(10))
    rows = [
        (1, ten + " " + other),  # original: both spans kept
        (2, ten),                # exact span dup of doc 1's first span → vanishes
        (3, other + " tail words here"),  # first span dup, tail survives
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: r for r in
               Q.queries()["span_dedup_global"](spark, d).collect()}
    assert set(out) == {1, 3}
    assert out[1].clean_text == ten + " " + other
    assert out[1].n_spans_kept == 2
    assert out[3].clean_text == "tail words here"
    assert out[3].n_spans_kept == 1


def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every train doc the EXACT overlap check flags at
    >= 5 shingles must be flagged by the Bloom variant (false positives
    allowed, false negatives never)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    evals = docs.filter(F.col("doc_id") < 25)
    train = docs.filter(F.col("doc_id") >= 25)
    exact = {
        r.train_id
        for r in dedup.decontaminate_overlap(train, evals)
        .select("train_id").distinct().collect()
    }
    bloom = {
        r.train_id
        for r in dedup.decontaminate_bloom(train, evals)
        .collect()
    }
    assert exact <= bloom
    assert len(exact) > 0
