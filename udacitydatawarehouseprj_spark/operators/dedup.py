"""Deduplication operators for large-scale text corpora.

Beyond-reference operators (BASELINE.json north star): exact dedup,
word-shingle Jaccard and containment, MinHash+LSH, SimHash and n-gram
decontamination, all over a ``documents(doc_id, text, …)`` table.

Every near-duplicate method is one candidate join plus one verify:
* candidates: a bands relation (one row per doc and band key) self-joined
  by ``band_pairs`` on its key columns, ``doc_a < doc_b``, each pair once.
  MinHash bands (``band_hashes``), SimHash bit bands (``simhash_pairs``),
  prefix-filter shingles (``ngram_jaccard_pairs_prefix``) and the
  portable 12-perm bands in ``queries.py`` all feed this one join.
* verify: ``_verify_candidate_pairs`` counts shingle intersections on the
  candidates only and ends in ``jaccard_from_pair_counts``, the same
  filter the exhaustive ``shingle_pair_counts`` path ends in.

Scale design (100 TB corpus):
* exact: one hash-partitioned shuffle on the dedup key.
* shingle Jaccard (``ngram_jaccard_pairs``): exact but quadratic in the
  worst case — the shingle self-join explodes on hot shingles. Usable for
  verification at small scale; at corpus scale use MinHash+LSH.
* MinHash+LSH (``minhash_lsh_pairs``): linear-ish — per-doc signatures
  (map-side), band buckets (one shuffle), candidate verification restricted
  to same-bucket pairs. This is the scale path; banding parameters trade
  recall for cost.
* SimHash: one stack (``simhash_signatures`` + ``simhash_pairs``) with two
  variants. ``SIMHASH_NATIVE`` hashes tokens with xxhash64 into a 64-bit
  signature banded 4 × 16 bits; ``SIMHASH_PORTABLE`` uses the polynomial
  ``char_fold_hash`` into 32 bits banded 4 × 8, so the DuckDB oracle
  replays it exactly — and with it the band and Hamming code both share.
* Prefix filtering (``ngram_jaccard_pairs_prefix``): exact sub-quadratic
  similarity join for Zipfian vocabularies.
* Decontamination (``decontaminate_overlap``): train×benchmark n-gram
  overlap — broadcast the benchmark, stream the corpus.

All Spark-built-in expressions (xxhash64, transform/slice/aggregate) — no
Python UDFs anywhere in dedup. Column names and tuning knobs are module
constants; a test that needs another value monkeypatches the constant.
"""

from __future__ import annotations

import functools
import operator
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: the documents relation's key and text columns
ID_COL = "doc_id"
TEXT_COL = "text"
#: word n-gram size for shingling
DEFAULT_SHINGLE = 3

# Shingle relations are cached because they feed several subplans (sizes +
# both join sides). Caching is routed through session.track_cache so the
# query registry auto-releases them at the next query boundary; callers
# that loop over corpora outside the registry call
# session.release_tracked_caches() after each final action.
from udacitydatawarehouseprj_spark.session import track_cache as _cache  # noqa: E402
#: MinHash parameters: 64 permutations → 32 bands × 2 rows. At Jaccard 0.5
#: the per-pair miss probability is (1 - 0.5²)³² ≈ 1e-4.
NUM_PERM = 64
NUM_BANDS = 32
#: SimHash near-dup bound; both variants' four bands make it pigeonhole-safe
MAX_HAMMING = 3
#: distinct shared n-grams that flag a training doc as contaminated
MIN_OVERLAP = 5
#: prefix-filter circuit breaker: candidate pairs allowed per document
MAX_CANDIDATE_RATIO = 64.0
#: verified Jaccard at which incremental ingest kills a batch doc
DUP_THRESHOLD = 0.5
#: exact-substring tiles: tile length and stride, in characters
TILE_LEN = 40
STRIDE = 20

# prime < 2^50 so acc*31 stays < 2^55 — no int64 overflow in EITHER engine
# (DuckDB and non-ANSI Spark would wrap differently on overflow)
PORTABLE_HASH_MOD = 999_999_999_999_989
PORTABLE_SIM_BITS = 32


def char_fold_hash(col: str, mod: int) -> F.Column:
    """Portable polynomial hash of string column ``col``:
    fold ``(acc * 31 + code(c)) % mod`` over its characters from acc = 0.
    Pure integer arithmetic, so a SQL oracle replays it bit for bit; any
    ``mod`` < 2^50 keeps ``acc * 31`` inside int64 in every engine."""
    return F.expr(
        f"aggregate(sequence(1, length({col})), 0L,"
        f" (acc, i) -> (acc * 31 + CAST(ascii(substring({col}, i, 1)) AS BIGINT))"
        f" % {mod})"
    )


def tokens_expr():
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.col(TEXT_COL)), r"\s+")


def _tokenized(df: DataFrame) -> DataFrame:
    """(id, _toks) with the text split exactly once.

    Binding the token array to a column (instead of repeating the split
    inside size/transform/slice) matters: Catalyst's CollapseProject will
    not inline a non-cheap expression used three times, so the split runs
    once per row instead of three times — measured 1.8× on the shingle
    pipeline.
    """
    from udacitydatawarehouseprj_spark.session import spread

    # a small corpus often arrives as one parquet file → one partition →
    # the explode and downstream self-joins would run serially (see
    # session.spread)
    return spread(df, (ID_COL,)).select(
        F.col(ID_COL), tokens_expr().alias("_toks")
    )


def _explode_shingles(df: DataFrame, n: int, shingle_sql: str) -> DataFrame:
    """One row per (doc, distinct word n-gram), each n-gram the SQL
    ``shingle_sql`` over the token slice ``slice(_toks, i, n)``."""
    sh = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"array_distinct(transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> {shingle_sql}))"
        ),
    ).otherwise(F.array())
    return _tokenized(df).select(F.col(ID_COL), F.explode(sh).alias("shingle"))


def shingles(df: DataFrame, n: int = DEFAULT_SHINGLE) -> DataFrame:
    """One row per (doc, distinct word n-gram shingle), as a string.

    Pure Column expression (sequence → slice → array_join). String
    shingles are the ground-truth relation (DuckDB oracles replay them
    verbatim); signature pipelines use ``hashed_shingles`` instead.
    """
    return _explode_shingles(df, n, f"array_join(slice(_toks, i, {n}), ' ')")


def hashed_shingles(df: DataFrame) -> DataFrame:
    """One row per (doc, distinct word n-gram shingle), as an 8-byte
    xxhash64 of the token slice — no per-shingle string is ever built.

    Same (doc, shingle-set) structure as ``shingles`` up to 64-bit hash
    collisions (~|shingles|²/2⁶⁴ — negligible), so Jaccard counts computed
    over this relation equal the string-shingle counts. 3× cheaper to
    produce and joins on fixed-width longs instead of variable-length
    strings — this is the relation the MinHash/LSH and incremental-index
    paths run on at corpus scale.
    """
    n = DEFAULT_SHINGLE
    return _explode_shingles(df, n, f"xxhash64(slice(_toks, i, {n}))")


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup: keep one deterministic winner (min ``order_col``) per
    distinct key. One hash shuffle on the key; at scale pre-hash long keys
    (xxhash64) so the shuffle key is fixed-width."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _join_set_sizes(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """Pair relation ``inter`` (doc_a, doc_b, …) plus both docs' shingle
    set sizes ``n_a`` and ``n_b`` from the (doc, shingle) relation ``sh``."""
    sizes = sh.groupBy(ID_COL).agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col(ID_COL).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(ID_COL).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def shingle_pair_counts(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) for every unordered doc pair
    sharing ≥1 shingle: |A∩B| via shingle self-join plus both set sizes.

    This is the shared front half of BOTH set-overlap detectors —
    Jaccard (``jaccard_from_pair_counts``) and containment
    (``containment_from_pair_counts``) are just different final filters
    over it, so a session that runs several detectors builds the
    expensive shingle self-join once.

    The shingle relation feeds three subplans (sizes + both join sides) —
    cache it so the tokenize/shingle explode runs once, not three times."""
    sh = _cache(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}"))
        .groupBy(
            F.col(f"a.{ID_COL}").alias("doc_a"), F.col(f"b.{ID_COL}").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return _join_set_sizes(inter, sh)


def jaccard_from_pair_counts(counts: DataFrame, threshold: float) -> DataFrame:
    """Jaccard ≥ threshold pairs from a ``shingle_pair_counts`` relation
    (|A∪B| = |A|+|B|−|A∩B|) — same output contract as
    ``ngram_jaccard_pairs``."""
    return (
        counts.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_from_pair_counts(
    counts: DataFrame, threshold: float
) -> DataFrame:
    """Directed-containment pairs from a ``shingle_pair_counts`` relation
    — same output contract as ``ngram_containment_pairs``."""
    c_ab = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
    return counts.filter((c_ab >= threshold) | (c_ba >= threshold)).select(
        "doc_a",
        "doc_b",
        F.round(c_ab, 6).alias("containment_a_in_b"),
        F.round(c_ba, 6).alias("containment_b_in_a"),
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """Exact word-n-gram Jaccard near-duplicate pairs (doc_a < doc_b).

    Ground truth for MinHash; quadratic on hot shingles — small/medium
    scale only (see module docstring)."""
    return jaccard_from_pair_counts(shingle_pair_counts(shingles(df)), threshold)


def band_pairs(
    bands: DataFrame, keys: Sequence[str], extra: Sequence[F.Column] = ()
) -> DataFrame:
    """The one candidate join of the dedup family: documents that agree
    on every column of ``keys`` in the bands relation (one row per doc
    and band), as ``(doc_a, doc_b)`` with ``doc_a < doc_b``, each pair
    once however many bands it shares.

    ``extra`` adds output columns computed from the two sides, which it
    names ``a.<col>`` and ``b.<col>``: SimHash carries both signatures
    into a Hamming distance, the banding sweep keeps its config key.
    """
    a = bands.alias("a")
    b = bands.alias("b")
    same_band = functools.reduce(
        operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    )
    return (
        a.join(b, same_band & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")))
        .select(
            F.col(f"a.{ID_COL}").alias("doc_a"),
            F.col(f"b.{ID_COL}").alias("doc_b"),
            *extra,
        )
        .distinct()
    )


def _verify_candidate_pairs(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs:
    count shingle intersections for candidates only, filter on the true
    Jaccard. No forced broadcast — AQE broadcasts the candidate side when
    it is small (the well-tuned-LSH case) and falls back to a shuffle join
    when a pathological corpus (tiny vocabulary → huge candidate sets)
    makes broadcasting the wrong move."""
    sa = sh.select(F.col(ID_COL).alias("doc_a"), "shingle")
    sb = sh.select(F.col(ID_COL).alias("doc_b"), "shingle")
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return jaccard_from_pair_counts(_join_set_sizes(inter, sh), threshold)


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Per-doc MinHash signature over a ``hashed_shingles`` relation.

    Permutation p of a shingle hash h is a seeded xorshift64 step
    (h XOR C_p, then three xor-shifts) — an invertible 64-bit mixer, so
    each permutation is a bijection of the already-xxhash64-uniform
    shingle space. This replaces NUM_PERM independent string hashes with
    ONE string hash (inside ``hashed_shingles``) plus 4 integer ops per
    permutation — measured 3.6× on the signature build — and stays
    overflow-free under ANSI mode (xor/shift only, no multiply).

    One aggregation — NUM_PERM mins computed map-side-partial in a single
    pass (no per-permutation shuffles).
    """
    mins = [
        F.min(F.col("shingle").bitwiseXOR(F.lit(_XOR_PERM[p]))).alias(f"h{p}")
        for p in range(NUM_PERM)
    ]
    return sh.groupBy(ID_COL).agg(*mins)


def _splitmix64(seed: int) -> list[int]:
    """Deterministic full-64-bit xor constants (splitmix64 stream), as
    signed longs. Computed plan-side in Python so the per-permutation
    Spark expression stays a single XOR — a 64-min aggregate built from
    multi-step mixing chains octuples each expression subtree and was
    measured to cost ~6 s of whole-stage-codegen JIT compile on first
    execution. Full-width constants matter: constants that differ only in
    low bits would leave the argmin (driven by high bits) identical
    across permutations."""
    out, x = [], seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(256):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        out.append(z - (1 << 64) if z >= 1 << 63 else z)
    return out


#: xor-permutation constants: h_p(s) = s XOR r_p over the xxhash64-uniform
#: shingle space — the standard cheap minhash permutation family; the
#: LSH recall this yields is validated by the exact-Jaccard oracle gate.
_XOR_PERM = _splitmix64(0x5EED_0F_5EED)


def band_hashes(sig: DataFrame) -> DataFrame:
    """(doc, band_id, band_hash) from a MinHash signature relation: each
    band's rows are hashed together so one equal band ⇒ LSH candidate.
    Shared by the self-join path (``minhash_lsh_pairs``) and the
    incremental index (``build_dedup_index``) so both sides of an
    incremental join derive identical band hashes."""
    rows_per_band = NUM_PERM // NUM_BANDS
    band_cols = [
        F.xxhash64(
            F.lit(band),
            *[F.col(f"h{band * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias(f"b{band}")
        for band in range(NUM_BANDS)
    ]
    return sig.select(
        F.col(ID_COL),
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(NUM_BANDS)]),
                F.array(*band_cols),
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified with exact Jaccard.

    signatures → band hashes → bucket join (candidates) → exact-Jaccard
    verification of candidates only. Output equals ``ngram_jaccard_pairs``
    up to LSH recall (see NUM_PERM note); verification removes all false
    positives, so precision is exact.
    """
    # cached: feeds the signature build plus three verification subplans.
    # Hashed shingles throughout — signatures mix the hash, and the
    # exact-Jaccard verification counts are identical to string shingles
    # (see hashed_shingles collision note) while joining on longs.
    sh = _cache(hashed_shingles(df))
    bands = band_hashes(minhash_signatures(sh))
    candidates = band_pairs(bands, ("band_id", "band_hash"))
    return _verify_candidate_pairs(sh, candidates, threshold)


def ngram_jaccard_pairs_prefix(df: DataFrame, threshold: float) -> DataFrame:
    """EXACT near-dup pairs via prefix filtering (AllPairs/PPJoin family).

    Identical output to ``ngram_jaccard_pairs``, sub-quadratic candidates:
    order each doc's shingles by global rarity (rarest first); two docs
    with Jaccard ≥ t MUST share a shingle within each other's first
    ``|X| − ⌈t·|X|⌉ + 1`` shingles under any global total order, so the
    candidate join only indexes those prefixes. Ordering by rarity puts
    hot shingles at the END of every prefix ordering — the hot-shingle
    quadratic blowup of the naive join largely disappears.

    Cost: one extra shingle-frequency aggregation + a window rank; the
    candidate join shrinks by ~(1−t)² with rare-first skew on top.

    Circuit breaker: on a tiny-vocabulary corpus every prefix shares the
    same few shingles and the candidate join degenerates (measured 7.5×
    WORSE than the naive join on an adversarial 10× corpus — SCALE.md).
    Before running the join we bound its size exactly from per-shingle
    prefix frequencies (Σ c·(c−1)/2 — one linear aggregation, no join);
    if that exceeds ``MAX_CANDIDATE_RATIO × |corpus|`` the prefixes are
    not discriminating and we fall back to the naive shingle join, which
    is the cheaper plan precisely in that regime.
    """
    # hashed shingles: prefix filtering is correct under ANY global total
    # order of the shingle domain, and the output Jaccard values are
    # hash-scheme-independent — so the fixed-width relation is safe here
    sh = _cache(hashed_shingles(df))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_freq"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy(ID_COL).orderBy(
                    F.col("df_freq").asc(), F.col("shingle").asc()
                )
            ),
        )
        .withColumn("_n", F.count("*").over(Window.partitionBy(ID_COL)))
    )
    prefix = _cache(
        ranked.filter(
            F.col("_rank") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        ).select(ID_COL, "shingle")
    )
    est_row = (
        prefix.groupBy("shingle")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / F.lit(2.0)).alias("est_pairs"))
        .collect()[0]
    )
    est_pairs = float(est_row["est_pairs"] or 0.0)
    n_docs = sh.select(ID_COL).distinct().count()
    if est_pairs > MAX_CANDIDATE_RATIO * max(n_docs, 1):
        return jaccard_from_pair_counts(shingle_pair_counts(sh), threshold)
    candidates = band_pairs(prefix, ("shingle",))
    return _verify_candidate_pairs(sh, candidates, threshold)


# --- SimHash -------------------------------------------------------------
#
# For bit b: sum +1/-1 over a doc's tokens according to bit b of the token
# hash; signature bit b = 1 iff the sum is positive. A variant is
# (token hash, signature bits, band bits). The native one is the
# production detector; the portable one's token hash (see char_fold_hash)
# is bit-identical in any engine, so the DuckDB oracle replays it.
SIMHASH_NATIVE = (F.xxhash64, 64, 16)
SIMHASH_PORTABLE = (
    functools.partial(char_fold_hash, mod=PORTABLE_HASH_MOD), PORTABLE_SIM_BITS, 8
)


def simhash_signatures(df: DataFrame, variant: tuple) -> DataFrame:
    """(doc, simhash) for one SimHash ``variant``: one groupBy with one
    conditional sum per bit (map-side partials), then a bit-pack."""
    from udacitydatawarehouseprj_spark.session import spread

    token_hash, bits, _ = variant
    toks = spread(df, (ID_COL,)).select(
        F.col(ID_COL), F.explode(tokens_expr()).alias("tok")
    ).withColumn("h", token_hash("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(ID_COL).agg(*bit_sums)
    # bit 63 of a 64-bit signature is the sign bit of a long: weight -2^63
    packed = functools.reduce(
        operator.add,
        [
            F.when(
                F.col(f"s{b}") > 0,
                F.lit(-(1 << 63) if b == 63 else 1 << b).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ],
    )
    return agg.select(F.col(ID_COL), packed.alias("simhash"))


def simhash_pairs(sig: DataFrame, variant: tuple) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``MAX_HAMMING`` from
    a ``simhash_signatures`` relation of the same ``variant``.

    Bucket on 4 bands of the variant's band width (pigeonhole: any pair
    within distance 3 agrees on ≥1 band), join within buckets, verify
    exact Hamming distance via bit_count(xor). Linear-ish; the band join
    is the only shuffle.
    """
    _, bits, band_bits = variant
    bands = sig.select(
        F.col(ID_COL),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for i in range(bits // band_bits)
                ]
            )
        ).alias("band"),
    ).select(ID_COL, "simhash", "band.band_id", "band.band_val")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return band_pairs(
        bands, ("band_id", "band_val"), [hamming.alias("hamming")]
    ).filter(F.col("hamming") <= MAX_HAMMING)


def decontaminate_overlap(train: DataFrame, eval_set: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    ``MIN_OVERLAP`` distinct word n-grams with any eval/benchmark document
    (the n-gram-overlap contamination check used by LLM training
    pipelines; word-3-grams here, 13-grams in the usual report recipe —
    one constant).

    Shape: eval shingles are tiny (the benchmark) → broadcast; the train
    side streams. One aggregation, no self-join — linear in the corpus.
    Returns (train_id, eval_id, n_overlap) pairs above the threshold.
    """
    tr = shingles(train).select(F.col(ID_COL).alias("train_id"), "shingle")
    ev = shingles(eval_set).select(F.col(ID_COL).alias("eval_id"), "shingle")
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= MIN_OVERLAP)
    )


def build_dedup_index(corpus: DataFrame) -> DataFrame:
    """Persistent dedup index for a corpus: one row per (doc, band_id,
    band_hash) carrying the doc's exact-text hash.

    This is the artifact that makes dedup INCREMENTAL at 100 TB: the
    corpus is shingled/signed ONCE, the index (tiny relative to text —
    NUM_BANDS longs + one hash per doc) is persisted (ideally bucketed
    by band_hash), and every new crawl batch joins against it without
    touching corpus text again. Corpus text is only fetched afterwards,
    by id, for the candidate pairs that survive banding.
    """
    bands = band_hashes(minhash_signatures(hashed_shingles(corpus)))
    th = corpus.select(
        F.col(ID_COL), F.xxhash64(F.col(TEXT_COL)).alias("text_hash")
    )
    return bands.join(th, ID_COL)


def incremental_dedup(
    batch: DataFrame, corpus: DataFrame, index: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Survivors of ``batch`` after dedup against an indexed corpus and
    within the batch itself, plus the survivors' index rows
    ``(id, band_id, band_hash, text_hash)`` for appending to the
    persistent corpus index. Both are lazy; a caller that consumes both
    (the streaming ingest loop) caches the survivors.

    A batch doc is KILLED iff any of:
      1. exact text match with a corpus doc (index text_hash candidates,
         confirmed on real text fetched by id — hash collisions can't
         produce a false kill);
      2. verified near-dup (exact Jaccard ≥ DUP_THRESHOLD on LSH band
         candidates) with a corpus doc;
      3. exact or verified-near duplicate of a SMALLER-id batch doc
         (deterministic canonical keeper), regardless of that partner's
         own fate.

    Scale shape: the corpus side contributes only its (small) index to
    the band join plus id-targeted text fetches for candidates; the
    batch side (daily crawl ≪ corpus) is fully processed but never
    self-joined against the corpus text. LSH recall caveats are the
    same as ``minhash_lsh_pairs`` (per-pair miss ~1e-4 at j=0.5).
    """
    # the index is a persisted artifact in production (built once, read
    # from storage); here it arrives as a plan, and it feeds BOTH the
    # exact-hash join and the band join — cache it so the corpus
    # shingle/signature pipeline runs once, not once per consumer
    index = _cache(index)
    batch_sh = _cache(hashed_shingles(batch))
    # bands feed the corpus band join, BOTH sides of the within-batch
    # band self-join, and the survivor index rows — cache or the
    # signature aggregate runs per consumer
    batch_bands = _cache(band_hashes(minhash_signatures(batch_sh)))
    batch_th = batch.select(
        F.col(ID_COL).alias("b_id"),
        F.xxhash64(F.col(TEXT_COL)).alias("b_text_hash"),
        F.col(TEXT_COL).alias("b_text"),
    )

    # --- rule 1: exact-vs-corpus (hash candidates, text-confirmed) ----
    exact_cand = (
        batch_th.join(
            index.select(
                F.col(ID_COL).alias("c_id"), F.col("text_hash")
            ).distinct(),
            F.col("b_text_hash") == F.col("text_hash"),
        )
        .select("b_id", "c_id", "b_text")
    )
    corpus_text = corpus.select(
        F.col(ID_COL).alias("c_id"), F.col(TEXT_COL).alias("c_text")
    )
    exact_kill = (
        exact_cand.join(corpus_text, "c_id")
        .filter(F.col("b_text") == F.col("c_text"))
        .select(F.col("b_id").alias(ID_COL))
        .distinct()
    )

    # --- rule 2: near-vs-corpus (band join against the index) ---------
    near_cand = (
        batch_bands.alias("nb")
        .join(
            index.alias("ix"),
            (F.col("nb.band_id") == F.col("ix.band_id"))
            & (F.col("nb.band_hash") == F.col("ix.band_hash")),
        )
        .select(
            F.col(f"nb.{ID_COL}").alias("doc_a"),
            F.col(f"ix.{ID_COL}").alias("doc_b"),
        )
        .distinct()
    )
    # candidate pairs feed the corpus-text semi-join AND the verification
    # join; cached so the band join runs once (tiny: surviving pairs only)
    near_cand = _cache(near_cand)
    # verification needs shingles for BOTH sides; corpus shingles are
    # rebuilt only for candidate docs (id-targeted semi-join + shingle)
    cand_corpus_docs = corpus.join(
        near_cand.select(F.col("doc_b").alias(ID_COL)).distinct(),
        ID_COL,
        "left_semi",
    )
    # the union feeds three verification subplans (sizes + both join
    # sides) — cache it or the candidate-doc shingling runs three times
    both_sh = _cache(batch_sh.union(hashed_shingles(cand_corpus_docs)))
    near_kill = (
        _verify_candidate_pairs(both_sh, near_cand, DUP_THRESHOLD)
        .select(F.col("doc_a").alias(ID_COL))
        .distinct()
    )

    # --- rule 3: within-batch (exact + verified-near, min-id keeper) --
    batch_exact_pairs = (
        batch_th.alias("x")
        .join(
            batch_th.alias("y"),
            (F.col("x.b_text_hash") == F.col("y.b_text_hash"))
            & (F.col("x.b_id") < F.col("y.b_id")),
        )
        .filter(F.col("x.b_text") == F.col("y.b_text"))
        .select(F.col("y.b_id").alias(ID_COL))
    )
    batch_near_cand = band_pairs(batch_bands, ("band_id", "band_hash"))
    batch_near_kill = (
        _verify_candidate_pairs(batch_sh, batch_near_cand, DUP_THRESHOLD)
        .select(F.col("doc_b").alias(ID_COL))
        .distinct()
    )

    kills = (
        exact_kill.union(near_kill)
        .union(batch_exact_pairs)
        .union(batch_near_kill)
        .distinct()
    )
    survivors = batch.select(ID_COL).join(kills, ID_COL, "left_anti")
    # Survivor index rows (the ingest loop's persistent-index append)
    # derived from the ALREADY-CACHED batch bands + text hashes — without
    # this, callers re-run the whole shingle→signature→band pipeline on
    # survivors just to index them (measured: doubles per-batch cost in
    # the streaming ingest loop).
    surv_index = batch_bands.join(survivors, ID_COL, "left_semi").join(
        batch_th.select(
            F.col("b_id").alias(ID_COL), F.col("b_text_hash").alias("text_hash")
        ),
        ID_COL,
    )
    return survivors, surv_index


# --- Portable Bloom-filter decontamination -----------------------------
#
# The 100 TB path for benchmark decontamination: instead of joining train
# shingles against the eval shingle SET (decontaminate_overlap — right at
# small eval sizes, but the eval relation is reshuffled per run), compress
# the eval set into an m-bit Bloom filter ONCE and probe it with a
# broadcast join against a 2048-row bit-word relation. The filter is built
# from the PORTABLE polynomial shingle hash with double hashing
# (pos_j = (h1 + j·h2) mod m), all exact integer arithmetic — so unlike
# engine-native sketches the whole pipeline replays bit-for-bit in a SQL
# oracle: no false negatives BY CONSTRUCTION, and even the false
# positives are deterministic and cross-engine identical.
BLOOM_M_BITS = 65_536       # m: filter size (2^16 bits = 2048 32-bit words)
BLOOM_K = 4                 # k: probes per item
_BLOOM_WORD_BITS = 32       # 32-bit words keep every mask < 2^63 (signed-safe)


def _bloom_probe_cols(h: F.Column) -> list[tuple[F.Column, F.Column]]:
    """(word_idx, mask) for each of the k probe positions of hash ``h``."""
    m = BLOOM_M_BITS
    h1 = h % m
    # floor division written as subtract-remainder-then-divide: m is a
    # power of two, so the double division is a pure exponent shift —
    # bit-exact for any h < 2^53 (portable hash < 2^50)
    h_div_m = ((h - h1) / m).cast("long")
    h2 = (h_div_m % (m // 2)) * 2 + 1  # odd stride → k distinct positions
    out = []
    for j in range(BLOOM_K):
        pos = (h1 + F.lit(j) * h2) % m
        word = ((pos - pos % _BLOOM_WORD_BITS) / _BLOOM_WORD_BITS).cast("long")
        # shiftleft() takes only literal bit counts; 2^n via pow is exact
        # in double for n ≤ 31 (32-bit words are chosen for exactly this)
        mask = F.pow(F.lit(2.0), (pos % _BLOOM_WORD_BITS).cast("int")).cast("long")
        out.append((word, mask))
    return out


def decontaminate_bloom(train: DataFrame, evals: DataFrame) -> DataFrame:
    """Train docs whose distinct shingles hit the eval Bloom filter ≥
    ``MIN_OVERLAP`` times: (train_id, n_flagged).

    Build: eval shingles → portable hash → k (word, mask) rows → one
    ``bit_or`` aggregation into ≤2048 words. Probe: distinct train
    (doc, hash) → k probe rows → broadcast join on word → a shingle is
    flagged iff ALL k probes find their bit set. Flagged counts ≥
    Jaccard-true overlaps always (no false negatives); false positives
    are the documented Bloom trade and deterministic here.
    """

    def hashed(df: DataFrame) -> DataFrame:
        # cached: the k probe arms below union k copies of this relation,
        # which would otherwise re-run the shingle explode + per-char
        # polynomial hash fold once per arm (measured ~2× on the train
        # side at sf0.1)
        return _cache(
            shingles(df).select(
                F.col(ID_COL),
                char_fold_hash("shingle", PORTABLE_HASH_MOD).alias("h"),
            )
        )

    ev = hashed(evals)
    eval_probes = [
        ev.select(w.alias("word"), mk.alias("mask"))
        for w, mk in _bloom_probe_cols(F.col("h"))
    ]
    all_probes = eval_probes[0]
    for p in eval_probes[1:]:
        all_probes = all_probes.unionByName(p)
    bloom = all_probes.groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))

    tr = hashed(train).distinct()
    probe_parts = [
        tr.select(F.col(ID_COL), F.col("h"), w.alias("word"), mk.alias("mask"))
        for w, mk in _bloom_probe_cols(F.col("h"))
    ]
    probes = probe_parts[0]
    for p in probe_parts[1:]:
        probes = probes.unionByName(p)
    hits = (
        probes.join(F.broadcast(bloom), "word")
        .filter(F.col("bits").bitwiseAND(F.col("mask")) != 0)
        .groupBy(ID_COL, "h")
        .agg(F.count("*").alias("_k_hit"))
        .filter(F.col("_k_hit") == BLOOM_K)
    )
    return (
        hits.groupBy(ID_COL)
        .agg(F.count("*").alias("n_flagged"))
        .filter(F.col("n_flagged") >= MIN_OVERLAP)
        .select(F.col(ID_COL).alias("train_id"), "n_flagged")
    )


def delete_from_index(index: DataFrame, deletes: DataFrame) -> DataFrame:
    """Right-to-be-forgotten maintenance for a persisted dedup index:
    drop every (band/text-hash) row belonging to a deleted document.
    One broadcast anti-join — the delete list is always small relative
    to a 100 TB index. The gold-standard correctness contract (checked
    by ``delete_propagate_index``): the result must EQUAL the index
    rebuilt from scratch on the surviving corpus."""
    return index.join(F.broadcast(deletes.select(ID_COL)), ID_COL, "left_anti")


def duplicated_tile_spans(df: DataFrame) -> DataFrame:
    """Exact-substring duplication accounting (the distributed variant of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": find byte ranges whose content recurs verbatim anywhere in
    the corpus, the suffix-array ExactSubstr recipe re-expressed as
    relational algebra).

    Tile anchoring replaces the suffix array: every document is covered
    by ``TILE_LEN``-char windows at ``STRIDE`` offsets (STRIDE <
    TILE_LEN ⇒ overlapping, so any verbatim repeat of length ≥
    TILE_LEN + STRIDE - 1 is guaranteed to contain at least one aligned
    tile occurring ≥ 2× corpus-wide). A tile whose content occurs ≥ 2
    times ANYWHERE (other docs or self-repetition — both count, as in
    the paper) marks its range duplicated; overlapping marked ranges are
    merged per document with the classic prev-max-end island scan, and
    the per-doc duplicated-char total and fraction come out of the
    merged spans.

    Scale shape (100 TB): the tile relation is one generate-per-row map
    (no text carried past the projection); duplicate detection is ONE
    hash aggregation on the tile content with map-side partial counts
    (a boilerplate tile repeated in millions of docs combines before the
    shuffle); the island merge windows on ``ID_COL`` — per-document
    cardinality, never a hot key. Returns one row per input document
    (zero-duplication docs included, dup_frac = 0).
    """
    spans_src = df.select(
        F.col(ID_COL),
        F.length(TEXT_COL).alias("_n"),
        F.when(
            F.length(TEXT_COL) >= TILE_LEN,
            F.expr(
                f"transform(sequence(1, length({TEXT_COL}) - {TILE_LEN - 1},"
                f" {STRIDE}), i -> struct(i AS p,"
                f" substring({TEXT_COL}, i, {TILE_LEN}) AS tile))"
            ),
        ).otherwise(F.array()).alias("_tiles"),
    )
    tiles = _cache(
        spans_src.select(
            F.col(ID_COL), F.explode("_tiles").alias("t")
        ).select(F.col(ID_COL), F.col("t.p").alias("p"), F.col("t.tile").alias("tile"))
    )
    dup = (
        tiles.groupBy("tile")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= 2)
        .select("tile")
    )
    hits = tiles.join(dup, "tile").select(F.col(ID_COL), "p")

    w_prev = (
        Window.partitionBy(ID_COL)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(ID_COL)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        hits.withColumn("_prev_end", F.max(F.col("p") + TILE_LEN).over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev_end").isNull() | (F.col("p") > F.col("_prev_end")), 1
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_new").over(w_cum))
    )
    spans = islands.groupBy(ID_COL, "_island").agg(
        F.min("p").alias("_s"), (F.max("p") + TILE_LEN).alias("_e")
    )
    per_doc = spans.groupBy(ID_COL).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("_e") - F.col("_s")).alias("dup_chars"),
    )
    return (
        df.select(F.col(ID_COL), F.length(TEXT_COL).alias("_n"))
        .join(per_doc, ID_COL, "left")
        .select(
            F.col(ID_COL),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0)).cast("double") / F.col("_n"), 6
            ).alias("dup_frac"),
        )
    )


def ngram_containment_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """ASYMMETRIC near-duplication by shingle containment:
    C(A⊂B) = |A∩B| / |A| — the template/boilerplate relation Jaccard
    misses. A 50-shingle licence block fully embedded in a 5000-shingle
    page has C = 1.0 but Jaccard ≈ 0.01: containment is the measure
    RefinedWeb/C4-style template removal and train-test contamination
    audits actually need (a test document CONTAINED in a training page
    is contamination regardless of the page's extra bulk).

    Emits each unordered pair (doc_a < doc_b) whose larger directed
    containment clears ``threshold``, with BOTH directions reported.
    Same plan shape and cost as ``ngram_jaccard_pairs`` (shingle
    self-join, cached three-consumer relation); the MinHash/LSH
    candidate route composes identically at 100 TB — banding recalls by
    Jaccard, so for small-in-large containment pairs the production
    path lowers the LSH threshold and verifies containment exactly on
    candidates.
    """
    return containment_from_pair_counts(
        shingle_pair_counts(shingles(df)), threshold
    )


def containment_on_candidates(
    df: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle containment verified ONLY on a candidate pair
    relation ``cand`` (columns doc_a < doc_b) — the production
    composition ``ngram_containment_pairs``'s docstring promises at
    100 TB, made executable: an LSH banding (or any other blocker)
    proposes candidates, and containment is computed exactly per
    candidate from the two docs' shingle SETS.

    Why this beats a df-cap on the shingle self-join: the self-join's
    cost is Σ df² over shingles. In a Zipf-tailed real corpus a df-cap
    prunes that sum cheaply; in a closed-vocabulary corpus (measured
    round 10 on the synthetic documents table: 27k shingles at sf0.1,
    median df 9, max 25 — and the sf10 tier's 20 rotation-replicas
    multiply EVERY df by ~20) the bulk, not the tail, carries the
    quadratic term, so any cap either does nothing or voids the
    detector. Verifying on candidates makes the cost
    |cand| × shingles-per-doc instead — nothing scales with df at all.

    Plan shape: one shingle pass folded to per-doc arrays (collect_set
    after the distinct-shingle explode), two hash joins of the pair
    list against those arrays, intersection sizes via array_intersect
    — all JVM Column expressions, candidate-bounded end to end.
    """
    sets_ = shingles(df).groupBy(ID_COL).agg(F.collect_set("shingle").alias("sh"))
    a = sets_.select(F.col(ID_COL).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col(ID_COL).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = inter / F.size("sh_a").cast("double")
    c_ba = inter / F.size("sh_b").cast("double")
    return (
        cand.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .filter((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
    )
