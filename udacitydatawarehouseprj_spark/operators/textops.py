"""Text-analysis operators for training-data pipelines.

Beyond-reference operators (BASELINE.json north star) over a
``documents(doc_id, text, lang, source, n_chars)`` table: token counting,
quality scoring, n-gram-heuristic language ID, and rolling-hash document
fingerprinting.

All pure Column expressions (split/filter/transform/aggregate — Catalyst
higher-order functions), evaluated inside codegen; zero Python UDFs, so
the per-document cost is JVM-vectorized and the only shuffles are the
final aggregations (fingerprint) or none at all (per-doc maps).

Determinism: ratios are single IEEE divisions of exact integer counts —
identical across engines, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: marker stopwords per language for the n-gram/stopword-heuristic lang-ID.
#: Checked in this order; ties resolve to the earlier language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
}

FINGERPRINT_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
FINGERPRINT_WINDOW = 64


def _toks(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token counting + length stats per document."""
    toks = _toks(text_col)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_tokens = F.size(toks)
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("int").alias("n_chars"),
        n_tokens.cast("int").alias("n_tokens"),
        tok_chars.cast("int").alias("n_token_chars"),
        (tok_chars.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document quality: alpha ratio, whitespace ratio, digit
    ratio, mean word length band — the length/punct/stopword-ratio family
    of quality filters used by corpus-cleaning pipelines."""
    text = F.col(text_col)
    n = F.length(text)
    alpha = n - F.length(F.regexp_replace(text, "[A-Za-z]", ""))
    digit = n - F.length(F.regexp_replace(text, "[0-9]", ""))
    space = n - F.length(F.regexp_replace(text, " ", ""))
    toks = _toks(text_col)
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "in")))
    n_tokens = F.size(toks)
    alpha_ratio = alpha.cast("double") / n.cast("double")
    digit_ratio = digit.cast("double") / n.cast("double")
    space_ratio = space.cast("double") / n.cast("double")
    stop_ratio = stop.cast("double") / n_tokens.cast("double")
    return df.select(
        F.col(id_col),
        alpha_ratio.alias("alpha_ratio"),
        digit_ratio.alias("digit_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stop_ratio"),
        # composite: favor alphabetic, lightly penalize digits; the exact
        # weights are illustrative — the operator shape is what matters
        (alpha_ratio - digit_ratio).alias("quality_score"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic).

    Counts language-marker tokens per language and takes the argmax with a
    deterministic precedence (en > es > de > fr); no markers → 'und'
    (undetermined). A real pipeline would use character n-gram profiles —
    the operator surface (per-doc scoring + argmax) is identical.
    """
    toks = _toks(text_col)

    def marker_count(markers: tuple[str, ...]) -> Column:
        # single-arg lambda: F.filter treats a second parameter as the
        # element index, so the marker tuple must be closed over, not
        # passed as a defaulted argument
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    counts = {lang: marker_count(m) for lang, m in LANG_MARKERS.items()}
    c_en, c_es, c_de, c_fr = (counts[x] for x in ("en", "es", "de", "fr"))
    best = (
        F.when((c_en + c_es + c_de + c_fr) == 0, F.lit("und"))
        .when((c_en >= c_es) & (c_en >= c_de) & (c_en >= c_fr), F.lit("en"))
        .when((c_es >= c_de) & (c_es >= c_fr), F.lit("es"))
        .when(c_de >= c_fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.select(
        F.col(id_col),
        c_en.cast("int").alias("n_en"),
        c_es.cast("int").alias("n_es"),
        c_de.cast("int").alias("n_de"),
        c_fr.cast("int").alias("n_fr"),
        best.alias("lang_pred"),
    )


def fingerprint_rolling(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Position-weighted rolling-hash fingerprint, SQL-portable variant:
    sum over characters of code(c_i) * ((i-1) mod 64 + 1), mod 2^31-1.

    Computed as a single per-row ``aggregate`` fold over the character
    positions — a pure projection with NO explode and NO shuffle (an
    earlier explode+groupBy version shuffled one row per character; the
    fold is the right shape at corpus scale). The running sum stays far
    below 2^63 (max code 0x10FFFF × weight 64 per char → overflow needs
    ~10^12-char documents), so one final mod suffices and matches the
    DuckDB oracle's list_sum arithmetic exactly. For production-scale
    fingerprinting use ``fingerprint_fast`` — one xxhash64 expression.
    """
    from udacitydatawarehouseprj_spark.session import spread

    fold = F.expr(
        f"aggregate(sequence(1, length({text_col})), 0L,"
        f" (acc, i) -> acc + CAST(ascii(substring({text_col}, i, 1)) AS BIGINT)"
        f" * (((i - 1) % {FINGERPRINT_WINDOW}) + 1))"
    )
    # empty text → NULL, matching the oracle's list_sum([]) (and dodging
    # Spark's sequence(1, 0) = [1, 0] descending-sequence surprise)
    return spread(df).select(
        F.col(id_col),
        F.when(F.length(F.col(text_col)) > 0, fold % FINGERPRINT_MOD)
        .alias("fingerprint"),
    )


def fingerprint_fast(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Engine-native fingerprint: xxhash64 of the text — the right tool at
    100 TB (single expression, no explode, no shuffle)."""
    return df.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("fingerprint"))


def trigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-trigram language-model score per doc: train trigram
    frequencies on the corpus itself (one pass), then score each doc by
    the mean log-probability of its trigrams — the self-supervised
    'perplexity filter' that drops boilerplate/garbage before expensive
    model-based scoring.

    Two aggregations: (1) global trigram counts (map-side partial, the
    model is |V|³-bounded and broadcast back), (2) per-doc mean over an
    equi-join of doc trigrams to the model. No Python anywhere; the
    trigram explode is a codegen'd sequence/substring expression.

    Determinism: every scored trigram exists in the model (trained on
    the same corpus) so ln() never sees 0; per-trigram log-probs are
    rounded to 6 before an exact DECIMAL sum so accumulation order
    can't drift the mean.
    """
    from udacitydatawarehouseprj_spark.session import spread

    # CASE guard: sequence(1, 0) descends in Spark — docs shorter than 3
    # chars must contribute zero trigrams, as the oracle's range() does
    tri = F.expr(
        f"CASE WHEN length({text_col}) >= 3 THEN"
        f" transform(sequence(1, length({text_col}) - 2),"
        f" i -> substring({text_col}, i, 3))"
        f" ELSE CAST(array() AS array<string>) END"
    )
    # One explode pass reduced immediately to per-(doc, gram) counts:
    # map-side combine collapses the raw gram stream (|docs|·|chars| rows)
    # to distinct pairs before anything shuffles. The model and the
    # scoring both derive from this small relation (cached — it is read
    # twice), and the scoring join carries a count-weighted row per
    # DISTINCT doc-gram instead of one row per occurrence.
    from udacitydatawarehouseprj_spark.session import track_cache

    doc_gram = track_cache(
        spread(df, (id_col,))
        .select(F.col(id_col), F.explode(tri).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
    )
    model = doc_gram.groupBy("gram").agg(F.sum("c").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    # logp·c in exact decimal ≡ summing c per-occurrence copies, so the
    # result is bit-identical to the unweighted per-occurrence sum.
    logp = F.round(
        F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 6
    ).cast("decimal(18,6)")
    scored = (
        doc_gram.join(F.broadcast(model), "gram")
        .join(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("c"),
            (logp * F.col("c").cast("decimal(12,0)")).alias("logp_c"),
        )
    )
    return scored.groupBy(id_col).agg(
        (
            F.round(F.sum("logp_c"), 4).cast("decimal(18,4)").cast("double")
            / F.sum("c")
        ).alias("mean_logp"),
        F.sum("c").cast("long").alias("n_grams"),
    )


# --- PII redaction -----------------------------------------------------
#
# Regex patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): char classes, bounded repetition, no
# backrefs/lookaround. Redaction order matters and is fixed:
# email → IPv4 → phone (an email can contain digits/dots; redacting it
# first keeps the IP/phone counts from double-counting inside it).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE_RE = r"\d{3}-\d{3,4}-\d{4}"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Detect-and-mask PII (emails, IPv4 addresses, phone-shaped numbers).

    The scrubbing stage every training-data pipeline runs before text
    lands in a corpus. Pure codegen'd Column expressions — a per-row map
    with zero shuffles, so at 100 TB it runs at scan speed fused into
    whatever else the pass does (no extra stage, no Python).

    Counts are taken BEFORE masking; masks applied in the fixed
    email → ip → phone order.
    """
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    n_ips = F.regexp_count(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), F.lit(PII_IPV4_RE)
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    n_phones = F.regexp_count(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
        ),
        F.lit(PII_PHONE_RE),
    )
    return df.select(
        F.col(id_col),
        redacted.alias("redacted"),
        n_emails.cast("int").alias("n_emails"),
        n_ips.cast("int").alias("n_ips"),
        n_phones.cast("int").alias("n_phones"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-2-gram repetition metrics (the Gopher/C4-family
    repetition filters: a document whose mass concentrates in few
    repeated n-grams is boilerplate/spam).

    dup_2gram_frac  = 1 − distinct/total 2-grams
    top_2gram_frac  = occurrences of the most frequent 2-gram / total

    Shape: explode the (non-distinct) 2-gram stream, then ONE two-level
    aggregation — (doc, gram) counts combine map-side before the single
    doc_id shuffle, so the shuffled volume is per-doc-distinct grams, not
    the raw token stream. No self-joins, no windows.
    """
    from udacitydatawarehouseprj_spark.session import spread

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size("_toks") >= 2,
        F.expr(
            "transform(sequence(1, size(_toks) - 1),"
            " i -> array_join(slice(_toks, i, 2), ' '))"
        ),
    ).otherwise(F.array())
    per_gram = (
        spread(df, (id_col,))
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
    )
    total = F.sum("c").cast("double")
    return per_gram.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_2grams"),
        F.count("*").cast("long").alias("n_distinct_2grams"),
        (F.lit(1.0) - F.count("*").cast("double") / total).alias(
            "dup_2gram_frac"
        ),
        (F.max("c").cast("double") / total).alias("top_2gram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the context-window preparation step of a training pipeline.

    Chunks start every ``stride = size - overlap`` characters; the tail
    chunk may be shorter. Pure generate-and-project: sequence → explode
    → substring, all codegen'd Column expressions — zero shuffles, and
    the explode multiplies rows ~len/stride× WITHOUT materializing the
    text per chunk until the final substring projection. Chunk index is
    derived arithmetically from the start offset ((start−1)/stride), so
    the output is a pure function of (doc, offsets) — stable under any
    partitioning.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)),
        F.lit(stride),
    )
    chunk = F.col(text_col).substr(F.col("_start"), F.lit(size))
    return (
        df.select(F.col(id_col), F.col(text_col),
                  F.explode(starts).alias("_start"))
        .select(
            F.col(id_col),
            ((F.col("_start") - 1) / stride).cast("int").alias("chunk_idx"),
            chunk.alias("chunk_text"),
            F.length(chunk).cast("int").alias("n_chunk_chars"),
        )
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Frequency-ranked vocabulary with dense ids (token → id mapping).

    Explode → per-token partial counts (map-side combine collapses the
    token stream before the one shuffle) → deterministic rank by
    (count DESC, token ASC) → top_n. The final rank is a single-
    partition window — correct here because it runs over the POST-AGG
    distinct-token relation, already cut by ``min_count``; at 100 TB
    raise min_count (head tokens dominate training vocabularies anyway)
    so the ranked relation stays millions, not billions. Ids are dense
    0..top_n−1 in rank order, as tokenizers expect.
    """
    from udacitydatawarehouseprj_spark.session import spread

    toks = _toks(text_col)
    counts = (
        spread(df.select(F.col(text_col)), ())
        .select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    from pyspark.sql.window import Window as W

    rank = F.row_number().over(
        W.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    )
    return (
        counts.select("token", "n_occurrences", rank.alias("_r"))
        .filter(F.col("_r") <= top_n)
        .select(
            (F.col("_r") - 1).cast("int").alias("token_id"),
            "token",
            "n_occurrences",
        )
    )


def _bpe_word_seqs(
    df: DataFrame, text_col: str, max_token_chars: int
) -> DataFrame:
    """Distinct lowercase words with occurrence counts, each rendered as
    a sentinel-padded space-separated symbol sequence (' a b c ') so
    merge rewrites can match symbol boundaries literally."""
    from udacitydatawarehouseprj_spark.session import spread

    return (
        spread(df.select(F.col(text_col)), ())
        .select(F.explode(_toks(text_col)).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= max_token_chars))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("w"), ""), " "),
                F.lit(" "),
            ).alias("seq"),
            "n",
        )
    )


def _bpe_pair_counts(corpus: DataFrame) -> DataFrame:
    """Corpus-wide adjacent-symbol pair counts (l, r, cnt) — explode +
    map-side-combined groupBy, one shuffle of (pair, count) partials."""
    syms = F.split(F.trim(F.col("seq")), " ")
    return (
        corpus.select(
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "n",
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").alias("cnt"))
    )


def _bpe_apply_merge(col, l: str, r: str):
    """One greedy left-to-right merge rewrite on a sentinel-padded
    sequence column. Literal spaces make overlap impossible at the match
    site, but regexp_replace consumes the trailing space — run twice to
    catch odd/even alternations."""
    out = F.regexp_replace(col, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    return F.regexp_replace(out, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_token_chars: int = 12,
) -> "DataFrame":
    """Learn byte-pair-encoding merges from a corpus — the tokenizer-
    training loop, Spark-shaped.

    Each word is a space-separated symbol sequence (padded with
    sentinel spaces); one merge round = (1) count adjacent symbol
    pairs corpus-wide — explode + map-side-combined groupBy, ONE
    shuffle of (pair, count) partials, (2) pick the winner by
    (count DESC, pair ASC) — a 1-row driver collect, the same
    tiny-state driver loop as iterative k-means (centroids there, one
    winning pair here), (3) rewrite sequences with a single
    ``replace`` — non-overlapping left-to-right, exactly greedy BPE.
    The corpus stays distributed throughout; only the argmax row ever
    reaches the driver. Each round's rewritten corpus is cached and
    the previous round's cache released (at 100 TB: checkpoint every
    few rounds so the lineage doesn't deepen linearly in n_merges).

    Words are weighted by occurrence count — the pair count shuffle
    carries DISTINCT words, not the token stream (corpus vocabulary is
    Zipfian: distinct words ≪ tokens). ``max_token_chars`` bounds the
    symbol alphabet per word. Returns (merge_idx, left_sym, right_sym,
    pair_count) — the ordered merge table a BPE tokenizer ships.
    """
    spark = df.sparkSession
    corpus = _bpe_word_seqs(df, text_col, max_token_chars).cache()
    merges = []
    try:
        for i in range(n_merges):
            pairs = _bpe_pair_counts(corpus)
            best = (
                pairs.orderBy(
                    F.col("cnt").desc(), F.col("l"), F.col("r")
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
            merges.append((i, l, r, cnt))
            nxt = corpus.select(
                _bpe_apply_merge(F.col("seq"), l, r).alias("seq"), "n"
            ).cache()
            nxt.count()  # materialize before dropping the parent cache
            corpus.unpersist()
            corpus = nxt
    finally:
        corpus.unpersist()
    return spark.createDataFrame(
        merges, "merge_idx int, left_sym string, right_sym string, pair_count bigint"
    )


def bpe_learn_merges_batched(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_token_chars: int = 12,
    batch: int = 4,
) -> "DataFrame":
    """``bpe_learn_merges`` with B-fold fewer driver round-trips —
    IDENTICAL output to the sequential form, by construction.

    Per round, ONE pair-count job collects the top ``4·batch`` pairs
    (sorted count DESC, l, r — the sequential tie-break) and accepts the
    longest PREFIX whose pairs are pairwise symbol-disjoint, truncated
    to counts strictly above the first rejected/unfetched count. That
    prefix provably replays sequential greedy BPE:

    * accepted pairs are mutually disjoint, so earlier batch merges
      change neither the counts nor the occurrences of later ones;
    * any pair OVERLAPPING an accepted pair sorts strictly below every
      accepted pair (else the prefix would have stopped there), and a
      merge only decreases overlapping pairs' counts;
    * a NEW pair created by merging (l,r) — (x,lr) or (lr,y) — has
      count ≤ the old (x,l) / (r,y) count, which overlaps (l,r) and is
      therefore also strictly below every accepted count.

    So at each accepted step the global argmax is exactly that step's
    pair, ties included. Each round applies its whole batch as one
    chained projection (one job), cutting driver round-trips and corpus
    rewrites ~``batch``-fold: 30k merges become ~30k/B jobs — the
    real-vocab-size form of the trainer. A round that can safely accept
    only 1 pair (adjacent-count ties, overlapping top pairs) degrades
    to the sequential behavior rather than diverging from it.
    """
    spark = df.sparkSession
    corpus = _bpe_word_seqs(df, text_col, max_token_chars).cache()
    merges: list[tuple[int, str, str, int]] = []
    try:
        while len(merges) < n_merges:
            want = n_merges - len(merges)
            fetch_k = max(4 * batch, batch + 1)
            top = (
                _bpe_pair_counts(corpus)
                .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
                .limit(fetch_k)
                .collect()
            )
            if not top:
                break
            used: set[str] = set()
            accepted: list[tuple[str, str, int]] = []
            for row in top:
                l, r, cnt = row["l"], row["r"], int(row["cnt"])
                if len(accepted) >= min(batch, want) or {l, r} & used:
                    break
                accepted.append((l, r, cnt))
                used.update((l, r))
            # overlap ceiling M: the largest count any merge in this
            # batch could hand to a new/changed pair — i.e. the max
            # count among non-accepted pairs sharing a symbol with the
            # accepted set (unfetched pairs bounded by the fetch tail).
            # Accepted steps must sit STRICTLY above M, or an equal-
            # count new pair could win a lexicographic tie sequentially.
            m_ceiling = -1
            for row in top[len(accepted):]:
                if {row["l"], row["r"]} & used:
                    m_ceiling = max(m_ceiling, int(row["cnt"]))
            if len(top) == fetch_k:
                m_ceiling = max(m_ceiling, int(top[-1]["cnt"]))
            while len(accepted) > 1 and accepted[-1][2] <= m_ceiling:
                dropped = accepted.pop()
                used.difference_update((dropped[0], dropped[1]))
            for l, r, cnt in accepted:
                merges.append((len(merges), l, r, cnt))
            col = F.col("seq")
            for l, r, _ in accepted:
                col = _bpe_apply_merge(col, l, r)
            nxt = corpus.select(col.alias("seq"), "n").cache()
            nxt.count()
            corpus.unpersist()
            corpus = nxt
    finally:
        corpus.unpersist()
    return spark.createDataFrame(
        merges, "merge_idx int, left_sym string, right_sym string, pair_count bigint"
    )


def normalize_nfc(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode NFC normalization + control-char strip + whitespace
    collapse — the canonicalization pass a crawl corpus runs before any
    hashing/dedup (bytes that LOOK identical must BE identical, or exact
    dedup silently misses composed-vs-decomposed duplicates).

    Pipeline (identical on the DuckDB oracle side via ``nfc_normalize``
    + RE2 ``regexp_replace`` — the character classes are spelled with
    explicit ranges so Python ``re`` and RE2 agree):

    1. NFC-compose (UAX #15 — ``unicodedata`` here, utf8proc in DuckDB);
    2. strip C0 controls + DEL, except TAB/LF/CR
       (``[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]``);
    3. collapse ``[ \\t\\n\\r]+`` runs to one space; strip ends.

    Scale: Arrow-batched ``mapInPandas`` — the ONE legitimate Python
    spot (Spark has no NFC builtin); one streaming pass, zero shuffles,
    output hashed/measured JVM-side. Returns (id, n_chars_norm,
    changed, norm_hash).
    """
    import re as _re
    import unicodedata

    ctrl = _re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    ws = _re.compile("[ \t\n\r]+")

    def norm_one(t: str) -> str:
        return ws.sub(" ", ctrl.sub("", unicodedata.normalize("NFC", t))).strip()

    def batches(it):
        import pandas as pd

        for pdf in it:
            norm = pdf[text_col].map(norm_one)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "norm_text": norm,
                    "changed": norm.ne(pdf[text_col]),
                }
            )

    out = df.select(id_col, text_col).mapInPandas(
        batches, schema=f"{id_col} long, norm_text string, changed boolean"
    )
    return out.select(
        F.col(id_col),
        F.length("norm_text").cast("long").alias("n_chars_norm"),
        F.col("changed"),
        F.md5(F.col("norm_text").cast("binary")).alias("norm_hash"),
    )


#: DSIR hashed-feature space size. Bounded BY CONSTRUCTION: the weight
#: table can never exceed this many rows, so it broadcasts at any corpus
#: size — the importance model's memory is O(B), not O(corpus).
DSIR_BUCKETS = 4096


def dsir_doc_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: Sequence[str] = ("lang",),
) -> DataFrame:
    """Hashed-bigram feature counts per (doc, bucket) — the shared input
    relation for DSIR importance weighting (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    lowercase whitespace tokens → adjacent-pair bigram strings → portable
    char-fold hash (dedup.char_fold_hash — bit-identical in
    any int64 engine) → bucket = h % DSIR_BUCKETS.

    ONE explode pass over the corpus and ONE doc-key shuffle; every
    downstream DSIR statistic (raw counts, target counts, per-doc
    scores) derives from this relation, which is bounded by
    n_docs × min(n_bigrams, B) rows.
    """
    from udacitydatawarehouseprj_spark.operators.dedup import (
        PORTABLE_HASH_MOD,
        char_fold_hash,
    )

    base = df.select(id_col, *extra_cols, _toks(text_col).alias("_toks"))
    # CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than
    # returning empty — single-token docs must yield zero bigrams, as
    # DuckDB's range(1, 1) = [] does on the oracle side
    bigrams = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN"
        " transform(sequence(1, size(_toks) - 1),"
        " i -> concat(_toks[i-1], ' ', _toks[i]))"
        " ELSE CAST(array() AS array<string>) END"
    )
    exploded = (
        base.select(id_col, *extra_cols, F.explode(bigrams).alias("bg"))
        .withColumn("h", char_fold_hash("bg", PORTABLE_HASH_MOD))
        .withColumn("bucket", (F.col("h") % DSIR_BUCKETS).cast("int"))
    )
    return exploded.groupBy(id_col, *extra_cols, "bucket").agg(
        F.count("*").alias("cnt")
    )
