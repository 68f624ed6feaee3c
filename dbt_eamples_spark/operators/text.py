"""Text-analysis operators over the ``documents`` table (SURVEY.md
§2.11 / BASELINE.json north-star: language-ID, quality scoring, token
counting, fingerprinting).

All pure built-in expressions (whole-stage codegen, no UDFs) so they
scale linearly with document count: every operator is a narrow
per-row map over a column-pruned parquet scan — zero shuffles except
where a groupBy is the semantics (fingerprint dup-count).

Portability contract with the DuckDB oracle: tokenization is
``split(lower(text), '\\s+')``, hashes are md5 hex (identical in
every engine), ratios are rounded at 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_eamples_spark.artifacts import (
    corpus_fingerprint,
    load_or_build,
    session_cached,
)
from dbt_eamples_spark.catalog import load_table

# tiny per-language stopword lists for the n-gram/stopword vote
# (deterministic heuristic; the fixture's `lang` label is synthetic
# so the predicted language is a function of the text, not a model)
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "la", "que", "los", "una"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "les", "des", "une", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def _tokens_col():
    return F.split(F.lower(F.col("text")), r"\s+")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + char stats per document.

    Tokens materialize in their own projection (referenced 3×
    below; keeps CollapseProject from re-running the regex split
    per reference)."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", "text", _tokens_col().alias("toks"))
    return tokd.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        F.round(
            F.length(F.regexp_replace("text", r"\s+", ""))
            / F.size("toks"),
            6,
        ).alias("avg_token_len"),
    )


def _lang_hits(lang: str):
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(F.col("text")), F.lit(pat))


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword vote: count per-language stopword
    hits, argmax with a fixed priority order (en>es>de>fr>zh) for
    ties. Deterministic, model-free, vectorized."""
    docs = load_table(spark, sf_dir, "documents")
    hits = {lang: _lang_hits(lang) for lang in LANG_STOPWORDS}
    df = docs.select("doc_id", "lang", *[h.alias(f"{k}_hits") for k, h in hits.items()])
    order = list(LANG_STOPWORDS)
    pred = F.lit(None)
    # build argmax from lowest priority upward so earlier langs win ties
    for lang in reversed(order):
        cond = None
        for other in order:
            if other == lang:
                continue
            c = (
                F.col(f"{lang}_hits") >= F.col(f"{other}_hits")
                if order.index(other) > order.index(lang)
                else F.col(f"{lang}_hits") > F.col(f"{other}_hits")
            )
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        F.col("en_hits").cast("long").alias("en_hits"),
    )


def _quality_frame(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc quality signals, optionally carrying extra columns
    (used by the per-source rollup so no corpus self-join is
    needed)."""
    docs = docs.select(
        "doc_id", "text", F.size(_tokens_col()).alias("_nt"), *extra_cols
    )
    n_tokens = F.col("_nt")
    punct = F.regexp_count(F.col("text"), F.lit(r"[.,!?;:]"))
    stop_hits = _lang_hits("en")
    return docs.select(
        "doc_id",
        *extra_cols,
        n_tokens.alias("n_tokens"),
        F.round(punct / F.greatest(F.length("text"), F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            0.4 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
            + 0.3 * (1.0 - F.least(punct / F.greatest(F.length("text"), F.lit(1)) * 10.0, F.lit(1.0)))
            + 0.3 * F.least(stop_hits / F.greatest(n_tokens, F.lit(1)) * 5.0, F.lit(1.0)),
            6,
        ).alias("quality_score"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / punctuation / stopword ratios —
    the standard pre-training corpus filter signals."""
    return _quality_frame(load_table(spark, sf_dir, "documents"))


def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: the domain-level view a curation
    pipeline uses to drop or down-weight WHOLE sources (a spam
    domain is cheaper to kill once than doc-by-doc). One groupBy on
    `source`; the mean quality accumulates in fixed-point (the
    per-doc score is already rounded at 6 decimals, so ×1e6 is
    integral and the bigint sum is order-independent — the same
    cross-engine determinism trick as the k-means means; a double
    sum would be partitioning-dependent)."""
    q = _quality_frame(
        load_table(spark, sf_dir, "documents"), extra_cols=("source", "lang")
    )
    qfix = F.round(F.col("quality_score") * 1_000_000).cast("long")
    return (
        q.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 4
            ).alias("avg_tokens"),
            F.round(
                (F.sum(qfix).cast("double") / F.count("*")) / F.lit(1_000_000.0),
                6,
            ).alias("avg_quality"),
        )
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction (1 - distinct/total) and the fraction of word-bigram
    slots taken by the single most frequent bigram. High values mark
    boilerplate/spam ("click here click here ...") that per-doc
    length/stopword scores (text_quality_score) miss.

    Shape: one narrow gram-explode, a (doc, bigram) count with
    map-side combine, then a per-doc max — two shuffles, both
    keyed on doc_id(+bigram), skew-free. The bigram mode can't be a
    higher-order-function fold (no CSE across lambda elements —
    catalyst pitfall #1), so it goes row-wise like the MinHash
    signature pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", _tokens_col().alias("toks"))
    base = tokd.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        "toks",
    )
    big_ids = F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1)))
    bigrams = base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.explode_outer(
            F.transform(
                big_ids, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2))
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "n_tokens", "n_distinct", "bg")
        .count()
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(F.max("count").alias("top_bg"))
    )
    return top.select(
        "doc_id",
        F.round(F.lit(1) - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "dup_word_frac"
        ),
        F.round(
            F.col("top_bg") / F.greatest(F.col("n_tokens") - 1, F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pre-tokenization regex —
    the cheap deterministic proxy for LLM token budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
        F.size(_tokens_col()).alias("n_ws_tokens"),
    )


# Winnowing parameters: char-k-gram hashes, window of w consecutive
# hashes, keep each window's minimum (Schleimer/Wilkerson/Aiken
# "Winnowing: Local Algorithms for Document Fingerprinting", 2003)
WINNOW_K = 8
WINNOW_W = 16


def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint: distinct minima of char-8-gram hashes
    over sliding windows of 16 — the rolling-hash fingerprint family
    (hashing each k-gram independently gives the same selected set
    as a Rabin-Karp rolling hash; "rolling" only saves CPU).

    Guarantees any shared substring of length >= k + w - 1 yields at
    least one shared fingerprint, which is what makes it the
    standard near-copy detector for code/text corpora.

    Shape: the k-gram hash array materializes in its own projection
    (the window-minima lambda references it w times — inlining would
    re-hash per window); output explodes to (doc_id, fingerprint)
    rows, so downstream dup-joins group on the (uniform) fingerprint
    hash. Per-row work is O(chars · w) comparisons and O(chars)
    hashes; no shuffle at all in this operator.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    normd = docs.select("doc_id", norm.alias("norm"))
    grams = normd.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("norm") - (WINNOW_K - 1), F.lit(1)),
            ),
            lambda i: F.conv(
                F.substring(F.md5(F.substring(F.col("norm"), i, WINNOW_K)), 1, 15),
                16,
                10,
            ).cast("long"),
        ).alias("g"),
    )
    winnowed = grams.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("g") - (WINNOW_W - 1), F.lit(1)),
                ),
                lambda i: F.array_min(F.slice(F.col("g"), i, WINNOW_W)),
            )
        ).alias("fps"),
    )
    # explode_outer, NOT explode: plain explode makes Catalyst infer
    # a size(fps) > 0 filter (InferFiltersFromGenerate) and push it
    # below these projections, re-inlining the whole gram+window
    # pipeline into one nested-lambda filter expression that
    # re-hashes every k-gram once per window. fps is never empty
    # (>= 1 window per doc), so the two are equivalent.
    return winnowed.select(
        "doc_id", F.explode_outer("fps").alias("fingerprint")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase
    text. The groupBy dup-count is the only shuffle, keyed on the
    fingerprint (uniformly distributed — no skew at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = docs.select("doc_id", F.md5(norm).alias("fingerprint"))
    # window count over the fingerprint partition: ONE shuffle keyed
    # by the (uniform) hash, vs groupBy+join which shuffles twice
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id", "fingerprint", F.count("*").over(w).alias("n_dups")
    )


HASH_EMBED_DIM = 64  # matches the embeddings fixture dimension


def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the "hashing trick"): every token
    hashes to a dimension (low 6 md5 bits) with a ±1 sign (bit 6),
    signed counts accumulate per (doc, dim), and the vector is L2
    normalized. This is how a corpus with no model-generated
    embeddings still gets a vector column for the similarity/dedup
    family — the classic sparse text baseline.

    Output is LONG format (doc_id, dim, value) rather than an array
    column so the driver's value-hash compare never hashes float
    arrays (the multimodal_features_flat convention). Determinism:
    dim/sign come from integer bit ops on the md5 prefix (no double
    division of 60-bit ints — that loses low bits past 2^53), signed
    counts sum exactly as BIGINTs, and the final value divides two
    identical numbers in both engines. One shuffle (the (doc, dim)
    aggregate, map-side combined) + a per-doc window for the norm.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode_outer(_tokens_col()).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    hashed = toks.select(
        "doc_id",
        h.bitwiseAND(F.lit(HASH_EMBED_DIM - 1)).alias("dim"),
        F.when(
            F.shiftright(h, 6).bitwiseAND(F.lit(1)) == 0, F.lit(1)
        ).otherwise(F.lit(-1)).alias("sgn"),
    )
    sums = hashed.groupBy("doc_id", "dim").agg(F.sum("sgn").alias("s"))
    w = Window.partitionBy("doc_id")
    return sums.select(
        "doc_id",
        "dim",
        F.round(
            F.col("s") / F.sqrt(F.sum(F.col("s") * F.col("s")).over(w)), 6
        ).alias("value"),
    )


BM25_TERMS = ("query", "join", "vector")
BM25_K1 = 1.2
BM25_B = 0.75


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text scoring of a fixed query-term set over the
    corpus — the retrieval primitive behind corpus search and
    hard-negative mining. All JVM built-ins:

    - one tokenize pass (tokens materialized in their own projection,
      the standard CollapseProject guard);
    - tf per (doc, term): explode filtered to the query terms BEFORE
      the shuffle, so the exchange carries only matching tokens;
    - df per term and the (N, Σdl) corpus stats are one-row/tiny
      aggregates, broadcast back — no driver collect;
    - the per-(doc,term) BM25 weight is a pure double expression
      (identical tree in the oracle), and the per-doc sum folds in
      fixed-point (bigint ×1e9) so the 1-3-term addition is
      order-independent across engines.

    At 100 TB the explode+filter is the dominant scan; the shuffle
    carries O(matches), and every join is broadcast. Returns every
    matching doc (no top-k: a rank cut on a float score is the one
    place engines could disagree at the boundary)."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", _tokens_col().alias("toks"))
    lens = tokd.select("doc_id", F.size("toks").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        tokd.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("tok").agg(F.count("*").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    # idf pre-rounded at 6dp: JVM Math.log and libm ln differ in the
    # last ulp for some inputs, and an unrounded idf can push the
    # final 6dp round across a boundary (seen at sf0.001); with only
    # |terms| distinct df values the pre-round removes the risk
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    w = (
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
        )
    )
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(w * F.lit(1e9)).cast("long").alias("w_fp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms"),
        F.round(F.sum("w_fp") / F.lit(1e9), 6).alias("bm25"),
    )


KEYWORDS_PER_DOC = 3


def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF keywords per document — the per-doc salience
    signal corpus exploration and tagging pipelines run first.

    tf shuffles on (doc_id, token) with map-side combine; df is a
    tiny per-token aggregate broadcast back; tfidf = tf · ln(N/df)
    is a single product of one log (no summation), so the double is
    bit-identical across engines and the per-doc row_number cut —
    ordered (tfidf DESC, token ASC) — picks the same rows on both
    sides. One window shuffle on doc_id. Tokens present in every doc
    get idf 0 and fall to the tie-break, which is exactly the
    stopword-suppression TF-IDF promises."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", _tokens_col().alias("toks"))
    tf = (
        tokd.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            # idf pre-rounded at 6dp — same JVM-vs-libm log ulp
            # guard as text_bm25_search; makes the rank order and
            # the 6dp-rounded score engine-exact
            "tfidf",
            F.col("tf")
            * F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= KEYWORDS_PER_DOC)
        .select(
            "doc_id", "kw_rank", "term", F.round("tfidf", 6).alias("tfidf")
        )
    )


def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document (nats) — the
    information-density quality proxy: boilerplate / keyword-stuffed
    spam scores low, natural prose high. Complements
    ``text_repetition_stats`` (which counts dup fractions) with a
    distribution-level signal.

    Plan: tokenize once (doc length recorded pre-explode), explode
    to (doc, term) — ONE shuffle with map-side combine for tf, then
    a second tiny per-doc shuffle folding term contributions. Each
    contribution ``-(tf/n)·ln(tf/n)`` is computed once per (doc,
    term), its ``ln`` pre-rounded at 6dp (JVM Math.log vs libm ulp
    guard, same as BM25/TF-IDF) and the per-doc sum folds in
    fixed-point 1e9 bigints so the result is order-independent and
    engine-exact."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tokd = docs.select("doc_id", _tokens_col().alias("toks"))
    tokd = tokd.select("doc_id", "toks", F.size("toks").alias("n"))
    tf = (
        tokd.select("doc_id", "n", F.explode_outer("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("n").alias("n"))
    )
    p = F.col("tf").cast("double") / F.col("n")
    w_fp = F.round(-p * F.round(F.log(p), 6) * 1e9).cast("long")
    return (
        tf.select("doc_id", "n", w_fp.alias("w_fp"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.round(F.sum("w_fp").cast("double") / 1e9, 6).alias("entropy"),
        )
    )


def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet-style quality
    filter: train an add-one-smoothed unigram LM on the corpus
    itself, then score every document by its average negative
    log-likelihood (log-perplexity). Outlier docs (keyword stuffing,
    lorem-ipsum, wrong-language) sit far from the corpus
    distribution and score high; the score is the standard
    percentile cut for LM-based filtering (CCNet, Wenzek et al.
    2020 uses a KenLM; the unigram form is the engine-native
    degenerate case with the same plumbing).

    Plan: ONE token explode feeds both the LM (groupBy term — map-
    side combined, vocabulary-sized output) and the scoring join;
    corpus totals (N, V) are a broadcast one-row aggregate. The
    scoring join keys on term — the LM side is vocabulary-sized
    (Catalyst broadcasts it under threshold; at 100 TB it becomes a
    shuffle join on the same key the tf aggregate already used).
    Determinism: each term's -ln p is pre-rounded at 6dp (JVM
    Math.log vs libm ulp guard, the text_word_entropy pattern), the
    per-doc sums fold fixed-point 1e9 bigints, and the per-token
    mean is FLOOR-truncated at 1e-6 via integer-exact arithmetic
    (floor(sum_fp / (1000·n)) / 1e6) instead of a final
    ``round(x, 6)`` — Spark rounds doubles through shortest-repr
    BigDecimal HALF_UP while DuckDB rounds the binary value, and at
    sf0.1 one doc landed exactly on a .5 boundary and flipped;
    IEEE-correctly-rounded division + floor cannot disagree."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    occ = (
        docs.select("doc_id", _tokens_col().alias("toks"))
        .select("doc_id", F.explode_outer("toks").alias("term"))
        .localCheckpoint(eager=True)  # one tokenize pass feeds LM + scoring
    )
    cnt = occ.groupBy("term").agg(F.count("*").alias("c"))
    tot = cnt.agg(
        F.sum("c").alias("n_corpus"), F.count("*").alias("v_vocab")
    )
    nll = F.round(
        -F.log((F.col("c") + 1) / (F.col("n_corpus") + F.col("v_vocab"))), 6
    )
    lm = cnt.crossJoin(F.broadcast(tot)).select("term", nll.alias("nll"))
    fp = F.round(F.col("nll") * 1e9).cast("long")
    return (
        occ.join(lm, "term")
        .select("doc_id", fp.alias("fp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(F.sum("fp") / (F.count("*") * F.lit(1000)))
                / F.lit(1e6)
            ).alias("avg_nll"),
        )
    )


# ---- PII scan / redaction (X28) --------------------------------------------
# Conservative patterns restricted to the regex subset where Java
# (Spark) and RE2 (DuckDB oracle) agree exactly: character classes,
# \d, bounded repetition, literal dots. Both engines scan
# non-overlapping leftmost matches, so counts and replacements are
# engine-identical.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}-\d{3}-\d{4}"
PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_DIGIT_RUN = r"\d{9,}"


def pii_augmented_text():
    """Deterministic fixture enrichment: the synthetic corpus
    contains no PII by construction (digit-free word salad), so the
    scan query plants doc_id-keyed PII spans — email every 5th doc,
    phones every 7th, an IPv4 every 11th, an account-number digit
    run every 13th. Both engines build the identical string, which
    makes detection, counting, AND redaction real cross-engine
    checks instead of an all-zeros no-op."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" reach user"), did, F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(" call 555-867-5309 or 555-123-4567"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" from host 192.168.10.42")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(" acct 123456789012345")
        ).otherwise(F.lit("")),
    )


def pii_scan_frame(df: DataFrame) -> DataFrame:
    """PII detection + redaction over any (doc_id, t) frame —
    factored out so tests can feed real PII-bearing text through the
    identical expressions the fixture query uses.

    Per doc: non-overlapping match counts per PII class (on the raw
    text, classes independent) and the md5 fingerprint of the fully
    redacted text (email → ipv4 → phone → digit-run replacement
    order; the classes cannot overlap by construction — phones and
    IPv4s are dash/dot-separated triples a 9+ digit run never
    matches, and match counts are taken pre-redaction anyway).

    Scale: a ZERO-SHUFFLE narrow map — every count and replacement
    is a JVM regex inside codegen; the corpus streams once. This is
    the shape of a C4-style PII pass over 100 TB: scan-bound, no
    aggregation, output 1:1 with input."""
    counts = {
        "n_emails": PII_EMAIL,
        "n_phones": PII_PHONE,
        "n_ipv4": PII_IPV4,
        "n_digit_runs": PII_DIGIT_RUN,
    }
    red = F.col("t")
    for pat, token in [
        (PII_EMAIL, "[EMAIL]"),
        (PII_IPV4, "[IP]"),
        (PII_PHONE, "[PHONE]"),
        (PII_DIGIT_RUN, "[NUM]"),
    ]:
        red = F.regexp_replace(red, pat, token)
    cnt_cols = [
        F.regexp_count(F.col("t"), F.lit(p)).cast("long").alias(name)
        for name, p in counts.items()
    ]
    total = sum(F.col(n) for n in counts)
    return df.select("doc_id", *cnt_cols, F.md5(red).alias("redacted_md5")) \
        .select(
            "doc_id", *counts.keys(), total.alias("pii_total"), "redacted_md5"
        )


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: PII scan + redaction fingerprint over
    the (deterministically PII-enriched) documents corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return pii_scan_frame(
        docs.select("doc_id", pii_augmented_text().alias("t"))
    )


# ---- corpus n-gram frequency top-k (X32) -----------------------------------
NGRAM_TOPK = 100


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-K word bigrams by occurrence count — the
    "what is actually in my corpus" audit pass (and the common-crawl
    boilerplate detector's first stage).

    Scale: bigrams materialize IN-ROW (transform over an index
    sequence — no self-join), the frequency groupBy combines
    map-side, and the final cut is a total order (count DESC, gram
    ASC) under limit, which Spark executes as TakeOrderedAndProject
    — per-partition heaps of K, never a global sort of the gram
    vocabulary. One shuffle on the gram key."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = _tokens_col()
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(NGRAM_TOPK)
    )


# ---- Zipf-law fit (X37) ----------------------------------------------------
ZIPF_RANKS = 200


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution:
    least-squares slope of ln(freq) against ln(rank) over the top
    ``ZIPF_RANKS`` terms. Natural language sits near slope ≈ −1
    (Zipf 1949); a corpus that drifts far from it is boilerplate-
    heavy (flat head) or template spam (cliff) — a one-number
    distribution-health check used alongside perplexity filtering.

    Determinism: ln(rank) and ln(freq) are pre-rounded at 6dp (the
    BM25/entropy JVM-vs-libm guard) then scaled to exact 1e6
    fixed-point bigints; all five regression folds accumulate as
    decimal(38,0) (the agg_correlation overflow fix — n·Σxy reaches
    ~5e18 at these magnitudes, one bad corpus away from int64
    wrap). The closed-form slope/intercept then evaluates on exact
    integers cast to double — identical expression tree, identical
    doubles, engine-exact.

    Scale shape: one token explode + vocab-sized hash-agg (map-side
    combined); the top-``ZIPF_RANKS`` cut is TakeOrderedAndProject;
    ranking and the regression folds run over a 200-row frame. The
    only corpus-sized work is the tf aggregate every other corpus
    statistic already shares."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tf = (
        docs.select(F.explode(_tokens_col()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(ZIPF_RANKS)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = tf.select(
        F.row_number().over(w).alias("rank"), "freq"
    )
    x6 = F.round(F.round(F.log(F.col("rank")), 6) * 1e6).cast("decimal(38,0)")
    y6 = F.round(F.round(F.log(F.col("freq")), 6) * 1e6).cast("decimal(38,0)")
    folds = ranked.select(
        x6.alias("x"), y6.alias("y")
    ).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") / 1e6
        - slope * (F.col("sx").cast("double") / 1e6)
    ) / F.col("n").cast("double")
    return folds.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def corpus_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix diversity audit per language: Shannon entropy of
    the source distribution within each lang bucket, plus its
    normalized form (÷ ln of the source count — 1.0 means perfectly
    balanced). The mix report a training-data curator reads before
    setting sampling temperatures (cf. The Pile's per-source mixing
    weights): a lang whose mass collapses onto one source is a
    monoculture risk the temperature pass then corrects.

    Same engine-exact recipe as text_word_entropy: each source's
    −p·ln(p) contribution pre-rounds ln at 6dp and folds in 1e9
    fixed-point bigints. The per-lang total comes from a WINDOW over
    the (lang, source) aggregate — not a second aggregate joined
    back — so the lang partitioning established once is reused by
    the window AND the final fold (one corpus-sized combine, then
    two exchanges of a |lang×source|-row frame, no join)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    cnt = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    n = F.sum("c").over(Window.partitionBy("lang"))
    cnt = cnt.select("lang", "c", n.alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    w_fp = F.round(-p * F.round(F.log(p), 6) * 1e9).cast("long")
    return (
        cnt.select("lang", "n", w_fp.alias("w_fp"))
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_sources"),
            F.round(F.sum("w_fp").cast("double") / 1e9, 6).alias(
                "source_entropy"
            ),
            # n_sources == 1 makes the ln(n) denominator 0: emit 0.0
            # explicitly (monoculture), not an engine-dependent
            # NULL/NaN (DuckDB >= 1.1 IEEE-divides 0/0 to NaN)
            F.when(F.count("*") == 1, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.sum("w_fp").cast("double") / 1e9)
                    / F.round(F.log(F.count("*").cast("double")), 6),
                    6,
                )
            )
            .alias("norm_entropy"),
        )
    )


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the engine's own language-ID against the
    corpus ground-truth labels — the eval harness every classifier
    in a curation pipeline needs (per-(actual, predicted) counts
    plus each cell's share of its actual-label row, from which
    per-class recall is the diagonal). Reuses text_lang_id's exact
    prediction expression, so this measures the SHIPPED classifier,
    not a twin.

    Scale shape: the per-doc prediction is a narrow map (regexp
    counts); the matrix is one hash-agg to ≤|langs|² rows; the row
    share comes from a window over that bounded grid. Counts are
    bigints; shares are exact-integer IEEE divisions."""
    pred = text_lang_id(spark, sf_dir).select(
        F.col("labeled_lang").alias("actual"),
        F.col("predicted_lang").alias("predicted"),
    )
    grid = pred.groupBy("actual", "predicted").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    row_total = F.sum("n_docs").over(Window.partitionBy("actual"))
    return grid.select(
        "actual",
        "predicted",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / row_total, 6
        ).alias("row_share"),
    )


# ---- on-corpus BPE tokenizer training (X41) --------------------------------
# Byte-pair-encoding merge training over the corpus word-frequency
# dict — the tokenizer-fitting pass an LLM data pipeline runs before
# token-count budgeting (Sennrich et al. 2016; GPT-2-style in-word
# merges, no word-end marker: merges never cross word boundaries).
BPE_MERGES = 12
BPE_MAX_WLEN = 20


def _bpe_merge_fold(s, left, right, merged):
    """Greedy left-to-right application of ONE merge (left,right) to
    a symbol array — a single `aggregate` fold with a (out, skip)
    struct accumulator, O(len) per word, whole-stage-codegen JVM
    expression (no UDF). `F.get` (0-based, null on out-of-bounds)
    keeps the lookahead safe under ANSI mode."""
    n = F.size(s)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )

    def step(acc, i):
        cur = F.get(s, i - 1)
        nxt = F.get(s, i)
        is_m = (~acc["skip"]) & (i < n) & (cur == left) & (nxt == right)
        return F.struct(
            F.when(acc["skip"], acc["out"])
            .when(is_m, F.concat(acc["out"], F.array(merged)))
            .otherwise(F.concat(acc["out"], F.array(cur)))
            .alias("out"),
            F.when(acc["skip"], F.lit(False)).otherwise(is_m).alias("skip"),
        )

    return F.aggregate(F.sequence(F.lit(1), n), acc0, step, lambda a: a["out"])


_BPE_SCHEMA = (
    "step int, left_sym string, right_sym string, "
    "merged string, pair_count long"
)


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainable word-frequency dict: ASCII-lowercase words of
    length 2–``BPE_MAX_WLEN`` with corpus counts. The ONE
    corpus-sized pass of BPE training — everything downstream is
    bounded by |vocab| (the standard fast-BPE trick)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    words = (
        docs.select(F.explode(_tokens_col()).alias("w"))
        .filter(
            F.col("w").rlike("^[a-z]+$")
            & F.length("w").between(2, BPE_MAX_WLEN)
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return words


def _bpe_chars():
    """Initial symbolization: one single-char symbol per character."""
    return F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )


def _bpe_train_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the merge-training loop; returns the merge table.

    Each iteration (a) expands in-row adjacent symbol pairs, (b)
    takes the global argmax under the total order (count DESC, left
    ASC, right ASC), and (c) rewrites every word's symbol array with
    a greedy left-to-right merge fold. The argmax collect is 1 row
    per iteration (bounded model state); ``localCheckpoint``
    truncates lineage so fold expressions never nest across
    iterations.

    Cross-engine contract: the DuckDB oracle applies the SAME greedy
    semantics in closed set-based form (for L≠R matches can never
    overlap; for L=R greedy selects matches at even offset from
    their consecutive-match run start) — equivalence is
    property-tested in tests/test_bpe_train.py and value-hashed by
    the gate.

    Scale shape: iterations run over the checkpointed vocab
    (|vocab| rows, ≤ BPE_MAX_WLEN symbols each); per-iteration
    shuffle is the pair-count agg over ≤ 26² + merged keys. At
    100 TB the vocab dict still fits comfortably in one executor
    wave — this is why BPE trainers aggregate words first."""
    vocab = _bpe_words(spark, sf_dir).select("cnt", _bpe_chars().alias("s"))

    merges = []
    for step_no in range(1, BPE_MERGES + 1):
        vocab = vocab.localCheckpoint(eager=True)
        pair = F.transform(
            F.sequence(F.lit(1), F.size("s") - 1),
            lambda i: F.struct(
                F.element_at(F.col("s"), i).alias("l"),
                F.element_at(F.col("s"), i + 1).alias("r"),
            ),
        )
        best = (
            vocab.filter(F.size("s") >= 2)
            .select(F.explode(pair).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:  # vocab fully merged — nothing left to learn
            break
        b = best[0]
        merges.append((step_no, b.l, b.r, b.l + b.r, b.pair_count))
        vocab = vocab.select(
            "cnt",
            _bpe_merge_fold(
                F.col("s"), F.lit(b.l), F.lit(b.r), F.lit(b.l + b.r)
            ).alias("s"),
        )
    return spark.createDataFrame(merges, _BPE_SCHEMA)


def _bpe_merges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Artifact-backed trained merge table: built once per corpus
    fingerprint, persisted under ``_artifacts/bpe_merges/`` (the
    tokenizer-training artifact every downstream token count ships
    with), reused by both the train query and the tokenizer."""
    fp = corpus_fingerprint(sf_dir, "documents")
    return load_or_build(
        spark, "bpe_merges", fp, lambda: _bpe_train_frame(spark, sf_dir)
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ``BPE_MERGES`` byte-pair merges on the documents corpus;
    returns the merge table (step, left_sym, right_sym, merged,
    pair_count) — the artifact a tokenizer ships (see
    ``_bpe_train_frame`` for the algorithm and the cross-engine
    greedy-merge contract)."""
    return _bpe_merges_df(spark, sf_dir).orderBy("step")


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges: per document,
    the whitespace token count, the BPE token count (trainable words
    contribute their merged-symbol count; every other token counts 1,
    unk-style), and chars-per-token — the compression the tokenizer
    achieves, the number a token-budgeted pipeline actually plans
    with.

    The merge table comes from the persisted ``bpe_merges`` artifact
    (trained on demand on first use). All 12 merges apply to the
    DISTINCT-word dict in ONE nested-fold expression — an aggregate
    over the merge list whose accumulator is the symbol array, each
    step the same greedy fold training used — then the per-word
    token counts broadcast-join back to the corpus token stream.

    Scale shape: corpus-sized work is the token explode + one join
    + per-doc hash-agg; the merge application is vocab-bounded. The
    word dict is ≪ corpus (Heaps' law), so the join broadcasts at
    any realistic scale."""
    rows = _bpe_merges_df(spark, sf_dir).orderBy("step").collect()
    marr = F.array(
        *[
            F.struct(
                F.lit(r.left_sym).alias("l"),
                F.lit(r.right_sym).alias("r"),
                F.lit(r.merged).alias("m"),
            )
            for r in rows
        ]
    )
    applied = F.aggregate(
        marr,
        _bpe_chars().cast("array<string>"),
        lambda acc, mg: _bpe_merge_fold(acc, mg["l"], mg["r"], mg["m"]),
    )
    wl = _bpe_words(spark, sf_dir).select(
        "w", F.size(applied).cast("long").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("w")
    ).filter(F.col("w") != "")
    agg = (
        tok.join(F.broadcast(wl), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_ws_tokens"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", r"\s+", ""))
        .cast("long")
        .alias("n_chars_nws"),
    )
    return chars.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chars_nws",
        F.coalesce("n_ws_tokens", F.lit(0).cast("long")).alias("n_ws_tokens"),
        F.coalesce("n_bpe_tokens", F.lit(0).cast("long")).alias(
            "n_bpe_tokens"
        ),
        F.when(
            F.coalesce("n_bpe_tokens", F.lit(0)) > 0,
            F.round(F.col("n_chars_nws") / F.col("n_bpe_tokens"), 6),
        ).alias("chars_per_token"),
    )


# ---- readability scoring ----------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document
    (Kincaid 1975) — the readability band filter corpus curation
    pipelines cut on (too-simple boilerplate below, OCR soup above).

    Heuristics, stated exactly so both engines agree: sentences =
    max(1, number of [.!?]+ punctuation runs); words = whitespace
    tokens containing at least one ascii letter (lowercased);
    syllables(word) = max(1, number of [aeiouy]+ vowel groups) —
    the standard vowel-group approximation, no silent-e rule (a
    documented simplification; the scores shift by a small constant
    vs dictionary syllabifiers, which a band filter re-centers).

    Determinism: the formulas chain float ops, so BOTH engines
    evaluate the IDENTICAL expression tree over exact integer
    inputs — every product/difference is the same IEEE op sequence,
    hence bit-stable; round(6) at the end only.

    Plan: pure narrow map (regex counting inside a per-row
    fold; zero shuffles, scan-bound) — the text_quality_score
    shape."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda t: t.rlike("[a-z]"),
    )
    d = docs.select(
        "doc_id",
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.greatest(
                F.lit(1), F.regexp_count(t, F.lit("[aeiouy]+"))
            ),
        ).alias("n_syllables"),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    return d.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
                6,
            ),
        ).alias("flesch_ease"),
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
            ),
        ).alias("fk_grade"),
    )


# ---- interpolated bigram LM scoring -----------------------------------------
BIGRAM_LAMBDA_NUM = 3  # interpolation 3/4 bigram + 1/4 smoothed unigram


def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — one rung up the
    CCNet ladder from text_perplexity_unigram: p(cur|prev) =
    0.75 * c(prev,cur)/c(prev) + 0.25 * (c(cur)+1)/(N+V) (Jelinek-
    Mercer interpolation with the add-one unigram as back-off), and
    the per-doc average negative log-likelihood over its bigrams.
    Word-ORDER anomalies (shuffled text, keyword stuffing with
    plausible unigrams) that the unigram filter cannot see score
    high here.

    Determinism: the probability is exact-int divisions combined
    with DYADIC weights (3/4, 1/4) in one fixed expression tree,
    its -ln pre-rounded at 6dp per BIGRAM TYPE (the unigram
    pattern); per-doc sums fold 1e9 fixed-point bigints; the mean
    is the same floor-truncated integer-exact form.

    Plan: bigrams extract IN-ROW (slice-zip of the token array — no
    lag-window shuffle over the corpus); the checkpointed bigram
    stream feeds both the LM build (grid hash-agg, vocabulary²-
    bounded output with the left marginal as a window on the same
    exchange) and the scoring join, exactly the unigram topology.
    Docs with < 2 tokens have no bigrams and report NULL (their
    quality verdict belongs to the unigram filter)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = docs.select("doc_id", _tokens_col().alias("t"))
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
    )
    bg = (
        toks.select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.0").alias("prev"),
            F.col("p.1").alias("cur"),
        )
        .filter((F.col("prev") != "") & (F.col("cur") != ""))
        .localCheckpoint(eager=True)
    )
    uni = (
        toks.select(F.explode("t").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("cu"))
    )
    tot = uni.agg(
        F.sum("cu").alias("n_corpus"), F.count("*").alias("v_vocab")
    )
    grid = bg.groupBy("prev", "cur").agg(F.count("*").alias("cb"))
    cp = F.sum("cb").over(Window.partitionBy("prev"))
    p = F.lit(0.75) * (F.col("cb") / F.col("cp")) + F.lit(0.25) * (
        (F.col("cu") + 1) / (F.col("n_corpus") + F.col("v_vocab"))
    )
    lm = (
        grid.withColumn("cp", cp)
        .join(uni.select(F.col("term").alias("cur"), "cu"), "cur")
        .crossJoin(F.broadcast(tot))
        .select("prev", "cur", F.round(-F.log(p), 6).alias("nll"))
    )
    fp = F.round(F.col("nll") * 1e9).cast("long")
    return (
        bg.join(lm, ["prev", "cur"])
        .select("doc_id", fp.alias("fp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(F.sum("fp") / (F.count("*") * F.lit(1000)))
                / F.lit(1e6)
            ).alias("avg_nll"),
        )
        .join(docs.select("doc_id"), "doc_id", "right")
    )


# ---- round-6: source-pair distribution divergence ---------------------------
# Shared unigram-count artifact (VERDICT r8 #3): the (source, term)
# exact count table is the distributional twin of dedup.doc_shingles
# — corpus-derived, vocab-bounded, and re-derived per call by every
# frequency-profile query before round 9. Built once per documents
# fingerprint; persisted as parquet; a session entry on top.


def _source_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, term, c) — exact per-source unigram counts,
    artifact-backed per documents fingerprint."""
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", parallelize=True)
        return (
            docs.select("source", F.explode(_tokens_col()).alias("term"))
            .groupBy("source", "term")
            .agg(F.count("*").cast("long").alias("c"))
        )

    return session_cached(
        spark, sf_dir, ("documents",), "source_term_counts",
        lambda fp: load_or_build(
            spark, "source_term_counts", fp, build
        ).persist(),
    )


def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources'
    unigram word distributions — the corpus-similarity matrix a
    data-mixing pipeline reads before setting sampling weights
    (near-duplicate sources waste mixture mass; JS is the symmetric,
    bounded [0, ln 2] choice — Lin 1991). Complements
    `corpus_mix_entropy` (one number for the whole mix) with the
    pairwise structure.

    Algebra: terms present in BOTH sources fold term-by-term; terms
    in only one source of a pair contribute exactly (c/N)·ln 2, so
    their whole mass collapses to the CLOSED FORM
    ((Na − Σ_both ca)/Na)·ln 2 — no row is ever materialized for a
    (pair, term) the other side lacks. That turns the pair expansion
    into an EQUI self-join of the (source, term) counts on term
    (fan-out ≤ S per side, no OR-condition nested loop) + one
    per-pair aggregate.

    Engine-exact: with exact integer counts ca, cb and totals Na,
    Nb, each both-term log argument is the EXACT-integer ratio
    2·ca·Nb / (ca·Nb + cb·Na) (the 1/N factors cancel — no float
    probabilities feed the log); lns are pre-rounded 6dp, products
    rounded into 1e9 fixed-point BIGINTs, sums fold exact integers
    (the text_word_entropy recipe). The remainder is two float ops
    on exact integer sums. n_terms = union vocabulary size.

    Scale shape: the (source, term) count table is the persisted
    `source_term_counts` artifact (VERDICT r8 #3 — ONE corpus
    tokenize + hash-agg per documents fingerprint; warm calls scan
    vocab-sized parquet); the term self-join shuffles the count
    table (≤ |vocab|·S rows) once on term; the pair aggregate lands
    on the S²-bounded grid; totals and per-source vocab counts
    attach broadcast. Reference analogue: none — extension
    surface."""
    c = _source_term_counts(spark, sf_dir)
    tot = c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("vocab"),
    )
    a = c.select(
        F.col("source").alias("sa"), "term", F.col("c").alias("ca")
    )
    b = c.select(
        F.col("source").alias("sb"), "term", F.col("c").alias("cb")
    )
    pairs = (
        tot.select(
            F.col("source").alias("sa"),
            F.col("n").alias("na"),
            F.col("vocab").alias("va"),
        )
        .join(
            tot.select(
                F.col("source").alias("sb"),
                F.col("n").alias("nb"),
                F.col("vocab").alias("vb"),
            ),
            F.col("sa") < F.col("sb"),
        )
        # S²-bounded grid, consumed twice (the both-term tag and the
        # zero-shared-vocab left join): checkpoint so the tot
        # aggregation isn't re-planned per consumer
        .localCheckpoint(eager=True)
    )
    both = (
        a.join(b, "term")
        .filter(F.col("sa") < F.col("sb"))
        .join(F.broadcast(pairs), ["sa", "sb"])
    )
    canb = F.col("ca").cast("decimal(38,0)") * F.col("nb")
    cbna = F.col("cb").cast("decimal(38,0)") * F.col("na")
    den = (canb + cbna).cast("double")
    term_a = F.round(
        (F.col("ca").cast("double") / F.col("na"))
        * F.round(F.log(F.lit(2.0) * canb.cast("double") / den), 6)
        * 1e9
    ).cast("long")
    term_b = F.round(
        (F.col("cb").cast("double") / F.col("nb"))
        * F.round(F.log(F.lit(2.0) * cbna.cast("double") / den), 6)
        * 1e9
    ).cast("long")
    folds = (
        both.select(
            "sa", "sb",
            (term_a + term_b).alias("t_fp"),
            "ca", "cb",
        )
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("long").alias("n_both"),
            F.sum("t_fp").alias("s_fp"),
            F.sum("ca").cast("long").alias("sum_ca"),
            F.sum("cb").cast("long").alias("sum_cb"),
        )
    )
    # left-join the folds back onto the full pair grid so a pair
    # with ZERO shared vocabulary still reports a row — its whole
    # mass is the closed-form remainder, i.e. js_nats = round(ln 2, 6)
    folds = pairs.join(F.broadcast(folds), ["sa", "sb"], "left").select(
        "sa", "sb", "na", "nb", "va", "vb",
        F.coalesce("n_both", F.lit(0)).cast("long").alias("n_both"),
        F.coalesce("s_fp", F.lit(0)).cast("long").alias("s_fp"),
        F.coalesce("sum_ca", F.lit(0)).cast("long").alias("sum_ca"),
        F.coalesce("sum_cb", F.lit(0)).cast("long").alias("sum_cb"),
    )
    ln2 = F.round(F.log(F.lit(2.0)), 6)
    rem_a = F.round(
        ((F.col("na") - F.col("sum_ca")).cast("double") / F.col("na"))
        * ln2 * 1e9
    ).cast("long")
    rem_b = F.round(
        ((F.col("nb") - F.col("sum_cb")).cast("double") / F.col("nb"))
        * ln2 * 1e9
    ).cast("long")
    return folds.select(
        "sa",
        "sb",
        (F.col("va") + F.col("vb") - F.col("n_both")).alias("n_terms"),
        F.round(
            (F.col("s_fp") + rem_a + rem_b).cast("double") / 2e9, 6
        ).alias("js_nats"),
    ).orderBy("sa", "sb")


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a document's DISTINCT
    word-3-grams whose global first occurrence (min doc_id over the
    corpus) is this document — the curriculum/ordering diagnostic a
    curation pipeline plots to see how fast fresh content decays as
    the corpus accretes (boilerplate-heavy tails score ~0; the
    inverse view of `text_line_dedup`'s duplicated-segment fraction,
    at gram granularity and attributed to the EARLIEST holder).

    Shares :func:`dedup._shingles`' exact shingle recipe (and its
    SQL twin), so novelty is measured on the same units the dedup
    cascade blocks on.

    Scale shape: an explode over the persisted `doc_shingles`
    artifact (VERDICT r8 #3 — the tokenize pass builds once per
    documents fingerprint; warm calls never touch the regex) with
    ONE gram-keyed exchange for the first-occurrence window (viral
    grams are AQE-splittable window keys), then one doc-keyed
    aggregate. No joins, nothing pairwise."""
    from pyspark.sql import Window

    from dbt_eamples_spark.operators.dedup import doc_shingles

    g = doc_shingles(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    w = Window.partitionBy("gram")
    flagged = g.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w))
        .cast("int")
        .alias("novel"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("novel").cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def text_jaccard_source_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise 3-gram Jaccard between sources' DISTINCT shingle
    vocabularies — the set-overlap companion to
    `corpus_js_divergence`'s distributional view (JS weighs by
    frequency; Jaccard asks how much of the gram SPACE two sources
    share — a mirror/scrape shows up here even when its frequency
    profile was re-mixed).

    Shares :func:`dedup._shingles`' exact shingle recipe, served
    from the persisted `doc_shingles` artifact (VERDICT r8 #3 — the
    tokenize pass builds once per documents fingerprint; warm calls
    explode parquet arrays). Scale shape: artifact explode →
    (source, gram) DISTINCT agg (map-side combined) → per-source
    sizes broadcast → one gram-keyed equi self-join whose output is
    bounded by Σ_g df_g² over SOURCES (df ≤ |sources|, so ≤
    S²·|vocab| — never doc-pairwise) → the S²-grid aggregate."""
    from dbt_eamples_spark.operators.dedup import doc_shingles

    sh = doc_shingles(spark, sf_dir)
    g = (
        sh.select("source", F.explode("shingles").alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)  # 3 consumers: sizes + 2 sides
    )
    sizes = g.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    a = g.select(F.col("source").alias("sa"), "gram")
    b = g.select(F.col("source").alias("sb"), "gram")
    both = (
        a.join(b, "gram")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sza = sizes.select(
        F.col("source").alias("sa"), F.col("n_grams").alias("na")
    )
    szb = sizes.select(
        F.col("source").alias("sb"), F.col("n_grams").alias("nb")
    )
    # full pair grid LEFT of the folds so a zero-overlap source pair
    # reports jaccard = 0 instead of vanishing (the ADVICE-r6
    # corpus_js_divergence lesson, applied at authoring time)
    grid = sza.join(szb, F.col("sa") < F.col("sb")).localCheckpoint(
        eager=True
    )
    return (
        grid.join(F.broadcast(both), ["sa", "sb"], "left")
        .withColumn("n_both", F.coalesce("n_both", F.lit(0)).cast("long"))
        .select(
            "sa",
            "sb",
            "na",
            "nb",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy("sa", "sb")
    )
