"""Large-scale text-pipeline operators over a documents table.

The quality and statistics operations a web-scale training-data
pipeline runs on top of the crawl engine: quality scoring (C4/Gopher
gates, repetition signals, duplicate n-gram ratio), token counts,
vocabulary and TF-IDF top-k, PII scrubbing, benchmark decontamination,
stratified sampling, and per-domain and length statistics.

Everything here is built from JVM-side ``pyspark.sql.functions`` only —
no Python UDFs — so the plans stay inside whole-stage codegen and the
same logic is expressible as ANSI SQL for the DuckDB oracle. All hash
arithmetic is md5-hex based (portable across engines), never
``xxhash64`` (engine-specific).

Scale notes per operator are in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 60-bit numeric hash from the md5 hex prefix — portable to DuckDB as
# CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)
def _md5num(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_WS = r"\s+"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "con", "por", "para"],
    # ASCII-only word choices: no accent/collation edge between engines.
    "it": ["il", "di", "che", "per", "della", "sono", "anche", "gli", "nel", "alla"],
    "nl": ["het", "een", "van", "niet", "op", "te", "voor", "zijn", "met", "ook"],
    "pt": ["de", "do", "da", "em", "para", "com", "uma", "os", "as", "mais"],
}


def _words(documents: DataFrame) -> DataFrame:
    """(doc_id, word) distinct pairs; lowercased whitespace tokens."""
    return documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), _WS)).alias("word"),
    ).filter(F.col("word") != "")


def _shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs: k-word shingles, space-joined.

    Pure column arithmetic (split -> sequence -> transform -> explode);
    DuckDB-portable via string_split_regex + generate_series +
    list_transform. Docs shorter than k words yield no shingles.

    The word array is materialized behind its own projection BEFORE the
    shingle transform: Spark does no common-subexpression elimination
    inside lambda functions, so inlining the split would re-split the
    text for every element_at — measured ~8x on this stage.
    """
    words = F.filter(F.split(F.lower(F.col("text")), _WS), lambda x: x != "")
    d = documents.select("doc_id", words.alias("_ws"))
    ws = F.col("_ws")
    mk = F.transform(
        F.sequence(F.lit(0), F.size(ws) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j + 1) for j in range(k)]),
    )
    # sequence(0, n) with n < 0 would count DOWN in Spark — guard short docs
    sh = F.when(F.size(ws) >= k, mk).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", F.explode(sh).alias("shingle"))


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace token count per document."""
    toks = F.size(F.split(F.trim(F.col("text")), _WS))
    return documents.select("doc_id", toks.cast("long").alias("n_tokens"))


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score.

    Mirrors the usual web-text quality gates (C4/Gopher-style) with
    engine-portable arithmetic only.
    """
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim(F.col("text")), _WS))
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    en_stop = STOPWORDS["en"]
    words = F.split(F.lower(F.col("text")), _WS)
    n_stop = F.size(F.filter(words, lambda x: x.isin(en_stop)))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    mean_word_len = F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6)
    score = F.round(
        F.when(n_tokens < 5, 0.0).otherwise(
            (1.0 - punct_ratio) * F.least(stop_ratio * 5.0, F.lit(1.0))
        ),
        6,
    )
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_word_len.alias("mean_word_len"),
        score.alias("quality"),
    )


def dup_ngram_ratio(documents: DataFrame, n: int = 5) -> DataFrame:
    """Gopher-style intra-document repetition: the fraction of n-gram
    OCCURRENCES that are duplicates (1 - distinct/total over word
    n-grams; Rae et al. 2021 "duplicate n-grams" quality rule family).

    Scale: reuses the shingle machinery — one explode + one
    groupBy(doc_id) with two parallel aggregates (count /
    count_distinct); shuffle moves (doc_id, shingle) rows once. Docs
    shorter than n words score 0.0.
    """
    sh = _shingles(documents, n)
    agg = sh.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.countDistinct("shingle").alias("n_distinct"),
    )
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias("n_distinct"),
            F.coalesce(
                F.round(1.0 - F.col("n_distinct") / F.col("n_ngrams"), 6),
                F.lit(0.0),
            ).alias("dup_ratio"),
        )
    )


def vocab_topk(documents: DataFrame, k: int = 50) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by frequency (stopword /
    vocab derivation pass). One explode + one hash groupBy with
    map-side combine; the ORDER BY sees only the aggregated vocab,
    never token occurrences. Ties break bytewise on the word."""
    return (
        _words(documents)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )


# cross-engine (Java regex / RE2) PII patterns: character classes +
# greedy quantifiers only — no lookaround, no backreferences
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?\d(?:[ -]?\d){7,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII redaction (C4/Dolma-style pipeline pass): emails, phone
    numbers, IPv4 literals replaced by typed tokens, with per-doc match
    counts. Pure JVM regexp projection — one pass, no shuffle, no
    Python. Replacement order (email -> phone -> ip) is part of the
    contract: an email is never half-eaten by the phone rule."""
    t = F.col("text")
    clean = F.regexp_replace(t, _PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, _PII_PHONE, "<PHONE>")
    clean = F.regexp_replace(clean, _PII_IP, "<IP>")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0)))
        .cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), F.lit(0)))
        .cast("long").alias("n_ips"),
        clean.alias("clean_text"),
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM-report n-gram overlap
    rule): flag every training document that shares at least one n-word
    shingle with an evaluation/benchmark text set, with the count of
    distinct overlapping shingles.

    Scale: benchmark suites are tiny (MBs) next to a 100 TB corpus, so
    the benchmark's distinct shingle-hash set is BROADCAST and the
    corpus side is one shingle pass + broadcast semi-join — the corpus
    is never shuffled by shingle; only the (usually sparse) matching
    (doc_id, hash) rows reach the per-doc count aggregate.
    """
    bench = (
        _shingles(benchmark, n)
        .select(_md5num(F.col("shingle")).alias("sh_hash"))
        .distinct()
    )
    hits = (
        _shingles(documents, n)
        .select("doc_id", _md5num(F.col("shingle")).alias("sh_hash"))
        .join(F.broadcast(bench), "sh_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh_hash").alias("n_hits"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def gopher_quality(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    subset expressible over whitespace tokens): word-count bounds, mean
    word length bounds, alphabetic-word ratio, and a must-contain-
    stopwords rule, combined into one keep/drop flag.

    Scale: pure column arithmetic over one projection — no explode, no
    shuffle, whole-stage codegen end to end. This is the cheap first
    filter a 100 TB curation pass runs before any pairwise machinery.
    """
    ws = F.filter(F.split(F.lower(F.col("text")), _WS), lambda x: x != "")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    d = documents.select("doc_id", ws.alias("_ws"), F.col("text"))
    n_words = F.size("_ws")
    denom = F.greatest(n_words, F.lit(1))
    # total non-whitespace chars / words == mean token length, without
    # a second pass over the token array
    mean_len = (
        F.length(F.regexp_replace("text", _WS, "")) / denom
    )
    alpha_ratio = (
        F.size(F.filter(F.col("_ws"), lambda x: x.rlike("[a-z]"))) / denom
    )
    # distinct stopwords PRESENT (not occurrences): iterate the tiny
    # stopword list, probe the token array — unambiguous in both engines
    n_stop = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(F.col("_ws"), s))
    )
    keep = (
        n_words.between(min_words, max_words)
        & (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
        & (alpha_ratio >= min_alpha_ratio)
        & (n_stop >= min_stop_hits)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        n_stop.cast("long").alias("n_stop_hits"),
        keep.alias("keep"),
    )


def tfidf_topk(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document (smooth idf: ln((N+1)/(df+1))+1,
    the scikit-learn convention) — the per-doc keyword/topic signal a
    curation pipeline uses for domain mixing and clustering.

    Scale: tf is one hash-agg on (doc_id, word), materialized ONCE
    (lazy localCheckpoint) because two consumers need it — the df
    aggregate and the scoring join; without the barrier Spark plans
    the whole explode + aggregate pipeline twice (no automatic
    common-subtree sharing), which measured as 2 full corpus passes
    (round 7, guide §2.4). df is a second hash-agg on the (already
    doc-distinct) tf rows; N rides along as a broadcast 1-row cross
    join so the plan carries no data-dependent literal. The scoring
    join shuffles tf by word (df at web scale is vocabulary-sized —
    too big to broadcast safely), then one window partitioned by
    doc_id ranks. Ties break bytewise on the word.
    """
    tf = (
        _words(documents)
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_ = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .select(
            "doc_id",
            "word",
            "tf",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# Default per-language keep rates (per mille) for stratified sampling:
# the "data mixing" step of a training pipeline — downsample
# over-represented languages/sources deterministically so the mix is
# reproducible run-over-run and engine-over-engine (no RNG state).
SAMPLE_RATES_PER_MILLE = {"en": 900, "de": 500, "fr": 500, "es": 250}
SAMPLE_DEFAULT_PER_MILLE = 100


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = SAMPLE_DEFAULT_PER_MILLE,
    salt: str = "split",
) -> DataFrame:
    """Deterministic stratified sampling + train/val/test split.

    Keeps a document iff md5num(doc_id|salt) % 1000 < rate[lang]
    (per-mille, per-stratum), and assigns the survivors a split label
    from an independent hash (bucket < 980 train, < 990 val, else
    test). Hash-threshold sampling is how a web-scale pipeline mixes
    languages/sources: pure projection + filter, no RNG state, no
    shuffle, identical sample on re-run and across engines.

    Scale: zero shuffles — the hash, the per-stratum threshold (a
    CASE over a literal map), and the split label are all map-side;
    the filter is evaluated inside the scan's codegen stage. At
    100 TB this is the cheapest possible full-corpus pass.
    """
    rates = SAMPLE_RATES_PER_MILLE if rates is None else rates
    keep_rate = F.lit(default_rate)
    for lang, r in sorted(rates.items()):
        keep_rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(
            keep_rate
        )
    keyed = documents.select(
        "doc_id",
        "lang",
        "source",
        F.pmod(
            _md5num(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(salt))),
            F.lit(1000),
        ).alias("sample_bucket"),
        F.pmod(
            _md5num(
                F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(salt + "2"))
            ),
            F.lit(1000),
        ).alias("split_bucket"),
        keep_rate.alias("keep_rate"),
    )
    return (
        keyed.filter(F.col("sample_bucket") < F.col("keep_rate"))
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("sample_bucket").cast("int").alias("sample_bucket"),
            F.when(F.col("split_bucket") < 980, "train")
            .when(F.col("split_bucket") < 990, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def domain_stats(documents: DataFrame, min_docs: int = 1) -> DataFrame:
    """Per-domain (source) corpus statistics for domain-level curation:
    doc count, char stats, and the exact-duplicate ratio within the
    domain — the signals behind "drop mirror/boilerplate domains"
    rules in web-corpus pipelines.

    Scale: one hash-aggregate by source with map-side partial
    aggregation; domains number ~1e6-1e8 at web scale, far under the
    row count, so the post-shuffle side is small. countDistinct on
    md5(text) expands to an exact two-phase distinct-aggregate —
    acceptable because it stays inside the same shuffle; swap for
    approx_count_distinct when a 2% error is tolerable.
    """
    return (
        documents.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_distinct"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_docs").cast("double"), 6
            ),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def length_quantiles(
    documents: DataFrame, probs: tuple = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Per-language document-length quantiles (exact, linearly
    interpolated — the type-7 definition both Spark's `percentile` and
    DuckDB's `quantile_cont` implement): the length-distribution
    signal behind per-language cutoff rules in corpus curation.

    Scale: one hash-aggregate by lang. Exact percentile holds the
    group's values; languages number ~100 and the per-group payload is
    one long per doc — at 10^10 docs swap to approx_percentile
    (t-digest, bounded memory) and accept the documented error bound.
    """
    pl = F.percentile("n_chars", F.array(*[F.lit(p) for p in probs]))
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            pl.alias("_q"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("_q")[0], 6).alias("p50"),
            F.round(F.col("_q")[1], 6).alias("p90"),
            F.round(F.col("_q")[2], 6).alias("p99"),
        )
    )


def repetition_signals(
    documents: DataFrame, sep: str = "\n", n: int = 2
) -> DataFrame:
    """Gopher intra-document repetition filters (Rae et al. 2021,
    Table A1): duplicate-line fraction, duplicate-line CHARACTER
    fraction, and the top word-n-gram character-coverage fraction —
    the signals that catch machine-generated spam pages (keyword
    stuffing, navigation loops) that length/stopword rules miss.

    Returns (doc_id, n_lines, n_dup_lines, dup_line_frac,
    dup_line_char_frac, top_ngram_char_frac). "Top n-gram coverage"
    is max over n-grams of occurrences*len(gram) / len(text) — the
    deterministic variant of Gopher's most-frequent-n-gram rule (no
    tie-break ambiguity).

    Scale: two explode+groupBy chains, both keyed (doc_id, token) then
    re-aggregated by doc_id — map-side combine absorbs the intra-doc
    repetition that is the signal itself, so the shuffle carries
    near-distinct rows. All fractions are per-row arithmetic on exact
    integer aggregates (portable to the DuckDB oracle bit-for-bit).
    """
    lines = documents.select(
        "doc_id", F.explode(F.split("text", sep)).alias("line")
    )
    per_line = lines.groupBy("doc_id", "line").agg(
        F.count("*").alias("cnt")
    )
    line_stats = per_line.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("n_dup_lines"),
        F.sum((F.col("cnt") - F.lit(1)) * F.length("line"))
        .cast("long")
        .alias("dup_line_chars"),
        F.sum(F.col("cnt") * F.length("line"))
        .cast("long")
        .alias("line_chars"),
    )
    grams = _shingles(documents, n).groupBy("doc_id", "shingle").agg(
        F.count("*").alias("cnt")
    )
    top = grams.groupBy("doc_id").agg(
        F.max(F.col("cnt") * F.length("shingle"))
        .cast("long")
        .alias("top_gram_chars")
    )
    zero = F.lit(0).cast("long")
    return (
        documents.select(
            "doc_id", F.length("text").cast("long").alias("n_chars")
        )
        .join(line_stats, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "n_dup_lines",
            F.round(F.col("n_dup_lines") / F.col("n_lines"), 6).alias(
                "dup_line_frac"
            ),
            F.round(
                F.col("dup_line_chars")
                / F.greatest(F.col("line_chars"), F.lit(1)),
                6,
            ).alias("dup_line_char_frac"),
            F.round(
                F.coalesce("top_gram_chars", zero)
                / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("top_ngram_char_frac"),
        )
    )
