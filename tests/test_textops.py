"""Semantic unit tests for the training-data pipeline ops."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ironspark.textops import quality_score, token_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (4, "der hund ist nicht auf der couch und das ist gut", "de"),
        (5, "le chat est dans la maison et il est content", "fr"),
        (6, "xyzzy plugh", "und"),
        (7, "completely different words about spark engines and tables", "en"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )


def test_token_and_quality(spark, docs):
    toks = token_count(docs).toPandas().set_index("doc_id")
    assert toks.loc[1, "n_tokens"] == 9
    q = quality_score(docs).toPandas().set_index("doc_id")
    assert q.loc[6, "quality"] == 0.0  # too short
    assert q.loc[1, "stop_ratio"] > 0  # 'the' twice


def test_pii_scrub_goldens(spark):
    from ironspark.textops import pii_scrub

    rows = [
        (1, "mail me at john.doe+x@example.co.uk or call +1 555-123-4567."),
        (2, "server at 10.0.0.1 and 192.168.001.255; port 8080 is fine"),
        (3, "no pii here, just words and the number 42"),
        (4, "a@b.io a@b.io twice, phone 12345678 and ip 1.2.3.4"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert "john.doe" not in got[1]["clean_text"]
    assert "<EMAIL>" in got[1]["clean_text"] and "<PHONE>" in got[1]["clean_text"]
    assert got[2]["n_ips"] == 2 and got[2]["clean_text"].count("<IP>") == 2
    assert "8080" in got[2]["clean_text"]  # bare port is not PII
    assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) == (0, 0, 0)
    assert got[3]["clean_text"] == rows[2][1]
    assert got[4]["n_emails"] == 2 and got[4]["n_phones"] == 1
    assert got[4]["n_ips"] == 1


def test_dup_ngram_ratio_goldens(spark):
    from ironspark.textops import dup_ngram_ratio

    rows = [
        (1, "a b c d e a b c d e"),       # 6 5-grams, dup "a b c d e" x2
        (2, "one two three four five six"),  # 2 distinct 5-grams
        (3, "too short"),                  # < 5 words -> 0 ngrams, 0.0
        (4, "w w w w w w w w"),            # all 4 occurrences identical
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r for r in dup_ngram_ratio(df, n=5).collect()}
    assert got[1]["n_ngrams"] == 6 and got[1]["n_distinct"] == 5
    assert got[2]["dup_ratio"] == 0.0
    assert got[3]["n_ngrams"] == 0 and got[3]["dup_ratio"] == 0.0
    assert got[4]["n_ngrams"] == 4 and got[4]["n_distinct"] == 1
    assert got[4]["dup_ratio"] == 0.75


def test_vocab_topk_order(spark):
    from ironspark.textops import vocab_topk

    rows = [(1, "b b b a a c"), (2, "a c c"), (3, "d B")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = [(r["word"], r["n"]) for r in vocab_topk(df, k=3).collect()]
    # b: 4 (case-folded), a: 3, c: 3 (tie broken bytewise a < c)
    assert got == [("b", 4), ("a", 3), ("c", 3)]


def test_decontaminate_flags_benchmark_overlap(spark):
    from ironspark.textops import decontaminate

    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    rows = [
        (1, span + " india juliet kilo lima mike november oscar papa"),
        (2, "prefix words here " + span + " and a tail of more words"),
        (3, "totally unrelated content with no overlap whatsoever here"),
        (4, "short doc"),  # < 8 words: no shingles, never contaminated
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    bench = docs.filter(F.col("doc_id") == 1)
    out = (
        decontaminate(docs, bench, n=8)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1 IS the benchmark text: every one of its shingles overlaps
    assert bool(out.loc[1, "contaminated"]) and out.loc[1, "n_hits"] == 9
    # doc 2 embeds the 8-word span verbatim: exactly that one shingle
    assert bool(out.loc[2, "contaminated"]) and out.loc[2, "n_hits"] == 1
    assert not bool(out.loc[3, "contaminated"]) and out.loc[3, "n_hits"] == 0
    assert not bool(out.loc[4, "contaminated"]) and out.loc[4, "n_hits"] == 0


def test_gopher_quality_rules(spark):
    from ironspark.textops import gopher_quality

    good = " ".join(
        ["the quick brown fox and the lazy dog ran to it for fun in may"] * 2
    )  # 26 words, mean len ~3.2, all alphabetic, stopwords present
    rows = [
        (1, good),
        (2, "too short for the rule"),  # fails min_words
        (3, " ".join(["pneumonoultramicroscopic"] * 25)),  # mean len > 10, no stops
        (4, " ".join(["42"] * 10 + ["the of and to in is that it for was"])),
        # ^ 20 words but half non-alphabetic -> alpha_ratio 0.5 fails
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    out = (
        gopher_quality(docs, min_words=20)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert bool(out.loc[1, "keep"])
    assert not bool(out.loc[2, "keep"]) and out.loc[2, "n_words"] == 5
    assert not bool(out.loc[3, "keep"])
    assert out.loc[3, "mean_word_len"] > 10 and out.loc[3, "n_stop_hits"] == 0
    assert not bool(out.loc[4, "keep"])
    assert abs(out.loc[4, "alpha_ratio"] - 0.5) < 1e-9


def test_tfidf_topk_ranks_rare_terms(spark):
    from ironspark.textops import tfidf_topk

    rows = [
        (1, "common common common zebra"),
        (2, "common words here too"),
        (3, "common thing again common"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    out = tfidf_topk(docs, k=2).toPandas()
    # exactly k rows per doc (docs have >= 2 distinct words)
    assert (out.groupby("doc_id").size() == 2).all()
    d1 = out[out["doc_id"] == 1].sort_values("rn")
    # smooth idf: common has tf=3, df=3 -> 3*(ln(4/4)+1)=3.0;
    # zebra has tf=1, df=1 -> 1*(ln(4/2)+1)~=1.693 — tf dominates here
    import math

    tfidf_common = 3 * (math.log(4 / 4) + 1)  # 3.0
    tfidf_zebra = 1 * (math.log(4 / 2) + 1)  # ~1.693
    assert d1.iloc[0]["word"] == "common"
    assert abs(d1.iloc[0]["tfidf"] - round(tfidf_common, 6)) < 1e-9
    assert d1.iloc[1]["word"] == "zebra"
    assert abs(d1.iloc[1]["tfidf"] - round(tfidf_zebra, 6)) < 1e-9
    # rn is dense 1..k in rank order
    assert list(d1["rn"]) == [1, 2]


def test_stratified_sample_deterministic_and_shuffle_free(spark):
    from ironspark.textops import stratified_sample

    rows = [
        (i, f"text {i}", ["en", "de", "es", "und"][i % 4], f"src{i % 3}", 10)
        for i in range(400)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
    )
    out = stratified_sample(docs)
    # pure projection + filter: the plan carries no Exchange at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    pdf = out.toPandas()
    # identical sample on re-run (hash-threshold, no RNG state)
    pdf2 = stratified_sample(docs).toPandas()
    assert sorted(pdf["doc_id"]) == sorted(pdf2["doc_id"])
    # per-stratum rates hold: en keeps ~90%, es ~25%, default ~10%
    kept = pdf.groupby("lang")["doc_id"].count()
    assert kept.get("en", 0) > kept.get("es", 0) > kept.get("und", 0)
    assert set(pdf["split"]) <= {"train", "val", "test"}
    # train dominates the split assignment (98% bucket share)
    assert (pdf["split"] == "train").mean() > 0.9


def test_domain_stats_invariants(spark):
    from ironspark.textops import domain_stats

    rows = [
        (1, "a a", "en", "mirror.example", 3),
        (2, "a a", "en", "mirror.example", 3),  # exact dup within domain
        (3, "b b", "de", "mirror.example", 3),
        (4, "c c", "en", "clean.example", 3),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
    )
    out = domain_stats(docs).toPandas().set_index("source")
    m = out.loc["mirror.example"]
    assert m["n_docs"] == 3 and m["n_distinct"] == 2
    assert abs(m["dup_ratio"] - round(1 - 2 / 3, 6)) < 1e-9
    assert m["n_langs"] == 2 and m["total_chars"] == 9
    c = out.loc["clean.example"]
    assert c["n_docs"] == 1 and c["dup_ratio"] == 0.0


def test_length_quantiles_semantics(spark):
    from ironspark.textops import length_quantiles

    rows = [(i, "t", "en" if i < 10 else "de", "s", (i + 1) * 10)
            for i in range(14)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    out = length_quantiles(docs).toPandas().set_index("lang")
    # en: 10..100 step 10 -> p50 = 55 (linear interp), p90 = 91, p99 = 99.1
    en = out.loc["en"]
    assert en["n_docs"] == 10
    assert abs(en["p50"] - 55.0) < 1e-9
    assert abs(en["p90"] - 91.0) < 1e-9
    assert abs(en["p99"] - 99.1) < 1e-9
    de = out.loc["de"]
    assert de["n_docs"] == 4 and abs(de["p50"] - 125.0) < 1e-9


def test_repetition_signals_semantics(spark):
    from ironspark.textops import repetition_signals

    rows = [
        # 3 lines, "spam spam" repeated: 1 dup line of the 3
        (1, "spam spam\nspam spam\nreal content here"),
        # no repetition at all
        (2, "every line once\nanother line"),
        # keyword stuffing: "buy now" bigram dominates
        (3, "buy now buy now buy now buy now"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_signals(docs, n=2).collect()}

    r1 = out[1]
    assert (r1["n_lines"], r1["n_dup_lines"]) == (3, 1)
    assert r1["dup_line_frac"] == round(1 / 3, 6)
    # dup chars = 1 extra "spam spam" (9) over 9+9+17 line chars
    assert r1["dup_line_char_frac"] == round(9 / 35, 6)

    r2 = out[2]
    assert (r2["n_dup_lines"], r2["dup_line_frac"]) == (0, 0.0)

    # doc 3: bigram "buy now" occurs 4x (overlapping "now buy" 3x);
    # top coverage = 4 * len("buy now") / len(text) = 28/31
    r3 = out[3]
    assert r3["top_ngram_char_frac"] == round(28 / 31, 6)
