"""Oracle-parity + semantics tests for corpus-preparation operators
(redaction, TF-IDF, stratified sampling, inverted index)."""

import pytest

from bigdata_group4_app_spark.operators import corpus

from .conftest import SF_CORRECT, check_registered


@pytest.mark.parametrize("name", sorted(corpus.QUERIES))
def test_corpus_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_redaction_scrubs_blocklist(spark):
    """Docs containing a blocklist term must report hits, and the scrubbed
    fingerprint must differ from the raw-text md5 exactly for those docs."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.sources.registry import load_table

    red = corpus.pii_redact(spark, SF_CORRECT)
    raw = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.md5("text").alias("raw_md5")
    )
    joined = red.join(raw, "doc_id").collect()
    assert any(r["n_blocked"] > 0 for r in joined)
    for r in joined:
        assert (r["clean_md5"] != r["raw_md5"]) == (
            r["n_blocked"] + r["n_emails"] + r["n_ipv4"] > 0
        )


def test_tfidf_rare_term_outranks_common(spark):
    """'dup' appears in ~5% of docs vs ~78% for every other term — in any
    doc containing it, its idf advantage must put it at rank 1."""
    rows = corpus.tfidf_top_terms(spark, SF_CORRECT).collect()
    dup_rows = [r for r in rows if r["term"] == "dup"]
    assert dup_rows and all(r["rank"] == 1 for r in dup_rows)


def test_stratified_sample_is_deterministic(spark):
    a = corpus.stratified_sample_counts(spark, SF_CORRECT).collect()
    b = corpus.stratified_sample_counts(spark, SF_CORRECT).collect()
    assert a == b
    by_lang = {r["lang"]: r for r in a}
    # observed rates should land near the configured basis points
    for lang, bp in corpus.SAMPLE_BP.items():
        assert abs(by_lang[lang]["observed_rate"] - bp / 10000) < 0.15


def test_inverted_index_covers_vocabulary(spark):
    rows = corpus.inverted_index_stats(spark, SF_CORRECT).collect()
    terms = {r["term"] for r in rows}
    assert "dup" in terms
    for r in rows:
        assert r["df"] <= r["total_tf"]


def test_pack_shards_accounts_for_every_token(spark):
    """Shard manifest must conserve docs and tokens, and every shard but
    the last must be filled past its budget boundary's preceding doc
    (prefix-sum assignment leaves no empty shards)."""
    from bigdata_group4_app_spark.operators.corpus import pack_shards
    from bigdata_group4_app_spark.operators.text import text_stats

    from .conftest import SF_SMOKE

    shards = pack_shards(spark, SF_SMOKE).collect()
    stats = text_stats(spark, SF_SMOKE).collect()
    assert sum(r["n_docs"] for r in shards) == len(stats)
    assert sum(r["n_tokens"] for r in shards) == sum(r["n_tokens"] for r in stats)
    ids = [r["shard_id"] for r in shards]
    assert ids == list(range(len(ids)))  # contiguous, no gaps


def test_char_entropy_bounds(spark):
    """0 <= H <= log2(distinct chars), with equality only at degenerate
    single-char docs."""
    import math

    from bigdata_group4_app_spark.operators.text import char_entropy

    from .conftest import SF_SMOKE

    for r in char_entropy(spark, SF_SMOKE).collect():
        assert -1e-9 <= r["entropy_bits"] <= math.log2(r["n_distinct_chars"]) + 1e-6
