"""Text-analysis operators over ``documents`` — the LLM-data-pipeline
surface (BASELINE.json north_star; beyond the reference app, which has no
string functions at all, SURVEY.md §2.8).

Operators: token statistics, language profiling, stopword-ratio language
ID, quality scoring, content fingerprinting. Everything is native Spark SQL
expressions (split / higher-order array functions / md5) — no Python in the
hot path, so the whole stage is whole-stage-codegen and embarrassingly
parallel: at 100 TB these are pure map-side transforms with no shuffle
except the final small group-bys.

Tokenization contract (shared with the DuckDB oracle): trim, split on runs
of whitespace. Spark ``split(trim(text), '\\s+')`` ≡ DuckDB
``string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    duck_md5_int,
    duck_md5_int60,
    md5_int60_sql,
    md5_int_sql,
)
from ..functions.iterative import loop_width
from ..sources.registry import load_table

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
EN_STOPWORD_RATIO = 0.05  # >= ratio of stopword tokens → classified 'en'

_STOP_IN = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def _bigram_arr() -> F.Column:
    """The shared space-joined-bigram array over ``toks`` — ONE definition
    for ngram_lm_perplexity / top_bigrams_per_lang / doc_repetition so an
    edit (separator, empty guard) can't desync them from each other or
    their oracle twins."""
    return F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(0, size(toks) - 2), "
        "i -> concat(toks[i], ' ', toks[i+1])) "
        "ELSE array() END"
    )


def _with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting + length stats (BPE-ish accounting is
    token_count; chars come from the source column)."""
    df = _with_tokens(spark, sf_dir)
    return df.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.expr(
            "round(CAST(aggregate(toks, 0, (acc, x) -> acc + length(x)) AS DOUBLE)"
            " / size(toks), 4)"
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


def language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language tag: volume + length distribution."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: ratio of English stopword tokens.

    The real-data version plugs per-language stopword lists into the same
    shape; the operator contract (tokenize → marker-ratio → threshold
    classify) is what's exercised here.
    """
    df = _with_tokens(spark, sf_dir)
    ratio = F.expr(
        f"round(CAST(size(filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE)"
        " / size(toks), 4)"
    )
    return df.select(
        "doc_id",
        "lang",
        ratio.alias("stopword_ratio"),
        F.when(ratio >= EN_STOPWORD_RATIO, "en").otherwise("unknown").alias(
            "predicted_lang"
        ),
    ).orderBy("doc_id")


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation matrix: metadata language tag (truth) vs the
    stopword-heuristic prediction, with each cell's share of its truth
    row. The QA artifact every language-ID stage ships with — row shares
    are the per-class recall diagonal. One doc-level map pass + a
    (lang, predicted) agg whose output is |langs|² rows at any corpus
    size; the row-share window runs over that tiny relation."""
    df = _with_tokens(spark, sf_dir)
    ratio = F.expr(
        f"round(CAST(size(filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE)"
        " / size(toks), 4)"
    )
    cells = (
        df.select(
            "lang",
            F.when(ratio >= EN_STOPWORD_RATIO, "en")
            .otherwise("unknown")
            .alias("predicted_lang"),
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "row_share"
        ),
    ).orderBy("lang", "predicted_lang")


def quality_score_col() -> F.Column:
    """The shared quality expression (length saturation, lexical
    diversity, stopword balance — 0..1 each, equally weighted, 4dp).
    Expects ``toks`` (split tokens) and ``n_chars`` columns. Used by
    doc_quality, the corpus-clean funnel, and quality-weighted sampling —
    one definition so the gates can't drift."""
    length_score = F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0))
    diversity = F.size(F.array_distinct("toks")) / F.size("toks")
    stop_ratio = F.expr(
        f"CAST(size(filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE) / size(toks)"
    )
    # ideal stopword band ~[0.02, 0.4]: too few = keyword spam, too many = filler
    stop_score = F.when(
        (stop_ratio >= 0.02) & (stop_ratio <= 0.4), 1.0
    ).otherwise(0.5)
    return F.round((length_score + diversity + stop_score) / 3, 4)


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length saturation, lexical diversity, stopword
    balance — the pre-training filter signals, 0..1 each, equally weighted."""
    df = _with_tokens(spark, sf_dir)
    quality = quality_score_col()
    return df.select(
        "doc_id",
        quality.alias("quality"),
        F.when(quality >= 0.8, "high")
        .when(quality >= 0.5, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    ).orderBy("doc_id")


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap perplexity
    proxy quality filters use to drop mojibake, base64 blobs, and
    keyboard-mash (natural text sits ~4-4.5 bits/char; junk saturates or
    collapses). explode → (doc, char) count → doc agg: codegen'd hash
    aggregation end to end (the HOF alternative runs interpreted — see
    simhash_signatures). Entropy sums ~80 tiny terms per doc, rounded 4dp
    on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "(?!^)")).alias("ch"),
    ).filter(F.col("ch") != "")
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    # H = log2(n) - (Σ c·log2(c))/n — counts are exact ints, one float
    # sum + one division, same expression tree on both engines
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars_total"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(
                F.log2(F.sum("c"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
                4,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of normalized text plus a 32-bit integer
    key (first 8 hex chars) usable as a shard/shuffle key at scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    fp = F.md5(norm)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.expr(md5_int_sql("lower(trim(text))")).alias("fingerprint_key"),
    ).orderBy("doc_id")


BPE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"  # GPT-2-ish pre-tokenizer:
# whole words, single digits, punctuation as singletons
ROLL_B, ROLL_M = 31, 1_000_000_007


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under two tokenizers: whitespace vs a BPE-ish
    regex (words / digits / punctuation — the GPT-2 pre-tokenize shape).
    ``bpe_per_ws`` estimates subword inflation, the number an LLM-data
    pipeline budgets context length with. Pure regexp+array expressions:
    map-only, codegen, no shuffle."""
    df = _with_tokens(spark, sf_dir)
    bpe = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return df.select(
        "doc_id",
        F.size("toks").alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.round(
            F.size(bpe) / F.size("toks").cast("double"), 4
        ).alias("bpe_per_ws"),
    ).orderBy("doc_id")


def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token-hash sequence (acc·B + h mod M). Unlike the md5 fingerprint
    (doc_fingerprint), token order matters — reordered content changes the
    hash. Token hashes are md5-derived ints, identical in both engines."""
    df = _with_tokens(spark, sf_dir)
    rolling = F.expr(
        "aggregate("
        f"  transform(toks, x -> {md5_int_sql('x')}),"
        f"  CAST(0 AS BIGINT), (acc, h) -> (acc * {ROLL_B} + h) % {ROLL_M})"
    )
    return df.select("doc_id", rolling.alias("rolling_hash")).orderBy("doc_id")


# fixed "benchmark" phrases for the decontamination scan (3-gram needles —
# stand-ins for eval-set strings a real pipeline must purge before training)
CONTAMINATION_NEEDLES = (
    "big order scan",
    "group slow spark",
    "sort slow hash",
)
TOP_TOKENS_K = 20
TOP_BIGRAMS_PER_LANG = 5

SPLIT_TEST_FRAC = 0.2  # hash-threshold test fraction
_SPLIT_THRESHOLD = int(SPLIT_TEST_FRAC * 16**8)  # on the first 8 md5 hex chars


def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split: a doc lands in 'test' iff the
    integer value of its id-hash prefix falls below frac·2³². Hash-based
    assignment (vs random()) is reproducible across runs, engines, and
    re-partitioning, and stays stable when the corpus grows — the property
    a training pipeline needs so yesterday's test docs don't leak into
    tomorrow's train set. Emits doc/token counts per (lang, split)."""
    df = _with_tokens(spark, sf_dir)
    bucket = F.expr(md5_int_sql("CAST(doc_id AS STRING)"))
    split = F.when(bucket < _SPLIT_THRESHOLD, "test").otherwise("train")
    return (
        df.select("lang", split.alias("split"), F.size("toks").alias("n_toks"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("lang", "split")
    )


def contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: which documents contain any benchmark needle, and
    which needles. ``contains`` on the raw text is a map-only scan per
    needle — with a large needle set the scale path is the shingle-join
    (hash the needle set, join on 3-gram shingles) which this operator's
    output contract also fits."""
    docs = load_table(spark, sf_dir, "documents")
    hits = [
        F.when(F.col("text").contains(n), F.lit(n)) for n in CONTAMINATION_NEEDLES
    ]
    return (
        docs.select(
            "doc_id",
            F.array_compact(F.array(*hits)).alias("matched"),
        )
        .filter(F.size("matched") > 0)
        .select(
            "doc_id",
            F.size("matched").alias("n_needles"),
            F.array_join(F.array_sort("matched"), "|").alias("needles"),
        )
        .orderBy("doc_id")
    )


CONTAM_NGRAM_N = 4  # decontamination gram size (13 in prod; 4 fits sf docs)
CONTAM_EVAL_MOD = 5  # doc_id % this == 0 plays the held-out benchmark set
CONTAM_MIN_SHARED = 2  # >= this many shared grams with ONE eval doc → flag


def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path ``contamination_scan``'s docstring defers to:
    benchmark decontamination as a hashed n-gram join (the form used to
    decontaminate GPT-3/PaLM-class training sets — Brown et al. 2020
    appendix C; Lee et al. 2021) instead of per-needle ``contains``
    scans that cannot extend past a handful of needles. The held-out
    benchmark set here is the deterministic ``doc_id % {mod} == 0``
    slice; every train doc is scored by its distinct shared n-grams
    with each eval doc, flagged when any single eval doc shares
    ``CONTAM_MIN_SHARED``+ grams (one shared gram is boilerplate;
    repeated overlap is leakage — the near-dup tail in this corpus runs
    to 90 shared grams, i.e. verbatim copies of benchmark docs).

    Per train doc: how many eval docs it touches, total/max shared gram
    counts, the worst-offender eval doc, and the contamination flag.

    Scale shape: the shingle relation is built ONCE from one corpus
    scan (the MinHash family's map-side distinct-hash explode,
    ``dedup._shingles`` at this operator's own gram size) and split by
    the id predicate; the eval side — benchmark suites are ~1e4 docs
    against a 1e10-doc corpus — is BROADCAST, so the join is map-side
    on 8-byte hashes with no corpus shuffle; the only shuffles are the
    (train, eval) pair count and the per-train-doc aggregate, both
    bounded by collision volume, not corpus size. Worst-offender pick
    is a partial-aggregating ``max(struct)`` argmax (ties → lowest
    eval_id — pre-collapsed, CLAUDE.md tie rule), not a window.

    Cross-engine: identical 60-bit md5 shingle hashes on both engines
    (shared builder), pure integer counts — no float anywhere."""
    from ..operators.dedup import _shingles

    sh = _shingles(spark, sf_dir, n=CONTAM_NGRAM_N)
    ev = (
        sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "h")
    )
    tr = sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    pairs = (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    agg = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.sum("shared").alias("total_shared"),
        F.max(
            F.struct(
                F.col("shared").alias("s"),
                (-F.col("eval_id")).alias("neg_id"),
            )
        ).alias("worst"),
    )
    return agg.select(
        "doc_id",
        "n_eval_hits",
        "total_shared",
        F.col("worst.s").alias("max_shared"),
        (-F.col("worst.neg_id")).alias("worst_eval_id"),
        (F.col("worst.s") >= CONTAM_MIN_SHARED).alias("contaminated"),
    ).orderBy("doc_id")


contamination_ngram_overlap.__doc__ = contamination_ngram_overlap.__doc__.format(
    mod=CONTAM_EVAL_MOD
)


def _duck_contamination_overlap_sql() -> str:
    from ..operators.dedup import duck_shingles_ctes

    return f"""
WITH {duck_shingles_ctes(CONTAM_NGRAM_N).strip()},
ev AS (SELECT doc_id AS eval_id, h FROM shingles WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id, h FROM shingles WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
pairs AS (
  SELECT tr.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS shared
  FROM tr JOIN ev USING (h)
  GROUP BY 1, 2
),
rk AS (
  SELECT doc_id, eval_id, shared,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY shared DESC, eval_id) AS rn
  FROM pairs
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
    CAST(sum(shared) AS BIGINT) AS total_shared
  FROM pairs GROUP BY doc_id
)
SELECT a.doc_id, a.n_eval_hits, a.total_shared,
  r.shared AS max_shared, r.eval_id AS worst_eval_id,
  (r.shared >= {CONTAM_MIN_SHARED}) AS contaminated
FROM agg a JOIN rk r ON r.doc_id = a.doc_id AND r.rn = 1
ORDER BY a.doc_id
"""


BPE_MERGE_TOP_K = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First round of BPE tokenizer training: the top-K adjacent-symbol
    pair counts over the corpus (Sennrich et al. 2016 — the pair with the
    highest count becomes the first merge rule).

    Scale shape — the reason real BPE trainers handle web corpora: the
    only corpus-sized pass is the word-frequency aggregation (partial+
    final hash agg, one shuffle of distinct words). The pair explosion
    runs on the DISTINCT-VOCABULARY relation, which by Heaps' law grows
    sub-linearly (~N^0.5) — at 100 TB the explode touches millions of
    words, not trillions of tokens. Candidate ranking is sort+limit
    (TakeOrderedAndProject — per-partition heaps, no global sort).

    Words are lowercased alpha-only tokens (bounds the pair alphabet to
    26² and keeps punctuation from dominating the merge table, as real
    pre-tokenizers do). Tie-break on the pair string keeps the ranking
    total, so both engines agree on rank order.
    """
    df = _with_tokens(spark, sf_dir)
    words = (
        df.select(F.explode("toks").alias("tok"))
        .select(F.lower(F.col("tok")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "c",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("merge_count"))
        .orderBy(F.desc("merge_count"), "pair")
        .limit(BPE_MERGE_TOP_K)
    )
    w = Window.orderBy(F.desc("merge_count"), "pair")
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequencies, top K with rank — the Zipf head.
    Explode → count is a single shuffle with map-side partial counts; the
    top-K is sort+limit, which Spark plans as TakeOrderedAndProject
    (per-partition heaps, no global sort — web-scale vocabularies never
    pass through one reducer). The rank window then runs over K rows
    only."""
    df = _with_tokens(spark, sf_dir)
    counts = (
        df.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "tok").limit(TOP_TOKENS_K)
    w = Window.orderBy(F.desc("n"), "tok")
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM scoring — the KenLM/CCNet-style quality
    filter: train add-one-smoothed bigram probabilities on the corpus
    itself, then score each document's average per-bigram log2
    probability and perplexity (low probability ⇒ out-of-distribution /
    junk). P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V).

    Plan: the LM "trains" once per DISTINCT bigram — bg_counts joins the
    unigram table and scores logp there, so log2 and the division run
    |distinct bigrams| times, not |occurrences| times. The doc relation
    then shuffle-joins the scored table on the bigram key (NOT broadcast:
    a corpus has more distinct bigrams than fits a broadcast, and
    broadcasting it measured 2.5× slower at sf0.1). Only the 1-row
    vocab count broadcasts."""
    df = _with_tokens(spark, sf_dir)
    bigram = _bigram_arr()
    # persist: doc_bigrams feeds BOTH the LM-count branch and the
    # scoring join through DIFFERENT Exchanges (no ReuseExchange dedup) —
    # without it the scan+tokenize+explode pass runs twice
    # (construction-lazy cache, round 10 — was an eager checkpoint)
    doc_bigrams = df.select(
        "doc_id", F.explode(bigram).alias("bg")
    ).persist()
    bg_counts = (
        doc_bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    )
    uni = df.select(F.explode("toks").alias("tok"))
    uni_counts = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni"))
    vocab = uni_counts.agg(F.count(F.lit(1)).alias("v"))
    scored_bg = (
        bg_counts.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .join(uni_counts.withColumnRenamed("tok", "w1"), "w1")
        .join(F.broadcast(vocab))
        .select(
            "bg",
            F.log2(
                (F.col("c_bg") + 1)
                / (F.col("c_uni") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )
    return (
        doc_bigrams.join(scored_bg, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # + 0.0: logp is strictly negative, so a near-deterministic
            # doc's mean can round to -0.0 on one engine only
            (F.round(F.avg("logp"), 4) + F.lit(0.0)).alias("avg_log2p"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_log2p",
            F.round(F.pow(F.lit(2.0), -F.col("avg_log2p")), 4).alias(
                "perplexity"
            ),
        )
        .orderBy("doc_id")
    )


def gini_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration per language: the Gini coefficient of the
    token-frequency distribution (0 = uniform vocabulary use, →1 = a few
    tokens dominate) plus supporting mass stats — the inequality summary
    behind vocabulary-pruning and repetition diagnostics. Computed from
    the closed form over count-ascending ranks, G = (2·Σ rank·c −
    (n+1)·Σc) / (n·Σc): every term is an exact integer until the single
    final division, so the engines can't drift. Rank ties break on the
    token string (total order)."""
    df = _with_tokens(spark, sf_dir)
    counts = (
        df.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy("c", "tok")
    ranked = counts.withColumn("r", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").alias("n_tokens"),
            F.round(
                (2 * F.sum(F.col("r").cast("double") * F.col("c"))
                 - (F.count(F.lit(1)) + 1) * F.sum(F.col("c").cast("double")))
                / (F.count(F.lit(1)) * F.sum(F.col("c").cast("double"))),
                4,
            ).alias("gini"),
        )
        .orderBy("lang")
    )


VOCAB_V = 100  # vocab budget for the coverage curve


VOCAB_GROWTH_DECILES = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: distinct TRIGRAM vocabulary as the corpus grows
    decile by decile (by doc_id order) — the sublinearity that predicts
    how much NEW vocabulary the next crawl batch will add. The unit is
    the 3-token shingle: this synthetic corpus has only ~31 distinct
    unigrams (fully saturated within the first docs — a flat line),
    while its trigram space genuinely grows and bends, which is the
    phenomenon the curve exists to show.

    Distributed form: one explode pass computes each trigram's FIRST
    decile of appearance (min over its doc buckets — a plain hash agg on
    60-bit md5 keys, the repo's shingle convention), then the cumulative
    vocabulary at decile d is a running sum over the 10-row
    first-appearance histogram. No per-prefix re-scan: the naive form
    runs 10 distinct-counts over growing prefixes; this runs one.
    Deciles come from integer doc_id bucketing (engine-exact), counts
    are integers; the only division is the final new-share column.
    """
    df = _with_tokens(spark, sf_dir)
    # ceil(N / deciles) as a 1-row IN-PLAN aggregate broadcast onto the
    # explode pass — not an eager driver-side count at construction
    # (round 10, the lazy-construction rule)
    bw = df.agg(
        F.expr(
            f"(count(*) + {VOCAB_GROWTH_DECILES - 1}) "
            f"div {VOCAB_GROWTH_DECILES}"
        ).alias("__bw")
    )
    tri_hash = md5_int60_sql("concat_ws(' ', toks[i], toks[i+1], toks[i+2])")
    tris = df.crossJoin(F.broadcast(bw)).select(
        (F.col("doc_id") / F.col("__bw")).cast("long").alias("decile"),
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN "
                f"transform(sequence(0, size(toks) - 3), i -> {tri_hash}) "
                "ELSE array() END"
            )
        ).alias("token"),
    )
    first_seen = tris.groupBy("token").agg(
        F.min("decile").alias("first_decile")
    )
    hist = first_seen.groupBy("first_decile").agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    w = (
        Window.orderBy("first_decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.select(
            "first_decile",
            "new_tokens",
            F.sum("new_tokens").over(w).alias("vocab_size"),
        )
        .select(
            "first_decile",
            "new_tokens",
            "vocab_size",
            F.round(
                F.col("new_tokens") / F.col("vocab_size").cast("double"), 4
            ).alias("new_share"),
        )
        .orderBy("first_decile")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-planning curve: cumulative share of all corpus token
    occurrences covered by the top-V vocabulary entries — the number that
    sizes a vocab budget (BPE merges stop where this flattens). Token
    counting is one explode+agg with map-side partials; the top-V is
    TakeOrderedAndProject; the running sum windows over V rows only.
    Counts are integers (exact cumsum); only the final share divides."""
    df = _with_tokens(spark, sf_dir)
    counts = (
        df.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.desc("n"), "tok").limit(VOCAB_V)
    w = (
        Window.orderBy(F.desc("n"), "tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(Window.orderBy(F.desc("n"), "tok")).alias(
                "rank"
            ),
            "tok",
            "n",
            F.round(F.sum("n").over(w) / F.col("total"), 4).alias(
                "cum_coverage"
            ),
        )
        .orderBy("rank")
    )


def top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent token bigrams per language tag (n-gram statistics for
    quality/contamination analyses). Bigrams come from a zip of the token
    array with itself shifted — pure HOF expressions, no Python."""
    df = _with_tokens(spark, sf_dir)
    bigram = _bigram_arr()
    counts = (
        df.select("lang", F.explode(bigram).alias("bg"))
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bg")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_BIGRAMS_PER_LANG)
        .orderBy("lang", "rank")
    )


# thresholds sit at ~p90 of each signal on the synthetic corpus so the flag
# actually splits it (a real corpus would use Gopher's published cutoffs)
REP_TOP_TOK = 0.14  # flag when one token carries >14% of the doc's mass
REP_DUP_BIGRAM = 0.065  # flag when >6.5% of bigram instances are repeats


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (Gopher-style quality rules): top-token mass,
    type-token ratio, duplicate-bigram mass, and the boolean repetition
    flag. Token concentrations come from an explode → (doc, tok) agg →
    doc agg chain (exact at any doc length, partial-aggregates map-side);
    the bigram-dup mass stays a map-side HOF on the token array. The two
    relations re-join on doc_id — doc-keyed, so the join is co-partitioned
    with the agg output."""
    df = _with_tokens(spark, sf_dir)
    bigram = _bigram_arr()
    bg_ratio = df.select(
        "doc_id",
        F.coalesce(
            F.round(
                1
                - F.size(F.array_distinct(bigram))
                / F.size(bigram).cast("double"),
                4,
            ),
            F.lit(0.0),
        ).alias("dup_bigram_ratio"),
    )
    per_tok = (
        df.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    conc = per_tok.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c").cast("double"), 4).alias(
            "top_tok_ratio"
        ),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 4).alias(
            "type_token_ratio"
        ),
    )
    return (
        conc.join(bg_ratio, "doc_id")
        .select(
            "doc_id",
            "top_tok_ratio",
            "type_token_ratio",
            "dup_bigram_ratio",
            (
                (F.col("top_tok_ratio") > REP_TOP_TOK)
                | (F.col("dup_bigram_ratio") > REP_DUP_BIGRAM)
            )
            .cast("int")
            .alias("repetition_flag"),
        )
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping CHUNK_TOKENS-token windows at
    CHUNK_STRIDE, the canonical pre-training / RAG preprocessing operator.
    Emits per-chunk token count and an md5 fingerprint (the join key for
    chunk-level dedup). Pure sequence/slice expressions — map-only,
    explode-parallel; a short tail document still yields one chunk."""
    df = _with_tokens(spark, sf_dir)
    starts = F.expr(
        f"sequence(0, greatest(size(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1, 0)"
        f" div {CHUNK_STRIDE}, 1)"
    )
    return (
        df.select(
            "doc_id",
            "toks",
            F.explode(starts).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(
                f"slice(toks, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"
            ).alias("chunk"),
        )
        .filter(F.size("chunk") > 0)
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular dedup: chunk fingerprints appearing in MORE THAN ONE
    document — the boilerplate/near-dup detector at sub-document
    resolution (doc-level dedup misses a shared paragraph inside otherwise
    distinct docs). Downstream, these fingerprints become the drop-list
    for chunk-level cleaning. Same map-only chunker as ``doc_chunks``,
    then one fingerprint-keyed agg."""
    chunks = doc_chunks(spark, sf_dir)
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("chunk_md5")
    )


_DUCK_TOKS = "string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')"


def duck_quality_ctes(t: str = "t", s: str = "s", q: str = "q") -> str:
    """The doc_quality CTE chain (token split → component scores → 4dp
    quality), parameterized on CTE names so composite oracles (e.g.
    near_dup_survivors in operators/dedup.py) interpolate the SAME text
    instead of re-typing it — the oracle-side twin of the shared
    ``quality_score_col`` helper, so the gates can't drift."""
    return f"""{t} AS (SELECT doc_id, n_chars, {_DUCK_TOKS} AS toks FROM documents),
{s} AS (
  SELECT doc_id,
    least(n_chars / 500.0, 1.0) AS length_score,
    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
    CAST(len(list_filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE) / len(toks) AS stop_ratio
  FROM {t}
),
{q} AS (
  SELECT doc_id,
    round((length_score + diversity
           + CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.4 THEN 1.0 ELSE 0.5 END) / 3, 4) AS quality
  FROM {s}
)"""

_DUCK_NEEDLES = "[" + ", ".join(f"'{n}'" for n in CONTAMINATION_NEEDLES) + "]"

def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix diversity per source domain: Shannon entropy (bits)
    of each source's language distribution — the corpus-mixture
    diagnostic next to domain_mix_weights (0 = monolingual source,
    log2(k) = uniform over k languages).

    Cross-engine float discipline: the entropy sum is a FOLD over the
    per-source language counts sorted by lang, not a float aggregate —
    hash-agg summation order differs between engines, a left-to-right
    fold over an identically-ordered list does not. Counts and totals
    stay integer (exact); one log2/divide chain per term.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    src = per.groupBy("source").agg(
        F.sort_array(F.collect_list(F.struct("lang", "n"))).alias("ls"),
        F.sum("n").alias("n_docs"),
    )
    ent = (
        "round(aggregate(ls, CAST(0 AS DOUBLE), (a, e) -> "
        "a - (CAST(e.n AS DOUBLE) / n_docs) "
        "* log2(CAST(e.n AS DOUBLE) / n_docs)), 4)"
    )
    return src.select(
        "source",
        "n_docs",
        F.size("ls").alias("n_langs"),
        F.expr(ent).alias("lang_entropy"),
    ).orderBy("source")


ORACLE: dict[str, str] = {
    "vocab_growth_curve": f"""
WITH nd AS (
  SELECT CAST(ceil(count(*) / CAST({VOCAB_GROWTH_DECILES} AS DOUBLE))
    AS BIGINT) AS w
  FROM documents
),
tk AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents
),
tris AS (
  SELECT doc_id,
    {duck_md5_int60("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS token
  FROM tk
  CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 2, 0))) s(i)
),
first_seen AS (
  SELECT token, min(doc_id // nd.w) AS first_decile
  FROM tris CROSS JOIN nd
  GROUP BY token
),
hist AS (
  SELECT first_decile, count(*) AS new_tokens
  FROM first_seen GROUP BY first_decile
)
SELECT first_decile, new_tokens,
  CAST(sum(new_tokens) OVER (ORDER BY first_decile
       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
  round(new_tokens / CAST(sum(new_tokens) OVER (ORDER BY first_decile
        ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS new_share
FROM hist
ORDER BY first_decile
""",

    "source_lang_entropy": """
WITH per AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
),
src AS (
  SELECT source, list(n ORDER BY lang) AS ns,
    CAST(sum(n) AS BIGINT) AS n_docs
  FROM per GROUP BY source
)
SELECT source, n_docs, CAST(len(ns) AS INT) AS n_langs,
  round(list_reduce(
    list_prepend(CAST(0 AS DOUBLE),
      list_transform(ns, x -> -(CAST(x AS DOUBLE) / n_docs)
        * log2(CAST(x AS DOUBLE) / n_docs))),
    (a, b) -> a + b), 4) AS lang_entropy
FROM src
ORDER BY source
""",
    "doc_repetition": f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
per AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY doc_id, tok),
conc AS (
  SELECT doc_id,
    round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_tok_ratio,
    round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS type_token_ratio
  FROM per GROUP BY doc_id
),
bg AS (
  SELECT t.doc_id, concat(toks[u.i], ' ', toks[u.i+1]) AS bg
  FROM t
  CROSS JOIN UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) u(i)
),
bga AS (
  SELECT doc_id,
    round(1 - count(DISTINCT bg) / CAST(count(*) AS DOUBLE), 4) AS dup_bigram_ratio
  FROM bg GROUP BY doc_id
)
SELECT conc.doc_id, top_tok_ratio, type_token_ratio,
  coalesce(dup_bigram_ratio, 0.0) AS dup_bigram_ratio,
  CAST(top_tok_ratio > {REP_TOP_TOK}
       OR coalesce(dup_bigram_ratio, 0.0) > {REP_DUP_BIGRAM} AS INT)
    AS repetition_flag
FROM conc LEFT JOIN bga ON conc.doc_id = bga.doc_id
ORDER BY conc.doc_id
""",
    "doc_chunks": f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
    toks[u.i * {CHUNK_STRIDE} + 1 : u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS chunk
  FROM t
  CROSS JOIN UNNEST(generate_series(0,
      greatest(len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1, 0) // {CHUNK_STRIDE}
  )) u(i)
)
SELECT doc_id, chunk_idx,
  len(chunk) AS n_tokens,
  md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM c
WHERE len(chunk) > 0
ORDER BY doc_id, chunk_idx
""",
    "shared_chunks": f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
    toks[u.i * {CHUNK_STRIDE} + 1 : u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS chunk
  FROM t
  CROSS JOIN UNNEST(generate_series(0,
      greatest(len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1, 0) // {CHUNK_STRIDE}
  )) u(i)
),
f AS (
  SELECT doc_id, md5(array_to_string(chunk, ' ')) AS chunk_md5
  FROM c WHERE len(chunk) > 0
)
SELECT chunk_md5,
  count(DISTINCT doc_id) AS n_docs,
  count(*) AS n_occurrences,
  min(doc_id) AS min_doc_id
FROM f
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) > 1
ORDER BY chunk_md5
""",
    "contamination_scan": f"""
WITH m AS (
  SELECT doc_id,
    list_sort(list_filter({_DUCK_NEEDLES}, x -> contains(text, x))) AS matched
  FROM documents
)
SELECT doc_id,
  len(matched) AS n_needles,
  array_to_string(matched, '|') AS needles
FROM m
WHERE len(matched) > 0
ORDER BY doc_id
""",
    "bpe_merge_candidates": f"""
WITH tok AS (
  SELECT u.tok
  FROM (SELECT {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
),
words AS (
  SELECT lower(tok) AS w, count(*) AS c
  FROM tok
  WHERE regexp_matches(lower(tok), '^[a-z]+$') AND len(lower(tok)) >= 2
  GROUP BY 1
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, c
  FROM words CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) u(i)
),
agg AS (
  SELECT pair, CAST(sum(c) AS BIGINT) AS merge_count
  FROM pairs GROUP BY pair
),
ranked AS (
  SELECT pair, merge_count,
    row_number() OVER (ORDER BY merge_count DESC, pair) AS rank
  FROM agg
)
SELECT pair, merge_count, rank FROM ranked WHERE rank <= {BPE_MERGE_TOP_K}
ORDER BY rank
""",
    "top_tokens": f"""
WITH tok AS (
  SELECT u.tok
  FROM (SELECT {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
),
counts AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
ranked AS (
  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank FROM counts
)
SELECT tok, n, rank FROM ranked WHERE rank <= {TOP_TOKENS_K}
ORDER BY rank
""",
    "gini_token_concentration": f"""
WITH counts AS (
  SELECT lang, u.tok, count(*) AS c
  FROM (SELECT lang, {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
  GROUP BY lang, u.tok
),
ranked AS (
  SELECT lang, c,
    row_number() OVER (PARTITION BY lang ORDER BY c, tok) AS r
  FROM counts
)
SELECT lang,
  count(*) AS n_types,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  round((2 * sum(CAST(r AS DOUBLE) * c)
         - (count(*) + 1) * sum(CAST(c AS DOUBLE)))
        / (count(*) * sum(CAST(c AS DOUBLE))), 4) AS gini
FROM ranked
GROUP BY lang
ORDER BY lang
""",
    "ngram_lm_perplexity": f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
doc_bg AS (
  SELECT doc_id, concat(toks[u.i], ' ', toks[u.i+1]) AS bg
  FROM t
  CROSS JOIN UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) u(i)
),
bg_counts AS (SELECT bg, count(*) AS c_bg FROM doc_bg GROUP BY bg),
uni AS (
  SELECT u.tok FROM t CROSS JOIN UNNEST(toks) u(tok)
),
uni_counts AS (SELECT tok, count(*) AS c_uni FROM uni GROUP BY tok),
vocab AS (SELECT count(*) AS v FROM uni_counts),
scored AS (
  SELECT d.doc_id,
    log2((b.c_bg + 1) / CAST(u.c_uni + vocab.v AS DOUBLE)) AS logp
  FROM doc_bg d
  JOIN bg_counts b ON b.bg = d.bg
  JOIN uni_counts u ON u.tok = string_split(d.bg, ' ')[1]
  CROSS JOIN vocab
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) + 0.0 AS avg_log2p
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_log2p,
  round(pow(2.0, -avg_log2p), 4) AS perplexity
FROM per_doc
ORDER BY doc_id
""",
    "vocab_coverage": f"""
WITH tok AS (
  SELECT u.tok
  FROM (SELECT {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
),
counts AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
ranked AS (
  SELECT tok, n,
    row_number() OVER (ORDER BY n DESC, tok) AS rank,
    CAST(sum(n) OVER (ORDER BY n DESC, tok ROWS BETWEEN UNBOUNDED
      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM counts
)
SELECT rank, tok, n,
  round(cum / total.total, 4) AS cum_coverage
FROM ranked CROSS JOIN total
WHERE rank <= {VOCAB_V}
ORDER BY rank
""",
    "top_bigrams_per_lang": f"""
WITH toks AS (SELECT lang, {_DUCK_TOKS} AS t FROM documents),
bg AS (
  SELECT lang, concat(t[i], ' ', t[i+1]) AS bg
  FROM toks
  CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) u(i)
),
counts AS (SELECT lang, bg, count(*) AS n FROM bg GROUP BY lang, bg),
ranked AS (
  SELECT lang, bg, n,
    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS rank
  FROM counts
)
SELECT lang, bg, n, rank FROM ranked WHERE rank <= {TOP_BIGRAMS_PER_LANG}
ORDER BY lang, rank
""",
    "corpus_split_counts": f"""
WITH t AS (
  SELECT lang,
    CASE WHEN {duck_md5_int('CAST(doc_id AS VARCHAR)')}
              < {_SPLIT_THRESHOLD}
         THEN 'test' ELSE 'train' END AS split,
    len({_DUCK_TOKS}) AS n_toks
  FROM documents
)
SELECT lang, split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM t
GROUP BY lang, split
ORDER BY lang, split
""",
    "token_count_bpe": f"""
WITH t AS (
  SELECT doc_id,
    {_DUCK_TOKS} AS toks,
    regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]', 0) AS bpe
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_ws_tokens,
  len(bpe) AS n_bpe_tokens,
  round(CAST(len(bpe) AS DOUBLE) / len(toks), 4) AS bpe_per_ws
FROM t
ORDER BY doc_id
""",
    "rolling_hash_fingerprint": f"""
WITH t AS (
  SELECT doc_id,
    list_transform({_DUCK_TOKS},
                   x -> {duck_md5_int('x')}) AS hs
  FROM documents
)
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
              (acc, h) -> (acc * {ROLL_B} + h) % {ROLL_M}) AS rolling_hash
FROM t
ORDER BY doc_id
""",
    "text_stats": f"""
WITH t AS (SELECT doc_id, lang, text, {_DUCK_TOKS} AS toks FROM documents)
SELECT doc_id, lang,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct_tokens,
  length(text) AS n_chars_measured,
  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_token_len
FROM t
ORDER BY doc_id
""",
    "language_profile": """
SELECT lang,
  count(*) AS n_docs,
  round(avg(n_chars), 4) AS avg_chars,
  min(n_chars) AS min_chars,
  max(n_chars) AS max_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    "lang_id_stopword": f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
r AS (
  SELECT doc_id, lang,
    round(CAST(len(list_filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE) / len(toks), 4) AS stopword_ratio
  FROM t
)
SELECT doc_id, lang, stopword_ratio,
  CASE WHEN stopword_ratio >= {EN_STOPWORD_RATIO} THEN 'en' ELSE 'unknown' END AS predicted_lang
FROM r
ORDER BY doc_id
""",
    "lang_confusion": f"""
WITH t AS (SELECT lang, {_DUCK_TOKS} AS toks FROM documents),
p AS (
  SELECT lang,
    CASE WHEN round(CAST(len(list_filter(toks, x -> x IN {_STOP_IN})) AS DOUBLE) / len(toks), 4)
              >= {EN_STOPWORD_RATIO}
         THEN 'en' ELSE 'unknown' END AS predicted_lang
  FROM t
),
cells AS (
  SELECT lang, predicted_lang, count(*) AS n_docs
  FROM p GROUP BY lang, predicted_lang
)
SELECT lang, predicted_lang, n_docs,
  round(n_docs / sum(n_docs) OVER (PARTITION BY lang), 4) AS row_share
FROM cells
ORDER BY lang, predicted_lang
""",
    "doc_quality": f"""
WITH {duck_quality_ctes()}
SELECT doc_id, quality,
  CASE WHEN quality >= 0.8 THEN 'high' WHEN quality >= 0.5 THEN 'medium' ELSE 'low' END AS quality_bucket
FROM q
ORDER BY doc_id
""",
    "char_entropy": """
WITH chars AS (
  SELECT doc_id, u.ch
  FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents)
  CROSS JOIN UNNEST(cs) u(ch)
  WHERE u.ch <> ''
),
per AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch)
SELECT doc_id,
  CAST(sum(c) AS BIGINT) AS n_chars_total,
  count(*) AS n_distinct_chars,
  round(log2(CAST(sum(c) AS DOUBLE))
        - sum(c * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 4)
    AS entropy_bits
FROM per GROUP BY doc_id
ORDER BY doc_id
""",
    "doc_fingerprint": f"""
SELECT doc_id,
  md5(lower(trim(text))) AS fingerprint,
  {duck_md5_int('lower(trim(text))')} AS fingerprint_key
FROM documents
ORDER BY doc_id
""",
}

QUERIES = {
    "doc_chunks": doc_chunks,
    "doc_repetition": doc_repetition,
    "shared_chunks": shared_chunks,
    "contamination_scan": contamination_scan,
    "top_tokens": top_tokens,
    "bpe_merge_candidates": bpe_merge_candidates,
    "vocab_coverage": vocab_coverage,
    "vocab_growth_curve": vocab_growth_curve,
    "ngram_lm_perplexity": ngram_lm_perplexity,
    "gini_token_concentration": gini_token_concentration,
    "top_bigrams_per_lang": top_bigrams_per_lang,
    "corpus_split_counts": corpus_split_counts,
    "token_count_bpe": token_count_bpe,
    "rolling_hash_fingerprint": rolling_hash_fingerprint,
    "text_stats": text_stats,
    "language_profile": language_profile,
    "lang_id_stopword": lang_id_stopword,
    "lang_confusion": lang_confusion,
    "char_entropy": char_entropy,
    "doc_quality": doc_quality,
    "doc_fingerprint": doc_fingerprint,
    "source_lang_entropy": source_lang_entropy,
}


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-gram width (tokens)
WINNOW_W = 4  # winnowing window (k-gram hashes per window)
_POS_CAP = 1 << 20  # pos fits 20 bits -> (hash, rightmost-tie) packs in BIGINT


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: the min k-gram hash of every
    w-window, ties to the RIGHTMOST position (the MOSS algorithm —
    guarantees any shared substring of length ≥ w+k-1 tokens produces at
    least one shared fingerprint, unlike fixed-stride sampling). Emits
    the per-doc fingerprint ledger a plagiarism/near-dup pass consumes:
    k-gram count, selected-fingerprint count, selection density, and the
    mean document-frequency of the doc's fingerprints (a corpus-rarity
    signal — df≈1 fingerprints are the discriminative ones).

    The (min-hash, rightmost-tie) pair is packed into ONE BIGINT —
    ``h·2^20 + (2^20-1-pos)`` — so a plain window ``min`` implements the
    tie rule identically on both engines (no struct-ordering semantics
    involved; md5-derived h < 2^32 keeps the pack under 2^52, double- and
    BIGINT-exact; docs are capped at 2^20 k-grams, 3 orders of magnitude
    above this corpus). Shape at scale: explode is map-side; ONE
    repartition(doc_id) serves the trailing-window sort AND every
    per-doc aggregate (CLAUDE.md superset-clustering rule), and the
    windowed relation is ``localCheckpoint``-ed ONCE for its two
    consumers (per-doc stats, fingerprint df) — window subtrees don't
    ReuseExchange-dedup, so without the checkpoint the scan→explode→
    window chain plans three times (CLAUDE.md two-branch rule). The
    per-doc stage fuses n_kgrams and count(DISTINCT selection) into one
    already-clustered agg; the df side is a hash agg bounded by
    |distinct fingerprints|, broadcast back. Rightmost-tie makes the
    selection position-stable under content prepends within a window
    (the winnowing paper's local property).
    """
    df = _with_tokens(spark, sf_dir).filter(
        F.size("toks") >= WINNOW_K + WINNOW_W - 1
    )
    grams = df.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(toks) - {WINNOW_K}), "
                "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
            )
        ).alias("pos", "gram"),
    ).repartition("doc_id")
    keyed = grams.select(
        "doc_id",
        "pos",
        (
            F.expr(md5_int_sql("gram")) * F.lit(_POS_CAP)
            + (F.lit(_POS_CAP - 1) - F.col("pos"))
        ).alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    win = keyed.select(
        "doc_id", "pos", F.min("key").over(w).alias("sel_key")
    ).persist()  # construction-lazy dedup of the windowed-min relation
    stats = win.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kgrams"),
        F.count_distinct(
            F.when(F.col("pos") >= WINNOW_W - 1, F.col("sel_key"))
        ).alias("n_fingerprints"),
    )
    doc_fp = (
        win.filter(F.col("pos") >= WINNOW_W - 1)
        .select("doc_id", F.expr(f"sel_key div {_POS_CAP}").alias("fp"))
        .distinct()
    )
    fp_df = doc_fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    doc_rarity = (
        # the fingerprint-frequency relation grows with the corpus —
        # size-driven join, no forced broadcast
        doc_fp.join(fp_df, "fp")
        .groupBy("doc_id")
        .agg(F.round(F.avg("df"), 4).alias("avg_fp_df"))
    )
    return (
        stats.join(doc_rarity, "doc_id")
        .select(
            "doc_id",
            "n_kgrams",
            "n_fingerprints",
            F.round(
                F.col("n_fingerprints") / F.col("n_kgrams").cast("double"), 4
            ).alias("fp_density"),
            "avg_fp_df",
        )
        .orderBy("doc_id")
    )


ORACLE["winnowing_fingerprints"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
eligible AS (
  SELECT doc_id, toks FROM t
  WHERE len(toks) >= {WINNOW_K + WINNOW_W - 1}
),
grams AS (
  SELECT doc_id, u.i - 1 AS pos,
    toks[u.i] || ' ' || toks[u.i + 1] || ' ' || toks[u.i + 2] AS gram
  FROM eligible
  CROSS JOIN UNNEST(generate_series(1, len(toks) - {WINNOW_K - 1})) u(i)
),
keyed AS (
  SELECT doc_id, pos,
    {duck_md5_int('gram')} * {_POS_CAP}
      + ({_POS_CAP - 1} - pos) AS key
  FROM grams
),
sel AS (
  SELECT DISTINCT doc_id,
    sel_key // {_POS_CAP} AS fp,
    {_POS_CAP - 1} - sel_key % {_POS_CAP} AS fp_pos
  FROM (
    SELECT doc_id, pos,
      min(key) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS sel_key
    FROM keyed
  )
  WHERE pos >= {WINNOW_W - 1}
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kgrams
  FROM keyed GROUP BY doc_id
),
doc_fp AS (SELECT DISTINCT doc_id, fp FROM sel),
fp_df AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS df FROM doc_fp GROUP BY fp
),
doc_rarity AS (
  SELECT d.doc_id, round(avg(f.df), 4) AS avg_fp_df
  FROM doc_fp d JOIN fp_df f ON f.fp = d.fp
  GROUP BY d.doc_id
),
n_sel AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints
  FROM sel GROUP BY doc_id
)
SELECT p.doc_id, p.n_kgrams, s.n_fingerprints,
  round(CAST(s.n_fingerprints AS DOUBLE) / p.n_kgrams, 4) AS fp_density,
  r.avg_fp_df
FROM per_doc p
JOIN n_sel s ON s.doc_id = p.doc_id
JOIN doc_rarity r ON r.doc_id = p.doc_id
ORDER BY p.doc_id
"""
QUERIES["winnowing_fingerprints"] = winnowing_fingerprints


# ---------------------------------------------------------------------------
# Gopher-style quality-rule ledger (Rae et al. 2021, table A1 shape)
# ---------------------------------------------------------------------------

GQ_MIN_WORDS, GQ_MAX_WORDS = 50, 100_000
GQ_MWL_LO, GQ_MWL_HI = 3.0, 10.0  # mean word length bounds
GQ_STOP_MIN = 2  # >= this many stopword occurrences
GQ_MCT_MAX = 0.10  # most-common-token mass cap
GQ_TTR_MIN = 0.50  # type-token ratio floor


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule LEDGER: per language, how many docs fail each
    quality rule and how many pass all of them — the per-rule
    attribution view a pipeline needs to TUNE a filter (``doc_quality``
    is the composite-score view; this one says *which* rule is eating
    the corpus). Rules are the Gopher repetition/quality family
    instantiated for this corpus: word-count bounds, mean-word-length
    bounds, minimum stopword occurrences, most-common-token mass cap,
    and a type-token-ratio floor.

    Every signal is a map-side HOF over the token array (no shuffle
    until the |langs|-row hash agg): sums/counts are integer-exact, the
    two ratio rules compare identical doubles on both engines (same
    division of the same ints). The most-common-token scan is O(distinct
    × n) per doc — bounded by doc length, embarrassingly parallel, and
    with no vocabulary relation to join (contrast ``top_tokens``, which
    builds the corpus-wide one)."""
    df = _with_tokens(spark, sf_dir)
    n = F.size("toks")
    sum_len = F.expr(
        "aggregate(toks, 0, (acc, x) -> acc + length(x))"
    )
    mwl = sum_len / n.cast("double")
    stop_n = F.expr(f"size(filter(toks, x -> x IN {_STOP_IN}))")
    mct = (
        F.expr(
            "array_max(transform(array_distinct(toks), "
            "x -> size(filter(toks, y -> y = x))))"
        )
        / n.cast("double")
    )
    ttr = F.size(F.array_distinct("toks")) / n.cast("double")
    flags = df.select(
        "lang",
        (n < GQ_MIN_WORDS) | (n > GQ_MAX_WORDS),
        (mwl < GQ_MWL_LO) | (mwl > GQ_MWL_HI),
        stop_n < GQ_STOP_MIN,
        mct > GQ_MCT_MAX,
        ttr < GQ_TTR_MIN,
    ).toDF("lang", "f_words", "f_mwl", "f_stop", "f_mct", "f_ttr")
    b = lambda c: F.sum(F.col(c).cast("int")).alias(f"n_{c}")  # noqa: E731
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            b("f_words"),
            b("f_mwl"),
            b("f_stop"),
            b("f_mct"),
            b("f_ttr"),
            F.sum(
                (
                    ~F.col("f_words")
                    & ~F.col("f_mwl")
                    & ~F.col("f_stop")
                    & ~F.col("f_mct")
                    & ~F.col("f_ttr")
                ).cast("int")
            ).alias("n_pass"),
        )
        .select(
            "lang",
            "n_docs",
            "n_f_words",
            "n_f_mwl",
            "n_f_stop",
            "n_f_mct",
            "n_f_ttr",
            "n_pass",
            F.round(F.col("n_pass") / F.col("n_docs").cast("double"), 4).alias(
                "pass_rate"
            ),
        )
        .orderBy("lang")
    )


ORACLE["gopher_quality_flags"] = f"""
WITH t AS (
  SELECT lang, {_DUCK_TOKS} AS toks FROM documents
),
sig AS (
  SELECT lang,
    len(toks) AS n,
    list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                (a, b) -> a + b) AS sum_len,
    len(list_filter(toks, x -> x IN {_STOP_IN})) AS stop_n,
    list_max(list_transform(list_distinct(toks),
             x -> len(list_filter(toks, y -> y = x)))) AS mc,
    len(list_distinct(toks)) AS n_types
  FROM t
),
flags AS (
  SELECT lang,
    (n < {GQ_MIN_WORDS} OR n > {GQ_MAX_WORDS}) AS f_words,
    (sum_len / CAST(n AS DOUBLE) < {GQ_MWL_LO}
      OR sum_len / CAST(n AS DOUBLE) > {GQ_MWL_HI}) AS f_mwl,
    (stop_n < {GQ_STOP_MIN}) AS f_stop,
    (mc / CAST(n AS DOUBLE) > {GQ_MCT_MAX}) AS f_mct,
    (n_types / CAST(n AS DOUBLE) < {GQ_TTR_MIN}) AS f_ttr
  FROM sig
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS n_f_words,
  CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_f_mwl,
  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_f_stop,
  CAST(sum(CASE WHEN f_mct THEN 1 ELSE 0 END) AS BIGINT) AS n_f_mct,
  CAST(sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS n_f_ttr,
  CAST(sum(CASE WHEN NOT f_words AND NOT f_mwl AND NOT f_stop
                 AND NOT f_mct AND NOT f_ttr THEN 1 ELSE 0 END)
       AS BIGINT) AS n_pass,
  round(CAST(sum(CASE WHEN NOT f_words AND NOT f_mwl AND NOT f_stop
                       AND NOT f_mct AND NOT f_ttr THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 4) AS pass_rate
FROM flags
GROUP BY lang
ORDER BY lang
"""
QUERIES["gopher_quality_flags"] = gopher_quality_flags


# ---------------------------------------------------------------------------
# n-gram novelty decay curve (memorization / data-value audit)
# ---------------------------------------------------------------------------

NOVELTY_K = 5  # token n-gram width
NOVELTY_DECILES = 10


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty decay: per ingestion-order decile, what fraction of each
    doc's distinct 5-grams appears for the FIRST time in that doc. The
    curve quantifies diminishing data value as a corpus grows (the Lee
    et al. dedup-paper observation: later crawl batches are mostly
    repeats) — ``vocab_growth_curve`` tracks TYPES (Heaps' law), this
    tracks PHRASES, which is what memorization risk follows.

    Shape at scale: distinct (doc, gram-hash) → gram-keyed min(doc_id)
    agg (partial-aggregating; the gram relation is the corpus's distinct
    phrase book) → doc-keyed novelty agg. Hashes are 60-bit md5 (8-byte
    shuffle keys, cross-engine rule). The decile split uses ntile over
    doc_id order — a |docs|-row window; at 100 TB the same split is the
    two-pass count+range decomposition (``pack_shards`` precedent), with
    identical output.
    """
    df = _with_tokens(spark, sf_dir).filter(F.size("toks") >= NOVELTY_K)
    slots = ", ".join(f"toks[i+{j}]" for j in range(NOVELTY_K))
    grams = (
        df.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {NOVELTY_K}), "
                    f"i -> concat_ws(' ', {slots}))"
                )
            ).alias("gram"),
        )
        .select("doc_id", F.expr(md5_int60_sql("gram")).alias("h"))
        .distinct()
    )
    first = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("int")
            ).alias("n_novel"),
        )
    )
    dec = per_doc.withColumn(
        "decile", F.ntile(NOVELTY_DECILES).over(Window.orderBy("doc_id"))
    )
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_novel").alias("n_novel"),
            F.round(
                F.sum("n_novel") / F.sum("n_grams").cast("double"), 4
            ).alias("novelty"),
        )
        .orderBy("decile")
    )


ORACLE["ngram_novelty_curve"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
eligible AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {NOVELTY_K}),
grams AS (
  SELECT DISTINCT doc_id,
    {duck_md5_int60("toks[u.i] || ' ' || toks[u.i + 1] || ' ' || toks[u.i + 2] || ' ' || toks[u.i + 3] || ' ' || toks[u.i + 4]")} AS h
  FROM eligible
  CROSS JOIN UNNEST(generate_series(1, len(toks) - {NOVELTY_K - 1})) u(i)
),
first AS (SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h),
per_doc AS (
  SELECT g.doc_id,
    CAST(count(*) AS BIGINT) AS n_grams,
    CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
         AS BIGINT) AS n_novel
  FROM grams g JOIN first f ON f.h = g.h
  GROUP BY g.doc_id
),
dec AS (
  SELECT *, ntile({NOVELTY_DECILES}) OVER (ORDER BY doc_id) AS decile
  FROM per_doc
)
SELECT decile,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_grams) AS BIGINT) AS n_grams,
  CAST(sum(n_novel) AS BIGINT) AS n_novel,
  round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 4) AS novelty
FROM dec
GROUP BY decile
ORDER BY decile
"""
QUERIES["ngram_novelty_curve"] = ngram_novelty_curve


# ---------------------------------------------------------------------------
# PMI word associations (document-level co-occurrence)
# ---------------------------------------------------------------------------

PMI_MIN_DF = 5  # pair must co-occur in at least this many docs
PMI_TOP = 20


def pmi_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level co-occurrence:
    PMI(a,b) = ln(df_ab·N / (df_a·df_b)) for token pairs sharing ≥5
    docs — the collocation/association statistic (Church & Hanks 1990)
    that raw pair counts miss (frequent tokens co-occur by chance;
    PMI normalizes that away). ``top_bigrams_per_lang`` is the adjacency
    view; this is the anywhere-in-doc association view.

    Shape at scale: the pair relation explodes per-doc DISTINCT tokens
    (bounded by per-doc vocabulary², not doc length²) and
    partial-aggregates to df_ab — the corpus-wide pair table is bounded
    by vocabulary², and the df/N sides are broadcast-tiny. For web-scale
    vocabularies the standard cap (min token df, stopword trim) bounds
    the explosion; here the corpus vocabulary is the cap. Top-k is a
    heap, not a global sort.
    """
    doc_tok = (
        _with_tokens(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .distinct()
        .persist()  # four consumers below would otherwise each replay
        # the scan→tokenize→explode→distinct chain (construction-lazy
        # cache, round 10 — was an eager checkpoint + an eager N count)
    )
    # N as a 1-row IN-PLAN aggregate (the oracle's CROSS JOIN n scalar)
    # instead of a driver-side count at construction
    n_df = doc_tok.agg(
        F.count_distinct("doc_id").cast("double").alias("__n_docs")
    )
    df_tok = doc_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    right = doc_tok.select(
        F.col("doc_id").alias("doc_id_b"), F.col("tok").alias("tok_b")
    )
    pairs = (
        doc_tok.join(
            right,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("tok") < F.col("tok_b")),
        )
        .groupBy("tok", "tok_b")
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .filter(F.col("df_ab") >= PMI_MIN_DF)
    )
    dfa = df_tok.select(F.col("tok"), F.col("df").alias("df_a"))
    dfb = df_tok.select(
        F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    pmi = F.log(
        F.col("df_ab").cast("double")
        * F.col("__n_docs")
        / (F.col("df_a").cast("double") * F.col("df_b"))
    )
    return (
        pairs.join(F.broadcast(dfa), "tok")
        .join(F.broadcast(dfb), "tok_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("tok").alias("tok_a"),
            "tok_b",
            "df_ab",
            (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(PMI_TOP)
    )


ORACLE["pmi_word_pairs"] = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
doc_tok AS (
  SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM doc_tok),
df_tok AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM doc_tok GROUP BY tok
),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS df_ab
  FROM doc_tok a
  JOIN doc_tok b ON b.doc_id = a.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING count(*) >= {PMI_MIN_DF}
)
SELECT p.tok_a, p.tok_b, p.df_ab,
  round(ln(CAST(p.df_ab AS DOUBLE) * n.n_docs
           / (CAST(da.df AS DOUBLE) * db.df)), 4) + 0.0 AS pmi
FROM pairs p
JOIN df_tok da ON da.tok = p.tok_a
JOIN df_tok db ON db.tok = p.tok_b
CROSS JOIN n
ORDER BY pmi DESC, tok_a, tok_b
LIMIT {PMI_TOP}
"""
QUERIES["pmi_word_pairs"] = pmi_word_pairs


# ---------------------------------------------------------------------------
# BPE tokenizer training loop + encode accounting (the other half of
# bpe_merge_candidates: actually LEARN k merges sequentially and apply them)
# ---------------------------------------------------------------------------

BPE_ENC_MERGES = 6  # learned merge rules (sequential, with recounting)


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential BPE training (Sennrich et al. 2016) PLUS the encode
    accounting: learn ``BPE_ENC_MERGES`` merges one at a time — count
    adjacent-symbol pairs, take the argmax, apply it, RECOUNT — and
    report, per round, the learned rule and the corpus token total under
    the merges so far (the tokens-per-doc curve a tokenizer budget is
    planned from). ``bpe_merge_candidates`` ranks only the FIRST round's
    candidates; this is the loop that makes them a tokenizer.

    Scale shape (why real BPE trainers handle web corpora): after the
    one corpus-sized word-count shuffle, every round runs on the
    DISTINCT-VOCABULARY relation (Heaps-law sublinear; 30 rows here,
    millions at 100 TB — never trillions of tokens). Driver traffic per
    round is TWO fit scalars (the argmax pair, the token total) — the
    kmeans/MMR bounded-collect contract; the merge application is a
    JVM-side ordered fold (greedy leftmost, the BPE rule) over the
    symbol array, and ``localCheckpoint`` truncates the per-round plan
    growth (CLAUDE.md iterative rules).

    Cross-engine: symbols are [a-z] only (the ``bpe_merge_candidates``
    pre-tokenizer), counts are exact integers, argmax ties break on the
    pair string — so the DuckDB oracle (k unrolled rounds; merge
    application replayed as a recursive leftmost-replacement CTE, which
    is equivalent to the greedy left-to-right fold) reproduces every
    learned rule exactly. The only double is tokens/doc, one division
    rounded 4dp on both engines.
    """
    from ..functions.rounding import round_half_up

    rows, _, n_docs = _bpe_train(spark, sf_dir)
    out = [
        (r, pair, cnt, tok, round_half_up(tok / n_docs, 4))
        for (r, pair, cnt, tok) in rows
    ]
    return spark.createDataFrame(
        out,
        schema="round int, merged_pair string, merge_count bigint, "
        "corpus_tokens bigint, avg_tokens_per_doc double",
    ).orderBy("round")


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The shared sequential-BPE training loop: returns
    ``(rows, vocab, n_docs)`` — per-round (round, pair, count,
    corpus_tokens) fit scalars, the FINAL (c, syms) vocabulary state,
    and the document count. ``bpe_encode_stats`` reports the learning
    curve; ``bpe_fertility_hist`` histograms the final state — one loop,
    two consumers (shared-helper rule)."""
    df = _with_tokens(spark, sf_dir)
    n_docs = df.count()
    words = (
        df.select(F.explode("toks").alias("tok"))
        .select(F.lower(F.col("tok")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = words.select(
        "c", F.expr("filter(split(w, ''), x -> x <> '')").alias("syms")
    )
    rows = []
    with loop_width(spark, 8):
        vocab = vocab.localCheckpoint()
        for r in range(1, BPE_ENC_MERGES + 1):
            top = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1), i -> "
                            "concat(element_at(syms, i), ' ', "
                            "element_at(syms, i + 1)))"
                        )
                    ).alias("pair"),
                    "c",
                )
                .groupBy("pair")
                .agg(F.sum("c").alias("cnt"))
                .orderBy(F.desc("cnt"), "pair")
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, cnt = top[0]["pair"], top[0]["cnt"]
            a, b = pair.split(" ")
            merged = a + b
            # symbols are guaranteed [a-z]+ so the literals are injection-
            # safe; the fold is greedy left-to-right non-overlapping — the
            # BPE application rule on both engines
            fold = (
                "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
                f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}' "
                f"AND x = '{b}' "
                f"THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
                "ELSE concat(acc, array(x)) END)"
            )
            vocab = vocab.select(
                "c", F.expr(fold).alias("syms")
            ).localCheckpoint()
            tok = vocab.agg(
                F.sum(F.col("c") * F.size("syms")).alias("t")
            ).collect()[0]["t"]
            rows.append((r, pair, int(cnt), int(tok)))
    return rows, vocab, n_docs


BPE_FERT_MAX = 16  # histogram cap: >= this many tokens/word folds together


def bpe_fertility_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility under the learned BPE merges: the histogram
    of tokens-per-word over the FINAL merge state, vocabulary rows and
    corpus-weighted occurrences per bucket — the number a tokenizer
    budget review actually reads (avg fertility decides corpus token
    cost; the tail decides worst-case sequence blowup). Runs the shared
    ``_bpe_train`` loop, then one vocab-sized hash agg; exact integer
    arithmetic end to end, so the DuckDB oracle (same unrolled rounds,
    histogram over the final recursive-merge state) matches
    bit-for-bit."""
    _, vocab, _ = _bpe_train(spark, sf_dir)
    fert = F.least(F.size("syms"), F.lit(BPE_FERT_MAX))
    return (
        vocab.select(fert.alias("toks_per_word"), "c")
        .groupBy("toks_per_word")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("c").alias("occurrences"),
        )
        .orderBy("toks_per_word")
    )


def _duck_bpe_pieces() -> list:
    """The shared WITH-chain of the unrolled BPE oracle (word counts,
    per-round pair counts / argmax / recursive leftmost-merge states) —
    composed by BOTH ``bpe_encode_stats`` and ``bpe_fertility_hist``
    oracles so they replay the identical loop."""
    pieces = [f"""tok AS (
  SELECT u.tok
  FROM (SELECT {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
),
words AS (
  SELECT lower(tok) AS w, count(*) AS c
  FROM tok
  WHERE regexp_matches(lower(tok), '^[a-z]+$') AND len(lower(tok)) >= 2
  GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
v0 AS (
  SELECT c, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM words
)"""]
    for r in range(1, BPE_ENC_MERGES + 1):
        p = r - 1
        pieces.append(f"""p{r} AS (
  SELECT syms[i] || ' ' || syms[i+1] AS pair, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, string_split(trim(s), ' ') AS syms FROM v{p})
  CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) t(i)
  GROUP BY pair
),
m{r} AS (
  SELECT pair, cnt, ' ' || pair || ' ' AS pat,
         ' ' || replace(pair, ' ', '') || ' ' AS rep
  FROM p{r} ORDER BY cnt DESC, pair LIMIT 1
),
r{r} AS (
  SELECT c, s FROM v{p}
  UNION ALL
  SELECT r.c, substr(r.s, 1, strpos(r.s, m.pat) - 1) || m.rep ||
         substr(r.s, strpos(r.s, m.pat) + length(m.pat))
  FROM r{r} r, m{r} m WHERE strpos(r.s, m.pat) > 0
),
v{r} AS MATERIALIZED (
  -- m{r} empty (merges exhausted) must carry v{p} forward unchanged,
  -- mirroring the Spark loop's break — a plain cross join would empty
  -- the vocabulary for every later round (round-5 ADVICE). MATERIALIZED
  -- because v{r} is now referenced twice (r{r+1} base + the fallback):
  -- DuckDB inlines CTEs by default, and a doubled reference per round
  -- makes the expansion exponential in BPE_ENC_MERGES.
  SELECT r.c, r.s FROM r{r} r, m{r} m WHERE strpos(r.s, m.pat) = 0
  UNION ALL
  SELECT c, s FROM v{p} WHERE NOT EXISTS (SELECT 1 FROM m{r})
),
t{r} AS (
  SELECT CAST(sum(c * len(string_split(trim(s), ' '))) AS BIGINT) AS tok
  FROM v{r}
)""")
    return pieces


def _duck_bpe_encode_sql() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, m{r}.pair AS merged_pair, m{r}.cnt AS merge_count,"
        f" t{r}.tok AS corpus_tokens,"
        f" round(CAST(t{r}.tok AS DOUBLE) / nd.n, 4) AS avg_tokens_per_doc"
        f" FROM m{r}, t{r}, nd"
        for r in range(1, BPE_ENC_MERGES + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(_duck_bpe_pieces())
        + f"\nSELECT * FROM ({finals})\nORDER BY round\n"
    )


def _duck_bpe_fertility_sql() -> str:
    last = BPE_ENC_MERGES
    return (
        "WITH RECURSIVE "
        + ",\n".join(_duck_bpe_pieces())
        + f"""
SELECT least(len(string_split(trim(s), ' ')), {BPE_FERT_MAX})
    AS toks_per_word,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(c) AS BIGINT) AS occurrences
FROM v{last}
GROUP BY 1
ORDER BY toks_per_word
"""
    )


ORACLE["bpe_encode_stats"] = _duck_bpe_encode_sql()
QUERIES["bpe_encode_stats"] = bpe_encode_stats
ORACLE["bpe_fertility_hist"] = _duck_bpe_fertility_sql()
QUERIES["bpe_fertility_hist"] = bpe_fertility_hist


# ---------------------------------------------------------------------------
# TextRank keyword extraction (integer fixed-point PageRank on the word graph)
# ---------------------------------------------------------------------------

TR_SCALE = 1_000_000  # scores are BIGINTs scaled by 1e6
TR_BASE = 150_000  # (1 - d) * SCALE with d = 0.85 — exact integer
TR_DAMPING_PCT = 85  # d as an integer percentage
TR_ROUNDS = 3
TR_TOP = 15


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): PageRank over the word
    co-occurrence graph (adjacent alpha tokens, window 2, undirected,
    co-occurrence-count weights) — the unsupervised keyword extractor a
    corpus profiling pass runs next to TF-IDF.

    The whole iteration runs in INTEGER fixed-point: scores are BIGINTs
    scaled 1e6, each neighbor contribution is ``(score·w) DIV wdeg`` and
    the damped update is ``150000 + (85·mass) DIV 100`` — exact integer
    arithmetic end to end, so the per-node sums are ORDER-FREE and both
    engines agree bit-for-bit with no rounding recipe at all (one step
    stronger than ``trade_network_pagerank``'s rounded-double folds; the
    DIV truncation IS the deterministic quantization).

    Scale shape: the corpus-sized pass is the bigram explode + edge
    count (one shuffle, partial-aggregating); everything after runs on
    the DISTINCT-vocabULARY graph (Heaps-law sublinear — the
    ``bpe_encode_stats`` argument). Each round is one shuffle of the
    edge relation; ``localCheckpoint`` truncates loop lineage (CLAUDE.md
    iterative rules). Top-k is a rank window over vocab-sized rows.
    """
    df = _with_tokens(spark, sf_dir)
    bigr = (
        df.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> struct("
                    "lower(element_at(toks, i)) AS a, "
                    "lower(element_at(toks, i + 1)) AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(
            F.col("a").rlike("^[a-z]+$")
            & F.col("b").rlike("^[a-z]+$")
            & (F.length("a") >= 2)
            & (F.length("b") >= 2)
            & (F.col("a") != F.col("b"))
        )
    )
    edges = (
        bigr.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    dir_edges = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    deg = dir_edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    with loop_width(spark, 8):
        dir_edges = dir_edges.join(deg, "src").localCheckpoint()
        nodes = deg.select(F.col("src").alias("word")).localCheckpoint()
        scores = nodes.select(
            "word", F.lit(TR_SCALE).cast("long").alias("score")
        )
        for _ in range(TR_ROUNDS):
            contrib = (
                dir_edges.join(scores, dir_edges.src == scores.word)
                .select(
                    "dst",
                    F.expr("CAST((score * w) DIV wdeg AS BIGINT)").alias(
                        "c"
                    ),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("mass"))
            )
            scores = (
                nodes.join(contrib, nodes.word == contrib.dst, "left")
                .select(
                    "word",
                    F.expr(
                        f"CAST({TR_BASE} + ({TR_DAMPING_PCT} * "
                        f"coalesce(mass, CAST(0 AS BIGINT))) DIV 100 "
                        "AS BIGINT)"
                    ).alias("score"),
                )
                .localCheckpoint()
            )
    wr = Window.orderBy(F.desc("score"), "word")
    return (
        scores.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TR_TOP)
        .select("rank", "word", F.col("score").alias("score_scaled"))
        .orderBy("rank")
    )


def _duck_textrank_sql() -> str:
    rounds = []
    prev = "s0"
    for r in range(1, TR_ROUNDS + 1):
        rounds.append(f"""
m{r} AS (
  SELECT d.dst, CAST(sum((s.score * d.w) // d.wdeg) AS BIGINT) AS mass
  FROM d2 d JOIN {prev} s ON s.word = d.src
  GROUP BY d.dst
),
s{r} AS (
  SELECT n.word,
    CAST({TR_BASE} + ({TR_DAMPING_PCT} * coalesce(m.mass, 0)) // 100
      AS BIGINT) AS score
  FROM (SELECT word FROM s0) n
  LEFT JOIN m{r} m ON m.dst = n.word
)""")
        prev = f"s{r}"
    return f"""
WITH t AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
bigr AS (
  SELECT lower(toks[i]) AS a, lower(toks[i + 1]) AS b
  FROM t CROSS JOIN UNNEST(generate_series(1, len(toks) - 1)) u(i)
),
fb AS (
  SELECT a, b FROM bigr
  WHERE regexp_matches(a, '^[a-z]+$') AND regexp_matches(b, '^[a-z]+$')
    AND len(a) >= 2 AND len(b) >= 2 AND a <> b
),
edges AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v,
    CAST(count(*) AS BIGINT) AS w
  FROM fb GROUP BY 1, 2
),
dir AS (
  SELECT u AS src, v AS dst, w FROM edges
  UNION ALL
  SELECT v, u, w FROM edges
),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM dir GROUP BY src),
d2 AS (
  SELECT d.src, d.dst, d.w, g.wdeg FROM dir d JOIN deg g ON g.src = d.src
),
s0 AS (
  SELECT src AS word, CAST({TR_SCALE} AS BIGINT) AS score FROM deg
),{",".join(rounds)}
SELECT CAST(row_number() OVER (ORDER BY score DESC, word) AS INT) AS rank,
  word, score AS score_scaled
FROM s{TR_ROUNDS}
QUALIFY rank <= {TR_TOP}
ORDER BY rank
"""


ORACLE["textrank_keywords"] = _duck_textrank_sql()
QUERIES["textrank_keywords"] = textrank_keywords


# ---------------------------------------------------------------------------
# word2vec-style negative-sampling table (unigram^0.75, deterministic darts)
# ---------------------------------------------------------------------------

NEG_TABLE_TOP = 30  # table rows emitted (vocab here is ~30 words)
NEG_DARTS = 64  # md5-derived sampling darts audited against the table


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution (Mikolov et al. 2013):
    P(w) ∝ count(w)^{3/4} — the table every embedding trainer builds
    once and samples billions of times. Emitted as the cumulative-weight
    relation (word, weight, cum_weight) a sampler binary-searches, plus
    each word's dart count under ``NEG_DARTS`` deterministic md5 darts —
    the audit that the table actually samples ∝ weight.

    Cross-engine exactness without pow(): c^0.75 = sqrt(sqrt(c³)) — c³
    is exact in the DOUBLE it's computed in while c < 2^(53/3) ≈
    2.097e6 (past that c³ exceeds 2⁵³ and quantizes), and sqrt is
    IEEE-correctly-rounded on BOTH engines (libm pow/ln are not), so
    the 1e6-scaled integer weights are bit-identical with no rounding
    recipe. Beyond that count bound the weights are still bit-identical
    across engines (both evaluate the same IEEE chain on the same
    input) — only the "exact c³" claim lapses, not determinism. Darts are md5
    ints mod the total weight; dart→bucket assignment is a cumulative-
    boundary window comparison — exact integers end to end.

    Scale shape: one corpus word-count shuffle; the table is
    vocabulary-sized (Heaps-law sublinear) and the cumulative window
    runs over table rows only; the dart audit joins a constant-size dart
    relation against the cumulative boundaries.
    """
    df = _with_tokens(spark, sf_dir)
    words = (
        df.select(F.explode("toks").alias("tok"))
        .select(F.lower(F.col("tok")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weight = F.expr(
        "CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000, 0) "
        "AS BIGINT)"
    )
    wr = Window.orderBy(F.desc("weight"), "w")
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table = (
        words.select("w", "c", weight.alias("weight"))
        .withColumn("rank", F.row_number().over(wr))
        .withColumn("cum_weight", F.sum("weight").over(wcum))
        .filter(F.col("rank") <= NEG_TABLE_TOP)
        .persist()  # tiny; consumed by total + dart join (lazy cache)
    )
    total = table.agg(F.max("cum_weight").alias("tw"))
    darts = spark.range(NEG_DARTS).select(
        F.expr(md5_int_sql("concat('dart_', id)")).alias("h")
    )
    dart_hits = (
        darts.crossJoin(F.broadcast(total))
        .select((F.col("h") % F.col("tw")).alias("d"))
        # bucket for dart d = first row with cum_weight > d
        .join(
            F.broadcast(table.select("w", "cum_weight", "weight")),
            F.col("d") < F.col("cum_weight"),
        )
        .groupBy("d")
        .agg(F.min("cum_weight").alias("cum_weight"))
        .join(F.broadcast(table), "cum_weight")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_darts"))
    )
    return (
        table.join(dart_hits, "w", "left")
        .select(
            "rank",
            "w",
            "c",
            "weight",
            "cum_weight",
            F.coalesce("n_darts", F.lit(0)).alias("n_darts"),
        )
        .orderBy("rank")
    )


def _duck_neg_table_sql() -> str:
    h = duck_md5_int("concat('dart_', CAST(t.i AS VARCHAR))")
    return f"""
WITH tok AS (
  SELECT u.tok
  FROM (SELECT {_DUCK_TOKS} AS t FROM documents)
  CROSS JOIN UNNEST(t) u(tok)
),
words AS (
  SELECT lower(tok) AS w, CAST(count(*) AS BIGINT) AS c
  FROM tok
  WHERE regexp_matches(lower(tok), '^[a-z]+$') AND len(lower(tok)) >= 2
  GROUP BY 1
),
tbl AS (
  SELECT w, c,
    CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000, 0)
      AS BIGINT) AS weight,
    CAST(row_number() OVER (ORDER BY
      round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000, 0) DESC, w)
      AS INT) AS rank,
    CAST(sum(CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000, 0)
      AS BIGINT)) OVER (ORDER BY
        round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000, 0) DESC, w
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
  FROM words
  QUALIFY rank <= {NEG_TABLE_TOP}
),
total AS (SELECT max(cum_weight) AS tw FROM tbl),
darts AS (
  SELECT {h} % total.tw AS d
  FROM generate_series(0, {NEG_DARTS - 1}) t(i), total
),
hits AS (
  SELECT d, min(cum_weight) AS cum_weight
  FROM darts JOIN tbl ON d < cum_weight
  GROUP BY d
),
dart_counts AS (
  SELECT t.w, CAST(count(*) AS BIGINT) AS n_darts
  FROM hits h JOIN tbl t ON t.cum_weight = h.cum_weight
  GROUP BY t.w
)
SELECT t.rank, t.w, t.c, t.weight, t.cum_weight,
  CAST(coalesce(d.n_darts, 0) AS BIGINT) AS n_darts
FROM tbl t LEFT JOIN dart_counts d ON d.w = t.w
ORDER BY t.rank
"""


ORACLE["negative_sampling_table"] = _duck_neg_table_sql()
QUERIES["negative_sampling_table"] = negative_sampling_table

ORACLE["contamination_ngram_overlap"] = _duck_contamination_overlap_sql()
QUERIES["contamination_ngram_overlap"] = contamination_ngram_overlap


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & Goodman 1999)
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75  # absolute discount d (the Chen-Goodman default)


def kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus perplexity under an interpolated KNESER-NEY
    bigram LM — the smoothing family KenLM actually ships (absolute
    discounting + continuation-count backoff), next to the add-one
    baseline ``ngram_lm_perplexity``:

        P(w2|w1) = (c12 - d)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/N1+(··)

    Scale shape: all four count relations (bigram counts, context
    totals + forward continuation fan-out, backward continuation
    counts, the 1-row type total) derive from ONE corpus tokenize pass;
    everything past ``bg_counts`` is vocabulary-bounded (Heaps-
    sublinear — the BPE-loop argument), so the LM "fit" costs one
    shuffle of bigram occurrences and the scoring join is the
    ngram_lm_perplexity shuffle-join shape (distinct-bigram table is
    NOT broadcast; measured 2.5x slower broadcast at sf0.1 there). The
    1-row type count broadcasts (allowlisted BNLJ).

    Cross-engine: P is one fixed-shape double expression over exact
    BIGINT counts; per-bigram log2 P is scaled to exact 1e6 ints
    BEFORE the per-doc sum and per-doc perplexity to exact 1e4 ints
    BEFORE the per-language sum (order-free, unlike a raw avg(double));
    worst-doc pick is a pre-collapsed max(struct) argmax (ties → lower
    doc_id). log2/pow on identical doubles is the established
    ngram_lm/exp precedent."""
    df = _with_tokens(spark, sf_dir)
    doc_bg = df.select(
        "doc_id", "lang", F.explode(_bigram_arr()).alias("bg")
    ).persist()  # construction-lazy dedup across the KN count branches
    typ = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    typ = typ.select(
        "bg",
        "c12",
        F.expr("split(bg, ' ')[0]").alias("w1"),
        F.expr("split(bg, ' ')[1]").alias("w2"),
    )
    ctx = typ.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nf")
    )
    cont = typ.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    ntypes = typ.agg(F.count(F.lit(1)).alias("nt"))
    d = F.lit(KN_DISCOUNT)
    p = (F.col("c12") - d) / F.col("c1") + (
        (d * F.col("nf")) / F.col("c1")
    ) * (F.col("nc") / F.col("nt"))
    scored = (
        typ.join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(ntypes))
        .select(
            "bg",
            F.round(F.log2(p) * F.lit(1000000.0), 0)
            .cast("long")
            .alias("logp_i6"),
        )
    )
    per_doc = (
        doc_bg.join(scored, "bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum("logp_i6").alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(
                F.pow(
                    F.lit(2.0),
                    -F.round(
                        F.col("s") / (F.lit(1000000.0) * F.col("n_bg")), 6
                    ),
                )
                * F.lit(10000.0),
                0,
            )
            .cast("long")
            .alias("ppl_i4"),
        )
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ppl_i4").alias("sum_ppl"),
        F.max(
            F.struct(F.col("ppl_i4").alias("p"), (-F.col("doc_id")).alias("nd"))
        ).alias("worst"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.round(
            F.col("sum_ppl") / (F.lit(10000.0) * F.col("n_docs")), 4
        ).alias("avg_ppl"),
        (F.col("worst.p") / F.lit(10000.0)).alias("worst_ppl"),
        (-F.col("worst.nd")).alias("worst_doc_id"),
    ).orderBy("lang")


def _duck_kn_sql() -> str:
    dd = "CAST(0.75 AS DOUBLE)"
    return f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
doc_bg AS (
  SELECT doc_id, lang, concat(toks[u.i], ' ', toks[u.i+1]) AS bg
  FROM t
  CROSS JOIN UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) u(i)
),
typ AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c12,
    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM doc_bg GROUP BY bg
),
ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
    CAST(count(*) AS BIGINT) AS nf
  FROM typ GROUP BY w1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM typ GROUP BY w2),
ntypes AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM typ),
scored AS (
  SELECT typ.bg,
    CAST(round(log2(
      (typ.c12 - {dd}) / ctx.c1
      + (({dd} * ctx.nf) / ctx.c1) * (cont.nc / ntypes.nt)
    ) * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS logp_i6
  FROM typ
  JOIN ctx ON ctx.w1 = typ.w1
  JOIN cont ON cont.w2 = typ.w2
  CROSS JOIN ntypes
),
per_doc AS (
  SELECT d.doc_id, d.lang,
    CAST(round(pow(CAST(2.0 AS DOUBLE),
      -round(CAST(sum(s.logp_i6) AS BIGINT)
             / (CAST(1000000.0 AS DOUBLE) * count(*)), 6))
      * CAST(10000.0 AS DOUBLE), 0) AS BIGINT) AS ppl_i4
  FROM doc_bg d JOIN scored s ON s.bg = d.bg
  GROUP BY d.doc_id, d.lang
),
rk AS (
  SELECT lang, doc_id, ppl_i4,
    row_number() OVER (PARTITION BY lang
                       ORDER BY ppl_i4 DESC, doc_id) AS rn
  FROM per_doc
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(ppl_i4) AS BIGINT) AS sum_ppl
  FROM per_doc GROUP BY lang
)
SELECT a.lang, a.n_docs,
  round(a.sum_ppl / (CAST(10000.0 AS DOUBLE) * a.n_docs), 4) AS avg_ppl,
  r.ppl_i4 / CAST(10000.0 AS DOUBLE) AS worst_ppl,
  r.doc_id AS worst_doc_id
FROM agg a JOIN rk r ON r.lang = a.lang AND r.rn = 1
ORDER BY a.lang
"""


ORACLE["kneser_ney_perplexity"] = _duck_kn_sql()
QUERIES["kneser_ney_perplexity"] = kneser_ney_perplexity


# ---------------------------------------------------------------------------
# multinomial Naive Bayes language classifier (train/test split, confusion)
# ---------------------------------------------------------------------------

NB_TRAIN_PCT = 8  # md5(doc_id) % 10 < 8 → train (80/20 split)


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    entirely in-engine: add-one-smoothed per-(lang, token) likelihoods
    from an md5-deterministic 80% train split, argmax posterior on the
    20% holdout, emitted as the (true_lang, predicted_lang) confusion
    matrix. This is the TRAINABLE tier of the language-ID shelf above
    the fixed stopword heuristic (``lang_id_stopword``) — the fastText
    shape (linear scorer over token counts) without the embedding.

    Distributed shape: training is two partial-aggregating group-bys
    (token×lang counts, lang totals) — the model is VOCAB-bounded, so
    it broadcasts; scoring is a map-side broadcast join of the exploded
    holdout tokens against the likelihood table (the ×|langs| fan-out
    is a 5-row broadcast), then ONE groupBy(doc) score sum. Nothing
    big ever shuffles twice; at 100 TB the only data-volume pass is
    the tokenize-explode.

    Cross-engine exactness: the posterior is a SUM of per-token
    log-likelihoods — float sums are order-dependent, so each
    log2-likelihood is rounded to a 1e6-scaled BIGINT (the
    ``kneser_ney_perplexity`` discipline) and summed exactly; argmax
    ties break lang-ascending via row_number. Unknown holdout tokens
    get the smoothing floor 1/(N_lang + V) through the same rounded
    table (left join + coalesce on the count).
    """
    docs = _with_tokens(spark, sf_dir).select(
        "doc_id",
        "lang",
        "toks",
        (
            F.expr(md5_int_sql("CAST(doc_id AS STRING)")) % 10
            < NB_TRAIN_PCT
        ).alias("is_train"),
    )
    train_tok = docs.filter("is_train").select(
        "lang", F.explode("toks").alias("tok")
    )
    # r13 optimization: ONE tokenize-explode pass trains the model.
    # lang totals and vocabulary are exact functions of the (lang, tok)
    # count table (n_l = Σ c per lang; v = distinct tok), and the doc
    # totals of the 5-row per-lang doc counts — deriving them from the
    # persisted vocab-bounded relations replaces three more corpus
    # passes (6 documents scans in the before-plan → the 2 the
    # algorithm needs: train explode + holdout explode).
    counts = train_tok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c")
    ).persist()
    lang_stats = counts.groupBy("lang").agg(
        F.sum("c").alias("n_l")
    )
    doc_counts = docs.filter("is_train").groupBy("lang").agg(
        F.count(F.lit(1)).alias("d_l")
    ).persist()
    totals = doc_counts.agg(
        F.sum("d_l").alias("d_all")
    )
    vocab = counts.agg(
        F.count_distinct("tok").alias("v")
    )
    langs = (
        lang_stats.join(doc_counts, "lang")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("model_lang"),
            "n_l",
            "v",
            F.round(
                F.log2(F.col("d_l").cast("double") / F.col("d_all"))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("prior_i6"),
        )
    )
    test_tok = docs.filter(~F.col("is_train")).select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode("toks").alias("tok")
    )
    model = counts.withColumnRenamed("lang", "model_lang")
    scored = (
        test_tok.crossJoin(F.broadcast(langs))
        .join(F.broadcast(model), ["model_lang", "tok"], "left")
        .select(
            "doc_id",
            "true_lang",
            "model_lang",
            "prior_i6",
            F.round(
                F.log2(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_l") + F.col("v")).cast("double")
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("logp_i6"),
        )
    )
    per_doc = scored.groupBy("doc_id", "true_lang", "model_lang").agg(
        (F.max("prior_i6") + F.sum("logp_i6")).alias("score_i6")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_i6").desc(), F.col("model_lang").asc()
    )
    pred = (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("model_lang").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def _duck_nb_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, lang, {_DUCK_TOKS} AS toks,
    ({duck_md5_int("CAST(doc_id AS VARCHAR)")} % 10) < {NB_TRAIN_PCT}
      AS is_train
  FROM documents
),
train_tok AS (
  SELECT lang, unnest(toks) AS tok FROM d WHERE is_train
),
counts AS (
  SELECT lang AS model_lang, tok, CAST(count(*) AS BIGINT) AS c
  FROM train_tok GROUP BY 1, 2
),
lang_stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM train_tok GROUP BY 1
),
doc_counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS d_l
  FROM d WHERE is_train GROUP BY 1
),
totals AS (SELECT CAST(count(*) AS BIGINT) AS d_all FROM d WHERE is_train),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM train_tok),
langs AS (
  SELECT ls.lang AS model_lang, ls.n_l, vocab.v,
    CAST(round(log2(CAST(dc.d_l AS DOUBLE) / totals.d_all)
      * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS prior_i6
  FROM lang_stats ls
  JOIN doc_counts dc ON dc.lang = ls.lang
  CROSS JOIN totals CROSS JOIN vocab
),
test_tok AS (
  SELECT doc_id, lang AS true_lang, unnest(toks) AS tok
  FROM d WHERE NOT is_train
),
scored AS (
  SELECT t.doc_id, t.true_lang, l.model_lang, l.prior_i6,
    CAST(round(log2(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
      / CAST(l.n_l + l.v AS DOUBLE))
      * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS logp_i6
  FROM test_tok t
  CROSS JOIN langs l
  LEFT JOIN counts c ON c.model_lang = l.model_lang AND c.tok = t.tok
),
per_doc AS (
  SELECT doc_id, true_lang, model_lang,
    max(prior_i6) + CAST(sum(logp_i6) AS BIGINT) AS score_i6
  FROM scored GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, true_lang, model_lang AS pred_lang
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY score_i6 DESC, model_lang ASC) AS rn
    FROM per_doc
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY 1, 2
ORDER BY 1, 2
"""


ORACLE["nb_lang_confusion"] = _duck_nb_sql()
QUERIES["nb_lang_confusion"] = nb_lang_confusion


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each language's token mix vs the rest
# ---------------------------------------------------------------------------


def js_divergence_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Jensen-Shannon divergence (bits) between the
    language's token distribution P and the rest-of-corpus distribution
    Q — the bounded, symmetric drift measure the corpus-mix shelf was
    missing (``psi_value_drift`` is PSI on values, ``user_ks_divergence``
    is KS on a CDF; JS is the information-theoretic one bounded in
    [0,1] bits and defined even on disjoint supports, which KL is not).
    A high-JS language's token mix diverges from the corpus — the
    signal that a per-language sampling weight (``domain_mix_weights``)
    should change.

    Distributed shape: one tokenize-explode pass → (lang, token)
    counts; the JS terms live on the |vocab|×|langs| grid built from a
    broadcast cross join of the two vocabulary-bounded relations — at
    100 TB only the token-count pass touches data volume.

    Cross-engine: counts are exact ints; each grid term
    ½(p·log2(p/m) + q·log2(q/m)) is one identical IEEE chain rounded
    to a 1e8-scaled BIGINT (the KN log discipline, two extra digits
    since terms can be ~1e-5), summed order-free; the display value is
    k/1e8. Zero-count sides contribute only their opposite term
    (0·log0 ≡ 0 via nested guards).
    """
    toks = _with_tokens(spark, sf_dir).select(
        "lang", F.explode("toks").alias("tok")
    )
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    gt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("g"))
    ln = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_all"))
    grid = (
        gt.crossJoin(F.broadcast(ln))
        .crossJoin(F.broadcast(tot))
        .join(lt, ["lang", "tok"], "left")
        .select(
            "lang",
            "n_l",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            (F.col("g") - F.coalesce(F.col("c"), F.lit(0))).alias("r"),
            (F.col("n_all") - F.col("n_l")).alias("n_r"),
        )
    )
    p = "CAST(c AS DOUBLE) / n_l"
    q = "CAST(r AS DOUBLE) / n_r"
    m = f"(({p}) + ({q})) / CAST(2.0 AS DOUBLE)"
    term = (
        f"(CASE WHEN c > 0 THEN ({p}) * log2(({p}) / ({m}))"
        " ELSE CAST(0.0 AS DOUBLE) END"
        f" + CASE WHEN r > 0 THEN ({q}) * log2(({q}) / ({m}))"
        " ELSE CAST(0.0 AS DOUBLE) END) / CAST(2.0 AS DOUBLE)"
    )
    termed = grid.select(
        "lang",
        "n_l",
        F.expr(
            f"CAST(round(({term}) * CAST(100000000.0 AS DOUBLE), 0)"
            " AS BIGINT)"
        ).alias("t_i8"),
    )
    return (
        termed.groupBy("lang")
        .agg(
            F.max("n_l").alias("n_tokens"),
            F.sum("t_i8").alias("s_i8"),
        )
        .select(
            "lang",
            "n_tokens",
            (
                F.col("s_i8").cast("double") / F.lit(100000000.0)
            ).alias("js_bits"),
        )
        .orderBy("lang")
    )


def _duck_js_sql() -> str:
    p = "CAST(c AS DOUBLE) / n_l"
    q = "CAST(r AS DOUBLE) / n_r"
    m = f"(({p}) + ({q})) / CAST(2.0 AS DOUBLE)"
    term = (
        f"(CASE WHEN c > 0 THEN ({p}) * log2(({p}) / ({m}))"
        " ELSE CAST(0.0 AS DOUBLE) END"
        f" + CASE WHEN r > 0 THEN ({q}) * log2(({q}) / ({m}))"
        " ELSE CAST(0.0 AS DOUBLE) END) / CAST(2.0 AS DOUBLE)"
    )
    return f"""
WITH toks AS (
  SELECT lang, unnest({_DUCK_TOKS}) AS tok FROM documents
),
lt AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
gt AS (SELECT tok, CAST(count(*) AS BIGINT) AS g FROM toks GROUP BY 1),
ln AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM toks GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM toks),
grid AS (
  SELECT ln.lang, ln.n_l, coalesce(lt.c, 0) AS c,
    gt.g - coalesce(lt.c, 0) AS r, tot.n_all - ln.n_l AS n_r
  FROM gt CROSS JOIN ln CROSS JOIN tot
  LEFT JOIN lt ON lt.lang = ln.lang AND lt.tok = gt.tok
),
termed AS (
  SELECT lang, n_l,
    CAST(round(({term}) * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT)
      AS t_i8
  FROM grid
)
SELECT lang, max(n_l) AS n_tokens,
  CAST(CAST(sum(t_i8) AS BIGINT) AS DOUBLE)
    / CAST(100000000.0 AS DOUBLE) AS js_bits
FROM termed
GROUP BY lang
ORDER BY lang
"""


ORACLE["js_divergence_lang_mix"] = _duck_js_sql()
QUERIES["js_divergence_lang_mix"] = js_divergence_lang_mix


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucket filter over the bigram LM
# ---------------------------------------------------------------------------


def perplexity_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail quality gate: score every document
    with the corpus-trained bigram LM (``ngram_lm_perplexity``'s exact
    relation — composed, not re-implemented), split the corpus at the
    perplexity QUARTILES (head = cleanest quarter, tail = the quarter a
    training pipeline drops), and emit per-bucket corpus accounting.
    This is the stage between LM training and `pack_shards`: the LM
    shelf already scores; this decides.

    Scale: the per-doc score relation is the LM query's (its plan notes
    apply); the quartile thresholds are ONE exact-percentile aggregate
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` — house rule) on
    dyadic fractions 0.25/0.75 (exactly representable, so both engines
    interpolate identical positions), broadcast back as a 1-row
    relation. At 100 TB the documented swap is approx_percentile with
    a pinned error budget (the rfm_segments note).

    Cross-engine: perplexities are the LM query's 4dp doubles;
    bucketing compares identical doubles to identical thresholds;
    per-bucket means go through 1e4 BIGINT scaling (order-free) and
    are emitted as EXACT int/scale divisions (never re-rounded — the
    derived-round trap); share_pct is a fresh int chain rounded 4dp.
    """
    # r13 optimization: ppl (the WHOLE bigram-LM scoring pipeline)
    # feeds both the quartile aggregate and the bucketing pass —
    # unpersisted, the LM trained and scored twice. One lazy persist of
    # the per-doc score relation is the standard two-pass quantile-gate
    # layout (production swaps to approx_percentile, one pass).
    ppl = ngram_lm_perplexity(spark, sf_dir).select(
        "doc_id", "perplexity"
    ).persist()
    thr = ppl.agg(
        F.expr("percentile(perplexity, 0.25)").alias("t1"),
        F.expr("percentile(perplexity, 0.75)").alias("t2"),
    )
    bucketed = ppl.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("perplexity") <= F.col("t1"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.round(F.col("perplexity") * 10000, 0).cast("long").alias("p_i4"),
        "perplexity",
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p_i4").alias("s_i4"),
        F.min("perplexity").alias("min_ppl"),
        F.max("perplexity").alias("max_ppl"),
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_bucket.select(
        "bucket",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(wtot).cast("double")
            * 100.0,
            4,
        ).alias("share_pct"),
        (
            F.col("s_i4").cast("double")
            / F.col("n_docs").cast("double")
            / 10000.0
        ).alias("mean_ppl"),
        "min_ppl",
        "max_ppl",
        F.when(F.col("bucket") == "tail", F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("kept"),
    ).orderBy("bucket")


def _duck_ppl_filter_sql() -> str:
    # the LM oracle ends "...)\nSELECT ... FROM per_doc\nORDER BY doc_id":
    # rewrap that final select as a CTE so the filter builds on the SAME
    # text (one definition — an LM edit cannot desync the filter oracle)
    tail = """SELECT doc_id, n_bigrams, avg_log2p,
  round(pow(2.0, -avg_log2p), 4) AS perplexity
FROM per_doc
ORDER BY doc_id
"""
    lm = ORACLE["ngram_lm_perplexity"]
    assert tail in lm, "ngram_lm_perplexity oracle tail changed"
    return lm.replace(
        tail,
        """, pplr AS (
  SELECT doc_id, round(pow(2.0, -avg_log2p), 4) AS perplexity
  FROM per_doc
),
thr AS (
  SELECT quantile_cont(perplexity, 0.25) AS t1,
    quantile_cont(perplexity, 0.75) AS t2
  FROM pplr
),
bucketed AS (
  SELECT CASE WHEN perplexity <= t.t1 THEN 'head'
    WHEN perplexity <= t.t2 THEN 'middle' ELSE 'tail' END AS bucket,
    CAST(round(perplexity * 10000, 0) AS BIGINT) AS p_i4,
    perplexity
  FROM pplr CROSS JOIN thr t
),
per_bucket AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(p_i4) AS BIGINT) AS s_i4,
    min(perplexity) AS min_ppl, max(perplexity) AS max_ppl
  FROM bucketed GROUP BY 1
)
SELECT bucket, n_docs,
  round(CAST(n_docs AS DOUBLE)
    / CAST(sum(n_docs) OVER () AS DOUBLE) * 100.0, 4) AS share_pct,
  CAST(s_i4 AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0 AS mean_ppl,
  min_ppl, max_ppl,
  CAST(CASE WHEN bucket = 'tail' THEN 0 ELSE 1 END AS INT) AS kept
FROM per_bucket
ORDER BY bucket
""",
    )


ORACLE["perplexity_quality_filter"] = _duck_ppl_filter_sql()
QUERIES["perplexity_quality_filter"] = perplexity_quality_filter


# ---------------------------------------------------------------------------
# Zipf law fit: log-log OLS slope over the token rank-frequency curve
# ---------------------------------------------------------------------------

ZIPF_MAX_RANKS = 1000


def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS fit of ln(frequency) on ln(rank) over
    the top-``ZIPF_MAX_RANKS`` token ranks — natural corpora sit near
    slope −1; a synthetic or templated corpus (like this testdata)
    shows up immediately as a flat slope with high R². The standard
    one-number corpus-shape check next to ``gini_token_concentration``.

    Scale shape: ONE explode→count shuffle (map-side partials), then
    TakeOrderedAndProject bounds the ranked relation to ≤{ZIPF_MAX_RANKS}
    rows before the rank window and the O(1) OLS algebra. Cross-engine:
    ln(rank)/ln(count) round 6dp into 1e6-scaled BIGINTs, so Σx, Σy,
    Σxy, Σx² fold as exact integers (|Σxy| ≤ ~5e16 at 1000 ranks —
    inside BIGINT); the normal-equation arithmetic then runs in DOUBLE
    from those exact ints (ANSI-overflow rule) identically on both
    engines."""
    df = _with_tokens(spark, sf_dir)
    counts = (
        df.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "tok").limit(ZIPF_MAX_RANKS)
    w = Window.orderBy(F.desc("n"), "tok")
    pts = top.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("x6"),
        F.round(F.log(F.col("n").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("y6"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("r"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        F.sum(F.col("y6") * F.col("y6")).alias("syy"),
    )
    rd = F.col("r").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    den = rd * sxx - sx * sx
    slope = (rd * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / rd / 1e6
    r2den = (rd * sxx - sx * sx) * (rd * syy - sy * sy)
    r2 = (
        (rd * sxy - sx * sy) * (rd * sxy - sx * sy) / r2den
    )
    return s.select(
        F.col("r").alias("n_ranks"),
        (F.when(den > 0, F.round(slope, 4)) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (F.when(den > 0, F.round(intercept, 4)) + F.lit(0.0)).alias(
            "ln_c_intercept"
        ),
        (F.when(r2den > 0, F.round(r2, 4)) + F.lit(0.0)).alias("r_squared"),
    )


ORACLE["zipf_slope_tokens"] = f"""
WITH counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
  ) GROUP BY tok
),
top AS (
  SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {ZIPF_MAX_RANKS}
),
pts AS (
  SELECT
    CAST(round(ln(CAST(row_number() OVER (ORDER BY n DESC, tok)
      AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x6,
    CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y6
  FROM top
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS r,
    CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
    CAST(sum(x6 * y6) AS BIGINT) AS sxy,
    CAST(sum(x6 * x6) AS BIGINT) AS sxx,
    CAST(sum(y6 * y6) AS BIGINT) AS syy
  FROM pts
),
alg AS (
  SELECT r,
    CAST(r AS DOUBLE) AS rd, CAST(sx AS DOUBLE) AS dx,
    CAST(sy AS DOUBLE) AS dy, CAST(sxy AS DOUBLE) AS dxy,
    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy
  FROM s
)
SELECT r AS n_ranks,
  round(CASE WHEN rd * dxx - dx * dx > 0 THEN
    (rd * dxy - dx * dy) / (rd * dxx - dx * dx) END, 4) + 0.0
    AS zipf_slope,
  round(CASE WHEN rd * dxx - dx * dx > 0 THEN
    (dy - (rd * dxy - dx * dy) / (rd * dxx - dx * dx) * dx) / rd / 1e6
    END, 4) + 0.0 AS ln_c_intercept,
  round(CASE WHEN (rd * dxx - dx * dx) * (rd * dyy - dy * dy) > 0 THEN
    (rd * dxy - dx * dy) * (rd * dxy - dx * dy)
    / ((rd * dxx - dx * dx) * (rd * dyy - dy * dy)) END, 4) + 0.0
    AS r_squared
FROM alg
"""
QUERIES["zipf_slope_tokens"] = zipf_slope_tokens
