"""Text-analysis operators: token stats, language heuristics, quality
scoring, fingerprinting (SURVEY.md §2.B north-star).

Everything stays in JVM higher-order functions (split/filter/aggregate)
— tokenization of 100 TB of text must not cross into Python. The only
shuffle in each op is the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pubsub_spark.functions.rounding import r4
from cdc_pubsub_spark.llmops.corpus import (
    CORPUS_CTE,
    SPLIT_CASE_SQL,
    split_col,
)
from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import load

# Tiny function-word set used by the quality/lang-id heuristics.
STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = " OR ".join(f"w = '{s}'" for s in STOPWORDS)


@register(
    "text_token_counts",
    category="text",
    oracle="""
    WITH tokens AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, count(*) AS n FROM tokens GROUP BY token
    )
    SELECT token, n
    FROM counts
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequencies (whitespace tokenization).

    explode + hash-agg with map-side combine: the shuffle carries one row
    per (partition, distinct token), not per token occurrence — vocabulary-
    sized, not corpus-sized. Top-k via TakeOrdered.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "text_token_bpe_regex",
    category="text",
    oracle="""
    WITH tokens AS (
      SELECT unnest(regexp_extract_all(text, ' ?[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS token
      FROM documents WHERE doc_id <= 2000
    )
    SELECT token, count(*) AS n
    FROM tokens
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_token_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex pre-tokenization (GPT-2-shaped pattern, RE2-safe).

    The ` ?[a-z]+` alternative keeps the leading space attached to each
    word — the BPE convention that makes token counts match a trained
    tokenizer's pre-tokenization pass. regexp_extract_all runs in
    codegen; counting a 100 TB corpus's token histogram is one explode +
    vocab-sized hash aggregate (same shuffle shape as text_token_counts).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    toks = F.regexp_extract_all(
        "text", F.lit(" ?[a-z]+|[0-9]+|[^a-z0-9 ]+"), 0
    )
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "text_lang_stats",
    category="text",
    oracle="""
    SELECT
      lang,
      CAST(n_chars // 100 AS BIGINT)  AS len_bucket,
      count(*)                        AS n_docs,
      round(avg(n_chars), 2)          AS avg_chars
    FROM documents
    GROUP BY lang, len_bucket
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document counts and length histogram (100-char buckets)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("len_bucket", F.floor(F.col("n_chars") / 100).cast("bigint"))
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@register(
    "text_quality_score",
    category="text",
    oracle=f"""
    WITH feats AS (
      SELECT
        doc_id,
        len(string_split(text, ' '))                                       AS n_tokens,
        len(list_filter(string_split(text, ' '), w -> {_STOP_SQL}))        AS n_stop
      FROM documents WHERE doc_id <= 2000
    )
    SELECT
      doc_id,
      n_tokens,
      round(CAST(n_stop AS DOUBLE) / n_tokens, 4)             AS stopword_ratio,
      round(0.5 * least(n_tokens / 100.0, 1.0)
            + 0.5 * (CAST(n_stop AS DOUBLE) / n_tokens), 4)   AS quality_score
    FROM feats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation + stopword ratio.

    The C4/Gopher-style cheap quality gate: all features from one
    split() per doc, no shuffle at all (narrow map) — the filter stage
    you run before anything expensive in a training pipeline.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    words = F.split("text", " ")
    is_stop = lambda w: w.isin(*STOPWORDS)  # noqa: E731
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, is_stop))
    ratio = n_stop.cast("double") / n_tokens
    score = 0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.5 * ratio
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


@register(
    "text_lang_id",
    category="text",
    oracle=f"""
    WITH feats AS (
      SELECT
        doc_id,
        lang,
        CAST(len(list_filter(string_split(text, ' '), w -> {_STOP_SQL})) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio
      FROM documents WHERE doc_id <= 2000
    )
    SELECT
      doc_id,
      lang                                            AS labeled_lang,
      CASE WHEN stop_ratio > 0.05 THEN 'en' ELSE 'other' END AS detected_lang,
      round(stop_ratio, 4)                            AS stop_ratio
    FROM feats
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word-ratio language ID (n-gram heuristic, binary en/other).

    The mechanism — score text against per-language marker-token sets,
    argmax wins — shown with a single English marker set; production adds
    one `size(filter(...))` column per language, still one map pass.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    words = F.split("text", " ")
    ratio = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast(
        "double"
    ) / F.size(words)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(ratio > 0.05, "en").otherwise("other").alias("detected_lang"),
        F.round(ratio, 4).alias("stop_ratio"),
    )


@register(
    "text_fingerprint",
    category="text",
    oracle="""
    SELECT
      doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '),
                         w -> CAST(length(w) * 17 + unicode(w) AS BIGINT))),
        (acc, v) -> (acc * 31 + v) % 1000000007
      ) AS fingerprint
    FROM documents
    WHERE doc_id <= 2000
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (mod 1e9+7).

    fold(acc·31 + wordval) over the token stream — order-sensitive (unlike
    md5-of-text it changes when words move), integer-only, and computable
    incrementally over a stream of appends. wordval = 17·len(w) +
    codepoint(w[0]), chosen to be reproducible in any engine.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    wordvals = F.transform(
        F.split("text", " "),
        lambda w: (F.length(w) * 17 + F.ascii(w)).cast("bigint"),
    )
    fp = F.aggregate(
        wordvals,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 31 + v) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


@register(
    "text_normalize",
    category="text",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               '  +', ' ', 'g')) AS norm_text
      FROM documents
      WHERE doc_id <= 500
    )
    SELECT doc_id,
           md5(norm_text) AS norm_md5,
           length(norm_text) AS norm_len,
           CASE WHEN norm_text = '' THEN 0
                ELSE length(norm_text) - length(replace(norm_text, ' ', '')) + 1
           END AS n_tokens
    FROM norm
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase → strip non-alphanumerics
    → collapse runs of spaces → trim.

    The first stage of every dedup/quality pipeline (dedup_exact,
    dedup_near, and the fingerprints all assume a canonical form).
    Pure JVM string kernels — whole-stage-codegen'd, zero shuffle, scales
    as a map over the corpus. The md5 of the normalized text is returned
    so the oracle comparison proves BYTE-EXACT agreement on the full
    normalized string, not just its statistics (an engine-portability
    guarantee: a corpus normalized half on this engine, half on another,
    dedups correctly).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 500)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    toks = F.when(F.col("norm_text") == "", 0).otherwise(
        F.length("norm_text")
        - F.length(F.regexp_replace(F.col("norm_text"), " ", ""))
        + 1
    )
    return docs.select("doc_id", norm.alias("norm_text")).select(
        "doc_id",
        F.md5("norm_text").alias("norm_md5"),
        F.length("norm_text").alias("norm_len"),
        toks.cast("int").alias("n_tokens"),
    )


@register(
    "text_repetition_filter",
    category="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents
      WHERE doc_id <= 1000 AND len(string_split(text, ' ')) >= 2
    ),
    grams AS (
      SELECT doc_id, tk,
             list_transform(range(len(tk) - 1),
               i -> concat_ws(' ', tk[i + 1], tk[i + 2])) AS bg
      FROM toks
    ),
    metrics AS (
      SELECT doc_id,
             len(tk) AS n_tokens,
             CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dr,
             CAST(list_max(list_transform(list_distinct(tk),
               t -> len(list_filter(tk, u -> u = t)))) AS DOUBLE)
               / len(tk) AS tf,
             CAST(list_max(list_transform(list_distinct(bg),
               g -> len(list_filter(bg, h -> h = g)))) AS DOUBLE)
               / len(bg) AS bf
      FROM grams
    )
    SELECT doc_id, n_tokens,
           floor(dr * 10000 + 0.5) / 10000 AS distinct_ratio,
           floor(tf * 10000 + 0.5) / 10000 AS top_token_frac,
           floor(bf * 10000 + 0.5) / 10000 AS top_bigram_frac,
           (dr >= 0.2 AND tf <= 0.25 AND bf <= 0.15) AS keep
    FROM metrics
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct-
    token ratio, most-frequent-token fraction, most-frequent-bigram
    fraction, and the resulting keep/drop verdict.

    Repetition is the strongest cheap predictor of low-quality web text
    (boilerplate, keyword stuffing, generation loops). All three signals
    are computed ROW-LOCALLY with SQL higher-order functions — the
    per-doc token array never explodes into rows, so the operator is a
    pure map with zero shuffles (pinned in tests/test_plans.py): at
    100 TB it streams through executors at scan speed. The O(d·u) inner
    count (u = distinct tokens per doc) is bounded by document length,
    not corpus size. Lambda variables are distinct at every nesting
    level (t/u, g/h) — SQL-parsed lambdas per the CollapseProject
    mis-binding pitfall (STATUS.md).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 1000)
    tk = F.split(F.col("text"), " ")
    # tk is projected FIRST and the bigram lambda reads it with O(1)
    # element_at — `split(text)` inline inside the lambda re-splits the
    # whole doc once per bigram (the O(words²) pitfall; see
    # corpus.shingle_array).
    base = (
        docs.filter(F.size(tk) >= 2)
        .select("doc_id", tk.alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.expr(
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
            ).alias("bg"),
        )
    )
    dr = F.size(F.array_distinct("tk")).cast("double") / F.size("tk")
    tf = (
        F.expr(
            "array_max(transform(array_distinct(tk), "
            "t -> size(filter(tk, u -> u = t))))"
        ).cast("double")
        / F.size("tk")
    )
    bf = (
        F.expr(
            "array_max(transform(array_distinct(bg), "
            "g -> size(filter(bg, h -> h = g))))"
        ).cast("double")
        / F.size("bg")
    )
    m = base.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        dr.alias("dr"),
        tf.alias("tf"),
        bf.alias("bf"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        r4(F.col("dr")).alias("distinct_ratio"),
        r4(F.col("tf")).alias("top_token_frac"),
        r4(F.col("bf")).alias("top_bigram_frac"),
        (
            (F.col("dr") >= 0.2) & (F.col("tf") <= 0.25) & (F.col("bf") <= 0.15)
        ).alias("keep"),
    )


@register(
    "text_contamination",
    category="text",
    oracle=f"""
    WITH {CORPUS_CTE.strip()},
    probes AS (
      SELECT doc_id AS probe_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
               AS gram
      FROM documents
      WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 8
    ),
    corpus_grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(len(string_split(text, ' ')) - 7),
               i -> array_to_string(
                      list_slice(string_split(text, ' '), i + 1, i + 8), ' ')))
               AS gram
      FROM corpus
      WHERE len(string_split(text, ' ')) >= 8
    )
    SELECT p.probe_id,
           count(DISTINCT c.doc_id)  AS n_hits,
           min(c.doc_id)             AS first_hit,
           bool_or(c.doc_id = p.probe_id) AS self_hit
    FROM probes p JOIN corpus_grams c ON p.gram = c.gram
    GROUP BY p.probe_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which corpus documents contain any
    probe 8-gram verbatim (probe = first 8 words of every 50th source
    doc), over the dup-planted corpus.

    The decontamination step of every training-data pipeline: eval-set
    n-grams must be located in a 100 TB corpus BEFORE training. The
    scalable formulation is exactly this shape — shingle the corpus
    map-side (one row per distinct (doc, 8-gram), built in codegen, no
    all-pairs scan), then hash-join against the probe grams. The probe
    side is benchmark-sized (thousands), so Catalyst broadcasts it and
    the "search 100 TB for any of N needles" problem costs one corpus
    scan + a broadcast hash join — no shuffle of the corpus at all.
    Planted duplicates (corpus.py) guarantee every probe hits its source
    doc AND the source's exact/near copies, which is precisely the
    leakage a real decontamination pass must catch (a contaminated doc's
    near-duplicates are equally contaminated).
    """
    from cdc_pubsub_spark.llmops.corpus import dup_corpus, shingle_rows

    docs = load(spark, sf_dir, "documents")
    sp = F.split(F.col("text"), " ")
    probes = (
        docs.filter((F.col("doc_id") % 50 == 0) & (F.size(sp) >= 8))
        .select(
            F.col("doc_id").alias("probe_id"),
            F.concat_ws(" ", F.slice(sp, 1, 8)).alias("gram"),
        )
    )
    # No distinct on the corpus grams: every aggregate below is
    # duplicate-insensitive (countDistinct / min / bool_or), so repeated
    # (doc, gram) pairs cannot change the answer — and skipping the dedup
    # removes the ONLY corpus-sized shuffle. The grams stream out of the
    # generate straight into the broadcast hash join, which discards
    # everything but needle matches map-side; at 100 TB the whole check
    # is one scan with zero corpus shuffle.
    corpus_grams = shingle_rows(dup_corpus(spark, sf_dir), n=8).select(
        "doc_id", F.col("shingle").alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(probes), "gram")
        .groupBy("probe_id")
        .agg(
            F.countDistinct("doc_id").alias("n_hits"),
            F.min("doc_id").alias("first_hit"),
            F.bool_or(F.col("doc_id") == F.col("probe_id")).alias("self_hit"),
        )
    )


@register(
    "text_pii_redact",
    category="text",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                              '@example.com or +1-555-',
                              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                  ELSE text END AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red_text
      FROM planted
    )
    SELECT doc_id,
           len(string_split(red_text, '<EMAIL>')) - 1 AS n_emails,
           len(string_split(red_text, '<PHONE>')) - 1 AS n_phones,
           md5(red_text) AS red_md5
    FROM red
    WHERE red_text <> text
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails and phone numbers replaced with typed
    placeholder tokens; returns the redacted docs with per-type counts
    and the md5 of the redacted text (byte-exact cross-engine proof).

    The compliance stage of a training pipeline — scrub BEFORE the
    corpus is shuffled/replicated. The clean source corpus has no PII,
    so (same pattern as corpus.py's planted duplicates) every 13th doc
    gets a deterministic synthetic email + phone appended, and the
    operator must find exactly those. Both regexes are RE2-safe (no
    backreferences/lookahead — linear-time scan) and run in codegen:
    a zero-shuffle map over the corpus, scan-speed at 100 TB. The md5
    over the full redacted text proves the replacement is byte-identical
    across engines, not merely same-count.
    """
    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
        r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return (
        planted.withColumn("red_text", red)
        .filter(F.col("red_text") != F.col("text"))
        .select(
            "doc_id",
            (F.size(F.split("red_text", "<EMAIL>", -1)) - 1).alias("n_emails"),
            (F.size(F.split("red_text", "<PHONE>", -1)) - 1).alias("n_phones"),
            F.md5("red_text").alias("red_md5"),
        )
    )


@register(
    "doc_chunk_overlap",
    category="text",
    oracle="""
    SELECT
      doc_id,
      k                                   AS chunk_id,
      k * 150 + 1                         AS start_pos,
      length(substring(text, k * 150 + 1, 200)) AS chunk_chars,
      md5(substring(text, k * 150 + 1, 200))    AS chunk_md5
    FROM documents,
         LATERAL unnest(range(0,
           CAST(floor((length(text) - 1) / 150) AS BIGINT) + 1)) AS t(k)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking: 200-char windows, stride 150.

    The context-window chunker every RAG/training pipeline needs: each
    document explodes into ceil(len/150) chunks with 50-char overlap so
    no boundary-spanning phrase is lost. Entirely row-local higher-order
    functions (sequence -> transform -> explode) inside whole-stage
    codegen: zero shuffle, no Python, output partitioning inherits the
    scan — at 100 TB this is a pure map stage that scales linearly with
    input splits. Chunks surface as (length, md5) so the compare stays
    compact; 1-based substring semantics match DuckDB exactly.
    """
    docs = load(spark, sf_dir, "documents")
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.floor((F.length("text") - F.lit(1)) / F.lit(150)).cast("int"),
        ),
        lambda k: F.struct(
            k.alias("chunk_id"),
            (k * F.lit(150) + F.lit(1)).alias("start_pos"),
            F.substring(F.col("text"), k * F.lit(150) + F.lit(1), F.lit(200)).alias(
                "chunk"
            ),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").cast("bigint").alias("chunk_id"),
            F.col("c.start_pos").cast("bigint").alias("start_pos"),
            F.length("c.chunk").cast("bigint").alias("chunk_chars"),
            F.md5("c.chunk").alias("chunk_md5"),
        )
    )


@register(
    "text_tfidf_topk",
    category="text",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM words
      WHERE word <> ''
      GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, count(DISTINCT doc_id) AS df
      FROM tf
      GROUP BY word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.word,
             round(t.tf * ln(CAST(n_docs AS DOUBLE) / df), 2) AS tfidf
      FROM tf t JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, rn AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, word
      ) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 most characteristic terms per document.

    The classic keyword/feature extractor. Shuffle discipline at scale:
    TF is one partial-aggregating shuffle on (doc, word); DF reuses the
    TF table (already one row per doc-word) so the document-frequency
    count is a count(*) per word over the SMALLER deduped set, not the
    raw token stream; the doc count is an IN-PLAN 1-row aggregate joined
    by broadcast cross join (a driver-side `docs.count()` here would
    schedule a whole extra corpus scan before the main job — same
    in-plan shape as the oracle's `CROSS JOIN n`); the final per-doc
    top-3 is a WindowGroupLimit (per-partition top-k pushdown), ranked
    on the ROUNDED score with a word tie-break so Spark and DuckDB
    agree on ties (registry determinism contract).
    """
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "word").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 2
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", "rank")
    )


@register(
    "text_lm_perplexity",
    category="text",
    oracle="""
    WITH d AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2
    ),
    bg AS (
      SELECT doc_id, substring(t, CAST(i AS INT), 2) AS bg
      FROM d, LATERAL unnest(range(1, length(t))) AS u(i)
    ),
    counts AS (
      SELECT bg, count(*) AS cbg FROM bg WHERE doc_id % 4 = 0 GROUP BY 1
    ),
    prefix AS (
      SELECT substring(bg, 1, 1) AS c1, CAST(sum(cbg) AS DOUBLE) AS cu
      FROM counts GROUP BY 1
    ),
    model AS (
      SELECT bg, CAST(cbg AS DOUBLE) / cu AS p
      FROM counts JOIN prefix ON substring(bg, 1, 1) = c1
    )
    SELECT doc_id, round(exp(avg(-ln(coalesce(p, 1e-6)))), 2) AS ppl
    FROM bg LEFT JOIN model USING (bg)
    GROUP BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-model perplexity per document — the
    CCNet-style statistical quality filter (docs whose character
    distribution surprises the corpus LM are boilerplate, encoding
    noise, or the wrong language).

    The model trains on a deterministic hash-sample of the corpus
    (doc_id % 4 = 0 — 25% of docs), the 100 TB protocol: P(c2|c1) =
    count(c1c2) / count(c1·) estimated from the sample's bigrams, with
    bigrams unseen in the sample floored at 1e-6 (coalesce after a left
    join — the smoothing term that keeps scoring total and
    deterministic). Scale shape: the model is O(charset²) rows no
    matter how big the corpus — it BROADCASTS to the scoring join, so
    the only shuffles are the two bounded-cardinality count
    aggregations and the final per-doc average; the corpus-sized bigram
    stream is never re-shuffled. Sample-training also replaces the old
    full-corpus persist (materializing a corpus×chars row cache, the
    single heaviest bench item in r03): total explode work drops from
    2× the corpus (cached) to 1.25× (train 0.25 + score 1.0), with the
    training scan's doc_id filter pushed down to the parquet scan and
    zero executor-memory cache pressure.

    Extraction detail: the text splits into a char array ONCE; the
    bigram stream is built from BULK array ops — two slice()s zipped
    and exploded. A per-position lambda (`transform(sequence, bi ->
    concat(element_at...))`) allocates each bigram inside interpreted
    HOF evaluation and measured 10× slower on the extraction at sf0.1;
    `substring(t, bi, 2)` in a lambda is worse still (quadratic UTF-8
    rescans per doc). Bigrams travel as INTEGER codes (codepoint1 ×
    2²¹ + codepoint2; 2²¹ > 0x10FFFF, so the packing is injective for
    EVERY Unicode code point including the supplementary planes, and
    counts and therefore every probability are bit-identical to the
    2-char-string keying the oracle uses): no per-bigram string
    allocation in the exploded stream, and the model join hashes a
    bigint instead of a UTF-8 string.
    """
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= 2)
        .select("doc_id", F.lower(F.col("text")).alias("t"))
    )

    def bigrams(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                F.expr("transform(split(t, ''), c -> ascii(c))").alias("cs"),
            )
            .select(
                "doc_id",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(cs, 1, size(cs) - 1)"),
                        F.expr("slice(cs, 2, size(cs) - 1)"),
                    )
                ).alias("p"),
            )
            .select(
                "doc_id",
                (F.col("p.0").cast("bigint") * 2097152 + F.col("p.1")).alias("bg"),
            )
        )

    counts = (
        bigrams(docs.filter(F.col("doc_id") % 4 == 0))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cbg"))
    )
    prefix = counts.groupBy(F.expr("bg div 2097152").alias("c1")).agg(
        F.sum("cbg").cast("double").alias("cu")
    )
    model = counts.join(
        prefix, F.expr("bg div 2097152") == prefix["c1"]
    ).select("bg", (F.col("cbg").cast("double") / F.col("cu")).alias("p"))
    return (
        bigrams(docs)
        .join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.exp(F.avg(-F.log(F.coalesce(F.col("p"), F.lit(1e-6))))), 2
            ).alias("ppl")
        )
    )


@register(
    "text_filter_verdict",
    category="text",
    oracle=f"""
    WITH feats AS (
      SELECT
        doc_id,
        len(string_split(text, ' '))                                 AS n_tokens,
        len(list_distinct(string_split(text, ' ')))                  AS n_distinct,
        CAST(len(list_filter(string_split(text, ' '),
                             w -> {_STOP_SQL})) AS DOUBLE)
          / len(string_split(text, ' '))                             AS stop_ratio,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' '))                             AS mean_wlen
      FROM documents WHERE doc_id <= 2000
    ),
    rules AS (
      SELECT doc_id, n_tokens,
        list_filter([
          CASE WHEN n_tokens < 30 THEN 'too_short' END,
          CASE WHEN n_tokens > 5000 THEN 'too_long' END,
          CASE WHEN stop_ratio < 0.02 THEN 'low_stopword' END,
          CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3
               THEN 'excess_repetition' END,
          CASE WHEN mean_wlen < 2 OR mean_wlen > 12 THEN 'odd_word_len' END
        ], x -> x IS NOT NULL) AS failed
      FROM feats
    )
    SELECT doc_id, n_tokens,
           len(failed) = 0                AS keep,
           coalesce(array_to_string(failed, ','), '') AS reasons
    FROM rules
    """,
)
def text_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gating stage of the training-data pipeline: every cleaning
    rule evaluated in one row-local pass, emitting keep/drop plus the
    ORDERED list of failed rules — never a bare boolean.

    Carrying the reasons is what makes a 100 TB filter auditable: rule
    firing rates (one groupBy on `reasons` downstream) are the pipeline
    health dashboard, and changed verdicts between pipeline versions
    diff by reason, not by row-eyeballing. Rules are the standard
    C4/Gopher battery (length bounds, stopword floor, repetition
    ceiling, word-length sanity); all features come from one split()
    per doc — zero shuffle, pure codegen, same cost shape as
    text_quality_score.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2000)
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop_ratio = (
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double")
        / n_tokens
    )
    mean_wlen = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    failed = F.filter(
        F.array(
            F.when(n_tokens < 30, "too_short"),
            F.when(n_tokens > 5000, "too_long"),
            F.when(stop_ratio < 0.02, "low_stopword"),
            F.when(n_distinct.cast("double") / n_tokens < 0.3, "excess_repetition"),
            F.when((mean_wlen < 2) | (mean_wlen > 12), "odd_word_len"),
        ),
        lambda x: x.isNotNull(),
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.size(failed) == 0).alias("keep"),
        F.array_join(failed, ",").alias("reasons"),
    )


@register(
    "text_boilerplate_spans",
    category="text",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(len(string_split(text, ' ')) - 4),
               i -> concat_ws(' ', string_split(text, ' ')[i + 1],
                              string_split(text, ' ')[i + 2],
                              string_split(text, ' ')[i + 3],
                              string_split(text, ' ')[i + 4],
                              string_split(text, ' ')[i + 5]))) AS span
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    df AS (
      SELECT span, count(*) AS n_docs FROM sp GROUP BY span
    )
    SELECT sp.doc_id,
           count(*)                                   AS n_spans,
           count(*) FILTER (df.n_docs >= 4)           AS n_boiler,
           floor(CAST(count(*) FILTER (df.n_docs >= 4) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000    AS boiler_ratio,
           (CAST(count(*) FILTER (df.n_docs >= 4) AS DOUBLE) / count(*))
             < 0.2                                    AS keep
    FROM sp JOIN df USING (span)
    GROUP BY sp.doc_id
    """,
)
def text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection — the corpus-level quality
    signal text_filter_verdict's row-local C4/Gopher rules cannot see:
    a 5-gram span appearing (distinctly) in >= 4 documents is
    boilerplate (headers, nav text, license blurbs — the things web
    corpora repeat verbatim across pages), and documents whose span
    stream is >= 20% boilerplate get flagged for removal. This is C4's
    "discard any line appearing elsewhere in the corpus" policy
    re-expressed at span granularity for newline-free text.

    Cost shape at 100 TB: spans extract with the bulk slice+zip pattern
    (one narrow pass, no per-element lambda); the document-frequency
    table is ONE partial-aggregating shuffle on the span; the join back
    is span-keyed equi-join (hot boilerplate spans are exactly the
    skew AQE's skew-join splitting absorbs) and the per-doc verdict is
    one more aggregate. No all-pairs anything: cost is linear in total
    span volume, which is linear in corpus size. boiler_ratio uses the
    floor-rounding twin r4 (division-created midpoints — rounding.py).
    """
    from cdc_pubsub_spark.llmops.corpus import shingle_rows

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    spans = shingle_rows(docs, n=5).distinct()
    df_tbl = spans.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    joined = spans.join(df_tbl, "shingle")
    boiler = F.count(F.when(F.col("n_docs") >= 4, 1))
    ratio = boiler.cast("double") / F.count(F.lit(1))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        boiler.alias("n_boiler"),
        r4(ratio).alias("boiler_ratio"),
        (ratio < 0.2).alias("keep"),
    )


@register(
    "text_feature_hashing",
    category="text",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE doc_id <= 200
    )
    SELECT doc_id,
           CAST(concat('0x', substr(md5(w), 1, 2)) AS INT) % 64 AS bucket,
           count(*) AS tf
    FROM words
    WHERE w <> ''
    GROUP BY doc_id, bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the Weinberger et al. vectorizer):
    every token maps to one of 64 buckets by content hash and the doc
    becomes a sparse (doc_id, bucket, tf) vector — the fixed-width,
    vocabulary-free text representation that feeds linear probes,
    n-gram classifiers, and fastText-style models without ever building
    or broadcasting a vocabulary.

    Why it scales where a vocabulary doesn't: the feature space is fixed
    at k buckets BEFORE seeing any data, so there is no global
    token-to-index table to learn, ship, or keep consistent across
    incremental corpus versions — the hash IS the index. One explode +
    one partial-aggregating shuffle on (doc_id, bucket); bucket ids use
    the md5 first byte (mod 64) so the DuckDB oracle reproduces every
    assignment exactly.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 2), 16, 10).cast("int") % 64
    )
    return words.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("tf")
    )


@register(
    "text_zipf_fit",
    category="text",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freqs AS (
      SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w
    ),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, w) AS rank
      FROM freqs
    )
    SELECT count(*)                                        AS n_vocab,
           CAST(sum(freq) AS BIGINT)                       AS n_tokens,
           floor(regr_slope(ln(freq), ln(rank)) * 10000 + 0.5) / 10000
                                                           AS zipf_slope,
           floor(regr_r2(ln(freq), ln(rank)) * 10000 + 0.5) / 10000
                                                           AS fit_r2
    FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: regress log-frequency
    on log-rank — natural text slopes toward -1, and deviation is a
    fast corpus-health signal (template spam flattens the tail,
    boilerplate steepens the head; synthetic fixtures like this one
    sit far from -1, which is the point of MEASURING it).

    Word counts are one explode+aggregate; ranking is a window over
    the VOCABULARY (thousands of rows, not the token stream), with a
    deterministic (freq desc, word) total order so tied frequencies
    rank identically in both engines. The regression is the algebraic
    regr_slope/regr_r2 pair — single-pass mergeable sums over the
    ranked vocab. At 100 TB the vocab relation is the only sorted
    object and it is bounded by distinct-word count; the token stream
    itself never sorts or shuffles beyond the count aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    freqs = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    ranked = freqs.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "w"))
        .alias("rank"),
    )
    lf, lr = F.log("freq"), F.log("rank")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        r4(F.regr_slope(lf, lr)).alias("zipf_slope"),
        r4(F.regr_r2(lf, lr)).alias("fit_r2"),
    )


@register(
    "text_line_dedup",
    category="text",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id, t.ci AS chunk_idx,
             array_to_string(ws[t.ci*8+1 : t.ci*8+8], ' ') AS chunk
      FROM words,
           unnest(generate_series(
             0, CAST(ceil(len(ws)/8.0) AS BIGINT) - 1)) AS t(ci)
    ),
    freq AS (
      SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk
    ),
    kept AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk, f.df
      FROM chunks c JOIN freq f ON c.chunk = f.chunk
    )
    SELECT doc_id,
           count(*)                                   AS n_chunks,
           count(*) FILTER (WHERE df < 3)             AS n_kept,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                          FILTER (WHERE df < 3), '')) AS clean_md5
    FROM kept
    WHERE doc_id <= 120
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-span removal (the C4 "three-sentence span"
    rule, re-based on fixed 8-word chunks because the fixture corpus has
    no sentence boundaries): any chunk that appears verbatim in ≥3
    DISTINCT documents is boilerplate and is dropped from every document
    that contains it; survivors re-assemble in original order.

    Pipeline shape (all JVM-side): split words once, explode only the
    CHUNK INDEX range (⅛ of token volume) and slice each chunk out of
    the word array → corpus-wide distinct-doc frequency per chunk (one
    aggregate over the chunk relation — the only
    corpus-global state, and it is bounded by distinct-chunk count, not
    corpus size) → broadcast-free equi-join back → ordered reassembly
    via collect_list over a (doc, idx)-sorted window.  At 100 TB the
    chunk-frequency relation is the natural dictionary to bucket by
    chunk hash; no stage ever materializes a document cross product.
    Output is the per-doc audit (chunks seen / kept) plus an md5 of the
    cleaned text so reassembly order is certified, bounded to doc_id ≤
    120 to keep the driver compare small.
    """
    docs = load(spark, sf_dir, "documents")
    chunks = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "ws",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.ceil(F.size("ws") / F.lit(8.0)).cast("bigint") - 1,
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ", F.expr("slice(ws, chunk_idx * 8 + 1, 8)")
            ).alias("chunk"),
        )
    )
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("df")
    )
    kept = chunks.join(freq, "chunk")
    w = Window.partitionBy("doc_id").orderBy("chunk_idx")
    return (
        kept.filter(F.col("doc_id") <= 120)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("df") < 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.coalesce(
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        F.col("df") < 3,
                                        F.struct("chunk_idx", "chunk"),
                                    )
                                )
                            ),
                            lambda s: s["chunk"],
                        ),
                    ),
                    F.lit(""),
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bm25_topk",
    category="text",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM words WHERE word <> '' GROUP BY 1
    ),
    stats AS (
      SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             count(*) AS n_docs
      FROM dl
    ),
    q AS (SELECT unnest(['vector','join','window','stream']) AS term),
    tf AS (
      SELECT w.doc_id, w.word AS term, count(*) AS tf
      FROM words w JOIN q ON w.word = q.term
      GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             CAST(floor(
               ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM tf t
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(term_micro) AS BIGINT) AS bm25_micro,
             count(*) AS n_terms
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25_micro, n_terms,
           row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rnk
    FROM agg
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 15
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (k1 = 1.2, b = 0.75): top-15 documents for a
    4-term keyword query.

    The lexical half of every hybrid search stack (the other half is
    sim_cosine_topk; search_rrf_fusion fuses them).  Pipeline shape:
    tokenize once; document length + the corpus avgdl/N are one partial
    agg each (avgdl stays IN-PLAN as a 1-row broadcast — no driver
    count()); per-term tf touches only postings matching the 4 query
    terms (the query acts as a broadcast semi-filter on the token
    stream, so work scales with postings-of-query-terms, not corpus
    vocabulary); df folds over the already-deduped tf relation.

    Determinism discipline: each term's BM25 contribution is floored to
    INTEGER MICRO-UNITS before the per-doc sum (the sim_ann_pq device),
    so the cross-doc aggregate is exact bigint arithmetic — immune to
    float-sum ordering across partitions — and the rank is a total
    order on (bm25_micro, doc_id).  Spark and the oracle evaluate the
    same literal IEEE expression sequence (D-suffixed doubles; the
    SQL-string decimal-literal pitfall in STATUS.md).
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    terms = ["vector", "join", "window", "stream"]
    q = spark.createDataFrame([(t,) for t in terms], ["term"])
    tf = (
        words.join(
            F.broadcast(q), words.word == q.term
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "CAST(floor("
                "ln((CAST(n_docs AS DOUBLE) - df + 0.5D)"
                " / (CAST(df AS DOUBLE) + 0.5D) + 1.0D)"
                " * (CAST(tf AS DOUBLE) * 2.2D)"
                " / (CAST(tf AS DOUBLE)"
                "    + 1.2D * (0.25D + 0.75D * CAST(dl AS DOUBLE) / avgdl))"
                " * 1000000 + 0.5D) AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_micro").cast("bigint").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.orderBy(F.col("bm25_micro").desc(), "doc_id")
    return (
        agg.orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(15)
        .withColumn("rnk", F.row_number().over(w))
    )


_RAKE_STOP = ("a", "the", "of", "and", "to", "in", "is", "on", "for")
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)


@register(
    "text_keyword_rake",
    category="text",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, i.i AS pos, t.tok[i.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS tok
            FROM documents) t,
           LATERAL unnest(range(1, len(t.tok) + 1)) AS i(i)
    ),
    nonstop AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM words WHERE w NOT IN ({_RAKE_STOP_SQL}) AND w != ''
    ),
    phrases AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT)        AS plen
      FROM nonstop GROUP BY doc_id, island
    ),
    wstats AS (
      SELECT n.w,
             CAST(count(*) AS BIGINT)   AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM nonstop n JOIN phrases p USING (doc_id, island)
      GROUP BY n.w
    ),
    wscore AS (
      SELECT w,
             CAST(floor(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
                        * 1000000 + 0.5) AS BIGINT) AS s_micro
      FROM wstats
    ),
    pscore AS (
      SELECT p.phrase, p.plen,
             CAST(sum(ws.s_micro) AS BIGINT) AS score_micro
      FROM nonstop n
      JOIN phrases p USING (doc_id, island)
      JOIN wscore ws ON ws.w = n.w
      GROUP BY p.doc_id, p.island, p.phrase, p.plen
    )
    SELECT phrase,
           max(plen)                 AS n_words,
           CAST(count(*) AS BIGINT)  AS n_occurrences,
           floor(CAST(max(score_micro) AS DOUBLE) / 100 + 0.5) / 10000
             AS rake_score
    FROM pscore
    GROUP BY phrase
    ORDER BY rake_score DESC, phrase
    LIMIT 20
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose 2010) over the corpus: split each
    doc into candidate phrases at stopword boundaries, score words by
    degree/frequency (words that ride long phrases beat words that
    appear alone), score phrases by their member-word sum, and emit
    the corpus top-20 — the unsupervised keyword pass every corpus
    triage pipeline runs before topic labeling.

    Phrase segmentation is the gaps-and-islands idiom: position minus
    the non-stopword rank is constant within each maximal stopword-free
    run, so ONE doc-partitioned window (bounded by document length,
    never corpus size) recovers phrase ids without any regex
    double-scan. Word stats are a vocabulary-sized aggregate; phrase
    scores join the broadcast-scale word-score table back onto member
    rows. Word scores quantize to integer 1e-6 units before the
    phrase sum (exact BIGINT, order-independent) and identical phrases
    collapse with a deterministic max (every occurrence carries the
    same corpus-level score). Top-20 is total-ordered
    (score desc, phrase) via TakeOrdered.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).selectExpr("doc_id", "pos0 + 1 AS pos", "w")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = (
        words.filter(~F.col("w").isin(*_RAKE_STOP) & (F.col("w") != ""))
        .withColumn("island", F.col("pos") - F.row_number().over(wd))
    )
    phrases = nonstop.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    member = nonstop.join(phrases, ["doc_id", "island"])
    wstats = member.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    wscore = wstats.selectExpr(
        "w",
        "CAST(floor(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)"
        " * 1000000 + 0.5) AS BIGINT) AS s_micro",
    )
    pscore = (
        member.join(wscore, "w")
        .groupBy("doc_id", "island", "phrase", "plen")
        .agg(F.sum("s_micro").cast("bigint").alias("score_micro"))
    )
    out = (
        pscore.groupBy("phrase")
        .agg(
            F.max("plen").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.expr(
                "floor(CAST(max(score_micro) AS DOUBLE) / 100 + 0.5)"
                " / 10000"
            ).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(20)
    )
    return out


_CURR_Q_SQL = (
    "0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)"
    " + 0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
)
_CURR_PHASE_SQL = (
    "CASE WHEN q >= 0.75 THEN 1 WHEN q >= 0.6 THEN 2"
    " WHEN q >= 0.45 THEN 3 ELSE 4 END"
)


@register(
    "corpus_curriculum_order",
    category="corpus",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             w -> {_STOP_SQL})) AS n_stop,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    phased AS (
      SELECT doc_id, n_chars, h,
             CAST(floor(({_CURR_Q_SQL}) * 1000000 + 0.5) AS BIGINT)
               AS q_micro,
             {_CURR_PHASE_SQL.replace("q", f"({_CURR_Q_SQL})")} AS phase
      FROM feats
    ),
    sched AS (
      SELECT phase, doc_id, n_chars, q_micro, h,
             row_number() OVER (PARTITION BY phase
                                ORDER BY h, doc_id) AS pos
      FROM phased
    )
    SELECT phase,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_chars) AS BIGINT)    AS total_chars,
           floor(CAST(sum(q_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 100 + 0.5) / 10000      AS mean_quality,
           arg_min(doc_id, h)              AS first_doc,
           CAST(sum(pos * (doc_id % 1048576)) AS BIGINT)
             AS schedule_checksum
    FROM sched
    GROUP BY phase
    ORDER BY phase
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ordering of the training corpus: bucket every doc
    into quality phases (highest-quality first — the quality-staged
    curriculum pretraining runs), deterministically shuffle WITHIN each
    phase by content-independent hash (the corpus discipline: never
    rand()), and emit per-phase schedule stats plus a checksum that
    pins the ENTIRE permutation — sum(position x doc_id) changes if
    any two docs swap places, so the oracle certifies the full
    schedule without materializing corpus-sized output.

    Phase cutoffs are fixed quality thresholds (absolute curriculum,
    not rank quantiles — no global sort needed to ASSIGN phases);
    within-phase positions use the corpus_batch_assembly two-level
    distributed rank (md5-prefix buckets: doc-local window per
    (phase, bucket), 256-row offset window per phase — the global
    per-phase window the naive rank would need appears nowhere; the
    oracle's single window is equivalent by the prefix-order
    argument). Quality scores quantize to 1e-6 integer units before
    the per-phase mean (exact BIGINT sums).
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    words = F.split("text", " ")
    feats = docs.select(
        "doc_id",
        "n_chars",
        F.size(words).alias("n_tokens"),
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).alias(
            "n_stop"
        ),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    phased = feats.selectExpr(
        "doc_id",
        "n_chars",
        "h",
        f"CAST(floor(({_CURR_Q_SQL}) * 1000000 + 0.5) AS BIGINT)"
        " AS q_micro",
        f"{_CURR_PHASE_SQL.replace('q', f'({_CURR_Q_SQL})')} AS phase",
    ).withColumn("bkt", F.substring("h", 1, 2))
    wloc = Window.partitionBy("phase", "bkt").orderBy("h", "doc_id")
    local = phased.withColumn("rn", F.row_number().over(wloc))
    woff = Window.partitionBy("phase").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        local.groupBy("phase", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "phase",
            "bkt",
            (F.sum("cnt").over(woff) - F.col("cnt")).alias("off"),
        )
    )
    sched = local.join(F.broadcast(offsets), ["phase", "bkt"]).select(
        "phase",
        "doc_id",
        "n_chars",
        "q_micro",
        "h",
        (F.col("off") + F.col("rn")).alias("pos"),
    )
    out = (
        sched.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.expr(
                "floor(CAST(sum(q_micro) AS DOUBLE)"
                " / CAST(count(*) AS DOUBLE) / 100 + 0.5) / 10000"
            ).alias("mean_quality"),
            F.expr("min_by(doc_id, h)").alias("first_doc"),
            # doc_id reduces % 2^20 before the product (identity at
            # every shipped sf, keeps the permutation-pinning property
            # there) — the raw product overflowed int64 under ANSI at
            # the sf1 probe's replica-shifted ids (r10 sweep catch).
            F.sum(F.col("pos") * (F.col("doc_id") % 1048576))
            .cast("bigint")
            .alias("schedule_checksum"),
        )
        .orderBy("phase")
    )
    return out


_PMI_LIFT = (
    "CAST({p}.c12 AS DOUBLE) * CAST({t}.nb AS DOUBLE)"
    " / (CAST({l}.c1 AS DOUBLE) * CAST({r}.c2 AS DOUBLE))"
)


@register(
    "text_collocations_pmi",
    category="text",
    oracle=f"""
    WITH big AS (
      SELECT t.tok[i.i] AS w1, t.tok[i.i + 1] AS w2
      FROM (SELECT string_split(trim(text), ' ') AS tok
            FROM documents) t,
           LATERAL unnest(range(1, len(t.tok))) AS i(i)
    ),
    pairs AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2
    ),
    lw AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
    rw AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM pairs GROUP BY 1),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM pairs)
    SELECT p.w1, p.w2, p.c12, l.c1, r.c2,
           floor({_PMI_LIFT.format(p="p", t="t", l="l", r="r")}
                 * 10000 + 0.5) / 10000 AS lift,
           floor(ln({_PMI_LIFT.format(p="p", t="t", l="l", r="r")})
                 * 10000 + 0.5) / 10000 AS pmi
    FROM pairs p
    JOIN lw l USING (w1)
    JOIN rw r USING (w2)
    CROSS JOIN tot t
    WHERE p.c12 >= 5
    ORDER BY {_PMI_LIFT.format(p="p", t="t", l="l", r="r")} DESC,
             p.w1, p.w2
    LIMIT 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    word pairs: PMI = ln(N·c(w1,w2) / (c(w1)·c(w2))) with positional
    unigram counts (w1 as first element, w2 as second — all marginals
    of the bigram relation itself, the Church & Hanks 1990 setup).
    Surfaces multiword expressions ("new york"-style units) that
    frequency ranking buries — the phrase-vocabulary pass a tokenizer
    or n-gram LM pipeline runs before training. Min support c12 ≥ 5
    kills the hapax-pair PMI explosion.

    Ranking determinism: candidates order by the RAW lift ratio
    c12·N/(c1·c2) — one double multiply-divide in pinned operand
    order, bit-identical across engines (IEEE correctly-rounded ops on
    exact integers), tie-broken (w1, w2) — so the top-20 membership
    never hinges on ln() ulps; ln only DECORATES the chosen rows
    (r4-floored, the tfidf/PSI precedent). Scale shape: bigram
    extraction is row-local (transform over the token array, no
    self-join); everything downstream aggregates or joins on the PAIR
    relation, which is distinct-bigram-sized, not corpus-sized — the
    word-count shuffle shape with map-side combine; marginals are two
    more vocabulary-sized aggregates of the pair relation, and the
    bigram total is a 1-row broadcast. Top-20 compiles to TakeOrdered.
    """
    docs = load(spark, sf_dir, "documents").selectExpr(
        "split(trim(text), ' ') AS tok"
    )
    big = docs.selectExpr(
        # size(tok) < 2 guard: sequence(1, 0) DESCENDS in Spark (the
        # corpus_bpe_train device) while the oracle's range(1, 1) is
        # empty — guard to array() so both engines drop the row.
        "explode(CASE WHEN size(tok) >= 2 THEN"
        " transform(sequence(1, size(tok) - 1),"
        " bgi -> named_struct('w1', element_at(tok, bgi),"
        " 'w2', element_at(tok, bgi + 1))) ELSE"
        " CAST(array() AS ARRAY<STRUCT<w1 STRING, w2 STRING>>)"
        " END) AS bg"
    ).selectExpr("bg.w1 AS w1", "bg.w2 AS w2")
    pairs = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    lw = pairs.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    rw = pairs.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("c2"))
    tot = pairs.agg(F.sum("c12").cast("bigint").alias("nb"))
    lift = (
        "CAST(c12 AS DOUBLE) * CAST(nb AS DOUBLE)"
        " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))"
    )
    return (
        pairs.join(lw, "w1")
        .join(rw, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c12") >= 5)
        .selectExpr(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            f"floor({lift} * 10000 + 0.5) / 10000 AS lift",
            f"floor(ln({lift}) * 10000 + 0.5) / 10000 AS pmi",
            f"{lift} AS _rank_lift",
        )
        .orderBy(F.desc("_rank_lift"), "w1", "w2")
        .limit(20)
        .drop("_rank_lift")
    )


@register(
    "text_ngram_novelty",
    category="text",
    oracle=f"""
    WITH toks AS (
      SELECT {SPLIT_CASE_SQL.strip()} AS split,
             string_split(trim(text), ' ') AS tok
      FROM documents
    ),
    trig AS (
      SELECT t.split,
             t.tok[i.i] || ' ' || t.tok[i.i + 1] || ' '
               || t.tok[i.i + 2] AS tri
      FROM toks t, LATERAL unnest(range(1, len(t.tok) - 1)) AS i(i)
    ),
    tr AS (SELECT DISTINCT tri FROM trig WHERE split = 'train'),
    va AS (SELECT DISTINCT tri FROM trig WHERE split = 'val'),
    nv AS (
      SELECT tri FROM va v
      WHERE NOT EXISTS (SELECT 1 FROM tr t WHERE t.tri = v.tri)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train_types,
           (SELECT CAST(count(*) AS BIGINT) FROM va) AS n_val_types,
           (SELECT CAST(count(*) AS BIGINT) FROM nv) AS n_novel_types,
           floor((SELECT CAST(count(*) AS DOUBLE) FROM nv)
                 / (SELECT CAST(count(*) AS DOUBLE) FROM va)
                 * 10000 + 0.5) / 10000 AS novelty_rate
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split n-gram NOVELTY rate: the fraction of the val split's
    distinct word trigrams never seen in train — the memorization/
    generalization diagnostic LLM eval pipelines compute before
    trusting a benchmark number (low novelty means the eval set is
    largely recombinations of training text; text_contamination
    catches verbatim leakage, this measures the softer n-gram
    overlap). Splits come from the SAME md5 hash twins as
    corpus_train_val_split — the one-place-threshold rule.

    Scale shape: trigram extraction is row-local (one hoisted split,
    element_at indexing — the quadratic-rescan pitfall avoided);
    distinct-per-split is the word-count shuffle on trigram hash
    (map-side combined, type-sized not occurrence-sized); novelty is
    one anti-join of the val type relation against train (the smaller
    side builds the hash table under AQE). Counts are exact BIGINTs;
    the only division is the final r4-floored rate.
    """
    docs = load(spark, sf_dir, "documents").select(
        split_col().alias("split"),
        F.expr("split(trim(text), ' ')").alias("tok"),
    )
    tri = docs.filter(F.col("split").isin("train", "val")).selectExpr(
        "split",
        # size < 3 guard: Spark's sequence DESCENDS when stop < start
        # (the corpus_bpe_train device) while the oracle's range is
        # simply empty — guard to array() so both engines drop the row.
        "explode(CASE WHEN size(tok) >= 3 THEN"
        " transform(sequence(1, size(tok) - 2),"
        " tgi -> concat(element_at(tok, tgi), ' ',"
        " element_at(tok, tgi + 1), ' ', element_at(tok, tgi + 2)))"
        " ELSE CAST(array() AS ARRAY<STRING>) END) AS tri",
    )
    tr = tri.filter("split = 'train'").select("tri").distinct()
    va = tri.filter("split = 'val'").select("tri").distinct()
    nv = va.join(tr, "tri", "left_anti")
    counts = (
        tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_train_types"))
        .crossJoin(
            va.agg(F.count(F.lit(1)).cast("bigint").alias("n_val_types"))
        )
        .crossJoin(
            nv.agg(F.count(F.lit(1)).cast("bigint").alias("n_novel_types"))
        )
    )
    return counts.selectExpr(
        "n_train_types",
        "n_val_types",
        "n_novel_types",
        "floor(CAST(n_novel_types AS DOUBLE)"
        " / CAST(n_val_types AS DOUBLE) * 10000 + 0.5) / 10000"
        " AS novelty_rate",
    )


_JSD_TERM = (
    "(CASE WHEN a > 0 THEN CAST(0.5 AS DOUBLE)"
    " * (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))"
    " * ln(CAST(2 AS DOUBLE) * (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))"
    " / (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)"
    " + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))) ELSE CAST(0 AS DOUBLE)"
    " END"
    " + CASE WHEN b > 0 THEN CAST(0.5 AS DOUBLE)"
    " * (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))"
    " * ln(CAST(2 AS DOUBLE) * (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))"
    " / (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)"
    " + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))) ELSE CAST(0 AS DOUBLE)"
    " END)"
)


@register(
    "text_js_divergence",
    category="text",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(trim(text), ' ')) AS token
      FROM documents WHERE lang IN ('en', 'de')
    ),
    cnt AS (
      SELECT token,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
               AS b
      FROM toks GROUP BY token
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
             CAST(count(*) AS BIGINT) AS vocab_union
      FROM cnt
    ),
    terms AS (
      SELECT CAST(floor({_JSD_TERM} * 1000000000 + 0.5) AS BIGINT)
               AS j_nano
      FROM cnt CROSS JOIN tot
    )
    SELECT t.ta AS n_tokens_en, t.tb AS n_tokens_de, t.vocab_union,
           floor(CAST((SELECT sum(j_nano) FROM terms) AS DOUBLE)
                 / 1000000000 * 10000 + 0.5) / 10000 AS jsd_nats,
           floor(CAST((SELECT sum(j_nano) FROM terms) AS DOUBLE)
                 / 1000000000 / ln(CAST(2 AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS jsd_bits
    FROM tot t
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the English and German
    corpora's unigram distributions — the symmetric, bounded (≤ ln 2
    nats = 1 bit) distribution distance corpus pipelines use to
    quantify domain shift between sources/snapshots (KL is infinite on
    any unshared token; JS's mixture midpoint makes disjoint support
    finite, which is exactly the cross-language regime here).

    Shape: ONE conditional aggregate builds both distributions side by
    side on the token key (word-count shuffle, vocabulary-sized — no
    full-outer join needed), totals broadcast back, and each token's
    JS term quantizes to nano units before the fold (order-free
    integer sum; ln args are guarded by the same CASE on both engines
    and are strictly positive inside their branch since the mixture
    m > 0 whenever either count is). The invariant test pins the
    [0, ln 2] bound and strict positivity (the synthetic corpus draws
    all languages from one shared vocabulary, so the divergence is
    small-but-real mixture shift, not alphabet disjointness).
    100 TB: still one scan + one vocab-sized shuffle.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de"))
        .select(
            "lang", F.explode(F.split(F.trim("text"), " ")).alias("token")
        )
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("a"),
        F.sum(F.expr("CASE WHEN lang = 'de' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b"),
    )
    tot = cnt.groupBy().agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
    )
    terms = (
        cnt.crossJoin(F.broadcast(tot))
        .selectExpr(
            f"CAST(floor({_JSD_TERM} * 1000000000 + 0.5) AS BIGINT)"
            " AS j_nano"
        )
        .groupBy()
        .agg(F.sum("j_nano").cast("bigint").alias("j_sum"))
    )
    return tot.crossJoin(F.broadcast(terms)).selectExpr(
        "ta AS n_tokens_en",
        "tb AS n_tokens_de",
        "vocab_union",
        "floor(CAST(j_sum AS DOUBLE) / 1000000000 * 10000 + 0.5)"
        " / 10000 AS jsd_nats",
        "floor(CAST(j_sum AS DOUBLE) / 1000000000"
        " / ln(CAST(2 AS DOUBLE)) * 10000 + 0.5) / 10000 AS jsd_bits",
    )


# --- text_readability: Flesch-style scoring over the corpus --------------

# Per-doc counts from length/replace primitives only (the ml.py feature
# discipline — no regex dialect gaps). Sentences: terminal punctuation
# occurrences, floored at 1; words: space count + 1; syllable proxy:
# vowel occurrences (documented proxy — hyphenation-free, engine-exact).
_READ_COUNTS_SQL = """
      SELECT doc_id, source,
             greatest(length(text) - length(replace(text, '.', ''))
                      + length(text) - length(replace(text, '!', ''))
                      + length(text) - length(replace(text, '?', '')),
                      1) AS sents,
             length(text) - length(replace(text, ' ', '')) + 1 AS words,
             length(lower(text)) - length(replace(lower(text), 'a', ''))
             + length(lower(text)) - length(replace(lower(text), 'e', ''))
             + length(lower(text)) - length(replace(lower(text), 'i', ''))
             + length(lower(text)) - length(replace(lower(text), 'o', ''))
             + length(lower(text)) - length(replace(lower(text), 'u', ''))
               AS vows
      FROM documents
"""

_READ_FLESCH = (
    "(206.835e0"
    " - 1.015e0 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))"
    " - 84.6e0 * (CAST(vows AS DOUBLE) / CAST(words AS DOUBLE)))"
)


@register(
    "text_readability",
    category="text",
    oracle=f"""
    WITH counts AS ({_READ_COUNTS_SQL}),
    scored AS (
      SELECT source,
             CAST(floor({_READ_FLESCH} * 1000000 + 0.5) AS BIGINT)
               AS fq,
             words, sents, vows
      FROM counts
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(CAST(sum(fq) AS DOUBLE)
                 / (1000000e0 * CAST(count(*) AS DOUBLE))
                 * 100 + 0.5) / 100 AS avg_flesch,
           floor(CAST(sum(CASE WHEN fq >= 60000000 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS share_easy,
           floor(CAST(sum(words) AS DOUBLE) / CAST(sum(sents) AS DOUBLE)
                 * 100 + 0.5) / 100 AS words_per_sentence,
           floor(CAST(sum(vows) AS DOUBLE) / CAST(sum(words) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS vowels_per_word
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE scoring per corpus source — the classic
    readability gate a pretraining pipeline runs next to
    text_quality_score (which measures junk; this measures DIFFICULTY
    — 206.835 − 1.015·words/sentence − 84.6·syllables/word, higher =
    easier). The syllable term uses the documented vowel-occurrence
    proxy: exact, hyphenation-free, and computed from length/replace
    primitives only (the ml.py feature discipline — identical
    semantics in Spark, DuckDB, and the SQL standard; no regex
    dialect gaps), so the score is engine-exact rather than
    dictionary-approximate.

    Determinism: each doc's score is one pinned double expression
    over exact integer counts, quantized to MICRO units per document
    BEFORE the per-source sum (the order-free integer fold); ratio
    columns divide exact integer totals. Scale: one narrow projection
    + one map-side-combined groupBy on ≤5 sources; nothing else
    touches data.
    """
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "greatest(length(text) - length(replace(text, '.', ''))"
        " + length(text) - length(replace(text, '!', ''))"
        " + length(text) - length(replace(text, '?', '')),"
        " 1) AS sents",
        "length(text) - length(replace(text, ' ', '')) + 1 AS words",
        "length(lower(text)) - length(replace(lower(text), 'a', ''))"
        " + length(lower(text)) - length(replace(lower(text), 'e', ''))"
        " + length(lower(text)) - length(replace(lower(text), 'i', ''))"
        " + length(lower(text)) - length(replace(lower(text), 'o', ''))"
        " + length(lower(text)) - length(replace(lower(text), 'u', ''))"
        " AS vows",
    )
    scored = docs.selectExpr(
        "source",
        f"CAST(floor({_READ_FLESCH} * 1000000 + 0.5) AS BIGINT) AS fq",
        "words",
        "sents",
        "vows",
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("fq").alias("sfq"),
            F.sum(F.expr("CASE WHEN fq >= 60000000 THEN 1 ELSE 0 END")).alias(
                "n_easy"
            ),
            F.sum("words").alias("sw"),
            F.sum("sents").alias("ss"),
            F.sum("vows").alias("sv"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "floor(CAST(sfq AS DOUBLE)"
            " / (1000000e0 * CAST(n_docs AS DOUBLE)) * 100 + 0.5) / 100"
            " AS avg_flesch",
            "floor(CAST(n_easy AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            " * 10000 + 0.5) / 10000 AS share_easy",
            "floor(CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE) * 100 + 0.5)"
            " / 100 AS words_per_sentence",
            "floor(CAST(sv AS DOUBLE) / CAST(sw AS DOUBLE) * 10000 + 0.5)"
            " / 10000 AS vowels_per_word",
        )
        .orderBy("source")
    )


# Kneser-Ney pieces, identical SQL text both engines: absolute discount
# D = 0.75 over word bigrams trained on the doc_id % 4 = 0 sample.
_KN_D = "0.75e0"


@register(
    "text_lm_kneser_ney",
    category="text",
    oracle=f"""
    WITH words AS MATERIALIZED (
      SELECT doc_id, source, string_split(trim(text), ' ') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS MATERIALIZED (
      SELECT w.doc_id, w.source,
             w.ws[u.i] AS w1, w.ws[u.i + 1] AS w2
      FROM words w, LATERAL unnest(range(1, len(w.ws))) AS u(i)
    ),
    cbg AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM bg WHERE doc_id % 4 = 0 GROUP BY 1, 2
    ),
    cu AS MATERIALIZED (
      SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
             CAST(count(*) AS BIGINT) AS ntypes
      FROM cbg GROUP BY 1
    ),
    cont AS MATERIALIZED (
      SELECT w2, CAST(count(*) AS BIGINT) AS nleft FROM cbg GROUP BY 1
    ),
    nbg AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS total_types FROM cbg
    ),
    scored AS MATERIALIZED (
      SELECT b.source,
             CAST(floor(-ln(
               CASE WHEN m.c IS NOT NULL THEN
                 (CAST(m.c AS DOUBLE) - {_KN_D}) / CAST(u.cw1 AS DOUBLE)
                 + {_KN_D} * CAST(u.ntypes AS DOUBLE)
                   / CAST(u.cw1 AS DOUBLE)
                   * CAST(coalesce(ct.nleft, 0) AS DOUBLE)
                   / CAST(nb.total_types AS DOUBLE)
               WHEN u.cw1 IS NOT NULL THEN
                 {_KN_D} * CAST(u.ntypes AS DOUBLE)
                   / CAST(u.cw1 AS DOUBLE)
                   * greatest(CAST(coalesce(ct.nleft, 0) AS DOUBLE)
                     / CAST(nb.total_types AS DOUBLE), 1e-9)
               ELSE 1e-6 END) * 1000000 + 0.5) AS BIGINT) AS nllq
      FROM bg b
      LEFT JOIN cbg m ON m.w1 = b.w1 AND m.w2 = b.w2
      LEFT JOIN cu u ON u.w1 = b.w1
      LEFT JOIN cont ct ON ct.w2 = b.w2
      CROSS JOIN nbg nb
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(exp(CAST(sum(nllq) AS DOUBLE)
                     / (1000000e0 * CAST(count(*) AS DOUBLE)))
                 * 100 + 0.5) / 100 AS kn_perplexity
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def text_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY smoothed WORD-bigram language model, trained on the
    deterministic 25% sample and scored corpus-wide per source — the
    canonical n-gram smoothing (absolute discount D = 0.75 plus a
    CONTINUATION-probability backoff: unseen bigrams are scored by how
    many distinct contexts their target word follows, not by how
    frequent it is — the insight that 'Francisco' is frequent but only
    ever follows 'San'). text_lm_perplexity is the character-level
    add-floor baseline; this is the word-level model a real corpus
    quality gate would use, and per-source perplexity is the
    domain-mix diagnostic.

    Determinism: all counts are exact integers; each token's negative
    log-likelihood is ONE pinned ln over a pinned rational, quantized
    to micro-units BEFORE the per-source sum (order-free fold — a
    stronger discipline than the baseline op's float avg), with one
    exp per source row at the end. Scale: the model relations are
    vocabulary-bounded and broadcast to the scoring join; the corpus
    bigram stream shuffles only for the final ≤|sources| aggregate.
    """
    docs = load(spark, sf_dir, "documents").filter(
        "length(trim(text)) > 0"
    )
    words = docs.selectExpr(
        "doc_id", "source", "split(trim(text), ' ') AS ws"
    )
    bg = words.selectExpr(
        "doc_id",
        "source",
        "explode(CASE WHEN size(ws) >= 2 THEN"
        " transform(sequence(1, size(ws) - 1),"
        " kni -> struct(element_at(ws, kni) AS w1,"
        " element_at(ws, kni + 1) AS w2)) ELSE array() END) AS p",
    ).selectExpr("doc_id", "source", "p.w1 AS w1", "p.w2 AS w2")
    cbg = (
        bg.filter("doc_id % 4 = 0")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cu = cbg.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("cw1"),
        F.count(F.lit(1)).cast("bigint").alias("ntypes"),
    )
    cont = cbg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nleft")
    )
    nbg = cbg.agg(F.count(F.lit(1)).cast("bigint").alias("total_types"))
    m = cbg.selectExpr("w1 AS mw1", "w2 AS mw2", "c")
    u = cu.selectExpr("w1 AS uw1", "cw1", "ntypes")
    ct = cont.selectExpr("w2 AS cw2", "nleft")
    scored = (
        bg.join(
            F.broadcast(m),
            (F.col("mw1") == F.col("w1")) & (F.col("mw2") == F.col("w2")),
            "left",
        )
        .join(F.broadcast(u), F.col("uw1") == F.col("w1"), "left")
        .join(F.broadcast(ct), F.col("cw2") == F.col("w2"), "left")
        .crossJoin(F.broadcast(nbg))
        .selectExpr(
            "source",
            f"""CAST(floor(-ln(
              CASE WHEN c IS NOT NULL THEN
                (CAST(c AS DOUBLE) - {_KN_D}) / CAST(cw1 AS DOUBLE)
                + {_KN_D} * CAST(ntypes AS DOUBLE) / CAST(cw1 AS DOUBLE)
                  * CAST(coalesce(nleft, 0) AS DOUBLE)
                  / CAST(total_types AS DOUBLE)
              WHEN cw1 IS NOT NULL THEN
                {_KN_D} * CAST(ntypes AS DOUBLE) / CAST(cw1 AS DOUBLE)
                  * greatest(CAST(coalesce(nleft, 0) AS DOUBLE)
                    / CAST(total_types AS DOUBLE), 1e-9)
              ELSE 1e-6 END) * 1000000 + 0.5) AS BIGINT) AS nllq""",
        )
    )
    out = (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.expr(
                "floor(exp(CAST(sum(nllq) AS DOUBLE)"
                " / (1000000e0 * CAST(count(*) AS DOUBLE)))"
                " * 100 + 0.5) / 100"
            ).alias("kn_perplexity"),
        )
        .orderBy("source")
    )
    return out


# --- r12 bloom decontamination promotion (from staging/r12 at round 12) ---

from cdc_pubsub_spark.llmops.dedup import _MINHASH_AB, _MINHASH_P  # noqa: E402

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # salts — the first three _MINHASH_AB affine maps


_BLOOM_BIT_SQL = ", ".join(
    f"(({a} * (h % {_MINHASH_P}) + {b}) % {_MINHASH_P}) % {_BLOOM_M}"
    for a, b in _MINHASH_AB[:_BLOOM_K]
)

ORACLE_BLOOM = f"""
    WITH {{corpus_cte}},
    probes AS (
      SELECT DISTINCT
        array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
          AS gram
      FROM documents
      WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 8
    ),
    ph AS (
      SELECT DISTINCT
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
      FROM probes
    ),
    bloom AS (
      SELECT list_sort(list(DISTINCT b)) AS bloom_bits
      FROM (
        SELECT unnest([{_BLOOM_BIT_SQL}]) AS b FROM ph
      )
    ),
    corpus_grams AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(len(string_split(text, ' ')) - 7),
                 i -> array_to_string(
                        list_slice(string_split(text, ' '), i + 1, i + 8),
                        ' ')))
                 AS gram
        FROM corpus
        WHERE len(string_split(text, ' ')) >= 8
      )
    ),
    gb AS (
      SELECT doc_id, h,
             [{_BLOOM_BIT_SQL}] AS gbits
      FROM corpus_grams
    ),
    fl AS (
      SELECT g.doc_id,
             list_has_all(bl.bloom_bits, g.gbits) AS bloom_hit,
             p.h IS NOT NULL AS exact_hit
      FROM gb g
      CROSS JOIN bloom bl
      LEFT JOIN ph p ON p.h = g.h
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1
                         ELSE 0 END) AS BIGINT) AS n_fp
    FROM fl
    GROUP BY doc_id
    HAVING sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0
    ORDER BY n_flagged DESC, doc_id
    LIMIT 20
    """

ORACLE_BLOOM = ORACLE_BLOOM.format(corpus_cte=CORPUS_CTE.strip())


@register(
    "corpus_contamination_bloom",
    category="corpus",
    oracle=ORACLE_BLOOM,
)
def corpus_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination over the dup-planted corpus — the
    fixed-size counterpart to text_contamination's exact broadcast
    join. The benchmark probe set is compressed to an M=4096-bit bloom
    (K=3 portable affine hashes of the md5 gram hash); corpus 8-grams
    test membership ROW-LOCALLY against the broadcast bit list —
    forall(bits) ∈ bloom. This is the shape a 100 TB decontamination
    pass takes when the benchmark may not ship verbatim (privacy) or
    when the needle set outgrows a broadcast hash relation: the filter
    is O(M) bytes regardless of probe count, the corpus is scanned
    once, and NOTHING shuffles.

    Bloom filters have no false negatives (every exact hit is flagged
    — asserted in tests) and deterministic false positives under the
    fixed hash family: the op reports flagged/exact/fp counts per doc
    so the FP rate is observable data, not a hidden property. The
    oracle replays the identical bits in DuckDB (list_has_all), so
    even the FP set is hash-certified — same bridge as
    dedup_minhash_banded.

    Scale shape (the r12 verdict's 6.44x probe-curve diagnosis): the
    corpus gram relation is reduced to (doc_id, 60-bit md5 hash)
    BEFORE its dedup shuffle — 16-byte rows instead of ~60-byte gram
    strings, and the md5 runs once per gram instead of once per salt —
    and the broadcast filter is packed into M/64 = 64 bigint WORDS so
    each salt probe is one shift-and-mask (a real bloom-filter bit
    test) instead of an O(M) array_contains scan. The exact-hit check
    joins on the same 60-bit hash (mirrored in the oracle, so any
    collision is shared by construction).
    """
    from cdc_pubsub_spark.llmops.corpus import dup_corpus, shingle_rows

    P = _MINHASH_P
    docs = load(spark, sf_dir, "documents")
    sp = F.split(F.col("text"), " ")
    probes = (
        docs.filter((F.col("doc_id") % 50 == 0) & (F.size(sp) >= 8))
        .select(F.concat_ws(" ", F.slice(sp, 1, 8)).alias("gram"))
        .distinct()
    )
    ph = probes.selectExpr(
        "cast(conv(substr(md5(gram), 1, 15), 16, 10) as bigint) AS h"
    ).distinct()
    bit_exprs = [
        f"(({a}L * (h % {P}L) + {b}L) % {P}L) % {_BLOOM_M}"
        for a, b in _MINHASH_AB[:_BLOOM_K]
    ]
    # M bits packed into M/64 bigint words; lambda vars (wi, bb, acc)
    # are distinct from every consumer lambda's (see the nested-HOF
    # CollapseProject gotcha).
    bloom = (
        ph.selectExpr(f"array({', '.join(bit_exprs)}) AS bits")
        .select(F.explode("bits").alias("b"))
        .agg(F.expr("sort_array(collect_set(b))").alias("bloom_bits"))
        .selectExpr(
            "transform(sequence(0, {nw} - 1), wi -> aggregate("
            "filter(bloom_bits, bb -> CAST(bb div 64 AS INT) = wi),"
            " 0L, (acc, bb) -> acc | shiftleft(1L, CAST(bb % 64 AS INT))"
            ")) AS bloom_words".format(nw=_BLOOM_M // 64)
        )
    )
    grams = (
        shingle_rows(dup_corpus(spark, sf_dir), 8)
        .selectExpr(
            "doc_id",
            "cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint)"
            " AS h",
        )
        .distinct()
    )
    flagged = (
        grams.selectExpr(
            "doc_id",
            "h",
            f"array({', '.join(bit_exprs)}) AS gbits",
        )
        .crossJoin(F.broadcast(bloom))
        .selectExpr(
            "doc_id",
            "h",
            "forall(gbits, b -> (element_at(bloom_words,"
            " CAST(b div 64 AS INT) + 1)"
            " & shiftleft(1L, CAST(b % 64 AS INT))) != 0L)"
            " AS bloom_hit",
        )
    )
    pg = ph.select(F.col("h").alias("p_h"))
    out = (
        flagged.join(
            F.broadcast(pg), F.col("h") == F.col("p_h"), "left"
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(F.when(F.col("p_h").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(
                F.when(
                    F.col("bloom_hit") & F.col("p_h").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_fp"),
        )
        .filter(F.col("n_flagged") > 0)
        .orderBy(F.desc("n_flagged"), "doc_id")
        .limit(20)
    )
    return out


# --- r12 growth: Gopher-style quality gate ----------------------------------


@register(
    "text_gopher_quality_rules",
    category="text",
    oracle="""
    WITH docs AS (
      SELECT source, string_split(text, ' ') AS ws FROM documents
    ),
    stats AS (
      SELECT source,
             len(ws) AS wc,
             list_sum(list_transform(ws, w -> length(w))) AS chars,
             len(list_filter(ws, w -> w IN ('the', 'be', 'to', 'of',
                                            'and', 'that', 'have',
                                            'with', 'a'))) AS stop_cnt,
             len(list_distinct(ws)) AS dc,
             list_max(list_transform(list_distinct(ws),
                      d -> len(list_filter(ws, w -> w = d)))) AS topf
      FROM docs
    ),
    flags AS (
      SELECT source,
             CASE WHEN wc BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r1,
             CASE WHEN chars >= 4 * wc AND chars <= 10 * wc
                  THEN 1 ELSE 0 END AS r2,
             CASE WHEN stop_cnt >= 2 THEN 1 ELSE 0 END AS r3,
             CASE WHEN 2 * dc >= wc THEN 1 ELSE 0 END AS r4,
             CASE WHEN 10 * topf <= wc THEN 1 ELSE 0 END AS r5
      FROM stats
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(r1 * r2 * r3 * r4 * r5) AS BIGINT) AS n_pass,
           CAST(sum(1 - r1) AS BIGINT) AS fail_word_count,
           CAST(sum(1 - r2) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(1 - r3) AS BIGINT) AS fail_stopwords,
           CAST(sum(1 - r4) AS BIGINT) AS fail_type_token,
           CAST(sum(1 - r5) AS BIGINT) AS fail_top_word_freq,
           floor(CAST(sum(r1 * r2 * r3 * r4 * r5) AS DOUBLE) / count(*)
                 * 10000 + 0.5) / 10000 AS pass_rate
    FROM flags
    GROUP BY source
    ORDER BY source
    """,
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE QUALITY GATE (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", §A1.1 heuristics) — the rule battery
    pretraining pipelines run before a corpus is allowed near a
    model: word-count bounds, mean-word-length bounds, a minimum
    stop-word presence, and two repetition screens (type/token ratio,
    top-word frequency — the paper's duplicate-n-gram family adapted
    to the fixture's single-line documents). Thresholds are recast as
    INTEGER inequalities (chars ≥ 4·wc instead of chars/wc ≥ 4 — the
    paper's 3-char floor never fires on this fixture's 3.7–5.3 range, so
    the gate pins the discriminating bound instead; 2·dc
    ≥ wc for TTR ≥ 0.5, 10·topf ≤ wc for ≤10% top-word mass) so every
    flag is exact on both engines; the only float is the final
    pass_rate.

    Scale shape: every per-doc statistic is a row-local array
    higher-order function over ONE hoisted split (no explode — a
    100 TB corpus pays zero shuffle until the per-source aggregate,
    which is map-side combined over ≤20 source keys). The top-word
    scan is O(words · distinct) per doc, bounded by the 99-word doc
    cap; the split is projected once and consumed by five HOFs
    (CollapseProject keeps multi-consumer projections materialized —
    the SKILL.md inline-split trap this layout avoids).
    """
    docs = load(spark, sf_dir, "documents").selectExpr(
        "source", "split(text, ' ') AS ws"
    )
    stats = docs.selectExpr(
        "source",
        "size(ws) AS wc",
        "aggregate(ws, 0, (acc, w) -> acc + length(w)) AS chars",
        "size(filter(ws, w -> w IN ('the', 'be', 'to', 'of', 'and',"
        " 'that', 'have', 'with', 'a'))) AS stop_cnt",
        "size(array_distinct(ws)) AS dc",
        "array_max(transform(array_distinct(ws),"
        " d -> size(filter(ws, w -> w = d)))) AS topf",
    )
    flags = stats.selectExpr(
        "source",
        "CASE WHEN wc BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r1",
        "CASE WHEN chars >= 4 * wc AND chars <= 10 * wc THEN 1 ELSE 0 END"
        " AS r2",
        "CASE WHEN stop_cnt >= 2 THEN 1 ELSE 0 END AS r3",
        "CASE WHEN 2 * dc >= wc THEN 1 ELSE 0 END AS r4",
        "CASE WHEN 10 * topf <= wc THEN 1 ELSE 0 END AS r5",
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("r1 * r2 * r3 * r4 * r5"))
            .cast("bigint")
            .alias("n_pass"),
            F.sum(F.expr("1 - r1")).cast("bigint").alias("fail_word_count"),
            F.sum(F.expr("1 - r2"))
            .cast("bigint")
            .alias("fail_mean_word_len"),
            F.sum(F.expr("1 - r3")).cast("bigint").alias("fail_stopwords"),
            F.sum(F.expr("1 - r4")).cast("bigint").alias("fail_type_token"),
            F.sum(F.expr("1 - r5"))
            .cast("bigint")
            .alias("fail_top_word_freq"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_pass",
            "fail_word_count",
            "fail_mean_word_len",
            "fail_stopwords",
            "fail_type_token",
            "fail_top_word_freq",
            "floor(CAST(n_pass AS DOUBLE) / n_docs * 10000 + 0.5) / 10000"
            " AS pass_rate",
        )
        .orderBy("source")
    )


# --- r12 extension wave: vocabulary growth (Heaps-law checkpoints) -----------


@register(
    "text_vocab_growth",
    category="text",
    oracle="""
    WITH maxdoc AS (
      SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents
    ),
    toks AS (
      SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS w
      FROM documents d
    ),
    firsts AS (
      SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks
      GROUP BY w
    ),
    ck AS (
      SELECT c.c AS checkpoint_pct,
             CAST((m.mx + 1) * c.c // 10 - 1 AS BIGINT) AS cutoff
      FROM (SELECT unnest(range(1, 11)) AS c) c CROSS JOIN maxdoc m
    )
    SELECT CAST(ck.checkpoint_pct * 10 AS BIGINT) AS checkpoint_pct,
           ck.cutoff AS last_doc_id,
           (SELECT CAST(count(*) AS BIGINT) FROM documents d
            WHERE d.doc_id <= ck.cutoff) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM toks t
            WHERE t.doc_id <= ck.cutoff) AS tokens_seen,
           (SELECT CAST(count(*) AS BIGINT) FROM firsts f
            WHERE f.first_doc <= ck.cutoff) AS vocab_size,
           floor((SELECT CAST(count(*) AS DOUBLE) FROM firsts f
                  WHERE f.first_doc <= ck.cutoff)
                 / (SELECT count(*) FROM toks t
                    WHERE t.doc_id <= ck.cutoff)
                 * 10000 + 0.5) / 10000 AS type_token_ratio
    FROM ck
    ORDER BY checkpoint_pct
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY GROWTH CURVE (Heaps/Herdan law empirics) — cumulative
    distinct-type count at ten corpus checkpoints (10%…100% of docs in
    doc_id order), with cumulative token counts and the type-token
    ratio. This is the curve a pretraining-data team reads to decide
    whether more of a source still buys new vocabulary or only
    repeats it (Heaps: V ~ K·n^beta, beta < 1 — so TTR must FALL as
    the corpus grows, which the invariant test pins).

    The cumulative-distinct problem is solved without any windowed
    DISTINCT: a token contributes to vocab at checkpoint c iff its
    FIRST occurrence (min doc_id per type — one data-sized aggregate,
    output bounded by VOCABULARY size, not rows) lands at or before
    the cutoff. Checkpoint joins are range-joins of two tiny
    broadcast relations (10 checkpoints x vocabulary histogram).
    Exactness: integer counts end to end; the TTR is the single
    r4-floored float per row.

    Scale shape: one explode + min-aggregate (vocabulary-bounded),
    one token-count-per-doc aggregate (doc-bounded), then everything
    is checkpoint-sized. No global windows; the checkpoint cum-sums
    run over <= vocabulary-histogram rows partitioned by nothing but
    sized by the checkpoint count.
    """
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("mx"))
    toks = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    firsts = toks.groupBy("w").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    ck = (
        spark.range(1, 11)
        .selectExpr("id AS c")
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            "CAST(c * 10 AS BIGINT) AS checkpoint_pct",
            "CAST((mx + 1) * c div 10 - 1 AS BIGINT) AS cutoff",
        )
    )
    doc_counts = docs.selectExpr("doc_id").crossJoin(F.broadcast(ck)).filter(
        "doc_id <= cutoff"
    ).groupBy("checkpoint_pct", "cutoff").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    # Token/vocab tallies fold tiny histograms (per-doc token counts,
    # per-type first docs) against the 10-checkpoint broadcast.
    tok_per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    tok_counts = tok_per_doc.crossJoin(F.broadcast(ck)).filter(
        "doc_id <= cutoff"
    ).groupBy("checkpoint_pct").agg(
        F.sum("nt").cast("bigint").alias("tokens_seen")
    )
    vocab_counts = firsts.crossJoin(F.broadcast(ck)).filter(
        "first_doc <= cutoff"
    ).groupBy("checkpoint_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size")
    )
    return (
        doc_counts.join(tok_counts, "checkpoint_pct")
        .join(vocab_counts, "checkpoint_pct")
        .selectExpr(
            "checkpoint_pct",
            "cutoff AS last_doc_id",
            "n_docs",
            "tokens_seen",
            "vocab_size",
            "floor(CAST(vocab_size AS DOUBLE) / tokens_seen"
            " * 10000 + 0.5) / 10000 AS type_token_ratio",
        )
        .orderBy("checkpoint_pct")
    )


# --- r12 extension wave H: n-gram saturation curve -----------------------------


@register(
    "text_ngram_saturation",
    category="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
      SELECT n.n, unnest(
               CASE WHEN len(t.ts) >= n.n THEN
                 list_transform(range(0, len(t.ts) - n.n + 1),
                   i -> array_to_string(t.ts[i + 1 : i + n.n], ' '))
               ELSE [] END) AS g
      FROM toks t CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
    ),
    cells AS (
      SELECT n, g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1, 2
    )
    SELECT n AS ngram_order,
           CAST(sum(c) AS BIGINT) AS total_ngrams,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_ngrams,
           floor(CAST(count(*) AS DOUBLE) / sum(c) * 10000 + 0.5)
             / 10000 AS saturation,
           floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS singleton_share
    FROM cells
    GROUP BY n
    ORDER BY n
    """,
)
def text_ngram_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM SATURATION CURVE (n = 1, 2, 3) — the repeat-content
    diagnostic behind dedup thresholds and contamination budgets: as n
    grows, distinct/total must RISE toward 1 (higher-order contexts
    repeat less) and the singleton share with it — the two curves a
    data team reads to pick the shingle size where near-dup detection
    stops paying. Both monotonicities are pinned in the invariant
    test, along with the exact identity total_2gram = total_1gram −
    n_docs (each doc contributes len−1 bigrams).

    Determinism/plan notes: the token split is HOISTED into its own
    projection before the n-gram transform (the inline-split-in-
    lambda O(words²) trap, SKILL gotcha), short docs are guarded with
    the same size >= n CASE on both engines (Spark's sequence()
    DESCENDS on negative ranges and throws), and counts are exact
    integers with two r4 display ratios.

    Scale shape: one explode per n (a 3x fan-out of the token stream),
    ONE hash aggregate to the (n, gram) cell relation — bounded by
    vocabulary^n observed, not rows — then a 3-row roll-up.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", "split(text, ' ') AS ts")
    grams = toks.crossJoin(
        spark.range(1, 4).selectExpr("CAST(id AS INT) AS n")
    ).selectExpr(
        "n",
        "explode(CASE WHEN size(ts) >= n THEN"
        " transform(sequence(0, size(ts) - n),"
        " i -> concat_ws(' ', slice(ts, i + 1, n)))"
        " ELSE array() END) AS g",
    )
    cells = grams.groupBy("n", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        cells.groupBy("n")
        .agg(
            F.sum("c").cast("bigint").alias("total_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("singleton_ngrams"),
        )
        .selectExpr(
            "n AS ngram_order",
            "total_ngrams",
            "distinct_ngrams",
            "singleton_ngrams",
            "floor(CAST(distinct_ngrams AS DOUBLE) / total_ngrams"
            " * 10000 + 0.5) / 10000 AS saturation",
            "floor(CAST(singleton_ngrams AS DOUBLE) / distinct_ngrams"
            " * 10000 + 0.5) / 10000 AS singleton_share",
        )
        .orderBy("ngram_order")
    )


# --- r13 growth: lexical-richness profile -------------------------------
@register(
    "text_lexical_richness",
    category="text",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    freqs AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS f
      FROM toks GROUP BY 1, 2
    ),
    m AS (
      SELECT source,
             CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_legomena,
             CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sum_f2
      FROM freqs GROUP BY source
    )
    SELECT source, n_tokens, n_types, hapax, dis_legomena,
           floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000 + 0.5)
             / 1000000 AS ttr,
           floor(1e4 * CAST(sum_f2 - n_tokens AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens)
                 * 1000000 + 0.5) / 1000000 AS yule_k,
           CASE WHEN n_tokens >= 2 THEN
             floor(CAST(sum_f2 - n_tokens AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                   * 1000000 + 0.5) / 1000000
           END AS simpson_d,
           CASE WHEN n_tokens >= 2 AND n_types >= 1 THEN
             floor(ln(CAST(n_types AS DOUBLE))
                   / ln(CAST(n_tokens AS DOUBLE))
                   * 1000000 + 0.5) / 1000000
           END AS herdan_c
    FROM m
    ORDER BY source
    """,
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL-RICHNESS profile per source — the vocabulary-diversity
    summaries stylometry and corpus-quality triage use because raw TTR
    is length-confounded: Yule's K = 10^4·(Σf² − N)/N² (the
    length-invariant repeat-rate characteristic), Simpson's D =
    Σf(f−1)/(N(N−1)) (the probability two random tokens are the same
    type), Herdan's C = ln V / ln N (log-log TTR), plus the hapax /
    dis-legomena counts that drive Good-Turing mass estimates. A
    quality gate reads these as fingerprints: template-generated spam
    has pathologically low K-complement diversity, boilerplate farms
    show hapax starvation.

    Exactness: all frequency moments are exact integers (wide Σf²);
    each statistic is one pinned double expression, r6-floored, with
    degenerate-N CASE guards identical on both engines.

    Scale shape: explode → (source, word) groupBy → per-source moment
    aggregate. The (source, word) relation is the only shuffle and is
    vocabulary-bounded per source; no data-sized state follows.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
    )
    freqs = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    wide = "DECIMAL(38,0)"
    m = freqs.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.expr("CASE WHEN f = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("hapax"),
        F.sum(F.expr("CASE WHEN f = 2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("dis_legomena"),
        F.sum(F.expr(f"CAST(f AS {wide}) * f")).alias("sum_f2"),
    )
    return m.selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "hapax",
        "dis_legomena",
        "floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000 + 0.5)"
        " / 1000000 AS ttr",
        "floor(1e4 * CAST(sum_f2 - n_tokens AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * n_tokens)"
        " * 1000000 + 0.5) / 1000000 AS yule_k",
        "CASE WHEN n_tokens >= 2 THEN"
        " floor(CAST(sum_f2 - n_tokens AS DOUBLE)"
        " / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))"
        " * 1000000 + 0.5) / 1000000"
        " END AS simpson_d",
        "CASE WHEN n_tokens >= 2 AND n_types >= 1 THEN"
        " floor(ln(CAST(n_types AS DOUBLE))"
        " / ln(CAST(n_tokens AS DOUBLE))"
        " * 1000000 + 0.5) / 1000000"
        " END AS herdan_c",
    ).orderBy("source")


# --- r13 growth: Burrows' Delta stylometric distance ---------------------
_BURROWS_W = 8  # marker words (top global frequencies, word-asc ties)


@register(
    "text_burrows_delta",
    category="text",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM counts
      GROUP BY source
    ),
    markers AS (
      SELECT w FROM (
        SELECT w, sum(cnt) AS g FROM counts GROUP BY w
        ORDER BY g DESC, w ASC LIMIT {_BURROWS_W}
      )
    ),
    grid AS (
      SELECT t.source, m.w,
             CAST(coalesce(c.cnt, 0) * 1000000 // t.tot AS BIGINT)
               AS f_pm
      FROM totals t
      CROSS JOIN markers m
      LEFT JOIN counts c ON c.source = t.source AND c.w = m.w
    ),
    wstats AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS ns,
             CAST(sum(f_pm) AS BIGINT) AS s,
             CAST(sum(CAST(f_pm AS HUGEINT) * f_pm) AS HUGEINT) AS q
      FROM grid GROUP BY w
    ),
    contrib AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN ws.ns * ws.q - CAST(ws.s AS HUGEINT) * ws.s > 0
               THEN CAST(floor(
                 CAST(ws.ns AS DOUBLE) * abs(a.f_pm - b.f_pm)
                 / sqrt(CAST(ws.ns * ws.q
                             - CAST(ws.s AS HUGEINT) * ws.s AS DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)
             END AS zq
      FROM grid a
      JOIN grid b ON b.w = a.w AND a.source < b.source
      JOIN wstats ws ON ws.w = a.w
    )
    SELECT source_a, source_b,
           CAST(count(zq) AS BIGINT) AS n_markers,
           floor(CAST(sum(zq) AS DOUBLE) / count(zq) + 0.5) / 1000000
             AS burrows_delta
    FROM contrib
    GROUP BY 1, 2
    HAVING count(zq) > 0
    ORDER BY source_a, source_b
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA (Burrows 2002) between every source pair — the
    standard stylometric attribution distance: each source is a vector
    of marker-word rates (the {_BURROWS_W} globally most frequent
    words — function words in real corpora), each rate is z-scored
    against the across-source distribution of that word, and Delta is
    the mean absolute z difference. Sources with the same generator
    profile cluster near zero; an injected style (or a template farm)
    stands off. The mean terms cancel in z_a − z_b, so the statistic
    reduces to n·|f_a − f_b| / sqrt(n·Σf² − (Σf)²) per word — exact
    integers under one sqrt.

    Exactness: rates are floor-quantized integer per-mille-of-mille
    (cnt·10^6 div tot — positive operands, so truncating div ==
    floor //); word moments are exact wide ints; each word's
    contribution is quantized to an INTEGER ppm BEFORE the cross-word
    sum (the anova_dow device — cross-engine float-sum order noise
    cannot arise), and the final mean is one pinned double division.
    Zero-variance markers NULL out of both engines identically.

    Scale shape: the (source, word) count relation is the only
    data-sized shuffle; markers are a broadcast LIMIT-{_BURROWS_W}
    relation; the pair join runs on the (sources × markers) grid —
    profile-domain-sized, never row-sized.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    counts = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    markers = (
        counts.groupBy("w")
        .agg(F.sum("cnt").alias("g"))
        .orderBy(F.desc("g"), F.asc("w"))
        .limit(_BURROWS_W)
        .select("w")
    )
    grid = (
        totals.crossJoin(F.broadcast(markers))
        .join(counts, ["source", "w"], "left")
        .selectExpr(
            "source",
            "w",
            "CAST(coalesce(cnt, 0L) * 1000000 div tot AS BIGINT) AS f_pm",
        )
    )
    wide = "DECIMAL(38,0)"
    wstats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("f_pm").cast("bigint").alias("s"),
        F.sum(F.expr(f"CAST(f_pm AS {wide}) * f_pm")).alias("q"),
    )
    a = grid.selectExpr("source AS source_a", "w", "f_pm AS fa")
    b = grid.selectExpr("source AS source_b", "w AS wb", "f_pm AS fb")
    contrib = (
        a.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .join(F.broadcast(wstats), "w")
        .selectExpr(
            "source_a",
            "source_b",
            f"CASE WHEN ns * q - CAST(s AS {wide}) * s > 0"
            " THEN CAST(floor("
            " CAST(ns AS DOUBLE) * abs(fa - fb)"
            f" / sqrt(CAST(ns * q - CAST(s AS {wide}) * s AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
            " END AS zq",
        )
    )
    return (
        contrib.groupBy("source_a", "source_b")
        .agg(
            F.count("zq").cast("bigint").alias("n_markers"),
            F.expr(
                "floor(CAST(sum(zq) AS DOUBLE) / count(zq) + 0.5)"
                " / 1000000"
            ).alias("burrows_delta"),
        )
        .filter(F.col("n_markers") > 0)
        .orderBy("source_a", "source_b")
    )


# --- r13 growth: Gries' deviation of proportions --------------------------
_DP_TOPK = 10  # profiled words (top global frequencies, word-asc ties)


@register(
    "text_dispersion_dp",
    category="text",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS tot FROM counts
      GROUP BY source
    ),
    corpus AS (
      SELECT CAST(sum(tot) AS BIGINT) AS t,
             CAST(min(tot) AS BIGINT) AS min_tot
      FROM totals
    ),
    words AS (
      SELECT w, CAST(sum(cnt) AS BIGINT) AS cw FROM counts GROUP BY w
      ORDER BY cw DESC, w ASC LIMIT {_DP_TOPK}
    ),
    terms AS (
      SELECT wd.w, wd.cw,
             CAST(abs(CAST(coalesce(c.cnt, 0) AS HUGEINT) * corpus.t
                      - CAST(tt.tot AS HUGEINT) * wd.cw)
                  AS HUGEINT) AS num,
             corpus.t AS t, corpus.min_tot AS min_tot
      FROM words wd
      CROSS JOIN totals tt
      CROSS JOIN corpus
      LEFT JOIN counts c ON c.w = wd.w AND c.source = tt.source
    )
    SELECT w, CAST(min(cw) AS BIGINT) AS c_total,
           floor(CAST(sum(num) AS DOUBLE)
                 / (2e0 * CAST(min(cw) AS DOUBLE) * min(t))
                 * 1000000 + 0.5) / 1000000 AS dp,
           CASE WHEN min(t) > min(min_tot) THEN
             floor(CAST(sum(num) AS DOUBLE)
                   / (2e0 * CAST(min(cw) AS DOUBLE) * min(t))
                   * CAST(min(t) AS DOUBLE) / (min(t) - min(min_tot))
                   * 1000000 + 0.5) / 1000000
           END AS dp_norm
    FROM terms
    GROUP BY w
    ORDER BY c_total DESC, w ASC
    """,
)
def text_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIES' DEVIATION OF PROPORTIONS (DP, Gries 2008) for the
    {_DP_TOPK} globally most frequent words — the corpus-linguistics
    dispersion measure that asks: is this word's usage spread across
    the corpus parts (sources) like the parts' token shares, or
    concentrated in a few? DP = 0.5·Σ_parts |v_i − s_i| with v_i the
    word's proportion in part i and s_i the part's corpus share; 0 =
    perfectly proportional, →1 = concentrated in one tiny part.
    DPnorm divides by (1 − min s_i), the attainable maximum. A
    training-mix auditor reads high-DP frequent words as domain
    markers (vocabulary owned by one source) vs true function words.

    Exactness: v_i − s_i is cleared to the common denominator C_w·T,
    so every |numerator| is an exact wide integer, the part sum is an
    exact integer sum, and DP is ONE pinned double division (the same
    no-float-accumulation device as burrows_delta, taken further — no
    per-part quantization needed at all). Scale shape: (source, word)
    counts are the only data-sized shuffle; the term grid is
    {_DP_TOPK} × parts — domain-sized.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    counts = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    corpus = totals.groupBy().agg(
        F.sum("tot").cast("bigint").alias("t"),
        F.min("tot").cast("bigint").alias("min_tot"),
    )
    words = (
        counts.groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("cw"))
        .orderBy(F.desc("cw"), F.asc("w"))
        .limit(_DP_TOPK)
    )
    wide = "DECIMAL(38,0)"
    terms = (
        words.crossJoin(totals)
        .crossJoin(F.broadcast(corpus))
        .join(counts, ["w", "source"], "left")
        .selectExpr(
            "w",
            "cw",
            f"CAST(abs(CAST(coalesce(cnt, 0L) AS {wide}) * t"
            f" - CAST(tot AS {wide}) * cw) AS {wide}) AS num",
            "t",
            "min_tot",
        )
    )
    return (
        terms.groupBy("w")
        .agg(
            F.min("cw").cast("bigint").alias("c_total"),
            F.expr(
                "floor(CAST(sum(num) AS DOUBLE)"
                " / (2D * CAST(min(cw) AS DOUBLE) * min(t))"
                " * 1000000 + 0.5) / 1000000"
            ).alias("dp"),
            F.expr(
                "CASE WHEN min(t) > min(min_tot) THEN"
                " floor(CAST(sum(num) AS DOUBLE)"
                " / (2D * CAST(min(cw) AS DOUBLE) * min(t))"
                " * CAST(min(t) AS DOUBLE) / (min(t) - min(min_tot))"
                " * 1000000 + 0.5) / 1000000"
                " END"
            ).alias("dp_norm"),
        )
        .orderBy(F.desc("c_total"), F.asc("w"))
    )


# --- r13 growth: homoglyph-spoof detection --------------------------------
#
# Cyrillic confusables for five ascii letters (the IDN-spoof classics);
# one literal pair shared by the planting and the skeleton direction.
_HOMO_ASCII = "aeopc"
_HOMO_CYR = "аеорс"


@register(
    "text_homoglyph_dedup",
    category="text",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000, source,
             translate(text, '{_HOMO_ASCII}', '{_HOMO_CYR}')
      FROM documents WHERE doc_id % 9 = 0
    ),
    sk AS (
      SELECT doc_id, source, text,
             translate(text, '{_HOMO_CYR}', '{_HOMO_ASCII}') AS skeleton
      FROM corpus
    ),
    groups AS (
      SELECT source, md5(skeleton) AS gh,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw
      FROM sk GROUP BY 1, 2
    )
    SELECT s.source,
           CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs_total,
           CAST(sum(CASE WHEN s.text <> s.skeleton THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spoofed_docs,
           CAST(count(DISTINCT md5(s.skeleton)) AS BIGINT)
             AS n_skeleton_groups,
           CAST(count(DISTINCT CASE WHEN g.n_raw > 1 THEN g.gh END)
                AS BIGINT) AS n_collision_groups
    FROM sk s
    JOIN groups g ON g.source = s.source AND g.gh = md5(s.skeleton)
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def text_homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOMOGLYPH-SPOOF detection — exact dedup that a Unicode
    confusable attack defeats, fixed by SKELETON NORMALIZATION (the
    UTS #39 idea, scoped to five Cyrillic/Latin confusable pairs):
    every ninth document is re-planted with its lookalike-substituted
    twin (visually identical, byte-distinct — md5/minhash/simhash all
    see a brand-new document), and the op folds each text to its
    confusable skeleton, groups by skeleton hash, and reports the
    collision groups where DISTINCT raw bytes share one skeleton —
    exactly the spoofed pairs. A 100 TB training-data dedup that skips
    this normalization silently double-counts every homoglyph-spoofed
    page; this op measures how much.

    Exactness: pure counting over md5 group keys; the confusable maps
    are one shared literal pair (plant and skeleton are inverse
    translate() calls on both engines). Scale shape: one md5-keyed
    groupBy (16-byte shuffle keys) and a skeleton-hash join back —
    the dedup_exact plan with a normalization step; nothing
    data-sized beyond the dedup shuffle itself.
    """
    docs = load(spark, sf_dir, "documents")
    spoofed = docs.filter(F.col("doc_id") % 9 == 0).selectExpr(
        "doc_id + 3000000 AS doc_id",
        "source",
        f"translate(text, '{_HOMO_ASCII}', '{_HOMO_CYR}') AS text",
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(spoofed)
    sk = corpus.selectExpr(
        "doc_id",
        "source",
        "text",
        f"translate(text, '{_HOMO_CYR}', '{_HOMO_ASCII}') AS skeleton",
    )
    groups = sk.groupBy(
        "source", F.md5("skeleton").alias("gh")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_raw"),
    )
    return (
        sk.join(
            groups,
            (groups.source == sk.source)
            & (F.col("gh") == F.md5(sk.skeleton)),
        )
        .drop(groups.source)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_total"),
            F.sum(
                F.expr("CASE WHEN text <> skeleton THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_spoofed_docs"),
            F.countDistinct(F.md5("skeleton"))
            .cast("bigint")
            .alias("n_skeleton_groups"),
            F.countDistinct(
                F.expr("CASE WHEN n_raw > 1 THEN gh END")
            )
            .cast("bigint")
            .alias("n_collision_groups"),
        )
        .orderBy("source")
    )


# --- r13 growth: HTML entity decode (corpus cleaning) ----------------------
#
# Planted encodings: named (&nbsp; on doc_id%5==0 spaces), decimal
# (&#101; for 'e' on %2==0), hex (&#x6F; for 'o' on %3==0). The decoder
# handles all three forms generically.
_ENTITY_ENC_SPARK = (
    "CASE WHEN doc_id % 2 = 0 THEN replace(t1, 'e', '&#101;')"
    " ELSE t1 END"
)


@register(
    "text_html_entity_clean",
    category="text",
    oracle="""
    WITH enc AS (
      SELECT doc_id, source, text,
             CASE WHEN doc_id % 2 = 0
                  THEN replace(t1, 'e', '&#101;') ELSE t1 END AS encoded
      FROM (
        SELECT doc_id, source, text,
               CASE WHEN doc_id % 3 = 0
                    THEN replace(t0, 'o', '&#x6F;') ELSE t0 END AS t1
        FROM (
          SELECT doc_id, source, text,
                 CASE WHEN doc_id % 5 = 0
                      THEN replace(text, ' ', '&nbsp;') ELSE text
                 END AS t0
          FROM documents
        )
      )
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN encoded <> text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_encoded_docs,
           CAST(sum(
             CASE WHEN doc_id % 5 = 0 THEN
               length(text) - length(replace(text, ' ', '')) ELSE 0 END
             + CASE WHEN doc_id % 2 = 0 THEN
               length(text) - length(replace(text, 'e', '')) ELSE 0 END
             + CASE WHEN doc_id % 3 = 0 THEN
               length(text) - length(replace(text, 'o', '')) ELSE 0 END
           ) AS BIGINT) AS n_entities,
           CAST(count(*) AS BIGINT) AS n_roundtrip_ok
    FROM enc
    GROUP BY source
    ORDER BY source
    """,
)
def text_html_entity_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML ENTITY DECODING — the web-corpus cleaning step between raw
    crawl text and anything downstream (tokenizers see '&#101;' as
    four garbage tokens): named entities (&nbsp; &amp; &lt; &gt;
    &quot; &apos;), DECIMAL numeric (&#101;), and HEX numeric
    (&#x6F;) are all planted over the documents text and decoded by
    ONE generic expression — split on '&', then each fragment either
    starts with a recognized entity form ('#x…;', '#…;', 'name;') and
    is rewritten via char(code), or the '&' is restored literally.
    The round-trip (decoded == original) is certified per document:
    `n_roundtrip_ok` must equal `n_docs`, and the oracle recomputes
    the entity count closed-form from the ORIGINAL text (occurrences
    of the substituted characters on each planted slice), so a decoder
    that mishandles any of the three forms or double-decodes fails the
    hash.

    Exactness: pure string algebra and integer counts. Scale shape:
    row-local codegen expressions end-to-end (the split is hoisted
    once per row); the only shuffle is the 20-key source aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    enc = docs.selectExpr(
        "doc_id",
        "source",
        "text",
        "CASE WHEN doc_id % 5 = 0 THEN replace(text, ' ', '&nbsp;')"
        " ELSE text END AS t0",
    ).selectExpr(
        "doc_id",
        "source",
        "text",
        "CASE WHEN doc_id % 3 = 0 THEN replace(t0, 'o', '&#x6F;')"
        " ELSE t0 END AS t1",
    ).selectExpr(
        "doc_id",
        "source",
        "text",
        f"{_ENTITY_ENC_SPARK} AS encoded",
    )
    # generic decoder: '&'-split; each later fragment re-interprets its
    # leading entity reference (hex, decimal, named) or restores '&'.
    decoded = (
        "concat(element_at(parts, 1), array_join(transform("
        " slice(parts, 2, size(parts) - 1),"
        " p -> CASE"
        " WHEN p rlike '^#x[0-9a-fA-F]+;' THEN concat("
        "   char(conv(regexp_extract(p, '^#x([0-9a-fA-F]+);', 1), 16, 10)),"
        "   regexp_replace(p, '^#x[0-9a-fA-F]+;', ''))"
        " WHEN p rlike '^#[0-9]+;' THEN concat("
        "   char(CAST(regexp_extract(p, '^#([0-9]+);', 1) AS INT)),"
        "   regexp_replace(p, '^#[0-9]+;', ''))"
        " WHEN p rlike '^nbsp;' THEN concat(' ', substring(p, 6))"
        " WHEN p rlike '^amp;' THEN concat('&', substring(p, 5))"
        " WHEN p rlike '^lt;' THEN concat('<', substring(p, 4))"
        " WHEN p rlike '^gt;' THEN concat('>', substring(p, 4))"
        " WHEN p rlike '^quot;' THEN concat('\\\"', substring(p, 6))"
        " WHEN p rlike '^apos;' THEN concat(\"'\", substring(p, 6))"
        " ELSE concat('&', p) END), ''))"
    )
    dec = enc.selectExpr(
        "doc_id",
        "source",
        "text",
        "encoded",
        "split(encoded, '&') AS parts",
    ).selectExpr(
        "doc_id",
        "source",
        "text",
        "encoded",
        f"CASE WHEN encoded LIKE '%&%' THEN {decoded}"
        " ELSE encoded END AS decoded",
    )
    return (
        dec.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN encoded <> text THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_encoded_docs"),
            F.sum(
                F.expr(
                    "CASE WHEN doc_id % 5 = 0 THEN"
                    " length(text) - length(replace(text, ' ', ''))"
                    " ELSE 0 END"
                    " + CASE WHEN doc_id % 2 = 0 THEN"
                    " length(text) - length(replace(text, 'e', ''))"
                    " ELSE 0 END"
                    " + CASE WHEN doc_id % 3 = 0 THEN"
                    " length(text) - length(replace(text, 'o', ''))"
                    " ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_entities"),
            F.sum(F.expr("CASE WHEN decoded = text THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_roundtrip_ok"),
        )
        .orderBy("source")
    )


# --- r13 growth: ROUGE-N over the planted duplicate pairs ------------------
_ROUGE_GRAMS_DUCK = """
      SELECT doc_id,
             CASE WHEN n = 1 THEN w
                  ELSE w || ' ' || lead(w) OVER (PARTITION BY doc_id, n
                    ORDER BY pos) END AS g,
             n
      FROM (
        SELECT doc_id, n, u.w AS w, u.pos
        FROM corpus
        CROSS JOIN (SELECT unnest([1, 2]) AS n) ns,
        LATERAL (
          SELECT unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
        ) u
      )
"""


@register(
    "text_rouge_pairs",
    category="text",
    oracle=f"""
    WITH {{corpus_cte}},
    grams0 AS ({_ROUGE_GRAMS_DUCK}),
    grams AS (
      SELECT doc_id, g, n, CAST(count(*) AS BIGINT) AS c
      FROM grams0 WHERE g IS NOT NULL GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot FROM grams
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_id AS cand_id,
             doc_id % 1000000 AS ref_id,
             CASE WHEN doc_id >= 2000000 THEN 'near' ELSE 'exact' END
               AS kind
      FROM (SELECT DISTINCT doc_id FROM corpus WHERE doc_id >= 1000000)
    ),
    overlap AS (
      SELECT p.cand_id, p.ref_id, p.kind, gc.n,
             CAST(sum(least(gc.c, gr.c)) AS BIGINT) AS ov
      FROM pairs p
      JOIN grams gc ON gc.doc_id = p.cand_id
      JOIN grams gr ON gr.doc_id = p.ref_id AND gr.g = gc.g
                   AND gr.n = gc.n
      GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT o.kind, o.n, d.source,
             CAST(floor(CAST(o.ov AS DOUBLE) / tr.tot * 1000000 + 0.5)
                  AS BIGINT) AS rec_q,
             CAST(floor(CAST(o.ov AS DOUBLE) / tc.tot * 1000000 + 0.5)
                  AS BIGINT) AS prec_q
      FROM overlap o
      JOIN totals tr ON tr.doc_id = o.ref_id AND tr.n = o.n
      JOIN totals tc ON tc.doc_id = o.cand_id AND tc.n = o.n
      JOIN documents d ON d.doc_id = o.ref_id
    )
    SELECT source, kind, CAST(n AS BIGINT) AS gram_n,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(CAST(sum(rec_q) AS DOUBLE) / count(*) + 0.5) / 1000000
             AS rouge_recall,
           floor(CAST(sum(prec_q) AS DOUBLE) / count(*) + 0.5) / 1000000
             AS rouge_precision
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY source, kind, gram_n
    """.replace("{corpus_cte}", CORPUS_CTE.strip()),
)
def text_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 (clipped n-gram overlap recall & precision,
    Lin 2004) between every planted duplicate and its source document
    — the summarization/paraphrase evaluation metric, certified on
    pairs whose true overlap structure is KNOWN by construction:
    exact copies must score 1.0 on every axis; near copies (suffix-
    appended) must score recall 1.0 (every reference n-gram survives)
    with precision strictly below 1 by exactly the suffix-gram count.
    The invariant test pins both closed forms per pair.

    Counts are CLIPPED multiset overlaps (Σ min(c_cand, c_ref)) — the
    detail naive implementations get wrong on repeated n-grams, and
    the fixture's repetitive synthetic vocabulary makes any unclipped
    implementation hash-fail immediately.

    Exactness: gram counts and overlaps are exact integers; per-pair
    recall/precision are quantized to INTEGER ppm before the
    per-source mean (no float accumulation), one pinned division at
    the end. Scale shape: gram explode → (doc, gram) counts (the
    dedup-shaped shuffle), a gram-keyed pair join, domain-sized
    aggregates after.
    """
    from cdc_pubsub_spark.llmops.corpus import NEAR_SUFFIX, shingle_rows

    # The pair corpus is rebuilt LOCALLY from documents (the same
    # construction dup_corpus uses: %10 -> exact copy at +1e6, %7 ->
    # near copy at +2e6) so pair identity comes from the construction
    # itself, never from id-magnitude conventions — and only pair
    # PARTICIPANTS are gram-exploded (a ~4x volume cut at the scan).
    # Gram strings reduce to 64-bit hashes before the count shuffle
    # (the bloom-op device; a cross-gram collision would need ~2^32
    # distinct grams and would hash-fail the sf gates
    # deterministically).
    # r15: ONE documents scan emits ref + exact + near variants via a
    # per-row variant array + explode (was a 3-branch union = 3 scans
    # of the doc table; guide §6 — scan the bytes once).
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        docs.filter(
            (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 7 == 0)
        )
        .select(
            F.explode(
                F.expr(
                    "concat("
                    " array(named_struct('doc_id', doc_id, 'text', text)),"
                    " IF(doc_id % 10 = 0,"
                    "    array(named_struct('doc_id', doc_id + 1000000,"
                    "          'text', text)), array()),"
                    " IF(doc_id % 7 = 0,"
                    "    array(named_struct('doc_id', doc_id + 2000000,"
                    f"         'text', concat(text, {NEAR_SUFFIX!r}))),"
                    "    array()))"
                )
            ).alias("r")
        )
        .select("r.doc_id", "r.text")
    )
    uni = shingle_rows(corpus, 1).withColumnRenamed("shingle", "g")
    bi = shingle_rows(corpus, 2).withColumnRenamed("shingle", "g")
    grams = (
        uni.withColumn("n", F.lit(1))
        .unionByName(bi.withColumn("n", F.lit(2)))
        .select("doc_id", "n", F.xxhash64("g", "n").alias("g"))
        .groupBy("doc_id", "g", "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    totals = grams.groupBy("doc_id", "n").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    # r15: the pair relation is ARITHMETIC, not a join — a candidate
    # doc's partner and kind are functions of its id by construction
    # (ref_id = cand_id % 1e6; kind by id range), so the former
    # pairs-union (2 more documents scans) joined onto the candidate
    # grams is replaced by a projection on the gram relation itself.
    gc = grams.filter(F.col("doc_id") >= 1000000).selectExpr(
        "doc_id AS cand_id",
        "doc_id % 1000000 AS ref_id",
        "CASE WHEN doc_id >= 2000000 THEN 'near' ELSE 'exact' END AS kind",
        "g",
        "n",
        "c AS cc",
    )
    gr = grams.filter(F.col("doc_id") < 1000000).selectExpr(
        "doc_id AS grd", "g AS gg", "n AS nn", "c AS cr"
    )
    overlap = (
        gc.join(
            gr,
            (F.col("grd") == F.col("ref_id"))
            & (F.col("gg") == F.col("g"))
            & (F.col("nn") == F.col("n")),
        )
        .groupBy("cand_id", "ref_id", "kind", "n")
        .agg(F.sum(F.least("cc", "cr")).cast("bigint").alias("ov"))
    )
    tr = totals.selectExpr("doc_id AS trd", "n AS trn", "tot AS ref_tot")
    tc = totals.selectExpr("doc_id AS tcd", "n AS tcn", "tot AS cand_tot")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("dd"), "source"
    )
    scored = (
        overlap.join(
            tr,
            (F.col("trd") == F.col("ref_id"))
            & (F.col("trn") == F.col("n")),
        )
        .join(
            tc,
            (F.col("tcd") == F.col("cand_id"))
            & (F.col("tcn") == F.col("n")),
        )
        .join(docs, F.col("dd") == F.col("ref_id"))
        .selectExpr(
            "kind",
            "n",
            "source",
            "CAST(floor(CAST(ov AS DOUBLE) / ref_tot * 1000000 + 0.5)"
            " AS BIGINT) AS rec_q",
            "CAST(floor(CAST(ov AS DOUBLE) / cand_tot * 1000000 + 0.5)"
            " AS BIGINT) AS prec_q",
        )
    )
    out = (
        scored.groupBy("source", "kind", F.col("n").alias("gram_n"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr(
                "floor(CAST(sum(rec_q) AS DOUBLE) / count(*) + 0.5)"
                " / 1000000"
            ).alias("rouge_recall"),
            F.expr(
                "floor(CAST(sum(prec_q) AS DOUBLE) / count(*) + 0.5)"
                " / 1000000"
            ).alias("rouge_precision"),
        )
        .selectExpr(
            "source",
            "kind",
            "CAST(gram_n AS BIGINT) AS gram_n",
            "n_pairs",
            "rouge_recall",
            "rouge_precision",
        )
        .orderBy("source", "kind", "gram_n")
    )
    return out


# --- r13 growth: source vocabulary similarity matrix ------------------------
@register(
    "text_source_vocab_jaccard",
    category="text",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS nv FROM vocab
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM vocab a JOIN vocab b ON b.w = a.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.inter,
           sa.nv + sb.nv - i.inter AS uni,
           floor(CAST(i.inter AS DOUBLE) / (sa.nv + sb.nv - i.inter)
                 * 1000000 + 0.5) / 1000000 AS vocab_jaccard,
           floor(CAST(i.inter AS DOUBLE) / least(sa.nv, sb.nv)
                 * 1000000 + 0.5) / 1000000 AS containment
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY source_a, source_b
    """,
)
def text_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-LEVEL VOCABULARY OVERLAP matrix — Jaccard and overlap
    (containment) coefficients between every source pair's word SETS:
    the corpus-curation companion to text_burrows_delta (Delta reads
    marker-word RATES — style; this reads vocabulary IDENTITY —
    domain). High containment with asymmetric sizes flags a source
    that is a topical subset of another (the mix-design signal for
    corpus_domain_mix); near-1 Jaccard everywhere flags a template
    corpus.

    Exactness: set sizes and intersections are exact integer counts
    over distinct (source, word); both coefficients are single pinned
    divisions (r6). Candidate generation is the word-keyed equi-join
    (sources sharing >= 1 word), never an all-pairs scan.

    Scale shape: the distinct (source, word) vocabulary relation is
    the only data-sized shuffle (dictionary-bounded per source); the
    pair join runs on word keys with source-domain-sized output.
    """
    vocab = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    b = vocab.selectExpr("source AS source_b", "w AS wb")
    inter = (
        vocab.join(
            b,
            (F.col("wb") == F.col("w"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.selectExpr("source AS sa", "nv AS nva")
    sb = sizes.selectExpr("source AS sb", "nv AS nvb")
    out = (
        inter.join(F.broadcast(sa), F.col("sa") == F.col("source_a"))
        .join(F.broadcast(sb), F.col("sb") == F.col("source_b"))
        .selectExpr(
            "source_a",
            "source_b",
            "inter",
            "nva + nvb - inter AS uni",
            "floor(CAST(inter AS DOUBLE) / (nva + nvb - inter)"
            " * 1000000 + 0.5) / 1000000 AS vocab_jaccard",
            "floor(CAST(inter AS DOUBLE) / least(nva, nvb)"
            " * 1000000 + 0.5) / 1000000 AS containment",
        )
        .orderBy("source_a", "source_b")
    )
    return out
