"""Text-analysis operators over ``documents`` (EXT tier, SURVEY.md
§2.11): token statistics, quality scoring, language-ID, token counting,
fingerprinting — the per-document stages of an LLM training-data
pipeline.

All operators are pure Column expressions (no Python in the hot path):
at 100 TB these run inside whole-stage codegen, partition-parallel,
with the text column pruned at the parquet scan when untouched.
Cross-engine parity: integer counts + one final double division, which
is IEEE-exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_tool_spark.operators.base import (
    QuerySpec,
    cached,
    materialize,
)
from data_ingestion_tool_spark.sources.tables import fan_out, load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _tokens():
    return F.split(F.trim(F.col("text")), r"\s+")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (whitespace tokenization)."""
    d = _docs(spark, sf_dir)
    n_tokens = F.size(_tokens())
    n_chars = F.length("text")
    n_spaces = n_chars - F.length(F.regexp_replace("text", r"\s", ""))
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_measured"),
        ((n_chars - n_spaces).cast("double") / n_tokens).alias("avg_token_len"),
    )


TEXT_STATS_SQL = r"""
SELECT doc_id, lang,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text) AS n_chars_measured,
       CAST(length(text) - (length(text) - length(regexp_replace(text, '\s', '', 'g')))
            AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) AS avg_token_len
FROM documents
"""


#: Tiny stopword inventory for quality scoring — deliberately fixed so
#: the oracle can restate it.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio, alphabetic ratio, mean
    token length — the classic cheap quality filters (C4-style),
    combined into one score with a keep/drop flag."""
    d = _docs(spark, sf_dir)
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*_STOPWORDS))
    )
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    stop_ratio = stop_hits.cast("double") / n_tokens
    alpha_ratio = alpha_chars.cast("double") / n_chars
    score = stop_ratio * 0.5 + alpha_ratio * 0.5
    return d.select(
        "doc_id",
        stop_hits.alias("stopword_hits"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
        (score >= 0.45).alias("keep"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

TEXT_QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
), scored AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ({_SW_LIST}))) AS stopword_hits,
         CAST(len(list_filter(toks, t -> t IN ({_SW_LIST}))) AS DOUBLE)
           / len(toks) AS stopword_ratio,
         CAST(alpha_chars AS DOUBLE) / n_chars AS alpha_ratio
  FROM base
)
SELECT doc_id, stopword_hits, stopword_ratio, alpha_ratio,
       stopword_ratio * 0.5 + alpha_ratio * 0.5 AS quality_score,
       (stopword_ratio * 0.5 + alpha_ratio * 0.5) >= 0.45 AS keep
FROM scored
"""


#: Marker words per language for the n-gram/stopword language-ID
#: heuristic. Scoring is deterministic; ties resolve in this order.
_LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "una", "que"),
    "fr": ("le", "les", "une", "est"),
    "zh": ("的", "是", "不", "了"),
}


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID: score = marker-token hits per
    language; prediction = argmax with fixed tie order. (On this
    synthetic corpus every language shares one vocabulary, so the
    predictions skew 'en' — the operator contract is the scoring.)"""
    d = _docs(spark, sf_dir)
    toks = _tokens()

    def marker_hits(markers: tuple) -> F.Column:
        # one-arg lambda: higher-order functions pass a Column per
        # declared parameter, so extra params must come via closure
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {
        lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()
    }
    # argmax with first-wins tie order en > de > es > fr > zh
    langs = list(_LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return d.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        best.alias("predicted_lang"),
        (best == F.col("lang")).alias("correct"),
    )


def _lang_sql() -> str:
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"len(list_filter(toks, t -> t IN ({mlist}))) AS score_{lang}"
        )
    langs = list(_LANG_MARKERS)
    # same first-wins argmax, unrolled
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = (
            f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
        )
    return rf"""
WITH base AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, {', '.join(score_exprs)} FROM base
)
SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
       {pred} AS predicted_lang,
       ({pred} = lang) AS correct
FROM scored
"""


LANG_ID_SQL = _lang_sql()

#: BPE-ish pre-tokenizer: words | digits | single punctuation marks.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document, plus the
    corpus total — the 'how many training tokens is this' operator."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN)).alias("bpe_tokens"),
    )


TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS bpe_tokens
FROM documents
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text) —
    the join key for exact dedup across shards/snapshots."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        F.length("text").alias("n_chars_measured"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       length(text) AS n_chars_measured
FROM documents
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF top-3 terms per document (SURVEY §2.11 tf-idf).

    Expressed as three aggregations over one exploded token table —
    term frequency, document length, document frequency — joined and
    window-ranked. All shuffles key on doc_id or term; document
    frequency is a broadcast-sized side at any corpus size with a
    bounded vocabulary. Deterministic tie-break: (score desc, term).
    """
    d = _docs(spark, sf_dir)
    # n_docs as a broadcast 1-row aggregate INSIDE the plan — no
    # separate driver-side count() job
    ndocs = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = d.select("doc_id", F.explode(_tokens()).alias("term"))
    # doclen and dfreq both re-aggregate tf — the raw token table is
    # exploded and shuffled exactly once
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("k"))
    doclen = tf.groupBy("doc_id").agg(F.sum("k").alias("len"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = (F.col("k").cast("double") / F.col("len")) * F.log(
        F.col("n_docs") / F.col("df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    top = (
        tf.join(doclen, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank")
    )
    # tf is cached only until the top terms are materialized
    with cached(tf):
        return materialize(top)


TFIDF_TOP_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS k FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, rank FROM (
  SELECT tf.doc_id, tf.term,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY (CAST(k AS DOUBLE) / len)
                    * ln(CAST(n_docs AS DOUBLE) / df) DESC, tf.term
         ) AS rank
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
) WHERE rank <= 3
"""


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the pre-dedup/pre-fingerprint
    step): lowercase, strip punctuation, collapse whitespace, trim —
    all JVM-side regexp/string expressions, with the canonical form's
    fingerprint alongside."""
    d = _docs(spark, sf_dir)
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^\w\s]", ""), r"\s+", " "
        )
    )
    return d.select(
        "doc_id",
        F.length(canon).alias("n_canon_chars"),
        F.md5(canon).alias("canon_fingerprint"),
    )


NORMALIZE_TEXT_SQL = r"""
SELECT doc_id,
       length(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                                  '\s+', ' ', 'g'))) AS n_canon_chars,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS canon_fingerprint
FROM documents
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking via a Python UDTF (the generator/table-function
    surface): each document expands to fixed-size token chunks with
    overlap — the standard pre-embedding splitter for RAG/training
    pipelines. One row in, N rows out, lateral-joined per input row.

    Deterministic splitting (whitespace tokens, size 32, overlap 8), so
    the DuckDB oracle reproduces it with generate_series arithmetic.
    """
    from pyspark.sql.functions import udtf

    CHUNK, OVERLAP = 32, 8

    @udtf(returnType="chunk_idx int, start_tok int, n_toks int")
    class Chunker:
        def eval(self, text: str):
            toks = text.strip().split() if text else []
            step = CHUNK - OVERLAP
            i = 0
            idx = 0
            while i < len(toks):
                n = min(CHUNK, len(toks) - i)
                yield idx, i, n
                if i + CHUNK >= len(toks):
                    break
                i += step
                idx += 1

    spark.udtf.register("doc_chunker", Chunker)
    d = _docs(spark, sf_dir)
    d.createOrReplaceTempView("docs_for_chunking")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.start_tok, c.n_toks
        FROM docs_for_chunking, LATERAL doc_chunker(text) AS c
        """
    )


DOC_CHUNKS_SQL = r"""
WITH lens AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, n,
         unnest(generate_series(0, CAST(CEIL(GREATEST(n - 8, 1) / 24.0) AS BIGINT) - 1)) AS chunk_idx
  FROM lens WHERE n > 0
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * 24 AS INT) AS start_tok,
       CAST(LEAST(32, n - chunk_idx * 24) AS INT) AS n_toks
FROM idx
"""


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline in one plan: length + lang
    filters → exact dedup (keep min doc_id per content fingerprint) →
    per-source corpus stats. Every stage is the operator the suite
    tests individually; this query proves they compose without a
    driver round-trip — filters reach the scan, dedup is one window,
    stats are one agg.
    """
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window

    filtered = d.filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000)
    )
    w = Window.partitionBy(
        F.md5(F.lower(F.trim(F.col("text"))))
    ).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).alias("total_tokens"),
    )


TRAINING_DATA_PIPELINE_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) AS rn
  FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 2000
) WHERE rn = 1
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Training-data hygiene: decontamination, repetition, splits, PII
# ---------------------------------------------------------------------------

# n-gram width for contamination detection. Real pipelines use 8-13
# word grams; 4 is tuned to the synthetic testdata's ~40-word
# vocabulary so the check exercises non-empty overlap.
_DECON_N = 4
_DECON_MIN_OVERLAP = 1  # report any eval-set n-gram collision


def _raw_ngrams(n: int):
    """All word n-grams of the ``toks`` column as array<string>."""
    gram = " , ".join(f"toks[i+{j}]" for j in range(n))
    return F.expr(
        f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', {gram}))"
    )


def _ngram_array(n: int):
    """Distinct word n-grams of the ``toks`` column as array<string>."""
    return F.array_distinct(_raw_ngrams(n))


def _hashed_ngrams(n: int):
    """Distinct 64-bit-hashed n-grams. Hash BEFORE dedup/explode: the
    distinct set and the generator fan-out then handle 8-byte longs,
    not multi-word strings (measured 3-15× on the explode at sf0.1)."""
    return F.array_distinct(
        F.transform(_raw_ngrams(n), lambda g: F.xxhash64(g))
    )


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    ≥ ``_DECON_MIN_OVERLAP`` distinct ``_DECON_N``-grams with the eval
    set (here: ``doc_id % 100 == 0`` as the deterministic stand-in
    benchmark).

    Scale shape: the eval set is SMALL by construction (benchmarks are
    thousands of docs, the corpus is billions), so its exploded n-gram
    table is **broadcast** onto the corpus-side n-gram stream — no
    shuffle of the corpus, one hash-agg by doc_id. N-grams are hashed
    to int64 BEFORE the explode: the generator then fans out 8-byte
    longs instead of materializing every multi-word string per output
    row (measured 15× on the explode at sf0.1), and the join key is
    narrow. Collisions (~|grams|²/2⁶⁴) are negligible; the DuckDB
    oracle joins the exact strings."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    hashed = _hashed_ngrams(_DECON_N)
    # NOTE: ``hashed`` is passed to explode() directly rather than
    # projected into a column first — evaluating the lambda chain in a
    # standalone Project above the Generate measured 3.5× slower.
    base = d.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= _DECON_N
    )
    corpus = base.filter(F.col("doc_id") % 100 != 0).select(
        "doc_id", F.explode(hashed).alias("gram")
    )
    bench = (
        base.filter(F.col("doc_id") % 100 == 0)
        .select(F.explode(hashed).alias("gram"))
        .distinct()
    )
    sizes = base.select("doc_id", F.size(hashed).alias("n_grams"))
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= _DECON_MIN_OVERLAP)
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_overlap",
        "n_grams",
        F.round(
            F.col("n_overlap").cast("double") / F.col("n_grams"), 6
        ).alias("overlap_frac"),
    )


DECONTAMINATE_SQL = rf"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {_DECON_N - 2}),
             i -> {' || '.join("toks[i+%d]" % j if j == 0 else "' ' || toks[i+%d]" % j for j in range(_DECON_N)).replace("toks[i+0]", "toks[i]")})) AS grams
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= {_DECON_N}
),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 100 = 0),
corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 100 != 0),
hits AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM corpus JOIN bench USING (gram)
  GROUP BY doc_id HAVING COUNT(*) >= {_DECON_MIN_OVERLAP}
)
SELECT h.doc_id AS doc_id, h.n_overlap AS n_overlap,
       len(g.grams) AS n_grams,
       ROUND(CAST(h.n_overlap AS DOUBLE) / len(g.grams), 6) AS overlap_frac
FROM hits h JOIN g USING (doc_id)
"""


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher/C4-style quality rule):
    duplicate-3-gram fraction plus most-frequent-token share. Pure
    array expressions except one explode for the token mode — all
    whole-stage-codegen eligible."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    based = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)
    gram_total = F.size("toks") - 2
    gram_distinct = F.size(_ngram_array(3))
    grams = based.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(
            F.lit(1.0) - gram_distinct.cast("double") / gram_total, 6
        ).alias("dup_3gram_frac"),
    )
    tok_mode = (
        based.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("doc_id")
        .agg(F.max("k").alias("top_tok_count"))
    )
    return grams.join(tok_mode, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_3gram_frac",
        F.round(
            F.col("top_tok_count").cast("double") / F.col("n_tokens"), 6
        ).alias("top_token_frac"),
    )


REPETITION_SCORE_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
based AS (SELECT * FROM t WHERE len(toks) >= 3),
grams AS (
  SELECT doc_id, len(toks) AS n_tokens,
         ROUND(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)-1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
               / (len(toks) - 2), 6) AS dup_3gram_frac
  FROM based
),
mode AS (
  SELECT doc_id, MAX(k) AS top_tok_count FROM (
    SELECT doc_id, tok, COUNT(*) AS k
    FROM (SELECT doc_id, unnest(toks) AS tok FROM based)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT g.doc_id AS doc_id, g.n_tokens AS n_tokens, g.dup_3gram_frac,
       ROUND(CAST(m.top_tok_count AS DOUBLE) / g.n_tokens, 6) AS top_token_frac
FROM grams g JOIN mode m USING (doc_id)
"""


def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment — the split
    must be a pure function of the key so re-runs, backfills, and
    cross-engine pipelines agree. md5 is bit-identical across engines;
    the first hex digit gives 16 buckets → 12/2/2 train/val/test."""
    d = _docs(spark, sf_dir)
    digit = F.expr(
        "locate(substring(md5(cast(doc_id as string)), 1, 1),"
        " '0123456789abcdef') - 1"
    )
    split = (
        F.when(digit < 12, "train").when(digit < 14, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


DOC_TRAIN_SPLIT_SQL = """
SELECT doc_id, lang,
       CASE WHEN strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 12
            THEN 'train'
            WHEN strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 14
            THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


#: RE2- and Java-regex-compatible PII patterns (no lookarounds).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def redact_pii_text(col) -> F.Column:
    """text → text with emails/phones replaced by typed placeholders."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _PII_EMAIL, "[EMAIL]")
    return F.regexp_replace(c, _PII_PHONE, "[PHONE]")


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (training-data hygiene): redact emails/phone numbers,
    count redactions per document. JVM regexp only — codegen-eligible,
    no Python in the path."""
    d = _docs(spark, sf_dir)
    n_emails = F.regexp_count(F.col("text"), F.lit(_PII_EMAIL))
    n_phones = F.regexp_count(F.col("text"), F.lit(_PII_PHONE))
    return d.select(
        "doc_id",
        redact_pii_text("text").alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


REDACT_PII_SQL = rf"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                      '{_PII_PHONE}', '[PHONE]', 'g') AS clean_text,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones
FROM documents
"""


#: Sequence-packing budget (tokens per training sequence) and the
#: number of independent packing streams. Buckets bound the inherent
#: seriality of greedy packing: each bucket packs sequentially inside
#: one window partition, buckets pack in parallel. At cluster scale
#: raise the bucket count with the executor count.
_PACK_BUDGET = 512
_PACK_BUCKETS = 32


def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents to fixed token
    budgets (greedy, in deterministic doc_id order) so each packed
    sequence holds ≤ {budget} whitespace tokens (a doc longer than the
    budget overflows its own sequence).

    The greedy scan is a cumulative-sum window per pack bucket —
    ``seq_no = floor(cumsum_before / budget)`` — so the whole operator
    is one shuffle on the bucket key and stays JVM-side. The reference
    has no packing step; this is the standard pre-tokenization batch
    shape for LLM training pipelines.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("pack_bucket"),
        F.size(_tokens()).alias("ws_tokens"),
    )
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("ws_tokens").over(w) - F.col("ws_tokens")
    return toks.select(
        "doc_id",
        "pack_bucket",
        F.floor(cum_before / _PACK_BUDGET).alias("seq_no"),
        "ws_tokens",
    )


PACK_TOKEN_BUDGET_SQL = rf"""
SELECT doc_id,
       doc_id % {_PACK_BUCKETS} AS pack_bucket,
       CAST(FLOOR((SUM(ws_tokens) OVER (PARTITION BY doc_id % {_PACK_BUCKETS}
                                        ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                   - ws_tokens) / {_PACK_BUDGET}) AS BIGINT) AS seq_no,
       ws_tokens
FROM (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS ws_tokens
      FROM documents)
"""


#: Tiny interpretable linear quality model: decimal term weights keep
#: the dot product exact on both engines (no float summation-order
#: drift through the oracle hash).
_QUALITY_WEIGHTS: list[tuple[str, str]] = [
    ("data", "0.75"), ("spark", "0.60"), ("table", "0.40"),
    ("join", "0.35"), ("query", "0.30"), ("fast", "0.25"),
    ("slow", "-0.40"), ("error", "-0.55"), ("null", "-0.30"),
    ("skew", "-0.20"), ("batch", "0.15"), ("shuffle", "-0.10"),
]
_QUALITY_BIAS = "-0.50"


def quality_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring at scale: a linear bag-of-words classifier whose
    weight vector rides a BROADCAST join — the shape used to push a
    trained quality/toxicity model over a 100 TB corpus (weights are
    KBs; documents never re-shuffle for the model).

    explode(tokens) → broadcast-join the weight table → one hash-agg
    per doc_id → bias + threshold. Exact decimal arithmetic end-to-end
    so the DuckDB oracle hash-matches bit-for-bit.
    """
    d = _docs(spark, sf_dir)
    weights = spark.createDataFrame(
        [(t, w) for t, w in _QUALITY_WEIGHTS], "term string, w string"
    ).select("term", F.col("w").cast("decimal(12,2)").alias("w"))
    contrib = (
        d.select("doc_id", F.explode(_tokens()).alias("term"))
        .join(F.broadcast(weights), "term")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("dot"))
    )
    bias = F.lit(_QUALITY_BIAS).cast("decimal(12,2)")
    score = F.coalesce(F.col("dot"), F.lit(0).cast("decimal(12,2)")) + bias
    return (
        d.select("doc_id")
        .join(contrib, "doc_id", "left")
        .select(
            "doc_id",
            score.cast("double").alias("lin_score"),
            (score > 0).alias("keep"),
        )
    )


QUALITY_SCORE_LINEAR_SQL = rf"""
WITH weights(term, w) AS (VALUES
  {', '.join(f"('{t}', CAST({w} AS DECIMAL(12,2)))" for t, w in _QUALITY_WEIGHTS)}
),
contrib AS (
  SELECT doc_id, SUM(w) AS dot
  FROM (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
        FROM documents) tok
  JOIN weights USING (term)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(c.dot, CAST(0 AS DECIMAL(12,2)))
            + CAST({_QUALITY_BIAS} AS DECIMAL(12,2)) AS DOUBLE) AS lin_score,
       (COALESCE(c.dot, CAST(0 AS DECIMAL(12,2)))
            + CAST({_QUALITY_BIAS} AS DECIMAL(12,2))) > 0 AS keep
FROM documents d LEFT JOIN contrib c USING (doc_id)
"""


_HH_CAPACITY = 24  # Misra-Gries summary size per Arrow batch


def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (Misra–Gries / "frequent" sketch)
    over corpus tokens — the bounded-state alternative to a full
    term count when the vocabulary doesn't fit a shuffle.

    Per Arrow batch, keep a ≤k-entry summary (count, then subtract the
    (k+1)-th count — the MG decrement); summaries MERGE BY ADDITION,
    so the reduce is an ordinary hash-agg over ≤ k·n_batches rows, not
    |vocabulary| rows. Guarantees (classic MG bound): any term with
    true frequency > n/(k+1) survives, and every reported count is an
    underestimate by at most n/(k+1). Property-tested against exact
    counts; rows-only driver check (estimates are engine-specific).

    Token explode stays JVM-side (Generate); only the sketch runs in
    Python, over the narrow one-column token stream.
    """
    import pandas as pd
    from collections.abc import Iterator

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(_tokens()).alias("term"))

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["term"].value_counts()
            if len(counts) > _HH_CAPACITY:
                # subtract the (k+1)-th largest count from everything,
                # drop non-positive — the batched Misra-Gries decrement
                dec = counts.iloc[_HH_CAPACITY]
                counts = (counts - dec)[lambda s: s > 0]
            out = counts.reset_index()
            out.columns = ["term", "est_count"]
            yield out

    partial = toks.mapInPandas(sketch, "term string, est_count long")
    return (
        partial.groupBy("term")
        .agg(F.sum("est_count").alias("est_count"))
        .orderBy(F.desc("est_count"), "term")
        .limit(_HH_CAPACITY)
    )


def exact_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT twin of :func:`heavy_hitter_terms`: full term counts with
    a deterministic tie-break, top-``_HH_CAPACITY``. The MG sketch's
    counts are batch-layout-specific (rows-only driver check), so this
    twin pins the same top-terms question with a hash-checkable
    answer; the MG underestimate bound vs these exact counts is
    pytest-asserted.

    The shuffle here is |vocabulary|-sized — exactly the cost the
    sketch avoids at 100 TB — but top-k leaves each partition partial
    (TakeOrderedAndProject), so only k rows reach the driver."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_count"))
        .orderBy(F.desc("n_count"), "term")
        .limit(_HH_CAPACITY)
    )


EXACT_TOP_TERMS_SQL = rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
)
SELECT term, COUNT(*) AS n_count
FROM toks GROUP BY term
ORDER BY n_count DESC, term
LIMIT {_HH_CAPACITY}
"""


#: Polynomial rolling-hash parameters (Rabin–Karp): base and Mersenne
#: modulus sized so acc·B + v stays far inside int64 on both engines.
_RH_B = 1000003
_RH_M = (1 << 31) - 1


def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin–Karp polynomial rolling-hash document fingerprints —
    the order-sensitive sibling of the md5 content digest
    (``doc_fingerprints``): h = fold(h·B + v(tok) mod M) over the
    token stream, so ANY reordering changes the fingerprint, and an
    incremental ingester can extend a stored prefix hash in O(new
    tokens) instead of re-hashing the document.

    Cross-engine determinism: per-token values derive from md5 (both
    engines agree), the fold is exact int64 arithmetic under a
    Mersenne modulus (acc·B + v < 2⁵¹), and Spark's ``aggregate``
    from a zero seed equals DuckDB's seedless ``list_reduce`` because
    step one reduces to v₁ in both. Everything stays in codegen — no
    Python, no shuffle at all (per-row narrow projection)."""
    d = _docs(spark, sf_dir)
    vals = F.transform(
        _tokens(),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
        .cast("long") % _RH_M,
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * _RH_B + v) % _RH_M,
    )
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("n_tokens"),
        fp.alias("fingerprint"),
    )


DOC_ROLLING_FINGERPRINTS_SQL = rf"""
SELECT doc_id,
       len(toks) AS n_tokens,
       list_reduce(
         list_transform(
           toks,
           t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {_RH_M}
         ),
         (acc, x) -> (acc * {_RH_B} + x) % {_RH_M}
       ) AS fingerprint
FROM (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
)
"""


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary Jaccard — the source-similarity matrix a
    corpus curator reads before setting mixing weights (two sources
    with near-identical vocabularies are candidates for dedup or
    down-weighting; disjoint ones add diversity).

    Scale shape: (term, source) pairs dedup NARROW-side first
    (``array_distinct`` per doc), one term-keyed agg collects each
    term's ≤ |sources| sorted source list, pairs expand narrowly from
    that list (fan-out ≤ C(|sources|,2) per term — the capped-postings
    discipline), and per-source set sizes ride a broadcast back onto
    the |sources|²-row result. Exact integer counts → the Jaccard
    divides exactly the same on both engines."""
    d = _docs(spark, sf_dir)
    st = d.select(
        "source", F.explode(F.array_distinct(_tokens())).alias("term")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    term_sources = st.groupBy("term").agg(
        F.sort_array(F.collect_list("source")).alias("ss")
    )
    pairs = (
        term_sources.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> named_struct('source_a', x, 'source_b', y))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                  F.col("n").alias("n_a")))
    nb = F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                  F.col("n").alias("n_b")))
    return (
        pairs.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a", "source_b", "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


SOURCE_VOCAB_OVERLAP_SQL = r"""
WITH st AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       ROUND(n_shared / CAST(na.n + nb.n - n_shared AS DOUBLE), 6)
         AS jaccard
FROM pairs
JOIN sizes na ON na.source = pairs.source_a
JOIN sizes nb ON nb.source = pairs.source_b
"""


#: BM25 ranking constants (Robertson/Spärck Jones defaults) and a fixed
#: conjunctive-free query so the oracle can restate it verbatim.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20
_BM25_QUERY = ("join", "window", "scan")


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: BM25 top-k documents for a fixed
    bag-of-words query — the retrieval scorer behind corpus search and
    RAG candidate generation.

    Scale shape: the term filter lands IMMEDIATELY after the token
    Generate, so the only aggregated stream is (docs containing a
    query term) — never the |vocabulary|-sized term space. Document
    length rides through the explode as a carried column (no
    corpus-sized join back), the per-term document frequencies (|Q|
    rows) and the 1-row corpus stats broadcast, and the final top-k is
    a TakeOrderedAndProject. Growing the corpus 1000× changes only the
    scan; every shuffled stream stays proportional to query-term hits.

    idf uses the always-positive Lucene form ln(1 + (N-df+0.5)/(df+0.5)).
    """
    d = _docs(spark, sf_dir).select("doc_id", _tokens().alias("toks"))
    stats = d.agg(
        F.avg(F.size("toks")).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        d.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .where(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1) / denom
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


BM25_SEARCH_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS dl,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM toks
  WHERE term IN {_BM25_QUERY!r}
  GROUP BY 1, 2, 3
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT AVG(len(string_split_regex(trim(text), '\s+'))) AS avgdl,
         COUNT(*) AS n_docs
  FROM documents
)
SELECT doc_id,
       ROUND(SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * {_BM25_K1 + 1}
                 / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))),
             6) AS bm25
FROM tf JOIN df USING (term) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_TOPK}
"""


#: PMI co-occurrence: vocabulary capped to the top-V corpus terms so
#: the per-document pair fan-out is bounded by C(V, 2) no matter how
#: long documents grow; pairs below the support floor are noise.
_PMI_V = 32
_PMI_MIN_PAIRS = 5
_PMI_TOPK = 50


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-pair pointwise mutual information over documents — the
    distributional-semantics signal behind phrase mining and
    word-association features (PMI = ln(P(a,b) / P(a)P(b)) with
    document-level probabilities).

    Scale shape: the vocabulary is first capped to the top-``_PMI_V``
    corpus terms (one vocab-sized partial+final agg, top-V leaves each
    partition partial) and collapsed to a single broadcast ARRAY; each
    document's present-vocab set is then computed entirely NARROW-side
    (``array_distinct`` on the token array + ``array_intersect`` with
    the broadcast vocab — no corpus-wide distinct shuffle, no doc_id
    shuffle at all), and pairs expand narrowly from the sorted ≤ V
    array (fan-out ≤ C(V,2) per doc, the span-dedup discipline). The
    only exchanges after the vocab agg are two tiny-key aggregates
    (≤ C(V,2) and ≤ V groups). All counts are exact integers, so the
    ln() argument is identical across engines (no float accumulation
    before the transcendental).
    """
    # fan_out: the tokenize + vocab-intersect + in-row pair expansion
    # all sit below the first exchange and are heavy per-row work on
    # the unsplittable single-row-group bench input (alternated
    # min-of-3 A/B: 0.62×, identical rows; no-op at scale)
    d = fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(_PMI_V)
        .select("term")
    )
    vocab_arr = vocab.agg(F.collect_list("term").alias("varr"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # materialized ONCE (eager localCheckpoint, round 12): doc_terms
    # feeds BOTH the per-term counts and the pair expansion, and the
    # two subtrees re-ran the tokenize + array_distinct + broadcast
    # intersect over the corpus independently (the r12 plan dump shows
    # the documents scan 14× across the full plan). One corpus pass
    # instead of two at any scale; blocks are |docs| × ≤V terms,
    # distributed, released with the result.
    doc_terms = materialize(
        d.select("doc_id", F.array_distinct(_tokens()).alias("ts0"))
        .crossJoin(F.broadcast(vocab_arr))
        .select(
            "doc_id",
            F.sort_array(F.array_intersect("ts0", "varr")).alias("ts"),
        )
    )
    n_term = (
        doc_terms.select(F.explode("ts").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    pairs = (
        doc_terms.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "y -> named_struct('term_a', x, 'term_b', y))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.term_a").alias("term_a"),
            F.col("p.term_b").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    na = F.broadcast(n_term.select(F.col("term").alias("term_a"),
                                   F.col("n_t").alias("n_a")))
    nb = F.broadcast(n_term.select(F.col("term").alias("term_b"),
                                   F.col("n_t").alias("n_b")))
    pmi = F.log(
        (F.col("n_ab") * F.col("n_docs"))
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return (
        pairs.join(na, "term_a")
        .join(nb, "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a", "term_b", "n_ab", F.round(pmi, 6).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(_PMI_TOPK)
    )


COOCCURRENCE_PMI_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, term LIMIT {_PMI_V}
  )
),
present AS (
  SELECT DISTINCT doc_id, term FROM toks
  WHERE term IN (SELECT term FROM vocab)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
nt AS (SELECT term, COUNT(*) AS n_t FROM present GROUP BY 1),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
  FROM present a JOIN present b USING (doc_id)
  WHERE a.term < b.term
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
)
SELECT term_a, term_b, n_ab,
       ROUND(ln((n_ab * n_docs) / CAST(na.n_t * nb.n_t AS DOUBLE)), 6) AS pmi
FROM pairs
JOIN nt na ON na.term = pairs.term_a
JOIN nt nb ON nb.term = pairs.term_b
CROSS JOIN n
ORDER BY pmi DESC, term_a, term_b
LIMIT {_PMI_TOPK}
"""


#: Boilerplate detection: an n-gram is "boilerplate" when it appears in
#: ≥ max(2, ceil(_BOILER_DF_FRAC · n_docs)) distinct documents; a doc
#: is dropped when more than _BOILER_KEEP_FRAC of its distinct n-grams
#: are boilerplate (C4/RefinedWeb-style template removal).
_BOILER_N = 3
_BOILER_DF_FRAC = 0.01
_BOILER_KEEP_FRAC = 0.2


def boilerplate_ngram_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: flag documents dominated by
    n-grams that recur across many documents (navigation chrome, cookie
    banners, license headers — the C4 "frequent line" rule lifted to
    n-grams because this corpus is single-line).

    Scale shape: n-grams are xxhash64-hashed **before** the explode
    (8-byte fan-out, same trick as decontamination); doc-frequency is
    one hash-agg over the gram stream; the boilerplate set is tiny *by
    definition* (high-df grams are few — df ≥ 1% of a billion docs
    admits only true templates), so it broadcasts back as a LEFT join
    onto the gram stream and ONE doc_id hash-agg computes n_grams and
    n_boiler together — no sizes branch, no doc_id join of two
    aggregates. The corpus is never self-joined and never shuffled by
    gram twice; n_docs rides along as a broadcast 1-row aggregate — no
    separate driver job."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= _BOILER_N
    )
    hashed = _hashed_ngrams(_BOILER_N)
    grams = base.select("doc_id", F.explode(hashed).alias("gram"))
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    min_df = F.greatest(
        F.lit(2).cast("bigint"), F.ceil(F.lit(_BOILER_DF_FRAC) * F.col("n_docs"))
    )
    boiler = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= min_df)
        .select("gram", F.lit(1).alias("is_boiler"))
    )
    frac = F.col("n_boiler").cast("double") / F.col("n_grams")
    return (
        grams.join(F.broadcast(boiler), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            F.round(frac, 6).alias("boiler_frac"),
            (frac < F.lit(_BOILER_KEEP_FRAC)).alias("keep"),
        )
    )


BOILERPLATE_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {_BOILER_N - 2}),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM t WHERE len(toks) >= {_BOILER_N}
),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
n AS (SELECT COUNT(*) AS n_docs FROM g),
dfreq AS (SELECT gram, COUNT(*) AS df FROM e GROUP BY 1),
boiler AS (
  SELECT gram FROM dfreq, n
  WHERE df >= greatest(2, CAST(ceil({_BOILER_DF_FRAC} * n_docs) AS BIGINT))
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_boiler FROM e JOIN boiler USING (gram) GROUP BY 1
)
SELECT g.doc_id AS doc_id,
       len(g.grams) AS n_grams,
       COALESCE(h.n_boiler, 0) AS n_boiler,
       ROUND(CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / len(g.grams), 6)
           AS boiler_frac,
       CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / len(g.grams)
           < {_BOILER_KEEP_FRAC} AS keep
FROM g LEFT JOIN hits h USING (doc_id)
"""


#: Vocabulary size for the OOV-rate operator.
_VOCAB_SIZE = 100


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-V corpus vocabulary (count
    desc, term asc — deterministic at the boundary) and score every
    document's out-of-vocabulary token rate — the tokenizer-fit /
    domain-shift signal you compute before committing 100 TB to a
    tokenizer.

    Scale shape: term counting is one map-side-combinable hash-agg;
    the global top-V rank runs over the |vocabulary| aggregate (orders
    of magnitude smaller than the corpus), and the V-row vocab
    broadcasts onto the token stream — the corpus shuffles once (by
    doc_id for the per-doc count), never by term twice."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tokens = d.select("doc_id", F.explode(toks).alias("term"))
    vocab = (
        tokens.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "term")
        .limit(_VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tokens.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_frac"),
        )
    )


VOCAB_OOV_RATE_SQL = rf"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS tf,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
    FROM tokens GROUP BY term
  ) WHERE rk <= {_VOCAB_SIZE}
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (v.term IS NULL) AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (v.term IS NULL) AS DOUBLE) / COUNT(*), 6)
           AS oov_frac
FROM tokens t LEFT JOIN vocab v ON t.term = v.term
GROUP BY doc_id
"""


#: Per-language sample size for the balanced subcorpus.
_SAMPLE_PER_LANG = 10


def doc_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced sampling: exactly ≤ k documents per
    language, chosen by md5(doc_id) order so every engine, re-run, and
    backfill picks the identical subcorpus (md5 is bit-identical across
    engines; `sample()`/`TABLESAMPLE` are not).

    Scale shape: rank ≤ k over a hash order compiles to
    WindowGroupLimit — each map task keeps only k rows per language
    BEFORE the exchange, so the shuffle carries O(partitions·langs·k)
    rows, not the corpus. This is the per-group reservoir pattern for
    balanced per-domain/per-language training mixes."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string"))
    )
    return (
        d.select(
            "doc_id", "lang", "source", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _SAMPLE_PER_LANG)
    )


DOC_SAMPLE_BALANCED_SQL = f"""
SELECT doc_id, lang, source, rk FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
             PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) AS rk
  FROM documents
) WHERE rk <= {_SAMPLE_PER_LANG}
"""


#: Temperature-mixing parameters. The temperature exponent is FIXED at
#: α = 0.5 — spelled sqrt() in the Python and every SQL oracle so both
#: engines compute bit-identical weights (POWER(x, α) is not guaranteed
#: to round identically across libm implementations; sqrt is). α < 1
#: upsamples small sources (multilingual-LM convention, mC4/XLM-R use
#: 0.3–0.7). The target keeps ~30% of total corpus bytes.
_MIX_FRAC = 0.3
_HEX = "0123456789abcdef"


def _md5_uniform_expr(key_sql: str, *, duck: bool) -> str:
    """A uniform-[0,1) draw from the first 6 md5 hex digits of a key —
    bit-identical across Spark and DuckDB (the same trick as
    :func:`doc_train_split`, widened from 1 digit to 24 bits)."""
    if duck:
        digit = (
            "(strpos('{hex}', substr(md5(CAST({k} AS VARCHAR)), {i}, 1)) - 1)"
        )
    else:
        digit = (
            "(locate(substring(md5(cast({k} as string)), {i}, 1), '{hex}') - 1)"
        )
    terms = " + ".join(
        digit.format(hex=_HEX, k=key_sql, i=i) + f" * {16 ** (6 - i)}"
        for i in range(1, 7)
    )
    return f"(({terms}) / 16777216.0)"


_WRS_K = 50


def _ares_key_col() -> F.Column:
    """THE Efraimidis–Spirakis A-Res sort key, defined once:
    ln(u)/w with u the deterministic md5-uniform draw shifted to the
    OPEN interval (0,1) (ln must never see zero on either engine) and
    w the byte weight. Both samplers (global ``weighted_doc_sample``,
    per-source ``stratified_weighted_sample``) and both SQL oracles
    (via :func:`_ares_key_sql`) derive from this single definition so
    the draw cannot drift between call sites."""
    u = F.expr(_md5_uniform_expr("doc_id", duck=False))
    u_open = (u * 16777215.0 + 0.5) / 16777216.0  # (0,1) exclusive
    return F.log(u_open) / F.col("n_chars")


def _ares_key_sql() -> str:
    """DuckDB restatement of :func:`_ares_key_col` — same constants,
    same shift, same weight column."""
    return (
        f"ln(({_md5_uniform_expr('doc_id', duck=True)} * 16777215.0 + 0.5)"
        " / 16777216.0) / n_chars"
    )


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): k documents drawn with probability proportional to their
    byte weight in ONE pass — the corpus-subsampling primitive behind
    "give me a 1B-token sample that preserves the size mix".

    Each row's sort key is ln(u)/w (monotone in u^(1/w), the A-Res
    key) with u the deterministic md5-uniform draw, so the "random"
    sample is a pure function of the corpus: replayable, and the
    DuckDB oracle reproduces it bit-for-bit. The top-k by key is a
    TakeOrderedAndProject — per-partition partial top-k, k rows to
    the driver, no shuffle of the corpus. u is shifted to (0,1) so
    ln() never sees zero on either engine."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", "source", "n_chars",
                 _ares_key_col().alias("wrs_key"))
        .orderBy(F.desc("wrs_key"), "doc_id")
        .limit(_WRS_K)
        .select("doc_id", "source", "n_chars",
                F.round("wrs_key", 9).alias("wrs_key"))
    )


WEIGHTED_DOC_SAMPLE_SQL = rf"""
SELECT doc_id, source, n_chars,
       ROUND({_ares_key_sql()}, 9) AS wrs_key
FROM documents
ORDER BY {_ares_key_sql()} DESC, doc_id
LIMIT {_WRS_K}
"""



def mix_weights(docs: DataFrame) -> DataFrame:
    """THE temperature-mixing formula, defined once: ``(source,
    n_chars)`` rows in → ``(source, n_docs, n_bytes, weight, keep_p)``
    out, weight ∝ sqrt(bytes) normalized, keep_p realizing the
    ``_MIX_FRAC`` byte target. Every mixing operator (standalone
    weights, sampled corpus, composed pipeline) and every SQL oracle
    (via :func:`_sql_mix_ctes`) derives from this one definition, so
    the formula cannot drift between call sites."""
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_bytes"),
    )
    tot = per_src.agg(
        F.sum("n_bytes").alias("total_bytes"),
        F.sum(F.sqrt(F.col("n_bytes").cast("double"))).alias("z"),
    )
    w = F.sqrt(F.col("n_bytes").cast("double")) / F.col("z")
    keep_p = F.least(
        F.lit(1.0),
        F.lit(_MIX_FRAC)
        * F.col("total_bytes").cast("double")
        * w
        / F.col("n_bytes").cast("double"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_bytes",
        F.round(w, 8).alias("weight"),
        F.round(keep_p, 8).alias("keep_p"),
    )


def _sql_mix_ctes(src_rel: str) -> str:
    """The oracle spelling of :func:`mix_weights` as CTE text over any
    source relation — one definition feeds all three mixing oracles."""
    return f"""per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_bytes
  FROM {src_rel} GROUP BY source
), tot AS (
  SELECT SUM(n_bytes) AS total_bytes,
         SUM(sqrt(CAST(n_bytes AS DOUBLE))) AS z
  FROM per_src
), probs AS (
  SELECT source, n_docs, n_bytes,
         ROUND(sqrt(CAST(n_bytes AS DOUBLE)) / z, 8) AS weight,
         ROUND(LEAST(1.0, {_MIX_FRAC} * CAST(total_bytes AS DOUBLE)
                          * (sqrt(CAST(n_bytes AS DOUBLE)) / z)
                          / CAST(n_bytes AS DOUBLE)), 8) AS keep_p
  FROM per_src, tot
)"""


def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-mixing weights: weight ∝ bytes^α
    (α={a}), normalized, plus the per-document keep probability that
    realizes a {f:.0%}-of-corpus target. The mixture-design step of
    every multilingual / multi-source LM data pipeline.

    Scale shape: one map-side-combinable aggregate over the corpus
    (|sources| rows out), a 1-row total broadcast back — the corpus is
    scanned once and only source+n_chars columns are read."""
    return mix_weights(_docs(spark, sf_dir).select("source", "n_chars"))


source_mixing_weights.__doc__ = source_mixing_weights.__doc__.format(
    a=0.5, f=_MIX_FRAC
)


SOURCE_MIXING_WEIGHTS_SQL = f"""
WITH {_sql_mix_ctes('documents')}
SELECT source, n_docs, n_bytes, weight, keep_p FROM probs
"""


def temperature_mixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: keep each document with its
    source's keep probability, decided by a DETERMINISTIC md5 draw on
    doc_id — so the sample is a pure function of the corpus (re-runs,
    backfills, and the oracle agree row-for-row; ``sample()``/``rand``
    would not be replayable).

    Scale shape: the |sources|-row probability table broadcasts onto
    the corpus scan; the keep decision is a codegen'd hash compare —
    one pass, no shuffle of the corpus, no Python."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    probs = source_mixing_weights(spark, sf_dir).select("source", "keep_p")
    u = F.expr(_md5_uniform_expr("doc_id", duck=False))
    return (
        d.join(F.broadcast(probs), "source")
        .filter(u < F.col("keep_p"))
        .select("doc_id", "source")
    )


TEMPERATURE_MIXED_SAMPLE_SQL = f"""
WITH {_sql_mix_ctes('documents')}
SELECT d.doc_id, d.source
FROM documents d JOIN probs p ON d.source = p.source
WHERE {_md5_uniform_expr('d.doc_id', duck=True)} < p.keep_p
"""


_EMBED_DIM = 64


def embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick,
    Weinberger et al. 2009 — the stateless featurizer production
    pipelines use when a model pass is too expensive): each token
    hashes to one of {d} buckets with a ±1 sign hash, bucket values
    are signed term counts, the vector is L2-normalized. Bridges the
    text tier into the vector tier (the ANN / near-dup / clustering
    operators run unchanged on this output).

    Scale shape: 100% JVM — explode → two hash-aggregates (token
    bucket sum, then map_from_entries per doc) → a sequence/transform
    densify; no Python, no vocabulary state, no driver collection.
    The vocabulary-free property is the point at 100 TB: no fit step,
    no dictionary broadcast, append-only safe.

    xxhash64 is engine-specific → rows-only driver check; determinism,
    dimension, and unit-norm invariants are pytest-asserted.

    Output boundary: the registry-facing result serializes the vector
    to a JSON string (scalar column — the driver canonicalizer cannot
    hash list cells); internal callers compose the array-returning
    ``embed_docs_df`` directly."""
    out = embed_docs_df(_docs(spark, sf_dir).select("doc_id", "text"))
    return out.select(
        "doc_id", F.to_json(F.col("embedding")).alias("embedding_json")
    )


def embed_docs_df(d: DataFrame) -> DataFrame:
    """The featurizer as a DataFrame-in/DataFrame-out kernel:
    ``(doc_id, text)`` → ``(doc_id, embedding)``. Per-document pure
    function (no corpus statistics), so embedding a subset equals the
    subset of embeddings — callers may featurize k rows cheaply (e.g.
    SemDeDup centroid fetch)."""
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    # one hash per token: low 6 bits pick the bucket, bit 6 the sign
    h = F.xxhash64(F.col("term"))
    signed = toks.select(
        "doc_id",
        F.pmod(h, F.lit(_EMBED_DIM)).cast("int").alias("idx"),
        F.when(F.shiftright(h, 6).bitwiseAND(F.lit(1)) == 0, 1.0)
        .otherwise(-1.0)
        .alias("sign"),
    )
    buckets = signed.groupBy("doc_id", "idx").agg(F.sum("sign").alias("v"))
    dense = (
        buckets.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("idx", "v"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(_EMBED_DIM - 1)),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
            ).alias("raw"),
        )
    )
    # empty/whitespace-only docs have no tokens and would vanish at the
    # explode — left-join back so EVERY doc_id gets a row (zero vector),
    # matching the exact-dedup operators' every-id-classified contract
    dense = (
        d.select("doc_id")
        .join(dense, "doc_id", "left")
        .withColumn(
            "raw",
            F.coalesce(
                F.col("raw"),
                F.array_repeat(F.lit(0.0), _EMBED_DIM),
            ),
        )
    )
    # materialize the norm in its own select so it's computed once per
    # row, not once per array element inside the transform lambda
    # (same pattern as similarity._normalized)
    with_norm = dense.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    return with_norm.select(
        "doc_id",
        F.transform(
            F.col("raw"),
            lambda x: F.when(F.col("nrm") > 0, x / F.col("nrm")).otherwise(x),
        ).alias("embedding"),
    )


embed_documents.__doc__ = embed_documents.__doc__.format(d=_EMBED_DIM)


_LM_VOCAB = 100


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring (the CCNet/KenLM-style quality filter, with
    the LM reduced to corpus unigrams so the oracle can replay it):
    per-document average negative log-probability under an add-one
    smoothed top-V unigram model estimated from the corpus itself.
    High avg_nll = improbable token stream = filter candidate.

    Scale shape: term estimation is one combinable hash-agg; the
    top-V rank runs over the |vocabulary| aggregate; the V-row model
    broadcasts onto the token stream; per-doc scoring is one doc_id
    shuffle. OOV tokens take the uniform smoothing mass (ln 1 = 0
    inside the sum, the N+V+1 normalizer carries their probability).
    Rounded to 4dp: a per-doc float sum's partition-order wobble is
    ~1e-13, far inside the rounding guard."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tokens = d.select("doc_id", F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    counts = tokens.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    nv = counts.agg(F.sum("tf").alias("n_total"))
    vocab = (
        counts.orderBy(F.desc("tf"), "term")
        .limit(_LM_VOCAB)
        .select("term", "tf")
    )
    per_doc = (
        tokens.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log(F.coalesce(F.col("tf"), F.lit(0)) + 1)).alias("s"),
        )
    )
    denom = F.log(F.col("n_total") + _LM_VOCAB + 1)
    return per_doc.crossJoin(F.broadcast(nv)).select(
        "doc_id",
        "n_tokens",
        F.round(
            -(F.col("s") - F.col("n_tokens") * denom) / F.col("n_tokens"), 4
        ).alias("avg_nll"),
    )


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring — the second-order sibling of
    :func:`unigram_logprob_scores` (KenLM-style filters use n-gram
    context; a bigram model already separates token-soup from fluent
    text far better than unigrams): per-document average negative
    log-probability under an add-one smoothed bigram model
    ``P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)`` estimated from the corpus
    itself (``c(w1·)`` = bigram-context count, ``V`` = full corpus
    vocabulary).

    Scale shape: bigram construction is NARROW (``arrays_zip`` of two
    shifted slices inside the explode — position pairing costs no
    shuffle and no self-join). Model estimation is two partial+final
    hash-aggs (bigram and context counts). Scoring joins the token
    stream back to the model on its own group keys — one-row-per-key
    build sides, so AQE skew-split handles hot bigrams — and the
    1-row vocabulary size broadcasts. Per-doc reduction is one
    ``doc_id`` hash-agg. Rounded to 4dp: per-doc float-sum wobble is
    ~1e-13, inside the rounding guard (same convention as the unigram
    scorer)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.0").alias("w1"), F.col("b.1").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vn = (
        d.select(F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .agg(F.countDistinct("term").alias("v"))
    )
    per_doc = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vn))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.log(F.col("c2") + 1) - F.log(F.col("c1") + F.col("v"))
            ).alias("s"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(-F.col("s") / F.col("n_bigrams"), 4).alias("avg_nll"),
    )


BIGRAM_LOGPROB_SCORES_SQL = r"""
WITH docs AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
  WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 2
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM docs, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
), vn AS (
  SELECT COUNT(DISTINCT term) AS v
  FROM (SELECT doc_id, t.term
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents),
             UNNEST(toks) AS t(term)
        WHERE t.term <> '')
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(-SUM(LN(c2 + 1) - LN(c1 + v)) / COUNT(*), 4) AS avg_nll
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vn
GROUP BY doc_id
"""


UNIGRAM_LOGPROB_SCORES_SQL = rf"""
WITH tokens AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
       UNNEST(toks) AS t(term)
  WHERE t.term <> ''
), counts AS (
  SELECT term, COUNT(*) AS tf FROM tokens GROUP BY term
), nv AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM counts
), vocab AS (
  SELECT term, tf FROM counts ORDER BY tf DESC, term LIMIT {_LM_VOCAB}
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(LN(COALESCE(v.tf, 0) + 1)) AS s
  FROM tokens tk LEFT JOIN vocab v USING (term)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(-(s - n_tokens * LN(n_total + {_LM_VOCAB} + 1)) / n_tokens, 4)
         AS avg_nll
FROM per_doc, nv
"""


_TEXT_SEMDEDUP_COSINE = 0.95


def text_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup of the TEXT corpus: hash-embed every
    document (:func:`embed_documents`, no model, no fit) and run the
    SemDeDup cluster-then-near-dup kernel over the result — the
    featurize → assign → within-cluster dedup stages compose as one
    lazy plan. The ONLY materialization is the bounded k-row centroid
    fetch, and it featurizes just the k lowest-id docs (a per-document
    pure function, so the subset embedding equals the full-corpus
    embedding) — never the whole corpus twice.

    Cosine {t} on hashed bag-of-words embeddings ≈ near-identical
    token multisets: exact duplicates score 1.0, light edits stay
    above the bar, unrelated docs fall far below. Rows-only driver
    check (hash/GEMM are engine-specific); the exact-duplicate
    containment invariant is pytest-asserted."""
    from data_ingestion_tool_spark.operators.similarity import (
        _SEMDEDUP_K,
        semdedup,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    cheap_centroids = embed_docs_df(d.orderBy("doc_id").limit(_SEMDEDUP_K))
    return semdedup(
        embed_docs_df(d),
        id_col="doc_id",
        threshold=_TEXT_SEMDEDUP_COSINE,
        centroid_source=cheap_centroids,
    )


text_semantic_dedup.__doc__ = text_semantic_dedup.__doc__.format(
    t=_TEXT_SEMDEDUP_COSINE
)


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-preparation pipeline as ONE Catalyst plan with
    an EXACT oracle: exact dedup (md5 fingerprint, keep min doc_id) →
    length quality gate → temperature source mixing (keep probability
    computed over the POST-dedup corpus — the cascading aggregate a
    real pipeline needs) → token-budget sequence packing. Output is
    the per-document training assignment (source, pack_bucket,
    seq_no), verifiable row-for-row.

    Scale shape: two window shuffles (fingerprint dedup, pack cumsum)
    + one |sources|-row broadcast; no stage materializes, no driver
    round-trip, every stage's cost is the one the standalone operator
    pays."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w_dup = Window.partitionBy(
        F.md5(F.lower(F.trim(F.col("text"))))
    ).orderBy("doc_id")
    base = (
        d.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000))
        .select("doc_id", "source", "n_chars", "text")
    )
    probs = mix_weights(base.select("source", "n_chars")).select(
        "source", "keep_p"
    )
    u = F.expr(_md5_uniform_expr("doc_id", duck=False))
    mixed = (
        base.join(F.broadcast(probs), "source")
        .filter(u < F.col("keep_p"))
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") % _PACK_BUCKETS).alias("pack_bucket"),
            F.size(_tokens()).alias("ws_tokens"),
        )
    )
    w_pack = (
        Window.partitionBy("pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("ws_tokens").over(w_pack) - F.col("ws_tokens")
    return mixed.select(
        "doc_id",
        "source",
        "pack_bucket",
        F.floor(cum_before / _PACK_BUDGET).alias("seq_no"),
        "ws_tokens",
    )


CORPUS_PREP_PIPELINE_SQL = rf"""
WITH deduped AS (
  SELECT doc_id, source, n_chars, text
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                 ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1 AND n_chars BETWEEN 100 AND 2000
), {_sql_mix_ctes('deduped')}, mixed AS (
  SELECT d.doc_id, d.source,
         d.doc_id % {_PACK_BUCKETS} AS pack_bucket,
         len(string_split_regex(trim(d.text), '\s+')) AS ws_tokens
  FROM deduped d JOIN probs p ON d.source = p.source
  WHERE {_md5_uniform_expr('d.doc_id', duck=True)} < p.keep_p
)
SELECT doc_id, source, pack_bucket,
       CAST(FLOOR((SUM(ws_tokens) OVER (PARTITION BY pack_bucket
                                        ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                   - ws_tokens) / {_PACK_BUDGET}) AS BIGINT) AS seq_no,
       ws_tokens
FROM mixed
"""


_BATCH_SIZE = 32


def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference-serving prep: order documents by token length and cut
    into fixed-size batches, so every batch holds similar-length docs
    and padding waste (batch_max − doc_len) is minimized — the
    length-bucketing trick every batched-inference pipeline uses.

    Scale shape: one global sort by (length, doc_id) — rangepartition
    + local sort, spill-safe — then batch_id = floor(rank/size) and a
    per-batch padding-waste aggregate over |docs|/size rows. Output is
    per-batch stats, verifiable exactly."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.size(_tokens()).alias("n_tokens"))
    w = Window.orderBy("n_tokens", "doc_id")
    batched = toks.select(
        "doc_id",
        "n_tokens",
        F.floor((F.row_number().over(w) - 1) / _BATCH_SIZE).alias("batch_id"),
    )
    return batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        # waste = Σ(batch_max − len) = max·count − Σlen, agg-only form
        (
            F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")
        ).alias("padding_waste"),
    )


LENGTH_BUCKETED_BATCHES_SQL = rf"""
WITH toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
), batched AS (
  SELECT doc_id, n_tokens,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1)
                    / {_BATCH_SIZE}) AS BIGINT) AS batch_id
  FROM toks
)
SELECT batch_id, COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
       CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT)
         AS padding_waste
FROM batched
GROUP BY batch_id
"""


def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity diagnostic: per-source Shannon entropy of the
    token distribution (nats). Low entropy flags templated/boilerplate
    sources; the number every corpus-mixing decision wants next to raw
    byte counts.

    Scale shape: one (source, term) hash-agg (map-side combinable),
    per-source totals ride the same aggregate tree, entropy is
    Σ −p·ln p over the |source|×|vocab| counts — the corpus shuffles
    once, by term-within-source. Rounded to 4dp (float-sum wobble is
    orders below)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    terms = d.select("source", F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    tot = tf.groupBy("source").agg(F.sum("n").alias("n_total"))
    p_ = F.col("n").cast("double") / F.col("n_total")
    return (
        tf.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(-F.sum(p_ * F.log(p_)), 4).alias("entropy_nats"),
        )
    )


SOURCE_TOKEN_ENTROPY_SQL = r"""
WITH tf AS (
  SELECT source, t.term, COUNT(*) AS n
  FROM (SELECT source,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
       UNNEST(toks) AS t(term)
  WHERE t.term <> ''
  GROUP BY source, t.term
), tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_total FROM tf GROUP BY source
)
SELECT tf.source, COUNT(*) AS n_terms,
       ROUND(-SUM((CAST(n AS DOUBLE) / n_total)
                  * LN(CAST(n AS DOUBLE) / n_total)), 4) AS entropy_nats
FROM tf JOIN tot ON tf.source = tot.source
GROUP BY tf.source
"""


#: BPE trainer size: merges learned, and the regex-safe symbol guard.
_BPE_MERGES = 12


def bpe_learn(vocab, n_merges: int) -> list[tuple]:
    """Incremental greedy BPE over a ``(word, freq)`` vocabulary — the
    merge kernel :func:`bpe_fit_merges` runs in one executor task.

    Pair counts are built once; each merge re-counts only the words
    that contain the merged pair (the ``where`` index), so a merge
    costs O(words touched), not O(vocab). Tie-break: highest weighted
    count, then lexicographic ``"left right"``; stops early when the
    best pair occurs fewer than 2 times. Returns
    ``[(rank, left, right, pair_count), ...]``.
    """
    words: list[list[str]] = []
    freqs: list[int] = []
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def add(i: int, sign: int) -> None:
        syms, f = words[i], sign * freqs[i]
        for p in zip(syms, syms[1:]):
            c = counts.get(p, 0) + f
            if c:
                counts[p] = c
                if sign > 0:
                    where.setdefault(p, set()).add(i)
            else:
                del counts[p]
                where.pop(p, None)

    for w, f in vocab:
        words.append(list(w))
        freqs.append(int(f))
        add(len(words) - 1, 1)

    merges = []
    for rank in range(n_merges):
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        if cnt < 2:
            break
        merges.append((rank, left, right, cnt))
        # greedy left-to-right, non-overlapping: afterwards no word
        # holds (left, right), so the index entry is spent
        for i in where.pop((left, right)):
            add(i, -1)
            syms, res, j = words[i], [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                    res.append(left + right)
                    j += 2
                else:
                    res.append(syms[j])
                    j += 1
            words[i] = res
            add(i, 1)
    return merges


def _bpe_fit_batches(batches, n_merges: int):
    """``mapInPandas`` adapter: gather the single partition's vocab
    batches and emit the learned merge table as one frame."""
    import pandas as pd

    vocab = [
        pair
        for pdf in batches
        for pair in zip(pdf["w"].tolist(), pdf["freq"].tolist())
    ]
    out = pd.DataFrame(
        bpe_learn(vocab, n_merges),
        columns=["rank", "left", "right", "pair_count"],
    )
    yield out.astype({"rank": "int32", "pair_count": "int64"})


def bpe_fit_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed byte-pair-encoding tokenizer training (Sennrich et
    al. 2016): learn the top-``_BPE_MERGES`` merge rules from the
    corpus — the fit step of every subword tokenizer pipeline.

    Scale shape (mirrors real BPE trainers): the corpus is scanned
    ONCE, partition-parallel, into a (word, freq) vocabulary by one
    JVM hash aggregate. The vocabulary — distinct words, orders of
    magnitude smaller than the corpus — is then gathered into ONE
    partition and the whole greedy merge loop runs in a single
    ``mapInPandas`` task (:func:`bpe_learn`, incremental pair counts).
    The vocab-sized state lives on one executor, never the driver,
    and the job count does not depend on the merge count: the fit is
    one lazy plan, executed by the caller's action.

    Deterministic (ties broken lexicographically on ``"left right"``)
    and differential-tested against a pure-Python reference BPE on a
    planted corpus; non-SQL-expressible (iterative) → rows-only
    driver check.

    Returns the learned merge table (rank, left, right, pair_count).
    """
    from functools import partial

    d = _docs(spark, sf_dir)
    vocab = (
        d.select(F.explode(_tokens()).alias("w"))
        .where(F.col("w").rlike(r"^[a-z0-9]+$"))  # regex-safe symbols
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return vocab.repartition(1).mapInPandas(
        partial(_bpe_fit_batches, n_merges=_BPE_MERGES),
        "rank int, left string, right string, pair_count long",
    )


def bpe_reference(words: dict[str, int], n_merges: int) -> list[tuple]:
    """Pure-Python reference BPE (the differential oracle for
    :func:`bpe_fit_merges`): identical greedy merge + lexicographic
    tie-break, driven from a word-frequency dict."""
    vocab = {" ".join(w): f for w, f in words.items()}
    out = []
    for rank in range(n_merges):
        counts: dict[tuple, int] = {}
        for sym, f in vocab.items():
            parts = sym.split(" ")
            for a, b in zip(parts, parts[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        if cnt < 2:
            break
        out.append((rank, left, right, cnt))

        def merge_seq(sym: str) -> str:
            parts = sym.split(" ")
            res, i = [], 0
            while i < len(parts):
                if (
                    i + 1 < len(parts)
                    and parts[i] == left
                    and parts[i + 1] == right
                ):
                    res.append(left + right)
                    i += 2
                else:
                    res.append(parts[i])
                    i += 1
            return " ".join(res)

        vocab = {merge_seq(s): f for s, f in vocab.items()}
    return out


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus and report per-doc
    subword counts + compression vs whitespace tokens — the fit→apply
    pair of a tokenizer pipeline.

    Scale shape — word-level memoization, exactly how production
    tokenizers amortize: merges apply to the DISTINCT-WORD table (each
    unique word tokenized once, 12 codegen regexp passes over the
    small vocab), and the resulting word→n_subwords map rides a
    BROADCAST join back onto the token stream — the corpus itself is
    never char-split or regexp-scanned. A 1000× corpus re-tokenizes
    the same vocab table and only grows the broadcast-joined stream.
    (If the distinct-word table ever outgrows broadcast size — ~100M+
    words — drop the hint and the same plan becomes a word-keyed
    shuffle join; the memoization structure is unchanged.)

    Rows-only driver check (depends on the learned merge sequence);
    differential-tested against the pure-Python reference apply."""
    merges = [
        (r["left"], r["right"])
        for r in bpe_fit_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    d = _docs(spark, sf_dir)
    words = (
        d.select(F.explode(_tokens()).alias("w"))
        .where(F.col("w").rlike(r"^[a-z0-9]+$"))
        .distinct()
        .repartition(4)
    )
    sym = F.trim(F.regexp_replace(F.col("w"), r"(.)", r"$1 "))
    for left, right in merges:
        sym = F.regexp_replace(
            sym, rf"(?<=^| ){left} {right}(?= |$)", left + right
        )
    word_len = words.select(
        "w", F.size(F.split(sym, " ")).alias("n_subwords")
    )
    toks = d.select("doc_id", F.explode(_tokens()).alias("w")).where(
        F.col("w").rlike(r"^[a-z0-9]+$")
    )
    return (
        toks.join(F.broadcast(word_len), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subwords").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens") / F.col("n_words").cast("double"), 6
            ).alias("subwords_per_word"),
        )
    )


def bpe_apply_reference(word: str, merges: list[tuple]) -> list[str]:
    """Pure-Python reference apply (greedy, in learned merge order) —
    the differential oracle for :func:`bpe_token_counts`."""
    parts = list(word)
    for left, right in merges:
        res, i = [], 0
        while i < len(parts):
            if i + 1 < len(parts) and parts[i] == left and parts[i + 1] == right:
                res.append(left + right)
                i += 2
            else:
                res.append(parts[i])
                i += 1
        parts = res
    return parts


# ---------------------------------------------------------------------------
# Round-4 additions: stratified A-Res sampling, n-gram novelty scoring,
# per-source calibrated quality ensemble
# ---------------------------------------------------------------------------

_STRAT_WRS_K = 10


def stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE weighted sampling without replacement: the top
    ``_STRAT_WRS_K`` documents of EACH source by the Efraimidis–
    Spirakis A-Res key ln(u)/w (u = deterministic md5-uniform, w =
    byte weight) — the stratified sibling of the global
    :func:`weighted_doc_sample`, i.e. "a byte-weighted sample that
    guarantees every source is represented", the draw a mixing recipe
    makes per source before temperature reweighting.

    Scale shape: ONE hash shuffle on ``source`` feeds a rank window
    whose filter plans as WindowGroupLimit — each task keeps only its
    partial per-source top-k BEFORE the exchange, so executor memory
    is O(k·|sources|) however large the corpus (plan-asserted). The
    sample is a pure function of the corpus: replayable, oracle-exact.
    """
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("wrs_key"), "doc_id")
    return (
        d.select("doc_id", "source", "n_chars",
                 _ares_key_col().alias("wrs_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _STRAT_WRS_K)
        .select("doc_id", "source", "n_chars",
                F.round("wrs_key", 9).alias("wrs_key"), "rk")
    )


STRATIFIED_WEIGHTED_SAMPLE_SQL = rf"""
SELECT doc_id, source, n_chars,
       ROUND({_ares_key_sql()}, 9) AS wrs_key,
       rk
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_ares_key_sql()} DESC, doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {_STRAT_WRS_K}
"""


def token_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    word 3-grams that no smaller-id document contains — the curation
    signal that separates "adds new content" from "restates the
    corpus" (high-duplication docs score near 0, fresh docs near 1;
    the ordered-stream view of what MinHash measures pairwise).

    Scale shape: distinct 3-grams explode narrowly (doc_id, gram);
    the first-occurrence table is ONE gram-keyed hash-agg (min doc_id,
    map-side combinable); novelty is a gram-keyed join back + per-doc
    agg — two key-partitioned shuffles, no pair enumeration, exact
    integer counts under the rounded division.

    The token array is PROJECTED ONCE before the gram transform:
    referencing ``split(text)`` inside the lambda would re-split the
    whole document for every gram element (no common-subexpression
    elimination inside higher-order functions) — O(|doc|·|grams|)
    per row, measured 10× slower at sf0.1.
    """
    # fan_out: the gram transform + explode is heavy per-row work on
    # the unsplittable single-row-group bench input (alternated
    # min-of-3 A/B: 0.71×, identical rows; no-op at scale)
    d = fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = F.col("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ", F.get(toks, i), F.get(toks, i + 1), F.get(toks, i + 2)
            ),
        )
    )
    sh = (
        d.select("doc_id", _tokens().alias("toks"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    first = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


TOKEN_NGRAM_NOVELTY_SQL = r"""
WITH sh AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 3
),
first_seen AS (SELECT gram, MIN(doc_id) AS first_doc FROM sh GROUP BY gram)
SELECT sh.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty
FROM sh JOIN first_seen f USING (gram)
GROUP BY sh.doc_id
"""


def doc_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated quality ensemble: three cheap signals — stopword
    ratio, alphabetic ratio, distinct-token ratio — each converted to
    a PER-SOURCE percent_rank before averaging, so no source dominates
    because its raw signal distribution sits higher (the
    quantile-calibration step production quality filters apply before
    thresholding across heterogeneous sources).

    Scale shape: the three signals are pure per-row Column
    expressions; calibration is three rank windows over ONE
    source-hash exchange (same partition key, different sort);
    deterministic (signal, doc_id) tie-breaks make percent_rank — and
    therefore the ensemble — a pure function of the corpus.
    """
    d = _docs(spark, sf_dir)
    toks = _tokens()
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / n_tokens
    )
    alpha_ratio = (
        F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    base = d.select(
        "doc_id",
        "source",
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    )

    def pr(col: str) -> F.Column:
        w = Window.partitionBy("source").orderBy(F.col(col), F.col("doc_id"))
        return F.percent_rank().over(w)

    scored = base.select(
        "doc_id",
        "source",
        pr("stop_ratio").alias("p_stop"),
        pr("alpha_ratio").alias("p_alpha"),
        pr("distinct_ratio").alias("p_distinct"),
    )
    ens = (F.col("p_stop") + F.col("p_alpha") + F.col("p_distinct")) / 3
    return scored.select(
        "doc_id",
        "source",
        F.round("p_stop", 6).alias("p_stop"),
        F.round("p_alpha", 6).alias("p_alpha"),
        F.round("p_distinct", 6).alias("p_distinct"),
        F.round(ens, 6).alias("ensemble_score"),
        (ens >= 0.5).alias("keep"),
    )


DOC_QUALITY_ENSEMBLE_SQL = rf"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t IN ({_SW_LIST}))) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS stop_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / length(text) AS alpha_ratio,
         CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')) AS distinct_ratio
  FROM documents
), ranked AS (
  SELECT doc_id, source,
         PERCENT_RANK() OVER (PARTITION BY source
                              ORDER BY stop_ratio, doc_id) AS p_stop,
         PERCENT_RANK() OVER (PARTITION BY source
                              ORDER BY alpha_ratio, doc_id) AS p_alpha,
         PERCENT_RANK() OVER (PARTITION BY source
                              ORDER BY distinct_ratio, doc_id) AS p_distinct
  FROM base
)
SELECT doc_id, source,
       ROUND(p_stop, 6) AS p_stop,
       ROUND(p_alpha, 6) AS p_alpha,
       ROUND(p_distinct, 6) AS p_distinct,
       ROUND((p_stop + p_alpha + p_distinct) / 3, 6) AS ensemble_score,
       (p_stop + p_alpha + p_distinct) / 3 >= 0.5 AS keep
FROM ranked
"""


SPECS: list[QuerySpec] = [
    QuerySpec("stratified_weighted_sample", stratified_weighted_sample,
              STRATIFIED_WEIGHTED_SAMPLE_SQL,
              "per-source A-Res weighted sample (WindowGroupLimit top-k)",
              ("text", "llm", "sampling")),
    QuerySpec("token_ngram_novelty", token_ngram_novelty,
              TOKEN_NGRAM_NOVELTY_SQL,
              "per-doc fraction of 3-grams no earlier doc contains",
              ("text", "llm", "dedup")),
    QuerySpec("doc_quality_ensemble", doc_quality_ensemble,
              DOC_QUALITY_ENSEMBLE_SQL,
              "per-source percent_rank-calibrated 3-signal quality score",
              ("text", "llm", "quality")),
    QuerySpec("bpe_fit_merges", bpe_fit_merges, None,
              "BPE tokenizer training: one-task incremental merge loop "
              "over the vocab table",
              ("text", "llm", "ml")),
    QuerySpec("bpe_token_counts", bpe_token_counts, None,
              "BPE apply via word-memoized broadcast tokenization",
              ("text", "llm")),
    QuerySpec("source_token_entropy", source_token_entropy,
              SOURCE_TOKEN_ENTROPY_SQL,
              "per-source Shannon token entropy (boilerplate detector)",
              ("text", "profiling")),
    QuerySpec("length_bucketed_batches", length_bucketed_batches,
              LENGTH_BUCKETED_BATCHES_SQL,
              "inference length bucketing: per-batch padding-waste stats",
              ("text", "llm")),
    QuerySpec("corpus_prep_pipeline", corpus_prep_pipeline,
              CORPUS_PREP_PIPELINE_SQL,
              "dedup → quality gate → temperature mix → pack, one plan",
              ("text", "llm", "flagship")),
    QuerySpec("unigram_logprob_scores", unigram_logprob_scores,
              UNIGRAM_LOGPROB_SCORES_SQL,
              "unigram-LM perplexity-style quality scores (CCNet-shape)",
              ("text", "llm")),
    QuerySpec("bigram_logprob_scores", bigram_logprob_scores,
              BIGRAM_LOGPROB_SCORES_SQL,
              "add-one smoothed bigram-LM quality scores",
              ("text", "llm")),
    QuerySpec("text_semantic_dedup", text_semantic_dedup, None,
              "composed featurize → SemDeDup over the text corpus",
              ("text", "dedup", "similarity")),
    QuerySpec("embed_documents", embed_documents, None,
              "vocabulary-free feature-hashing doc embeddings (JVM-only)",
              ("text", "similarity", "ml")),
    QuerySpec("source_mixing_weights", source_mixing_weights,
              SOURCE_MIXING_WEIGHTS_SQL,
              "temperature (bytes^alpha) source-mixing weight design",
              ("text", "sampling")),
    QuerySpec("temperature_mixed_sample", temperature_mixed_sample,
              TEMPERATURE_MIXED_SAMPLE_SQL,
              "deterministic temperature-mixed corpus sample",
              ("text", "sampling")),
    QuerySpec("heavy_hitter_terms", heavy_hitter_terms, None,
              "Misra-Gries bounded-state heavy-hitter sketch",
              ("text", "sketch")),
    QuerySpec("exact_top_terms", exact_top_terms, EXACT_TOP_TERMS_SQL,
              "exact driver-checkable twin of heavy_hitter_terms",
              ("text", "agg")),
    QuerySpec("bm25_search", bm25_search, BM25_SEARCH_SQL,
              "BM25 top-k retrieval with query-filtered token stream",
              ("text", "search")),
    QuerySpec("cooccurrence_pmi", cooccurrence_pmi, COOCCURRENCE_PMI_SQL,
              "bounded-vocabulary term-pair PMI co-occurrence",
              ("text", "ml")),
    QuerySpec("source_vocab_overlap", source_vocab_overlap,
              SOURCE_VOCAB_OVERLAP_SQL,
              "source-pair vocabulary Jaccard (mixing-decision matrix)",
              ("text", "profiling")),
    QuerySpec("doc_rolling_fingerprints", doc_rolling_fingerprints,
              DOC_ROLLING_FINGERPRINTS_SQL,
              "Rabin-Karp polynomial rolling-hash fingerprints",
              ("text", "dedup")),
    QuerySpec("weighted_doc_sample", weighted_doc_sample,
              WEIGHTED_DOC_SAMPLE_SQL,
              "A-Res weighted sampling without replacement, replayable",
              ("text", "llm")),
    QuerySpec("boilerplate_ngram_flags", boilerplate_ngram_flags,
              BOILERPLATE_SQL,
              "corpus-frequency boilerplate n-gram detection + keep flag",
              ("text", "dedup")),
    QuerySpec("doc_sample_balanced", doc_sample_balanced,
              DOC_SAMPLE_BALANCED_SQL,
              "deterministic md5-ordered per-language balanced sample",
              ("text",)),
    QuerySpec("vocab_oov_rate", vocab_oov_rate, VOCAB_OOV_RATE_SQL,
              "top-V vocabulary + per-doc out-of-vocabulary rate",
              ("text", "llm")),
    QuerySpec("pack_token_budget", pack_token_budget, PACK_TOKEN_BUDGET_SQL,
              "greedy training-sequence packing via bucketed cumsum",
              ("text", "llm")),
    QuerySpec("quality_score_linear", quality_score_linear,
              QUALITY_SCORE_LINEAR_SQL,
              "linear quality-model scoring via broadcast weights",
              ("text", "llm")),
    QuerySpec("tfidf_top_terms", tfidf_top_terms, TFIDF_TOP_TERMS_SQL,
              "exact TF-IDF top-3 terms per document", ("text",)),
    QuerySpec("normalize_text", normalize_text, NORMALIZE_TEXT_SQL,
              "canonical normalization + fingerprint (pre-dedup step)",
              ("text", "dedup")),
    QuerySpec("doc_chunks", doc_chunks, DOC_CHUNKS_SQL,
              "Python UDTF document chunking (lateral table function)",
              ("text",)),
    QuerySpec("training_data_pipeline", training_data_pipeline,
              TRAINING_DATA_PIPELINE_SQL,
              "filter → dedup → corpus stats, composed in one plan",
              ("text", "dedup", "flagship")),
    QuerySpec("text_stats", text_stats, TEXT_STATS_SQL,
              "per-doc token/char statistics", ("text",)),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_SQL,
              "heuristic quality score + keep flag", ("text",)),
    QuerySpec("lang_id", lang_id, LANG_ID_SQL,
              "marker-based language identification", ("text",)),
    QuerySpec("token_counts", token_counts, TOKEN_COUNTS_SQL,
              "whitespace + BPE-ish token counting", ("text",)),
    QuerySpec("doc_fingerprints", doc_fingerprints, DOC_FINGERPRINTS_SQL,
              "md5 content fingerprint", ("text",)),
    QuerySpec("decontaminate_ngram_overlap", decontaminate_ngram_overlap,
              DECONTAMINATE_SQL,
              "benchmark decontamination via 8-gram collision join",
              ("text", "dedup")),
    QuerySpec("repetition_score", repetition_score, REPETITION_SCORE_SQL,
              "intra-doc repetition: dup-3gram + top-token fractions",
              ("text",)),
    QuerySpec("doc_train_split", doc_train_split, DOC_TRAIN_SPLIT_SQL,
              "deterministic md5-hash train/val/test assignment",
              ("text",)),
    QuerySpec("redact_pii", redact_pii, REDACT_PII_SQL,
              "PII scrub: email/phone redaction + counts", ("text",)),
]
