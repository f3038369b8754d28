"""Deduplication operators (EXT tier, SURVEY.md §2.11): exact,
n-gram-Jaccard, MinHash-LSH, and SimHash near-dup detection over
``documents``, plus keyed exact dedup over ``events``.

Scale design:

- **Exact** dedup is a hash aggregation on a fingerprint — one shuffle
  on md5(text), no text comparison.
- **N-gram Jaccard** avoids the O(n²) pair space by the inverted-index
  pattern: explode distinct shingles → self-join on shingle → count
  intersections → filter. Only documents sharing ≥1 shingle ever meet.
  At 100 TB add a document-frequency cap on shingles (drop shingles
  appearing in >K docs) to bound the hottest join keys — noted inline.
- **MinHash-LSH** replaces the shingle join with a banded signature
  join: K=32 min-hashes, 8 bands × 4 rows (LSH threshold ≈
  (1/8)^(1/4) ≈ 0.59, matched to the 0.6 verify threshold). Candidates
  are verified with exact Jaccard, so precision is exact and only
  recall depends on banding.
- **SimHash** computes a 64-bit signature in a vectorized Arrow batch
  (numpy), then pairs via 8-bit band blocking (8 bands guarantee a
  collision for Hamming distance ≤ 7) and verifies with
  ``bit_count(xor)`` JVM-side.
- **Band buckets are capped** by one kernel, :func:`capped_pairs`,
  shared by MinHash, SimHash and the PassJoin tiny-title bucket.
- **Edit-distance pairs** use PassJoin segment blocking (content-based
  keys — bucket sizes track shared-prefix families, not corpus size),
  lossless below the hot-segment / tiny-bucket caps; beyond them the
  same :func:`lead_chain` demotion as the band buckets applies.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_tool_spark.operators.base import (
    QuerySpec,
    cached,
    materialize,
    stack_bands,
)
from data_ingestion_tool_spark.sources.tables import fan_out, load_table

JACCARD_THRESHOLD = 0.6
MINHASH_K = 32
MINHASH_BANDS = 8  # rows per band = MINHASH_K // MINHASH_BANDS = 4
#: LSH hot-bucket bound: each band-bucket member pairs with its next
#: W neighbors (doc_id order) instead of all-pairs — candidates per
#: bucket ≤ m·W, connectivity of duplicate families preserved.
_BAND_WINDOW = 16
#: Banded-dedup two-path split (SimHash + MinHash): buckets up to this
#: size keep the complete all-pairs join (≤ cap² candidates per
#: bucket); larger buckets demote to the sorted lead-window chains.
_BUCKET_CAP = 64
SIMHASH_MAX_HAMMING = 6
#: PassJoin hot-segment bound (``fuzzy_title_pairs``): segment keys
#: indexed by more than this many titles (boilerplate prefixes —
#: "Copyright ", a shared template head) demote from the complete
#: candidate equi-join to a sorted lead-window chain, the same
#: two-path discipline as the LSH band buckets. Sized above the
#: honest per-key maximum of every tested SF (sf0.1: 192) so the
#: oracle-exact output is unchanged where the oracle runs.
_SEG_BUCKET_CAP = 256


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Capped-bucket pairing (MinHash, SimHash, PassJoin)
# ---------------------------------------------------------------------------


def _bucket(key: tuple[str, ...]) -> list[Column]:
    """Partition columns of a bucket key; an empty key is one bucket."""
    return [F.col(c) for c in key] or [F.lit(0)]


def lead_chain(
    members: DataFrame,
    key: tuple[str, ...],
    order_by: tuple,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Pair each member of a bucket with its next ``_BAND_WINDOW``
    neighbours in ``order_by`` order: a bucket of m members yields at
    most m·W pairs, and they chain the whole bucket into one connected
    component. ``members`` holds ``doc_id``, the ``key`` columns and the
    ``payload`` columns; the result is ``doc_a, doc_b, <p>_a, <p>_b``
    with ``doc_a`` the earlier member in the order."""
    w = Window.partitionBy(*_bucket(key)).orderBy(*order_by)
    me = F.struct(F.col("doc_id").alias("id"), *payload)
    succs = F.filter(
        F.array(*[F.lead(me, j).over(w) for j in range(1, _BAND_WINDOW + 1)]),
        lambda x: x.isNotNull(),
    )
    return (
        members.select(me.alias("x"), succs.alias("succs"))
        .select("x", F.explode("succs").alias("y"))
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            *[F.col(f"x.{p}").alias(f"{p}_a") for p in payload],
            *[F.col(f"y.{p}").alias(f"{p}_b") for p in payload],
        )
    )


def bucket_pairs(
    members: DataFrame,
    key: tuple[str, ...],
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """The complete self-join of members sharing a bucket ``key``: every
    pair once, ``doc_a < doc_b``, columns as :func:`lead_chain`. An
    empty ``key`` makes all members one bucket, joined without a key."""

    def side(s: str) -> DataFrame:
        return members.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(p).alias(f"{p}_{s}") for p in payload],
            *key,
        )

    return (
        side("a")
        .join(side("b"), list(key) or None)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            *[f"{p}_a" for p in payload],
            *[f"{p}_b" for p in payload],
        )
    )


def capped_pairs(
    members: DataFrame,
    key: tuple[str, ...],
    order_by: tuple,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs of members sharing a bucket ``key``, bounded per
    bucket: buckets of up to ``_BUCKET_CAP`` members keep
    :func:`bucket_pairs`; larger buckets, whose complete pair set is
    quadratic (saturated band spaces, duplicate-heavy families), fall
    back to :func:`lead_chain`. Columns as :func:`lead_chain`."""
    sized = members.withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy(*_bucket(key)))
    )
    small = bucket_pairs(sized.filter(F.col("m") <= _BUCKET_CAP), key, payload)
    big = sized.filter(F.col("m") > _BUCKET_CAP)
    return small.unionByName(lead_chain(big, key, order_by, payload))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: canonical = min doc_id; one
    hash-agg shuffle on the fingerprint."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_DOCS_SQL = """
SELECT md5(lower(trim(text))) AS fingerprint,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed exact dedup with a deterministic keep rule: earliest event
    per (user_id, event_type) — the `dropDuplicates` semantics made
    reproducible via a total order."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id", "event_type", "event_id", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


DEDUP_FIRST_EVENT_SQL = """
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingle_sets(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word n-grams."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    with_toks = df.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= n
    )
    # Spark SQL array subscripts are 0-based.
    gram = " , ".join(f"toks[i+{j}]" for j in range(n))
    return with_toks.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', {gram}))"
            )
        ).alias("shingles"),
    )


def _jaccard_pairs_from_candidates(
    candidates: DataFrame, sets: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs.

    The per-doc hashed-shingle arrays (|docs| rows × ~K longs) are
    BROADCAST onto the candidate pairs — verification runs with zero
    shuffles, one ``array_intersect`` per pair. At corpus sizes where
    the doc-set table outgrows broadcast, drop the hints and the same
    plan becomes two shuffle joins.

    The hashed table is materialized ONCE (eager ``localCheckpoint``,
    round 12): it feeds TWO broadcast builds (the doc_a and doc_b
    sides), whose subtrees differ only by alias, so without the
    checkpoint the tokenize → shingle → array_distinct → hash pass ran
    over the corpus twice — once per broadcast (no exchange reuse
    across differently-aliased broadcasts). One corpus pass instead of
    two at any scale; blocks are |docs| × ~K longs, distributed.
    """
    hashed = sets.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh"),
    )
    hashed = materialize(hashed)
    joined = candidates.join(
        F.broadcast(
            hashed.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
        ),
        "doc_a",
    ).join(
        F.broadcast(
            hashed.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        joined.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def hashed_postings_from_docs(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle int64) built straight from the text column —
    the fast path: n-grams are hashed and deduped INSIDE the explode
    argument, so the Generate fans out 8-byte longs and the lambda
    chain never sits in a standalone Project above it (measured 3.5×
    on the explode at sf0.1 vs exploding through ``shingle_sets``)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    gram = " , ".join(f"toks[i+{j}]" for j in range(n))
    raw = F.expr(
        f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', {gram}))"
    )
    hashed = F.array_distinct(F.transform(raw, lambda s: F.xxhash64(s)))
    return (
        df.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", F.explode(hashed).alias("shingle"))
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.6: inverted-index
    join with **prefix filtering** (the AllPairs/SSJoin principle).

    Each document indexes only its ``|s| - ceil(t*|s|) + 1`` rarest
    shingles (global order = ascending document frequency): any pair
    with J ≥ t must share a prefix shingle, so candidate generation is
    lossless while the join touches only the rare tail of the posting
    lists — exactly the keys that can't explode. Candidate pairs are
    then verified with a full intersection count. At sf0.1 this cuts
    candidates ~20× vs joining all postings; at 100 TB it's the
    difference between joining stop-shingles and not.

    Set sizes and intersection counts both derive from ONE posting
    table, persisted across the document-frequency and prefix-ranking
    branches; verification joins broadcast per-doc arrays, touching no
    posting shuffle at all. The pair list is materialized before both
    persisted tables are released, so no cache outlives the call.
    """
    # fan_out: the shingle explode + xxhash64 per gram is heavy
    # per-row work below the first exchange; on the unsplittable
    # single-row-group bench input it otherwise runs one-core
    # (alternated min-of-3 A/B: 0.74×, identical pairs; no-op on
    # splittable at-scale inputs)
    docs = fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
    sets = shingle_sets(docs)
    posting = hashed_postings_from_docs(docs)
    # document frequency per shingle; broadcast back onto postings
    df_counts = posting.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    # rank within doc by rarity AND count the set size in the same
    # window exchange — one shuffle, no extra sizes join here
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_all = Window.partitionBy("doc_id")
    # df_counts is |distinct shingles| rows of (long, long) — broadcast
    # it so postings aren't shuffled just to pick up frequencies. (At
    # 100 TB the distinct-shingle table can exceed broadcast size; drop
    # the hint and this becomes a shuffle join on the same plan.)
    ranked = (
        posting.join(F.broadcast(df_counts), "shingle")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
    )
    prefix_len = F.col("n") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n")) + 1
    prefix = ranked.filter(F.col("rn") <= prefix_len).select("doc_id", "shingle")
    candidates = (
        prefix.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # cached: the df-count and prefix-ranking branches both read
    # posting, the candidate self-join reads prefix twice, and prefix's
    # lineage (df-count join + window) is the expensive stage; the
    # verified pair list (exact intersection over broadcast
    # hashed-shingle arrays) is materialized before both are released
    with cached(posting), cached(prefix):
        return materialize(_jaccard_pairs_from_candidates(candidates, sets))


DEDUP_NGRAM_JACCARD_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures_from_docs(df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """K min-hash values per document (``h0``..``h{k-1}``), computed
    NARROWLY (round 12): instead of exploding the hashed postings and
    paying a doc-keyed exchange into K min-aggregates, each doc row computes
    its K signature components in place —
    ``array_min(transform(grams, g -> xxhash64(i, xxhash64(g))))`` —
    so the signature stage is a pure projection: zero shuffles, no
    2M-row posting materialization, same per-gram hash count. The min
    over the raw gram multiset equals the min over the distinct set
    (min is duplicate-insensitive), so the values are bit-identical
    to the explode+agg formulation at any scale.

    PRECONDITION (r12 ADVICE): ``doc_id`` must be unique in ``df``.
    The explode+agg form collapsed duplicate doc_id rows into one
    signature; this per-row projection emits one signature row PER
    INPUT ROW, so downstream LSH banding multiplicity now depends on
    the input's uniqueness. Every caller feeds the documents table,
    whose doc_id is a primary key (enforced by the ingest contract and
    the oracle schema)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = 3
    gram = " , ".join(f"toks[i+{j}]" for j in range(n))
    raw = F.expr(
        f"transform(sequence(0, size(toks)-{n}), i -> concat_ws(' ', {gram}))"
    )
    hashed = F.transform(raw, lambda s: F.xxhash64(s))

    # NB: the seed must be bound through a closure that keeps the
    # lambda SINGLE-argument — a two-parameter lambda (e.g. a default
    # arg) makes PySpark pass the (element, index) form and the array
    # index silently replaces the seed
    def _seeded_min(i: int):
        return F.array_min(
            F.transform(F.col("grams"), lambda g: F.xxhash64(F.lit(i), g))
        )

    sig_cols = [_seeded_min(i).alias(f"h{i}") for i in range(k)]
    return (
        df.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("doc_id", hashed.alias("grams"))
        .select("doc_id", *sig_cols)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verify.

    Same output contract as dedup_ngram_jaccard on ordinary corpora;
    the banded join scales to corpora where even the shingle inverted
    index is too hot. Non-SQL-expressible (engine-specific hashes) →
    rows-only check + recall property-tested against the exact
    operator (tests).

    HOT-BUCKET BOUND: candidates come from
    :func:`capped_pairs` over the band buckets, so 1000 exact copies
    of one doc yield ~16k candidates, not ~10⁶ per band, and the
    chained pairs still CONNECT the duplicate family for the
    transitive closure of ``dedup_near_clusters``.
    """
    # fan_out: the posting explode + K seeded-hash min-aggs are heavy
    # per-row work below the first exchange; one-core on the
    # unsplittable bench input (alternated A/B: 0.80×/0.93× across two
    # windows, identical pairs; no-op on splittable at-scale inputs)
    docs = fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
    sets = shingle_sets(docs)
    candidates = minhash_lsh_candidates(docs)
    return _jaccard_pairs_from_candidates(candidates, sets)


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """The banded candidate generator behind :func:`dedup_minhash_lsh`:
    ``(doc_id, text)`` in → distinct ``(doc_a, doc_b)`` candidate pairs
    out, from :func:`capped_pairs` over the (band_idx, band_val)
    buckets with hot buckets chained in doc_id order. Separated so the
    blow-up bound is testable on a planted duplicate-heavy corpus."""
    sigs = minhash_signatures_from_docs(docs)
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_cols = [
        F.hash(*[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)])
        for b in range(MINHASH_BANDS)
    ]
    # cached for the duration of THIS builder only (released below
    # once the candidate union is materialized): the banded long form
    # feeds THREE consumers — the bucket-size window and both bucket
    # paths' self-join sides — and its lineage (the r12
    # projection-only signature stage) would otherwise recompute the
    # K seeded gram-hash mins per consumer
    long_form = stack_bands(sigs, band_cols, "doc_id")
    out = capped_pairs(long_form, ("band_idx", "band_val"), ("doc_id",)).distinct()
    # materialize the bounded candidate set, then release the
    # cached banded-signature table (same lifetime discipline as
    # dedup_simhash / semantic_dedup: never leave a session-pinned
    # cache behind); the checkpointed pair list is 16 bytes/row
    with cached(long_form):
        return materialize(out)


_MD5_K = 16  # hash-family size of the md5 anchor twin
_MD5_BANDS = 4  # 4 bands x 4 rows


def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PAIRED MinHash+LSH twin: same signatures → banding →
    candidates → exact-Jaccard-verify pipeline as
    :func:`dedup_minhash_lsh`, but every hash is md5-derived —
    h_i(shingle) = md5('i|' || shingle), band value =
    md5(h_a||'|'||…) — so signatures, band buckets, candidate pairs,
    and the verified output are ALL reproducible in ANSI SQL and the
    driver's DuckDB oracle hash-checks the full LSH pipeline
    cross-engine (the sketch-tier twin pattern of ``exact_user_reach``
    / ``ann_ivf_exact_rerank``, applied to the largest rows-only
    family).

    This is the correctness anchor, not the production path:
    ``dedup_minhash_lsh`` keeps the seeded-xxhash64 family (one
    string hash per shingle instead of K=16 md5 passes) and
    :func:`capped_pairs`; the anchor keeps the complete
    :func:`bucket_pairs` join because the oracle must replay it verbatim.
    Same scale shape otherwise — posting explode, K map-side min
    aggregates in ONE doc-keyed shuffle, band equi-join, broadcast
    verify."""
    docs = _docs(spark, sf_dir)
    sets = shingle_sets(docs)
    posting = sets.select("doc_id", F.explode("shingles").alias("sh"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(_MD5_K)
    ]
    sigs = posting.groupBy("doc_id").agg(*aggs)
    rows = _MD5_K // _MD5_BANDS
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"h{b * rows + j}") for j in range(rows)]))
        for b in range(_MD5_BANDS)
    ]
    long_form = stack_bands(sigs, band_cols, "doc_id")
    candidates = bucket_pairs(long_form, ("band_idx", "band_val")).distinct()
    return _jaccard_pairs_from_candidates(candidates, sets)


def _minhash_md5_sql() -> str:
    rows = _MD5_K // _MD5_BANDS
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || sh)) AS h{i}" for i in range(_MD5_K)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_val FROM sig".format(
            b=b,
            cat=" || '|' || ".join(
                f"h{b * rows + j}" for j in range(rows)
            ),
        )
        for b in range(_MD5_BANDS)
    )
    return rf"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 3
),
post AS (SELECT doc_id, unnest(s) AS sh FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM post GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b
FROM cand c
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.6
"""


DEDUP_MINHASH_MD5_SQL = _minhash_md5_sql()


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    vertices: DataFrame, edges: DataFrame, *, max_iters: int = 20
) -> DataFrame:
    """Min-label propagation over an undirected edge list →
    (id, canonical_id) where canonical is the component's min id.

    The iterative Spark pattern done right: each round is one
    groupBy-min over the (undirected) adjacency join, the frontier is
    ``localCheckpoint``-ed so lineage doesn't grow unboundedly, and the
    loop exits on a converged count. Near-dup clusters are shallow
    (diameter ≪ 20), so rounds ≈ cluster diameter, not |V|.

    If ``max_iters`` rounds pass WITHOUT convergence (a component
    whose propagation distance from its min id exceeds the budget —
    e.g. a >20-link template-edit chain), this RAISES rather than
    silently returning non-canonical labels: the recursive-CTE oracle
    computes the true closure, and downstream dedup decisions must
    never run on a half-propagated labeling.

    vertices: one column ``id``; edges: columns ``src``, ``dst``.
    """
    labels = vertices.select(
        F.col("id"), F.col("id").alias("canonical")
    ).localCheckpoint(eager=True)
    undirected = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            undirected.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("canonical").alias("nc")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("nc").alias("neighbor_min"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    "canonical", F.coalesce("neighbor_min", "canonical")
                ).alias("canonical"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.join(labels.withColumnRenamed("canonical", "old"), "id")
            .filter(F.col("canonical") != F.col("old"))
            .count()
        )
        labels = updated
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within {max_iters} "
        "iterations — a component's propagation distance exceeds the "
        "budget; raise max_iters rather than consuming half-propagated "
        "labels"
    )


def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → clusters: each document mapped to its cluster's
    canonical (min) doc_id — the keep-one-representative step of a
    dedup pipeline. Output covers only docs in some near-dup pair
    (singletons are trivially their own canonical).

    Oracle-paired since round 4: the Spark side stays iterative
    (min-label propagation), but the DuckDB oracle replays the
    transitive closure as a recursive CTE (DEDUP_NEAR_CLUSTERS_SQL) —
    driver hash-green; cluster invariants additionally verified in
    tests against a union-find oracle.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return connected_components(vertices, edges).select(
        F.col("id").alias("doc_id"), F.col("canonical").alias("canonical_doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_column() -> F.Column:
    """64-bit SimHash of the token set, vectorized via Arrow.

    Batch-vectorized (round-6; was a per-row/per-token Python loop):
    the only remaining Python iteration is one ``hashlib.md5`` call
    per DISTINCT token in the Arrow batch (memoized via
    ``np.unique``); bit extraction, the ±1 accumulation across every
    (row, token) incidence, and the majority-bit packing are three
    whole-batch numpy passes (broadcasted shift table + ``np.add.at``
    scatter on the (rows, 64) accumulator). Same hash semantics as
    before — md5 first 8 bytes little-endian — so planted-corpus and
    overlap-vs-exact tests pin identical signatures."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        n = len(texts)
        tok_lists = [
            list(dict.fromkeys(str(t).strip().split())) for t in texts
        ]
        counts = np.fromiter(
            (len(tl) for tl in tok_lists), dtype=np.int64, count=n
        )
        flat = [tok for tl in tok_lists for tok in tl]
        if not flat:
            return pd.Series(np.zeros(n, dtype=np.int64))
        uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
        hvals = np.fromiter(
            (
                int.from_bytes(
                    hashlib.md5(str(tok).encode("utf-8")).digest()[:8],
                    "little",
                )
                for tok in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        shifts = np.arange(64, dtype=np.uint64)
        # (distinct-tokens, 64) sign matrix, then scatter-add every
        # (row, token) incidence into the per-row accumulator
        signs = (
            ((hvals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            * 2
            - 1
        )
        row_ids = np.repeat(np.arange(n, dtype=np.int64), counts)
        acc = np.zeros((n, 64), dtype=np.int64)
        np.add.at(acc, row_ids, signs[inv])
        sig = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(sig.astype(np.int64))

    return _simhash(F.col("text"))


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, sim, band_idx, band_val)``: each document's 64-bit
    SimHash and its eight 8-bit bands, shared by both SimHash
    operators."""
    # fan_out before the Arrow signature kernel: the pandas_udf is the
    # plan's heavy per-row stage and the unsplittable single-row-group
    # bench input otherwise pins it to one core (alternated min-of-3
    # A/B: 0.27–0.39× across two windows, identical pairs; no-op on
    # splittable at-scale inputs)
    d = fan_out(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", simhash_column().alias("sim")
    )
    bands = [
        F.shiftrightunsigned(F.col("sim"), 8 * b).bitwiseAND(F.lit(255))
        for b in range(8)
    ]
    return stack_bands(d, bands, "doc_id", "sim")


def _hamming() -> Column:
    return F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ 6: 8-bit band
    blocking (8 bands ⇒ guaranteed collision for distance ≤ 7), then
    JVM-side ``bit_count(xor)`` verification. The production path has
    no oracle query because the hot-bucket cap below is
    deliberately lossy on saturated corpora; the oracle-paired
    anchor for the SAME signature kernel + banding + Hamming verify is
    :func:`dedup_simhash_md5` (complete band join, DuckDB-replayable),
    and the oracle-paired exact twin for near-dup semantics is
    ``dedup_ngram_jaccard``.

    BUCKET-SATURATION BOUND (round-5 scale audit): the 8-bit band
    space is FIXED at 256 values, so average bucket size grows
    linearly with the corpus and an uncapped band-bucket self-join
    grows QUADRATICALLY — the 10× audit measured it superlinear
    before this rewrite. Candidates come from :func:`capped_pairs`,
    with hot buckets chained in the order of the FULL 64-BIT
    SIGNATURE (Charikar-style sorted probing: signatures within small
    Hamming distance sort adjacent once a band's bits agree). Recall
    vs the exact Jaccard operator is pytest-bounded.
    """
    # cached for the duration of THIS builder only (released below
    # once the candidate union is materialized): the signature stage
    # is a pandas_udf pass and both bucket paths (and the size window)
    # read it
    long_form = _simhash_bands(spark, sf_dir)
    # hot-bucket chain order: UNSIGNED signature order (sim XOR
    # Long.MIN_VALUE flips the sign bit), so near signatures
    # straddling 0x7FF…/0x800… sort adjacent — the signed order put
    # them maximally far apart, weakening the sorted-probing claim
    sim_unsigned = F.col("sim").bitwiseXOR(F.lit(-(2**63)))
    pairs = capped_pairs(
        long_form, ("band_idx", "band_val"), (sim_unsigned, "doc_id"), ("sim",)
    )
    # materialize the bounded candidate union, then release the wide
    # cached signature table — without this the per-doc signature
    # blocks stay pinned for the session (the semdedup lifetime fix
    # applied here); the checkpointed pair list is narrow (2 longs +
    # an int per row) and its blocks are GC-cleaned with the result
    out = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            _hamming(),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )
    with cached(long_form):
        return materialize(out)


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PAIRED SimHash twin: the EXACT production signature
    kernel (:func:`simhash_column` — one md5 per distinct whitespace
    token, first 8 digest bytes little-endian, ±1 majority vote per
    bit), the same 8×8-bit band blocking, and the same JVM
    ``bit_count(xor) ≤ 6`` verify as :func:`dedup_simhash` — but with
    the COMPLETE band self-join (no hot-bucket cap) precisely so the
    DuckDB oracle can replay every stage verbatim
    (``md5_number_upper`` is bit-identical to the kernel's
    little-endian first-8-bytes read) and hash-check the full
    pipeline cross-engine. The sketch-twin pattern of
    ``dedup_minhash_md5`` / ``exact_user_reach`` /
    ``ann_ivf_exact_rerank``, applied to the last big rows-only dedup
    family: a driver-green row here anchors the production kernel's
    signatures bit-for-bit (same ``simhash_column`` call), leaving
    only the cap policy — pytest-bounded — outside the oracle.

    Correctness anchor, not the production path: ``dedup_simhash``
    keeps :func:`capped_pairs` for saturated corpora; the anchor keeps
    the complete join because the oracle must replay it.
    """
    pairs = bucket_pairs(
        _simhash_bands(spark, sf_dir), ("band_idx", "band_val"), ("sim",)
    )
    return (
        pairs.select("doc_a", "doc_b", _hamming())
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


#: DuckDB replay of the full SimHash pipeline. ``md5_number_upper``
#: returns md5's FIRST 8 digest bytes read little-endian as a UBIGINT
#: — bit-identical to the kernel's ``int.from_bytes(digest[:8],
#: "little")``; tokens are the distinct non-empty ``\s+``-splits of
#: the trimmed text (Python ``str.split()`` parity); the 64 majority
#: votes, banding, and Hamming verify are integer bit-ops.
DEDUP_SIMHASH_MD5_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
),
hashed AS (
  SELECT doc_id, md5_number_upper(tok) AS h FROM toks
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM hashed CROSS JOIN range(64) t(b)
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN acc > 0 THEN 1::UBIGINT << b
                       ELSE 0::UBIGINT END) AS UBIGINT) AS sig
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, sig, b AS band_idx, (sig >> (8 * b)) & 255 AS band_val
  FROM sigs CROSS JOIN range(8) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sig AS sig_a, b.sig AS sig_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 6
"""


_FUZZY_PREFIX = 20  # chars of the doc head treated as its "title"
_FUZZY_MAX_DIST = 2


def _fuzzy_seg(target_len, i: int):
    """1-based (start, length) of segment ``i`` when a string of length
    ``target_len`` is split into ``_FUZZY_MAX_DIST + 1`` segments
    (first ``rem`` segments one char longer)."""
    k = _FUZZY_MAX_DIST + 1
    base = F.floor(target_len / k).cast("int")
    rem = (target_len % k).cast("int")
    length = base + F.when(F.lit(i) < rem, 1).otherwise(0)
    start = (F.lit(i) * base + F.least(F.lit(i), rem) + 1).cast("int")
    return start, length


def fuzzy_title_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join: document-head pairs within
    Levenshtein distance {d}, found with PassJoin segment blocking
    (Li, Deng & Feng, VLDB 2011) instead of an all-pairs scan —
    lossless below the hot-segment / tiny-bucket caps (every tested
    SF sits below both), connectivity-preserving lead-window chains
    above them (the two-path policy documented below).

    Pigeonhole: split a string into d+1 segments — any string within
    edit distance d must contain one segment VERBATIM, shifted by at
    most d positions (each edit shifts later positions by ≤ 1). So
    the index side emits its d+1 segments keyed by
    xxhash64(length, segment idx, content); the probe side joins each
    doc against the DISTINCT index lengths within reach (a broadcast
    of ≤ {p}+1 ints at any corpus size, direction-halved: the longer
    side probes) and emits the substrings at each segment's position
    ± d for that one concrete target length — a bounded
    ≤ (2d+1)·(d+1) = 15-key fan-out per (doc, length) row — and
    candidates come from the EQUI join on the hashed key, verified
    INLINE on the matched rows (titles ride the join; the exact
    Levenshtein filter runs before the pair distinct, which beats
    dedup-then-rejoin ~3× on low-entropy corpora where short shared
    segments make candidate precision poor). Round-5 scale audit
    rationale: the previous
    length-band blocking had a FIXED ~{p}/(d+1) band space, so
    buckets grew linearly with the corpus and the band join
    quadratically (it did not finish the 10× audit); PassJoin keys
    are content-based, so bucket sizes track true near-dup families,
    not corpus size. Same output, exact Levenshtein verify.

    Hot segment keys (> ``_SEG_BUCKET_CAP`` index members — the
    boilerplate-prefix class: titles sharing a common first word at
    corpus scale) demote from the complete equi-join to
    :func:`lead_chain` over the key's members: per-key work m·W
    instead of m², verified families stay connected, output
    oracle-exact wherever no key exceeds the cap (all tested SFs;
    sf0.1 max is 192).

    Titles shorter than d+1 chars can't form d+1 non-empty segments;
    any two such titles are within distance d by construction
    (lev ≤ max(len)), so they pair through one keyless bucket of
    :func:`capped_pairs` (dirty web corpora are full of
    empty/whitespace docs, so the bucket can be hot).
    """
    k = _FUZZY_MAX_DIST + 1
    D = _FUZZY_MAX_DIST
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(F.trim("text"), 1, _FUZZY_PREFIX).alias("title"),
    ).withColumn("len", F.length("title").cast("int"))
    # Materialize the (doc_id, title, len) table ONCE (round 12): the
    # index, probe, length-broadcast, hot-member and tiny-title
    # subtrees all derive from ``d``, and with a lazy ``d`` the
    # documents scan + trim/substring re-ran 26 times across the full
    # plan (26 "Scan parquet" nodes in the r12 plan dump). The
    # checkpointed table is ~40 bytes/doc (id + ≤20-char title + int)
    # — distributed blocks, never driver state — so this holds at any
    # corpus size. ``fan_out`` BEFORE the checkpoint: the blocks
    # inherit the scan's partitioning, and the unsplittable
    # single-row-group bench input would otherwise pin all 16
    # downstream single-task stages (probe/index explodes, candidate
    # joins, Levenshtein verify) to one core (alternated min-of-4 A/B:
    # 0.72×, identical pairs; no-op on splittable at-scale inputs).
    # The exchange moves the 40-byte projection, never the full text
    # (guide §2.3, project before the exchange).
    d = materialize(fan_out(d))

    # ---- index side: the d+1 segments of every title of len >= k,
    # keyed by xxhash64(len, seg, content) — 8-byte join keys instead
    # of a (int, int, string) struct, so the candidate shuffle stays
    # narrow while titles ride along for the inline verify
    idx_entries = []
    for i in range(k):
        start, ln = _fuzzy_seg(F.col("len"), i)
        idx_entries.append(
            F.when(
                F.col("len") >= k,
                F.xxhash64(
                    F.col("len"), F.lit(i), F.substring("title", start, ln)
                ),
            )
        )
    index = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        F.explode(
            F.filter(F.array(*idx_entries), lambda x: x.isNotNull())
        ).alias("key"),
    )

    # ---- probe side. Enumerating all |L'-len| <= d targets inline
    # exploded into a 105-branch expression (round 5); instead join
    # each doc against the DISTINCT INDEX LENGTHS within reach — a
    # broadcast of <= _FUZZY_PREFIX+1 ints at any corpus size — so
    # each (doc, idx_len) row evaluates only the (d+1)·(2d+1) = 15
    # live branches for that concrete target length. Direction-halved
    # (standard PassJoin): only the longer side probes
    # (idx_len <= len); every pair has a max-length member, so this
    # is lossless — except tiny docs (len < k, no index entries of
    # their own), which must still probe upward to catch
    # tiny-vs-normal pairs within distance d.
    lens = (
        d.filter(F.col("len") >= k)
        .select(F.col("len").alias("idx_len"))
        .distinct()
    )
    probe_entries = []
    for i in range(k):
        start, ln = _fuzzy_seg(F.col("idx_len"), i)
        for delta in range(-D, D + 1):
            pos = start + delta
            valid = (pos >= 1) & (pos + ln - 1 <= F.col("len"))
            probe_entries.append(
                F.when(
                    valid,
                    F.xxhash64(
                        F.col("idx_len"),
                        F.lit(i),
                        F.substring("title", pos, ln),
                    ),
                )
            )
    reach = (F.col("idx_len") >= F.col("len") - D) & (
        F.col("idx_len") <= F.col("len") + D
    )
    halved = (F.col("idx_len") <= F.col("len")) | (F.col("len") < k)
    probe = (
        d.join(F.broadcast(lens), reach & halved)
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("title").alias("title_a"),
            F.explode(
                F.array_distinct(
                    F.filter(F.array(*probe_entries), lambda x: x.isNotNull())
                )
            ).alias("key"),
        )
    )

    # ---- hot-segment two-path split. A segment key shared by a huge
    # title family (boilerplate prefixes — every corpus has titles
    # starting "Copyright ", "Subject: ") makes the candidate
    # equi-join quadratic IN THAT KEY: m index rows × ~m probe rows
    # land in one task (the 100× audit caught exactly this — a
    # 19k-member first-word bucket pinned one straggler task for
    # >10 min). Same discipline as the LSH band buckets: keys with
    # ≤ _SEG_BUCKET_CAP index members keep the complete, oracle-exact
    # join; hotter keys demote to a sorted lead-window chain over the
    # key's members (titles sharing a verbatim segment sort their
    # lev ≤ d partners adjacent — near-identical strings are
    # lexicographic neighbors), bounding per-key work to m·W while
    # the verified families stay connected for clustering. Sizes come
    # from a narrow groupBy-count joined back on (measured ~1 s
    # cheaper at sf0.1 than a per-key count window, which sorts the
    # full index by key).
    sizes = index.groupBy("key").agg(F.count(F.lit(1)).alias("m"))
    idx_sized = index.join(sizes, "key")

    # inline verify: titles already ride the matched rows, so the
    # exact Levenshtein filter runs BEFORE the distinct — candidate
    # quality on low-entropy corpora is poor (short shared segments),
    # and filtering ~99% of matches first beats deduping them, then
    # re-joining titles back on (measured 3x at sf0.1)
    seg_pairs = (
        probe.join(
            idx_sized.filter(F.col("m") <= _SEG_BUCKET_CAP).drop("m"),
            "key",
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "title_a", "title_b")
    )

    # hot keys: chain the key's member set (index members ∪ probe
    # rows that reach the key) in (title, doc_id) order — both join
    # sides hash-partition by the same key, so the probe/index
    # exchanges are shared with the small path via ReusedExchange
    hot_idx = idx_sized.filter(F.col("m") > _SEG_BUCKET_CAP)
    hot_members = (
        hot_idx.select(
            "key", F.col("doc_b").alias("doc_id"), F.col("title_b").alias("title")
        )
        .unionByName(
            probe.join(hot_idx.select("key").distinct(), "key").select(
                "key",
                F.col("doc_a").alias("doc_id"),
                F.col("title_a").alias("title"),
            )
        )
        .distinct()
    )
    hot_pairs = lead_chain(hot_members, ("key",), ("title", "doc_id"), ("title",))

    # ---- tiny titles (len < k): all within distance d of each other,
    # so they form ONE keyless bucket whose complete pair set is
    # inherently quadratic — the capped-bucket kernel's case exactly
    # (all members are mutually within distance d, so a chain above
    # the cap keeps the family connected for clustering)
    tiny_pairs = capped_pairs(
        d.filter(F.col("len") < k).select("doc_id", "title"),
        (),
        ("doc_id",),
        ("title",),
    )

    return (
        seg_pairs.unionByName(hot_pairs)
        .unionByName(tiny_pairs)
        .withColumn("edit_dist", F.levenshtein("title_a", "title_b"))
        .filter(F.col("edit_dist") <= _FUZZY_MAX_DIST)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "edit_dist",
        )
        .distinct()
    )


fuzzy_title_pairs.__doc__ = fuzzy_title_pairs.__doc__.format(
    d=_FUZZY_MAX_DIST, p=_FUZZY_PREFIX
)


FUZZY_TITLE_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, substr(trim(text), 1, {_FUZZY_PREFIX}) AS title
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.title, b.title) AS edit_dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= {_FUZZY_MAX_DIST}
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ingestion dedup: classify an arriving batch against
    the EXISTING corpus — the shape a production pipeline runs per
    ingest, where re-deduplicating 100 TB of history for every new
    slice would be absurd. (Batch = ``doc_id % 10 == 0`` as the
    deterministic stand-in; corpus = the rest.)

    Scale shape: the corpus side reduces to its distinct fingerprint
    set (in production: a maintained fingerprint table, so the history
    is never re-scanned, only its index); the join is a left join on
    the 16-byte fingerprint — one shuffle of the (small) batch against
    the fingerprint table, map-side combinable. Output: every batch doc
    with is_novel + the canonical existing doc it duplicates (null when
    novel)."""
    d = _docs(spark, sf_dir)
    fp = F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    corpus = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(fp, "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("dup_of_doc_id"))
    )
    batch = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", fp)
    return batch.join(corpus, "fingerprint", "left").select(
        "doc_id",
        F.col("dup_of_doc_id").isNull().alias("is_novel"),
        "dup_of_doc_id",
    )


DEDUP_INCREMENTAL_SQL = """
WITH corpus AS (
  SELECT md5(lower(trim(text))) AS fingerprint,
         MIN(doc_id) AS dup_of_doc_id
  FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1
),
batch AS (
  SELECT doc_id, md5(lower(trim(text))) AS fingerprint
  FROM documents WHERE doc_id % 10 = 0
)
SELECT b.doc_id AS doc_id,
       c.dup_of_doc_id IS NULL AS is_novel,
       c.dup_of_doc_id AS dup_of_doc_id
FROM batch b LEFT JOIN corpus c USING (fingerprint)
"""


_SPAN_W = 8  # tokens per window (ExactSubstr uses 50; testdata docs are ~40 tokens)
#: Boilerplate guard: a window hash hitting more than this many distinct
#: docs is treated as boilerplate (license headers, disclaimers, nav
#: chrome) and emits NO pairs. Without it one verbatim span shared by k
#: docs fans out k² pairs — at web-corpus scale a disclaimer in 10⁶ docs
#: would emit 10¹² pairs from a single hash. Testdata max df is 4, so
#: the cap is semantics-preserving at every test SF while bounding the
#: worst key at 100 TB to C({cap},2) pairs.
_SPAN_DF_CAP = 32


def shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection (the ExactSubstr method of
    Lee et al. 2022, arXiv:2107.06499, at window granularity): find
    document pairs sharing at least one verbatim {w}-token span whose
    document frequency is ≤ {cap} (hotter spans are boilerplate by
    definition and are dropped, not expanded). Catches partial/quoted
    duplication that document-level fingerprints miss and near-dup
    similarity underweights.

    Scale shape: docs shorter than the window emit nothing (guard, not
    crash); each survivor builds its per-doc-distinct window-hash array
    narrow-side (``array_distinct`` before the explode — no shuffle
    spent on doc-level dedup); ONE hash partitioning on the window hash
    serves the doc-frequency count (window function) AND the posting
    list collection (hash-agg on the same key needs no new exchange),
    and only hashes with 2 ≤ df ≤ {cap} survive into a posting list —
    so the collected state per group is ≤ {cap} ids and the pair
    fan-out per key ≤ C({cap},2) no matter how skewed the corpus.
    Pairs expand NARROWLY from the sorted list (no self-join, so the
    heavy hash subtree is computed once, not once per join side). md5
    of the joined tokens is cross-engine deterministic, so the oracle
    replays exactly (the oracle keeps the equivalent self-join
    formulation — same rows; DuckDB plans its own shape). The full
    suffix-array formulation replaces the windowing at byte
    granularity; the distributed shape (posting lists → capped
    collision pairs) is identical."""
    # fan_out: the per-row window-hash build (md5 per token window)
    # is the plan's heavy stage and sits below the first exchange
    # (alternated A/B: 0.63×/0.87× across two windows, identical
    # pairs; no-op on splittable at-scale inputs)
    d = fan_out(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    hashes = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - _SPAN_W + 1),
            lambda i: F.md5(F.array_join(F.slice("toks", i, _SPAN_W), " ")),
        )
    )
    wins = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= _SPAN_W)
        .select("doc_id", F.explode(hashes).alias("h"))
    )
    posts = (
        wins.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter((F.col("df") >= 2) & (F.col("df") <= _SPAN_DF_CAP))
        .groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    return (
        posts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


shared_span_pairs.__doc__ = shared_span_pairs.__doc__.format(
    w=_SPAN_W, cap=_SPAN_DF_CAP
)


SHARED_SPAN_PAIRS_SQL = rf"""
WITH wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(toks[i:i+{_SPAN_W}-1], ' ')) AS h
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
       UNNEST(generate_series(1, GREATEST(len(toks) - {_SPAN_W} + 1, 0)))
         AS g(i)
  WHERE len(toks) >= {_SPAN_W}
),
cand AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM wins
  ) WHERE df BETWEEN 2 AND {_SPAN_DF_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM cand a JOIN cand b ON a.h = b.h AND a.doc_id < b.doc_id
"""


_CONTAINMENT_T = 0.8
#: Same boilerplate guard as ``_SPAN_DF_CAP``: a shingle in more than
#: this many distinct docs carries no duplication signal (it's stock
#: phrasing) but IS the hottest join key. Postings above the cap are
#: dropped from BOTH the intersection counts and the per-doc sizes, so
#: containment is computed over the informative-shingle universe and
#: stays a well-defined ratio. Testdata max shingle df is 25 — below
#: the cap, so test-scale results are unchanged.
_CONTAINMENT_DF_CAP = 64


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (Broder 1997's asymmetric resemblance):
    pairs where |A∩B| / min(|A|,|B|) ≥ {t} over shingles with document
    frequency ≤ {cap} — the smaller shingle set nearly contained in
    the larger. Catches subset duplication (a document embedded inside
    a longer one) that SYMMETRIC Jaccard underweights: a 40-gram doc
    fully inside a 400-gram doc has Jaccard 0.1 but containment 1.0.

    Scale shape: same inverted-index discipline as the Jaccard
    operator — pairs emerge only from true shingle collisions, never
    an all-pairs enumeration. ONE hash partitioning on the 64-bit
    shingle serves the df window count, the posting-list collection
    (hash-agg on the same key, no new exchange), and the per-doc size
    recount (ReusedExchange on the other branch). The df cap bounds
    collected state per group to ≤ {cap} ids and the hottest key to
    C({cap},2) pairs; pair expansion is narrow (no self-join, the
    postings subtree is computed once). Intersection counts come from
    one hash-agg over the expanded pairs; sizes broadcast back. The
    oracle replays string n-grams (hash collisions ~|shingles|²/2⁶⁴ —
    negligible)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = hashed_postings_from_docs(docs).withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("df") <= _CONTAINMENT_DF_CAP)
    lists = (
        kept.filter(F.col("df") >= 2)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    inter = (
        lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
            ),
            "doc_b",
        )
        .filter(
            F.col("n_inter").cast("double") / F.least("na", "nb")
            >= _CONTAINMENT_T
        )
        .select("doc_a", "doc_b")
    )


dedup_containment.__doc__ = dedup_containment.__doc__.format(
    t=_CONTAINMENT_T, cap=_CONTAINMENT_DF_CAP
)


DEDUP_CONTAINMENT_SQL = rf"""
WITH post AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks)-1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents)
  WHERE len(toks) >= 3
),
kept AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM post
  ) WHERE df <= {_CONTAINMENT_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b
FROM inter
JOIN sizes sa ON sa.doc_id = inter.doc_a
JOIN sizes sb ON sb.doc_id = inter.doc_b
WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= {_CONTAINMENT_T}
"""


def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation dashboard a corpus owner reads before choosing a
    dedup strategy: for each ORACLE-EXACT method (byte-exact digests,
    3-gram Jaccard, asymmetric containment, verbatim spans), how many
    documents would be dropped under the keep-lowest rule and what
    corpus fraction that is.

    Composed lazily from the existing operators (drop set = distinct
    doc_b of each pair table; exact = docs − digests) into ONE plan —
    four single-row aggregates unioned, each re-using its method's
    capped/bounded shape; no collect, no new pair enumeration. The
    engine-specific methods (MinHash/SimHash) are deliberately absent
    so the report itself stays driver-hash-checkable."""
    d = _docs(spark, sf_dir)
    n_docs = d.count()  # scalar dimension of the report, one tiny job

    def frac(cnt):
        return F.round(cnt.cast("double") / F.lit(float(n_docs)), 6)

    exact_cnt = d.agg(
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("c")
    )
    rows = exact_cnt.select(
        F.lit("exact").alias("method"),
        F.col("c").alias("n_flagged"),
        frac(F.col("c")).alias("frac_of_corpus"),
    )
    for name, builder in (
        ("ngram_jaccard", dedup_ngram_jaccard),
        ("containment", dedup_containment),
        ("shared_spans", shared_span_pairs),
    ):
        cnt = builder(spark, sf_dir).agg(
            F.countDistinct("doc_b").alias("c")
        )
        rows = rows.unionByName(
            cnt.select(
                F.lit(name).alias("method"),
                F.col("c").alias("n_flagged"),
                frac(F.col("c")).alias("frac_of_corpus"),
            )
        )
    return rows


def _count_doc_b(inner_sql: str) -> str:
    return (
        "SELECT CAST(COUNT(DISTINCT doc_b) AS BIGINT) FROM ("
        + inner_sql
        + ")"
    )


DEDUP_IMPACT_REPORT_SQL = f"""
WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
SELECT 'exact' AS method,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_flagged,
       ROUND((COUNT(*) - COUNT(DISTINCT md5(text))) / (SELECT n_docs FROM n), 6)
         AS frac_of_corpus
FROM documents
UNION ALL
SELECT 'ngram_jaccard',
       ({_count_doc_b(DEDUP_NGRAM_JACCARD_SQL)}),
       ROUND(({_count_doc_b(DEDUP_NGRAM_JACCARD_SQL)}) / (SELECT n_docs FROM n), 6)
UNION ALL
SELECT 'containment',
       ({_count_doc_b(DEDUP_CONTAINMENT_SQL)}),
       ROUND(({_count_doc_b(DEDUP_CONTAINMENT_SQL)}) / (SELECT n_docs FROM n), 6)
UNION ALL
SELECT 'shared_spans',
       ({_count_doc_b(SHARED_SPAN_PAIRS_SQL)}),
       ROUND(({_count_doc_b(SHARED_SPAN_PAIRS_SQL)}) / (SELECT n_docs FROM n), 6)
"""


_LINE_W = 8  # tokens per pseudo-line (testdata docs are single-line; a
# real corpus splits on '\n' instead — the dedup discipline is identical)


def linewise_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus deduplication (the CCNet / RefinedWeb
    discipline: drop every repeated line corpus-wide, keep its first
    occurrence, reassemble documents from the surviving lines).
    Testdata documents carry no newlines, so "lines" are aligned
    {w}-token chunks — same pipeline shape, proxy boundary.

    Keep rule (cross-engine deterministic): a line survives only in
    the document/position with the lexicographically smallest
    ``(doc_id, chunk_idx)`` over all its occurrences. Output is one
    row per document: total/kept chunk counts, kept ratio, and the
    text reassembled from surviving chunks in original order (empty
    string if the whole document was boilerplate).

    Scale shape: chunking is narrow (sequence + slice inside the
    explode — no shuffle). The winner per line is a ``groupBy(line)
    .min(struct(doc_id, idx))`` — PARTIAL+final hash-agg, so a
    boilerplate line repeated 10⁹ times combines map-side to one row
    per map task instead of flooding one reducer (the window-function
    formulation the oracle uses would sort all occurrences of the
    hottest line in a single task; the min-agg is the skew-immune
    twin). The join back on ``line`` has exactly one winner row per
    key, so AQE skew-split applies cleanly. Reassembly is one
    ``doc_id`` hash-agg with ``array_sort(collect_list)`` state
    bounded by document length. Three exchanges total, all on
    uniform-or-combinable keys; nothing is ever pairwise."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_chunks = F.ceil(F.size("toks") / F.lit(float(_LINE_W)))
    chunks = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(F.sequence(F.lit(1), n_chunks)).alias("i"))
        .select(
            "doc_id",
            "i",
            F.array_join(
                F.slice("toks", ((F.col("i") - 1) * _LINE_W + 1).cast("int"), _LINE_W),
                " ",
            ).alias("line"),
        )
    )
    winners = chunks.groupBy("line").agg(
        F.min(F.struct("doc_id", "i")).alias("w")
    )
    kept = chunks.join(winners, "line").withColumn(
        "keep",
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("i") == F.col("w.i")),
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        (
            F.sum(F.col("keep").cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("kept_ratio"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("i", "line")))
                ),
                lambda x: x["line"],
            ),
            " ",
        ).alias("deduped_text"),
    )


linewise_dedup.__doc__ = linewise_dedup.__doc__.format(w=_LINE_W)


LINEWISE_DEDUP_SQL = rf"""
WITH chunks AS (
  SELECT doc_id, i,
         array_to_string(toks[(i-1)*{_LINE_W}+1:(i-1)*{_LINE_W}+{_LINE_W}], ' ') AS line
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents),
       UNNEST(generate_series(1, CAST(ceil(len(toks) / {_LINE_W}.0) AS BIGINT)))
         AS g(i)
),
ranked AS (
  SELECT doc_id, i, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, i) AS rk
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       COUNT(*) FILTER (rk = 1) AS n_kept,
       CAST(COUNT(*) FILTER (rk = 1) AS DOUBLE) / COUNT(*) AS kept_ratio,
       COALESCE(string_agg(CASE WHEN rk = 1 THEN line END, ' ' ORDER BY i), '')
         AS deduped_text
FROM ranked
GROUP BY doc_id
"""


def near_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree HISTOGRAM of the exact near-dup graph: how many
    documents have 1, 2, … near-duplicates — the shape diagnostic a
    dedup strategy review starts from (a heavy right tail means
    template/boilerplate families; ``self_join_blowup_estimate`` is
    its pre-flight cousin on raw keys).

    Composes the exact 3-gram Jaccard pair operator (no new
    pair enumeration): pairs → per-doc degree (one doc-keyed hash-agg
    over 2|E| rows) → |degrees|-row histogram. Output is degree-sized
    regardless of corpus size. Both endpoints are projected in ONE
    pass over the pair stream (``explode(array(a, b))``) so the
    expensive Jaccard subtree appears once in the plan — a unionAll
    of two projections would plan it twice and lean on ReusedExchange
    to save the recompute (round-4 ADVICE).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    deg = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


NEAR_DUP_GRAPH_DEGREE_SQL = f"""
WITH pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id FROM pairs
  ) GROUP BY doc_id
)
SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree ORDER BY degree
"""


#: Recursive-CTE oracle for the connected-components clustering: the
#: transitive closure of the (undirected) near-dup edge set, reduced
#: to each node's minimum reachable id. The Spark side iterates
#: min-label propagation TO CONVERGENCE, so its fixpoint equals the
#: closure's min — SQL-expressible after all (round-4 upgrade of a
#: formerly rows-only operator).
DEDUP_NEAR_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lbl) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
)
SELECT id AS doc_id,
       LEAST(id, MIN(lbl)) AS canonical_doc_id
FROM reach GROUP BY id
"""


SPECS: list[QuerySpec] = [
    QuerySpec("near_dup_graph_degree", near_dup_graph_degree,
              NEAR_DUP_GRAPH_DEGREE_SQL,
              "degree histogram of the exact near-dup pair graph",
              ("dedup", "profiling", "graph")),
    QuerySpec("linewise_dedup", linewise_dedup, LINEWISE_DEDUP_SQL,
              "corpus-wide line dedup with document reassembly",
              ("dedup", "text")),
    QuerySpec("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_SQL,
              "asymmetric containment pairs (subset-duplicate detector)",
              ("dedup", "text")),
    QuerySpec("shared_span_pairs", shared_span_pairs, SHARED_SPAN_PAIRS_SQL,
              "ExactSubstr-style verbatim span collision pairs",
              ("dedup", "text")),
    QuerySpec("dedup_exact_docs", dedup_exact_docs, DEDUP_EXACT_DOCS_SQL,
              "exact dedup via content fingerprint", ("dedup",)),
    QuerySpec("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL,
              "arriving-batch vs existing-corpus fingerprint dedup",
              ("dedup", "warehouse")),
    QuerySpec("fuzzy_title_pairs", fuzzy_title_pairs, FUZZY_TITLE_PAIRS_SQL,
              "edit-distance join via capped PassJoin segment blocking",
              ("dedup", "similarity")),
    QuerySpec("dedup_first_event", dedup_first_event, DEDUP_FIRST_EVENT_SQL,
              "keyed exact dedup, deterministic keep rule", ("dedup",)),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL,
              "near-dup pairs via 3-gram Jaccard inverted index", ("dedup",)),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, None,
              "near-dup pairs via MinHash banding + exact verify", ("dedup",)),
    QuerySpec("dedup_minhash_md5", dedup_minhash_md5, DEDUP_MINHASH_MD5_SQL,
              "oracle ANCHOR (complete band join, md5 family) — "
              "production path is dedup_minhash_lsh",
              ("dedup", "anchor")),
    QuerySpec("dedup_simhash", dedup_simhash, None,
              "near-dup pairs via SimHash band blocking", ("dedup",)),
    QuerySpec("dedup_simhash_md5", dedup_simhash_md5, DEDUP_SIMHASH_MD5_SQL,
              "oracle ANCHOR (complete band join, md5 family) — "
              "production path is dedup_simhash",
              ("dedup", "anchor")),
    QuerySpec("dedup_near_clusters", dedup_near_clusters,
              DEDUP_NEAR_CLUSTERS_SQL,
              "near-dup clusters via iterative connected components",
              ("dedup", "graph")),
    QuerySpec("dedup_impact_report", dedup_impact_report,
              DEDUP_IMPACT_REPORT_SQL,
              "per-method dedup drop counts + corpus fractions",
              ("dedup", "profiling")),
]
