"""Property-based checks (SURVEY.md §5.2): conservation, idempotence,
and dedup containment over generated frames. Few, large-ish examples —
each example runs real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from data_ingestion_tool_spark.validate import validate_and_split

#: Value pool mixing cleanly-typed, coercible, and garbage values.
VALUES = st.sampled_from(
    [
        None,
        "1",
        "3.5",
        "-7",
        "1e3",
        "abc",
        "2024-01-02",
        "2024-01-02 10:00:00",
        "Jan 5 2024",
        "",
        "  padded  ",
        "99999999999999999999",  # overflows long
    ]
)

ROWS = st.lists(
    st.tuples(VALUES, VALUES, VALUES), min_size=1, max_size=12
)

TYPES = st.sampled_from(["int", "float", "date", "timestamp", "string"])

METADATA = st.fixed_dictionaries(
    {"A": TYPES, "b": TYPES, "C": TYPES}
).flatmap(
    lambda m: st.sets(
        st.sampled_from(sorted(m.keys())), max_size=2
    ).map(lambda nn: {**m, "non_nullable_fields": sorted(nn)})
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS, metadata=METADATA)
@_SETTINGS
def test_split_conserves_rows(spark, rows, metadata):
    df = spark.createDataFrame(rows, "A string, b string, C string")
    valid, invalid = validate_and_split(df, metadata)
    assert valid.count() + invalid.count() == len(rows)


@given(rows=ROWS, metadata=METADATA)
@_SETTINGS
def test_validation_idempotent(spark, rows, metadata):
    """Rows that pass once pass again unchanged (coerced types satisfy
    their own declarations)."""
    df = spark.createDataFrame(rows, "A string, b string, C string")
    valid, _ = validate_and_split(df, metadata)
    revalid, reinvalid = validate_and_split(valid, metadata)
    assert reinvalid.count() == 0
    assert revalid.count() == valid.count()


@given(rows=ROWS)
@_SETTINGS
def test_dedup_contained_in_input(spark, rows):
    df = spark.createDataFrame(rows, "A string, b string, C string")
    deduped = df.dropDuplicates()
    n, k = df.count(), deduped.count()
    assert 0 < k <= n
    # dedup ⊆ input
    assert deduped.exceptAll(df).count() == 0


@given(
    words=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=5),
        max_size=8,
    ),
    n_merges=st.integers(min_value=0, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_bpe_learn_equals_reference(words, n_merges):
    """The incremental one-task BPE kernel learns exactly the reference
    trainer's merge table (a 3-letter alphabet forces overlapping runs
    and count ties)."""
    from data_ingestion_tool_spark.operators.text import bpe_learn, bpe_reference

    assert bpe_learn(words.items(), n_merges) == bpe_reference(words, n_merges)


#: Score pool for the top-k kernel: few distinct values force exact
#: ties; ±inf and NaN are the non-finite entries it must drop.
_SCORES = st.sampled_from(
    [1.0, 0.5, 0.5000000000000001, 0.0, -0.0, -0.25, -float("inf"),
     float("inf"), float("nan")]
)

_TOPK_CASES = st.tuples(st.integers(0, 12), st.integers(0, 4)).flatmap(
    lambda shape: st.tuples(
        st.lists(
            st.lists(_SCORES, min_size=shape[1], max_size=shape[1]),
            min_size=shape[0],
            max_size=shape[0],
        ),
        st.lists(st.integers(0, 20), min_size=shape[0], max_size=shape[0]),
        st.lists(st.integers(0, 20), min_size=shape[1], max_size=shape[1]),
    )
)


@given(case=_TOPK_CASES, k=st.integers(1, 15))
@example(case=([], [], [1, 2]), k=3)  # empty batch
@example(case=([[], [], []], [4, 5, 6], []), k=2)  # zero queries
@example(  # ties, -inf, NaN, k larger than the batch
    case=(
        [[0.5, -float("inf")], [0.5, float("nan")], [float("nan"), 0.5],
         [-float("inf"), 0.5]],
        [3, 1, 2, 0],
        [7, 8],
    ),
    k=9,
)
@settings(max_examples=300, deadline=None)
def test_partial_topk_equals_sorted_reference(case, k):
    """The shared partial top-k kernel keeps, per query column, the k
    best finite scores under (score desc, id asc) — exactly what a
    brute-force ``sorted`` over the finite (score, id) pairs keeps."""
    import math

    import numpy as np

    from data_ingestion_tool_spark.operators.similarity import partial_topk

    rows, cand_ids, query_ids = case
    scores = np.array(rows, dtype=np.float64).reshape(
        len(cand_ids), len(query_ids)
    )
    got = partial_topk(
        scores, np.array(cand_ids, np.int64), np.array(query_ids, np.int64), k
    )
    want = [
        (q, c, s)
        for j, q in enumerate(query_ids)
        for s, c in sorted(
            (
                (scores[i, j], cand_ids[i])
                for i in range(len(cand_ids))
                if math.isfinite(scores[i, j])
            ),
            key=lambda t: (-t[0], t[1]),
        )[:k]
    ]
    assert list(got.columns) == ["query_id", "neighbor_id", "score"]
    assert [str(t) for t in got.dtypes] == ["int64", "int64", "float64"]
    assert list(got.itertuples(index=False, name=None)) == want
