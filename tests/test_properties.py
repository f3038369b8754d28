"""Property-based checks (SURVEY.md §5.2): conservation, idempotence,
and dedup containment over generated frames. Few, large-ish examples —
each example runs real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
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
