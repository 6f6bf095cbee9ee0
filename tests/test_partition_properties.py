"""Property-based tests (hypothesis) for the pure-Python partition-ID
domain logic and criteria validation — the driver-side components whose
edge cases (impossible dates, weird suffixes, boundary dates) golden tests
under-sample."""

from __future__ import annotations

from datetime import date, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from bd_delete_records_from_external_hive_table_spark.config import CriteriaValidationError, DeletionCriteria
from bd_delete_records_from_external_hive_table_spark.catalog import (
    parse_partition_value,
    partition_spec,
)
from bd_delete_records_from_external_hive_table_spark.partitions import (
    PartitionType,
    classify_partition,
    filter_by_date_range,
    is_valid_partition,
    parse_partition_date,
    sort_chronologically,
)

# the characters Hive path-escapes as %XX (FileUtils.escapePathName)
_HIVE_ESCAPED = {chr(c) for c in range(1, 0x20)} | set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape(value: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c
                   for c in value)


dates = st.dates(min_value=date(1900, 1, 1), max_value=date(2100, 12, 31))
suffixes = st.integers(min_value=0, max_value=99)


@st.composite
def valid_partition_ids(draw):
    d = draw(dates).strftime("%Y%m%d")
    shape = draw(st.sampled_from(["current", "previous", "history",
                                  "history_n"]))
    if shape == "current":
        return d
    if shape == "previous":
        return f"{d}-{draw(suffixes)}"
    if shape == "history":
        return f"history_{d}"
    return f"history_{d}-{draw(suffixes)}"


@given(valid_partition_ids())
def test_valid_ids_roundtrip(pid):
    assert is_valid_partition(pid)
    assert classify_partition(pid) is not PartitionType.INVALID
    d = parse_partition_date(pid)
    assert d is not None
    assert d.strftime("%Y%m%d") in pid


@given(st.text(max_size=20))
def test_arbitrary_text_never_crashes(s):
    classify_partition(s)
    parse_partition_date(s)
    is_valid_partition(s)
    sort_chronologically([s])


@given(st.integers(min_value=0, max_value=99999999))
def test_eight_digits_parse_iff_real_date(n):
    pid = f"{n:08d}"
    d = parse_partition_date(pid)
    # explicit formatting: %Y doesn't zero-pad years < 1000 on glibc
    assert (d is None) or f"{d.year:04d}{d.month:02d}{d.day:02d}" == pid
    # classification says CURRENT (shape) even for impossible dates;
    # validity additionally requires parseability
    assert classify_partition(pid) is PartitionType.CURRENT
    assert is_valid_partition(pid) == (d is not None)


@given(st.lists(valid_partition_ids(), max_size=20), dates,
       st.integers(min_value=0, max_value=400))
def test_range_filter_matches_bruteforce(pids, start, span):
    end = start + timedelta(days=span)
    got = filter_by_date_range(pids, start, end)
    want = [p for p in pids
            if (d := parse_partition_date(p)) is not None
            and start <= d < end]
    assert got == want
    # boundary semantics: start inclusive, end exclusive
    for p in got:
        d = parse_partition_date(p)
        assert d >= start and d < end


@given(st.lists(valid_partition_ids(), max_size=30))
def test_sort_is_chronological_permutation(pids):
    s = sort_chronologically(pids)
    assert sorted(s) == sorted(pids)
    parsed = [parse_partition_date(p) for p in s]
    assert parsed == sorted(parsed)


@given(st.text(alphabet=st.characters(exclude_characters="\x00"),
               max_size=30))
def test_partition_spec_roundtrips_through_parse(value):
    spec = partition_spec("partition_id", value)
    assert spec.startswith("partition_id='")
    # SHOW PARTITIONS emits col=<path-escaped value>; parse takes
    # everything after '=' and undoes the escaping
    assert parse_partition_value(
        f"partition_id={_hive_escape(value)}") == value


@given(st.sampled_from([";", "--", "/*", "*/", "drop ", "truncate ",
                        "exec ", "insert "]),
       st.text(alphabet="abcdefghij ", max_size=10))
def test_injection_screen_catches_embedded_patterns(bad, pad):
    clause = f"id = 1 {pad}{bad}{pad}"
    try:
        DeletionCriteria(where_clause=clause)
        raised = False
    except CriteriaValidationError:
        raised = True
    assert raised


# ---------------------------------------------------------------------------
# BPE merge-fold properties (pure function, no Spark session needed)
# ---------------------------------------------------------------------------

_sym = st.text(alphabet="abc", min_size=1, max_size=2)


@given(st.lists(_sym, max_size=12), _sym, _sym)
@settings(max_examples=300, deadline=None)
def test_bpe_merge_fold_reconstructs_and_exhausts(symbols, left, right):
    """The shared BPE merge fold must (a) preserve the character stream
    (concatenation is invariant under merging) and (b) leave no
    UN-OVERLAPPED adjacent (left, right) pair behind: a leftover pair
    may only exist where the left-to-right greedy pass consumed its
    left symbol into a previous merge (e.g. 'aaa' with (a,a) →
    [aa, a])."""
    from bd_delete_records_from_external_hive_table_spark.operators.bpe import _merge_word

    merged = left + right
    out = _merge_word(symbols, left, right, merged)
    assert "".join(out) == "".join(symbols)
    for i in range(len(out) - 1):
        if out[i] == left and out[i + 1] == right:
            # only legal when the greedy pass just emitted a merge at
            # i-1 that consumed what would have been this pair's left
            assert i > 0 and out[i - 1] == merged
