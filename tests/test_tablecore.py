"""The table core's footer stats and skip predicate, without a Spark
session: pyarrow writes the files, ``footer_stats`` reads them back,
and ``may_match`` decides per interval whether a file may be skipped.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_tools_spark.sources.tablecore import footer_stats, may_match


@pytest.fixture(scope="module")
def stats_file(tmp_path_factory):
    """Six rows in three row groups of two. ``n`` is all-NULL in the
    middle group, so that group carries no min/max for it."""
    table = pa.table({
        "i": pa.array([5, 3, 9, 1, 7, 4], pa.int64()),
        "s": pa.array(["m", "c", "x", "b", "q", "d"]),
        "flag": pa.array([True, True, False, True, True, True]),
        "bin": pa.array([b"k", b"a", b"z", b"c", b"d", b"e"]),
        "raw": pa.array([b"\xff", b"\xfe", b"\xfd", b"\xfc", b"\xfb",
                         b"\xfa"]),
        "nested": pa.array([{"x": i} for i in range(6)]),
        "lst": pa.array([[i] for i in range(6)]),
        "n": pa.array([1, 2, None, None, 5, 6], pa.int64()),
    })
    path = tmp_path_factory.mktemp("core") / "stats.parquet"
    pq.write_table(table, path, row_group_size=2)
    assert pq.ParquetFile(path).metadata.num_row_groups == 3
    return str(path)


@pytest.fixture(scope="module")
def bare_file(tmp_path_factory):
    path = tmp_path_factory.mktemp("core") / "bare.parquet"
    pq.write_table(pa.table({"i": pa.array([1, 2], pa.int64())}), path,
                   write_statistics=False)
    return str(path)


def test_footer_stats_all_or_nothing_per_column(stats_file):
    rows, mins, maxs = footer_stats(stats_file)
    assert rows == 6
    assert (mins["i"], maxs["i"]) == (1, 9)
    assert (mins["s"], maxs["s"]) == ("b", "x")
    assert (mins["flag"], maxs["flag"]) == (False, True)
    # UTF-8 byte bounds decode to text; undecodable ones drop the column
    assert (mins["bin"], maxs["bin"]) == ("a", "z")
    assert "raw" not in mins and "raw" not in maxs
    # nested columns are skipped, and one stats-less row group drops
    # the column: partial bounds would be narrower than the file
    assert set(mins) == set(maxs) == {"i", "s", "flag", "bin"}


def test_footer_stats_without_statistics(bare_file):
    assert footer_stats(bare_file) == (2, {}, {})


@pytest.mark.parametrize("intervals, keep", [
    ({}, True),
    ({"i": (None, None)}, True),
    ({"i": (None, 0)}, False),      # every row is above hi
    ({"i": (10, None)}, False),     # every row is below lo
    ({"i": (None, 1)}, True),       # touches the minimum
    ({"i": (9, None)}, True),       # touches the maximum
    ({"i": (2, 3)}, True),
    ({"s": ("y", "z")}, False),
    ({"s": ("a", "b")}, True),
    ({"i": (2, 3), "s": ("y", "z")}, False),  # one interval suffices
    ({"n": (100, 200)}, True),      # column without stats
    ({"nested": (0, 1)}, True),     # nested column: no stats
    ({"missing": (0, 1)}, True),    # column not in the file
    ({"i": ("a", "b")}, True),      # uncomparable: str vs int
    ({"s": (0, 1)}, True),          # uncomparable: int vs str
    ({"flag": (None, False)}, True),
    ({"bin": ("zz", None)}, False),
])
def test_may_match_table(stats_file, intervals, keep):
    _, mins, maxs = footer_stats(stats_file)
    assert may_match(mins, maxs, intervals) is keep


@pytest.mark.parametrize("intervals", [
    {"i": (None, None)}, {"i": (None, 0)}, {"i": (10, None)},
    {"missing": (0, 1)}, {"i": ("a", "b")},
])
def test_may_match_keeps_file_without_stats(bare_file, intervals):
    _, mins, maxs = footer_stats(bare_file)
    assert may_match(mins, maxs, intervals)


def test_may_match_one_sided_bounds():
    """A codec may hold only one end of a column's bounds; the other
    end then cannot exclude the file."""
    assert may_match({"i": 5}, {}, {"i": (10, None)})
    assert not may_match({"i": 5}, {}, {"i": (None, 4)})
    assert may_match({}, {"i": 5}, {"i": (None, 4)})
    assert not may_match({}, {"i": 5}, {"i": (6, None)})
