"""The benchmark's exact answers and output checks."""

import numpy as np
import pyarrow.parquet as pq

import harness
import inputs
import workloads


def test_url_renderings_agree():
    keys = np.array([0, 1, 4098, 4099, 123456789])
    assert inputs.urls(keys).to_pylist() == [inputs.url_str(int(k))
                                             for k in keys]


def test_crawl_rows_counts_are_exact(tmp_path):
    counts = inputs.crawl_rows(str(tmp_path), 3, 20_000, 5_000, 4)
    urls = pq.read_table(str(tmp_path)).column("url").to_pylist()
    assert len(urls) == 20_000 == counts.sum()
    assert len(set(urls)) == np.count_nonzero(counts)
    hot = inputs.url_str(2)
    assert urls.count(hot) == counts[2] > 50
    # the same seed gives the same inputs
    again = inputs.crawl_rows(str(tmp_path / "again"), 3, 20_000, 5_000, 4)
    assert np.array_equal(counts, again)


def test_frontier_counts_equal_group_by(tmp_path):
    seen, front = str(tmp_path / "seen"), str(tmp_path / "front")
    inputs.crawl_frontier(seen, front, 5, 1_000, 3_000)
    s = pq.read_table(seen).to_pandas()
    f = pq.read_table(front).to_pandas()
    by_url = s.groupby("url").size()
    assert set(s["k"]) == set(range(1_000))
    assert (f["n"].to_numpy() == by_url.loc[f["url"]].to_numpy()).all()


def test_counts_ok():
    expected = np.array([3, 0, 1])
    assert workloads.counts_ok([True, False, True], [3, 0, 1], expected)
    assert not workloads.counts_ok([True, False, True], [2, 0, 1], expected)
    # a false positive on an absent key fails the exact check
    assert not workloads.counts_ok([True, True, True], [3, 1, 1], expected)
    # so does a member reported absent, whatever its count reads
    assert not workloads.counts_ok([True, False, False], [3, 0, 1], expected)


def test_frontier_ok():
    row = {"rows": 100, "fn": 0, "bad": 0, "fp": 0, "absent": 50}
    assert workloads.frontier_ok(row, 100, 40) == (True, 1)
    assert not workloads.frontier_ok(dict(row, fn=1), 100, 40)[0]
    assert not workloads.frontier_ok(dict(row, bad=1), 100, 40)[0]
    assert not workloads.frontier_ok(dict(row, rows=99), 100, 40)[0]
    assert workloads.frontier_ok(dict(row, fp=1), 100, 40)[0]
    assert not workloads.frontier_ok(dict(row, fp=2), 100, 40)[0]


def test_first_occurrences_ok():
    assert workloads.first_occurrences_ok(["a", "b"], {"a", "b"})
    assert not workloads.first_occurrences_ok(["a", "b", "a"], {"a", "b"})
    assert not workloads.first_occurrences_ok(["a"], {"a", "b"})


def test_tail_percentile():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100)
    values = list(range(1, 21))      # 20 samples: p50 leaves 10 beyond
    assert harness.tail(values) == (10.0, 50)
    value, pct = harness.tail(range(1, 101))
    assert (value, pct) == (90.0, 90)


def test_insert_branch_ok():
    # the library inserts when new * 16 < state; the check wants twice that
    assert workloads.insert_branch_ok(100, 3_201)
    assert not workloads.insert_branch_ok(100, 3_200)
    assert not workloads.insert_branch_ok(150, 3_201)


def test_stream_files_bring_new_keys_at_a_steady_rate(tmp_path):
    keys = inputs.stream_files(str(tmp_path), 7, 4, 500, 40, 6, 100)
    assert [len(k) for k in keys] == [500, 40, 40, 40]
    seen = set(keys[0].tolist())
    for k in keys[1:]:
        assert len(set(k.tolist()) - seen) == 6
        seen |= set(k.tolist())
    first = pq.read_table(str(tmp_path / "part-00000.parquet"))
    assert first.column("url").to_pylist() == [inputs.url_str(int(k))
                                               for k in keys[0]]
