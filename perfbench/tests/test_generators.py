"""Tests of the seeded input generators."""
import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_drops  # noqa: E402
import gen_tables  # noqa: E402

SMALL = gen_drops.Layout(backfill_days=2, daily_drops=1, rows_per_day=40, customers=20)


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    same, diff, err = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not diff and not err and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _mtimes(root):
    return sorted((os.path.relpath(os.path.join(b, f), root), os.path.getmtime(os.path.join(b, f)))
                  for b, _, fs in os.walk(root) for f in fs)


def test_same_seed_same_drop_bytes(tmp_path):
    _, e1 = gen_drops.generate(str(tmp_path / "a"), 11, SMALL)
    _, e2 = gen_drops.generate(str(tmp_path / "b"), 11, SMALL)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert _mtimes(tmp_path / "a") == _mtimes(tmp_path / "b")
    assert e1 == e2


def test_other_seed_other_drop_bytes(tmp_path):
    gen_drops.generate(str(tmp_path / "a"), 11, SMALL)
    gen_drops.generate(str(tmp_path / "b"), 12, SMALL)
    assert not _same_tree(tmp_path / "a", tmp_path / "b")


def test_drop_layout_and_expectations(tmp_path):
    drops, expected = gen_drops.generate(str(tmp_path), 5, SMALL)
    assert [e["days"] for e in expected] == [["2020-01-01", "2020-01-02"], ["2020-01-03"]]
    for d in drops:
        assert os.path.isfile(os.path.join(d, "exchange-rate-data.csv"))
        for cc, fmt in gen_drops.COUNTRIES:
            assert os.path.isdir(os.path.join(d, "sales", f"source={cc}", f"format={fmt}"))
    # the expected Paid+Delivered set only grows, and later drops revise
    assert set(expected[0]["paid_delivered"]) <= set(expected[1]["paid_delivered"])
    csv = open(os.path.join(drops[0], "sales", "source=IN", "format=csv", "date=2020-01-01",
                            "order-20200101.csv")).read()
    assert '"' in csv and "null" in csv


def test_same_seed_same_table_bytes(tmp_path):
    gen_tables.generate(str(tmp_path / "a"), 3, 0.2)
    gen_tables.generate(str(tmp_path / "b"), 3, 0.2)
    gen_tables.generate(str(tmp_path / "c"), 4, 0.2)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
