"""Determinism and shape of the seeded inventory batches.

    python -m pytest perfbench/tests -q
"""

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import medallion_gen as gen  # noqa: E402


def test_same_seed_same_files(tmp_path):
    a = gen.ensure_batches(str(tmp_path / "a"), 5)
    b = gen.ensure_batches(str(tmp_path / "b"), 5)
    assert a["rows"] == b["rows"] and a["bytes"] == b["bytes"]
    for fa, fb in zip(a["csv"], b["csv"]):
        assert filecmp.cmp(fa, fb, shallow=False)


def test_other_seed_other_rows():
    assert gen.generate(1, 2, 500) != gen.generate(2, 2, 500)


def test_cached_batches_are_reused(tmp_path):
    first = gen.ensure_batches(str(tmp_path), 3)
    os.utime(first["csv"][0], (0, 0))
    again = gen.ensure_batches(str(tmp_path), 3)
    assert again == first
    assert os.stat(first["csv"][0]).st_mtime == 0  # not rewritten


def test_batches_carry_the_fixture_quirks():
    batches = gen.generate(7, 3, 2000)
    first, second = batches[0], batches[1]
    # exact duplicates within a batch, and NULL dates
    assert len(set(first)) < len(first)
    assert any(r[1] is None for r in first)
    assert any(r[5] == "Dum" for r in first)
    assert any(r[8] != round(r[6] * r[7], 2) for r in first)  # total_sales mismatches
    # later batches: rows on the previous max date, re-deliveries, new keys
    prev_max = max(r[1] for r in first if r[1] is not None)
    assert any(r[1] == prev_max for r in second)
    assert set(first) & set(second)
    assert {r[4] for r in second} - {r[4] for r in first}
    assert {r[2] for r in second} - {r[2] for r in first}
    # each batch lies after the one before, apart from overlap and re-delivery rows
    later = [r for r in second if r[1] is not None and r[1] > prev_max]
    assert len(later) > 0.9 * len(second)
