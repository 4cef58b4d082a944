"""The generated events feed depends on the seed alone.

Run from the repository root: ``python3 -m pytest perfbench/test_inputs.py -q``
"""

import hashlib
import os

import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_inputs(root: str, seed: int) -> dict[str, str]:
    feed = gen.EventsFeed(seed)
    os.makedirs(root)
    for k in range(4):
        feed.write_tick(os.path.join(root, f"tick_{k:05d}.parquet"))
    return _digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_inputs(str(tmp_path / "a"), 7)
    b = _write_inputs(str(tmp_path / "b"), 7)
    assert len(a) == 4
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_inputs(str(tmp_path / "a"), 7)
    b = _write_inputs(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_events_feed_bookkeeping(tmp_path):
    """Duplicates and late rows are on top of the expected in-window rows,
    and every tick after the first admits new tenants."""
    import pyarrow.parquet as pq

    feed = gen.EventsFeed(3)
    rows, active = [], []
    for k in range(3):
        path = str(tmp_path / f"t{k}.parquet")
        feed.write_tick(path)
        rows.append(pq.read_table(path))
        active.append(feed.active)
    assert active == [1000, 1020, 1040]
    assert feed.expected_rows == 3 * feed.ROWS_PER_TICK
    for t in rows:
        ids = t.column("event_id").to_pylist()
        assert len(ids) > len(set(ids))  # intra-batch duplicates
    assert rows[0].num_rows < rows[1].num_rows  # late rows from the second tick on
