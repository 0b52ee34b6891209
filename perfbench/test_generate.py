"""Generator tests: seeded inputs are reproducible, seed-sensitive, and every
generated frame decodes back to the pairs it was made from.

    python3 -m pytest perfbench/test_generate.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import generate  # noqa: E402
from dexscraper_spark.sources.binary import RECORD_SIZE  # noqa: E402
from dexscraper_spark.sources.decode import parse_frame  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_byte_identical_frame_files(tmp_path):
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    generate.FeedGenerator(5).write_file(3, str(a))
    generate.FeedGenerator(5).write_file(3, str(b))
    assert _read(a) == _read(b)


def test_other_seed_or_file_gives_other_frames(tmp_path):
    base = generate.FeedGenerator(5).pairs(0)
    assert generate.FeedGenerator(6).pairs(0) != base
    assert generate.FeedGenerator(5).pairs(1) != base


def test_same_seed_gives_byte_identical_tables(tmp_path):
    generate.write_tables(str(tmp_path / "a"), 9)
    generate.write_tables(str(tmp_path / "b"), 9)
    generate.write_tables(str(tmp_path / "c"), 10)
    for name in generate.TABLE_ROWS:
        a = _read(tmp_path / "a" / f"{name}.parquet")
        assert a == _read(tmp_path / "b" / f"{name}.parquet"), name
        assert pq.read_metadata(tmp_path / "a" / f"{name}.parquet").num_rows \
            == generate.TABLE_ROWS[name]
    assert _read(tmp_path / "a" / "lineitem.parquet") \
        != _read(tmp_path / "c" / "lineitem.parquet")


def test_every_frame_round_trips_through_parse_frame(tmp_path):
    path = tmp_path / "f.parquet"
    frames = generate.FeedGenerator(7).write_file(2, str(path))
    payloads = pq.read_table(path).column("payload").to_pylist()
    assert len(payloads) == len(frames) == generate.FRAMES_PER_FILE
    for payload, pairs in zip(payloads, frames):
        decoded = parse_frame(payload)
        assert len(decoded) == generate.PAIRS_PER_FRAME
        for pos, (got, want) in enumerate(zip(decoded, pairs)):
            assert got.pop("record_position") == pos * RECORD_SIZE
            assert got == want


def test_reference_bars_follow_the_order_key():
    frames = [[{"base_token_symbol": "S", "created_at": 600, "price_usd": p,
                "volume_h24": v} for p, v in ((2.0, 10.0), (1.0, 20.0))],
              [{"base_token_symbol": "S", "created_at": 599, "price_usd": 3.0,
                "volume_h24": 30.0}]]
    bars = generate.reference_bars({0: frames})
    # 599 falls in bar 300, and both 600 rows in bar 600 (msg 0, positions
    # 0 then 1): open is the first by position, close the last
    assert bars[("S", 300)] == (3.0, 3.0, 3.0, 3.0, 30.0, 1)
    assert bars[("S", 600)] == (2.0, 2.0, 1.0, 1.0, 20.0, 2)
