"""The benchmark's input generators are deterministic in their seed."""

import gzip
import json
import os
from datetime import datetime

from lakebench import gen

HOUR = datetime(2024, 3, 5, 7)


def test_same_seed_gives_byte_identical_bronze(tmp_path):
    stamps = [HOUR, datetime(2024, 3, 5, 8)]
    a = gen.write_bronze_hours(str(tmp_path / "a"), 7, stamps, 3000)
    b = gen.write_bronze_hours(str(tmp_path / "b"), 7, stamps, 3000)
    for x, y in zip(a, b):
        with open(x["path"], "rb") as fx, open(y["path"], "rb") as fy:
            assert fx.read() == fy.read()
        assert (x["valid"], x["malformed"]) == (y["valid"], y["malformed"])
    c = gen.write_bronze_hours(str(tmp_path / "c"), 8, stamps, 3000)
    with open(a[0]["path"], "rb") as fa, open(c[0]["path"], "rb") as fc:
        assert fa.read() != fc.read()


def test_child_processes_write_the_same_hours(tmp_path):
    stamps = [HOUR, datetime(2024, 3, 5, 8), datetime(2024, 3, 5, 9)]
    one = gen.write_bronze_hours(str(tmp_path / "one"), 5, stamps, 500)
    two = gen.write_bronze_hours(str(tmp_path / "two"), 5, stamps, 500, workers=2)
    assert [r["hour"] for r in two] == stamps
    for x, y in zip(one, two):
        with open(x["path"], "rb") as fx, open(y["path"], "rb") as fy:
            assert fx.read() == fy.read()
        assert (x["valid"], x["malformed"], x["bytes"]) == (y["valid"], y["malformed"], y["bytes"])


def test_reference_layout_and_names(tmp_path):
    (row,) = gen.write_bronze_hours(str(tmp_path), 1, [HOUR], 10)
    assert row["path"] == os.path.join(str(tmp_path), "2024-03-05", "07", "2024-03-05-7.json.gz")


def test_documented_malformed_count_and_valid_records():
    data, valid, bad = gen.bronze_hour(7, HOUR, 20_000)
    # ~0.1% malformed lines: pinned for this seed, hour and size
    assert (valid, bad) == (19_974, 26)
    lines = gzip.decompress(data).decode().splitlines()
    assert len(lines) == 20_000
    parsed, broken = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except ValueError:
            broken += 1
    assert (len(parsed), broken) == (valid, bad)
    rec = parsed[0]
    assert isinstance(rec["id"], int) and isinstance(rec["actor"]["id"], int)
    assert rec["created_at"].startswith("2024-03-05T07:")
    assert len(json.dumps(rec["payload"])) > 900  # the ~1 KB the schema skips


def test_repo_ids_are_skewed():
    data, _, _ = gen.bronze_hour(3, HOUR, 5000)
    counts = {}
    for line in gzip.decompress(data).decode().splitlines():
        try:
            rid = json.loads(line)["repo"]["id"]
        except ValueError:
            continue
        counts[rid] = counts.get(rid, 0) + 1
    top = max(counts.values())
    assert top > 20 * (sum(counts.values()) / len(counts))


def test_tables_are_seed_deterministic():
    a, b, c = gen.build_tables(5, 0.001), gen.build_tables(5, 0.001), gen.build_tables(6, 0.001)
    assert set(a) == {
        "region", "nation", "supplier", "customer", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500
