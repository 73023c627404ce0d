"""Seeded input generators for the benchmark.

Two families, both fully determined by their arguments (same seed, same
bytes):

- ``write_bronze_hours``: gharchive-shaped hourly ``.json.gz`` bronze
  files in the reference ``{base}/{YYYY-MM-DD}/{HH}/`` layout. Each
  record carries a ~1 KB ``payload`` the pinned schema must skip; repo
  and actor ids are Zipf-skewed; about 0.1% of lines are malformed
  (truncated JSON), which the engine's reader must drop (DuckDB's
  ``read_json_auto(..., ignore_errors=true)`` turns each into an
  all-NULL record instead).
- ``write_tables``: the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the query inventory reads,
  with the same schemas and value domains as the synthetic testdata
  TESTDATA.md describes, scaled by ``sf``.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import subprocess
import sys
from datetime import datetime, timedelta

import numpy as np

EVENT_TYPES = [
    "PushEvent", "CreateEvent", "WatchEvent", "PullRequestEvent",
    "IssueCommentEvent", "IssuesEvent", "ForkEvent", "DeleteEvent",
    "PullRequestReviewEvent", "ReleaseEvent",
]
# rough gharchive mix: pushes dominate
_EVENT_TYPE_P = np.array([0.45, 0.12, 0.1, 0.08, 0.07, 0.05, 0.04, 0.04, 0.03, 0.02])
MALFORMED_RATE = 0.001
# one gharchive-shaped record; ``payload`` (~1 KB) is not in the pinned
# schema, so the reader must skip it
_RECORD = (
    '{"id":%(id)d,"type":"%(type)s","actor":{"id":%(actor)d,'
    '"login":"user%(actor)d","display_login":"user%(actor)d","gravatar_id":"",'
    '"url":"https://api.github.com/users/user%(actor)d",'
    '"avatar_url":"https://avatars.githubusercontent.com/u/%(actor)d?"},'
    '"repo":{"id":%(repo)d,"name":"org%(org)d/repo%(repo)d",'
    '"url":"https://api.github.com/repos/org%(org)d/repo%(repo)d"},'
    '"payload":{"push_id":%(id)d,"ref":"refs/heads/main","head":"%(sha)s",'
    '"commits":[%(commits)s]},"public":true,"created_at":"%(ts)s"}'
)


def _zipf_ids(rng: np.random.Generator, n: int, universe: int, a: float = 1.2) -> np.ndarray:
    """Zipf-ranked ids in [1, universe]: rank r maps to a scrambled id so
    hot ids are not simply the smallest numbers."""
    ranks = np.minimum(rng.zipf(a, n), universe) - 1
    return (ranks * 2_654_435_761 % universe) + 1


def bronze_hour(
    seed: int, hour_start: datetime, events: int
) -> tuple[bytes, int, int]:
    """One hour of bronze: (gzip bytes, valid records, malformed lines).

    The gzip header carries no filename and mtime 0, so the bytes depend
    only on the arguments."""
    epoch = int((hour_start - datetime(1970, 1, 1)).total_seconds())
    rng = np.random.default_rng([seed, epoch])
    types = rng.choice(len(EVENT_TYPES), size=events, p=_EVENT_TYPE_P)
    actors = _zipf_ids(rng, events, 2_000_000)
    repos = _zipf_ids(rng, events, 500_000)
    secs = np.sort(rng.integers(0, 3600, size=events))
    bad = rng.random(events) < MALFORMED_RATE
    filler = rng.integers(0, 1 << 62, size=(events, 4))
    base_id = epoch * 100_000
    lines = []
    valid = 0
    for i in range(events):
        actor = int(actors[i])
        repo = int(repos[i])
        sha = "%016x%016x%016x%016x" % tuple(int(x) for x in filler[i])
        # fixed shape in every record (same keys, same types) so DuckDB's
        # sampled schema inference never rejects a record the pinned
        # Spark schema accepts
        commits = ",".join(
            '{"sha":"%s","message":"%s"}' % (sha[k:k + 40], (sha + sha)[k:k + 96])
            for k in range(0, 24, 3)
        )
        line = _RECORD % {
            "id": base_id + i,
            "type": EVENT_TYPES[types[i]],
            "actor": actor,
            "repo": repo,
            "org": repo % 997,
            "sha": sha,
            "commits": commits,
            "ts": (hour_start + timedelta(seconds=int(secs[i]))).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ),
        }
        if bad[i]:
            # truncated mid-record: unparseable for both engines
            line = line[: len(line) // 2]
        else:
            valid += 1
        lines.append(line)
    raw = ("\n".join(lines) + "\n").encode()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, compresslevel=1) as gz:
        gz.write(raw)
    return buf.getvalue(), valid, events - valid


def _write_hour(bronze_root: str, seed: int, t: datetime, events: int) -> dict:
    data, valid, bad = bronze_hour(seed, t, events)
    d = os.path.join(bronze_root, t.strftime("%Y-%m-%d"), t.strftime("%H"))
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{t.strftime('%Y-%m-%d')}-{t.hour}.json.gz")
    with open(path, "wb") as fh:
        fh.write(data)
    return {"hour": t, "path": path, "valid": valid, "malformed": bad, "bytes": len(data)}


def write_bronze_hours(
    bronze_root: str,
    seed: int,
    stamps: list[datetime],
    events_per_hour: int,
    workers: int = 1,
) -> list[dict]:
    """Write one hourly file per hour in ``stamps`` under
    ``{bronze_root}/{YYYY-MM-DD}/{HH}/{YYYY-MM-DD}-{H}.json.gz``. With
    ``workers`` > 1 the hours are split over that many child processes
    (``python3 -m lakebench.gen``), each waited for before this returns.
    Returns one manifest row per hour with the expected valid and
    malformed counts."""
    chunks = [c for c in (stamps[i::workers] for i in range(max(1, workers))) if c]
    if len(chunks) <= 1:
        return [_write_hour(bronze_root, seed, t, events_per_hour) for t in stamps]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = []
    try:
        for chunk in chunks:
            procs.append(subprocess.Popen(
                [sys.executable, "-m", "lakebench.gen", bronze_root, str(seed),
                 str(events_per_hour), *(t.isoformat() for t in chunk)],
                cwd=root, stdout=subprocess.PIPE, text=True,
            ))
        outs = [p.communicate()[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"bronze generator exited with {[p.returncode for p in procs]}")
    rows = {}
    for out in outs:
        for line in out.splitlines():
            row = json.loads(line)
            row["hour"] = datetime.fromisoformat(row["hour"])
            rows[row["hour"]] = row
    return [rows[t] for t in stamps]


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVTYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start: str, stop: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(stop, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict:
    """pyarrow tables keyed by name, matching the testdata schemas."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(_EVTYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        words = rng.integers(0, len(_WORDS), rng.integers(10, 101))
        texts.append(" ".join(_WORDS[w] for w in words))
    # planted near-duplicates (a copy plus one marker token) and a few
    # exact twins, so the dedup tiers have real work to find; fixed
    # counts keep that work the same for every seed
    picks = rng.permutation(np.arange(1, n_doc))
    n_near, n_twin = n_doc // 20, max(1, n_doc // 500)
    for i in picks[:n_near]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in picks[n_near:n_near + n_twin]:
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] * 0.5 + rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one snappy parquet file per table (single row group, like
    the testdata). Returns bytes written per table."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)
        sizes[name] = os.path.getsize(path)
    return sizes


def day_start(seed: int) -> datetime:
    """A seed-dependent UTC midnight in 2024, so different seeds land in
    different partition paths."""
    return datetime(2024, 1, 1) + timedelta(days=seed % 300)


if __name__ == "__main__":
    # python3 -m lakebench.gen <bronze_root> <seed> <events_per_hour> <iso hour>...
    # writes those hours and prints one JSON manifest row per hour
    _root, _seed, _events, *_hours = sys.argv[1:]
    for _h in _hours:
        _row = _write_hour(_root, int(_seed), datetime.fromisoformat(_h), int(_events))
        print(json.dumps({**_row, "hour": _h}), flush=True)
