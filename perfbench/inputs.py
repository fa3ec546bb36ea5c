"""Seeded input generators: the batch star-schema tables and the stream records.

Batch tables follow the shape of the engine's test tables (TESTDATA.md):
the same ten tables, column names, parquet types, value ranges and
categorical domains, with row counts chosen per workload.  Every value is
drawn from ``numpy.random.default_rng(seed)``, so one seed always gives
the same files.

Stream records are the three Kafka topics of the Steam pipeline in wire
shape (``key``, JSON ``value``, creation ``timestamp``).  App ids are
Zipf-skewed, a fixed share of event times is late, and records inside a
file are out of order.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 test tables.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_ADJ = "large hot small cold red blue green dark".split()
_PART_NOUN = "ring bolt nut screw gear plate pipe valve".split()
_PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _exact(x: np.ndarray, denom: int) -> np.ndarray:
    """Round to a multiple of ``1/denom`` (a power of two).

    Decimal cents are inexact in binary, so their sums depend on the
    order Spark happens to add them in, and a ``round(sum, 6)`` over a
    large sum can differ between two runs of one plan.  Binary fractions
    keep every sum, and every product with a discount or tax, exact; each
    ``denom`` is the finest that keeps the largest sum of its column below
    2**53.  Fine fractions also make an average land exactly on a 6-decimal
    rounding tie, where Spark and DuckDB round differently, only rarely.
    """
    return np.round(x * denom) / denom


def _money(rng: np.random.Generator, n: int, lo: float, hi: float,
           denom: int) -> np.ndarray:
    return _exact(rng.uniform(lo, hi, n), denom)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents with ~5% near-duplicate families."""
    vocab = np.array(_VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = list(words[int(rng.integers(0, i))])
        for j in np.flatnonzero(rng.random(len(src)) < 0.05):
            src[j] = str(vocab[rng.integers(0, len(vocab))])
        words[i] = src + ["dup"]
    texts = [" ".join(w) for w in words]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit-norm 64-d float32 vectors around ten weak cluster centres."""
    centres = rng.normal(0.0, 0.07, (10, 64))
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = centres[labels] + rng.normal(0.0, 0.125, (n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def _event_times(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct event times over 30 days and their users, sorted by time.

    Each user gets an odd number of distinct 10-minute windows (one extra
    event where the count came out even).  ``peak_activity`` divides an
    integer sum by that count; an odd divisor never lands on an exact .5,
    the rounding tie on which Spark and DuckDB disagree.
    """
    n_users, win_us, n_win = 1500, 600 * 1_000_000, 30 * 144
    ts = rng.choice(n_win * win_us, n, replace=False)
    users = rng.integers(0, n_users, n)
    used = set((users * n_win + ts // win_us).tolist())
    counts = np.bincount(np.array(sorted(used)) // n_win, minlength=n_users)
    taken = set(ts.tolist())
    extra_t, extra_u = [], []
    for u in np.flatnonzero(counts % 2 == 0):
        w = int(rng.integers(0, n_win))
        while u * n_win + w in used:
            w = int(rng.integers(0, n_win))
        t = w * win_us + int(rng.integers(0, win_us))
        while t in taken:
            t = w * win_us + int(rng.integers(0, win_us))
        taken.add(t)
        extra_t.append(t)
        extra_u.append(u)
    ts = np.concatenate([ts, np.array(extra_t, dtype=ts.dtype)])
    users = np.concatenate([users, np.array(extra_u, dtype=users.dtype)])
    order = np.argsort(ts)
    epoch = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    return ts[order] + epoch, users[order].astype(np.int64)


def write_tables(out_dir: str, seed: int, rows: dict[str, int]) -> dict[str, int]:
    """Write the ten test tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = dict(rows)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99, 2**20)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c), pa.string()),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99, 2**20)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([names[i] for i in rng.integers(0, len(names), p)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)],
                            pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, p, 900.0, 1000.0, 2**20)),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), o),
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0, 2**14)),
        "o_orderdate": pa.array(_days(rng, o, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o), pa.string()),
    })
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0, 2**5)),
        "l_discount": pa.array(rng.integers(0, 13, li) / 128.0),
        "l_tax": pa.array(rng.integers(0, 11, li) / 128.0),
        "l_returnflag": pa.array(rng.choice(np.array(["N", "A", "R"]), li),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), li), pa.string()),
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", "2001-11-04")),
    })
    e = n["events"]
    ts, users = _event_times(rng, e)
    e = len(ts)
    n["events"] = e
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(users),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, e), pa.string()),
        "value": pa.array(_exact(rng.exponential(50.0, e), 2**26)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string()),
    })
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    n.update(region=5, nation=25)
    return n


# ---------------------------------------------------------------------------
# Stream records
# ---------------------------------------------------------------------------

TOPICS = ("reviews", "charts", "players")
_GENRES = (
    "Action Adventure RPG Strategy Indie Casual Simulation Sports Racing "
    "Puzzle Horror Shooter"
).split()
#: Event-time origin of the simulated stream; one generator file advances
#: event time by ``SIM_SECONDS_PER_FILE``.
_SIM_EPOCH = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp())
SIM_SECONDS_PER_FILE = 60
LATE_SHARE = 0.1
_N_APPS = 200
_LATE_MAX_S = 20 * 60


class StreamRecords:
    """Seeded per-topic record payloads, one list of JSON values per file.

    ``payloads(topic, seq)`` returns ``[(key, value_json), ...]`` for file
    ``seq`` of ``topic``; the same (seed, topic, seq) always gives the
    same payloads, so the batch reference can be rebuilt from the files.
    """

    def __init__(self, seed: int, rows_per_file: dict[str, int]):
        self.seed = seed
        self.rows_per_file = rows_per_file

    def _rng(self, topic: str, seq: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 2, TOPICS.index(topic), seq])

    def _event_times(self, rng: np.random.Generator, seq: int, n: int) -> np.ndarray:
        base = _SIM_EPOCH + seq * SIM_SECONDS_PER_FILE
        t = base + rng.integers(0, SIM_SECONDS_PER_FILE, n)
        late = rng.random(n) < LATE_SHARE
        return t - late * rng.integers(1, _LATE_MAX_S, n)

    def _apps(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return 1000 + (rng.zipf(1.3, n) - 1) % _N_APPS

    def payloads(self, topic: str, seq: int) -> list[tuple[str, str]]:
        rng = self._rng(topic, seq)
        n = self.rows_per_file[topic]
        apps = self._apps(rng, n)
        times = self._event_times(rng, seq, n)
        iso = [dt.datetime.fromtimestamp(int(t), dt.timezone.utc)
               .strftime("%Y-%m-%dT%H:%M:%S") for t in times]
        out = []
        if topic == "reviews":
            up = rng.random(n) < 0.7
            votes = rng.integers(0, 500, n)
            score = np.round(rng.random(n), 4)
            for i in range(n):
                rec = {
                    "app_id": str(apps[i]),
                    "review_id": f"{self.seed}-{seq}-{i}",
                    "author_steamid": f"7656{int(rng.integers(0, 10**9)):09d}",
                    "playtime_at_review": int(rng.integers(0, 10_000)),
                    "playtime_forever": int(rng.integers(0, 50_000)),
                    "language": "english",
                    "voted_up": bool(up[i]),
                    "votes_up": int(votes[i]),
                    "weighted_vote_score": float(score[i]),
                    "timestamp_created": int(times[i]),
                    "review_text": " ".join(_VOCAB[j] for j in rng.integers(0, 30, 8)),
                    "scraped_at": iso[i],
                }
                out.append((rec["app_id"], json.dumps(rec)))
        elif topic == "charts":
            for i in range(n):
                k = int(rng.integers(1, 4))
                genres = [_GENRES[j] for j in rng.choice(len(_GENRES), k, replace=False)]
                rec = {
                    "appid": int(apps[i]),
                    "name": f"Game {apps[i]}",
                    "type": "game",
                    "genres": genres,
                    "is_free": bool(rng.random() < 0.2),
                    "timestamp_scraped": iso[i],
                }
                out.append((str(apps[i]), json.dumps(rec)))
        else:
            counts = rng.integers(0, 100_000, n)
            for i in range(n):
                rec = {
                    "appid": int(apps[i]),
                    "player_count": int(counts[i]),
                    "timestamp": iso[i],
                }
                out.append((str(apps[i]), json.dumps(rec)))
        # out-of-order delivery inside the file
        return [out[i] for i in rng.permutation(n)]


def wire_lines(payloads: list[tuple[str, str]], created_ms: int) -> str:
    """Kafka wire records (key, value, creation timestamp) as JSON lines."""
    return "".join(
        json.dumps({"key": k, "value": v, "timestamp": created_ms}) + "\n"
        for k, v in payloads
    )
