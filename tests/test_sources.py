"""Source/ingest adapters: multiline CSV fixtures (A7), Kafka wire shape
(A9), raw appdetails flatten (B15/B16/F2), appid validation (B17).

The CSV tests replay the reference's own captured fixtures
(``/root/reference/inputs/`` — read-only) through ``read_review_csv``,
the deterministic batch stand-in for the review stream.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from bigdata_20251_steam_spark.operators.ingest import (
    flatten_app_details,
    valid_appids,
)
from bigdata_20251_steam_spark.sources.batch import (
    load_table,
    parse_json_records,
    read_review_csv,
)
from bigdata_20251_steam_spark.sources.kafka import to_kafka_records

_REVIEWS_DIR = "/root/reference/inputs/reviews"
_CHARTS_CSV = "/root/reference/inputs/charts/steamcharts_24h.csv"

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(_REVIEWS_DIR), reason="reference fixtures not present"
)


@needs_fixtures
def test_review_csv_multiline(spark):
    # steam_reviews_730.csv embeds newlines/Unicode inside quoted review
    # text (SURVEY.md §7 risk #4): row count must match logical records
    # (500/148/500 per app), not physical lines.
    df = read_review_csv(spark, f"{_REVIEWS_DIR}/steam_reviews_730.csv")
    assert df.count() == 500
    all3 = read_review_csv(spark, _REVIEWS_DIR)
    assert all3.count() == 1148
    # multiline reviews survive as single fields
    assert all3.filter(F.col("review").contains("\n")).count() > 0
    # recommended arrives as "True"/"False" strings -> boolean cast works
    flags = all3.select(F.col("recommended").cast("boolean").alias("r"))
    assert flags.filter(F.col("r").isNull()).count() == 0


@needs_fixtures
def test_charts_csv(spark):
    df = (
        spark.read.option("header", True)
        .csv(_CHARTS_CSV)
        .select(
            F.col("appid").cast("int").alias("appid"),
            F.col("player_count").cast("int").alias("player_count"),
        )
    )
    assert df.count() == 2578
    assert df.filter(F.col("player_count").isNull()).count() == 0


def test_kafka_roundtrip(spark):
    # to_kafka_records (A9) must invert through parse_json_records (A2+A3)
    src = spark.createDataFrame(
        [(730, "CS2", 1500000), (570, "Dota 2", 800000)],
        "appid int, name string, player_count int",
    )
    wire = to_kafka_records(src, key_col="appid")
    assert wire.columns == ["key", "value"]
    rows = {r["key"]: json.loads(r["value"]) for r in wire.collect()}
    assert rows["730"] == {"name": "CS2", "player_count": 1500000}
    parsed = parse_json_records(
        wire, spark.createDataFrame([], "name string, player_count int").schema
    )
    assert {r["name"] for r in parsed.collect()} == {"CS2", "Dota 2"}


def test_flatten_app_details(spark):
    full = {
        "name": "Half-Life 3",
        "type": "game",
        "release_date": {"coming_soon": False, "date": "1 Jan, 2030"},
        "is_free": False,
        "short_description": "finally",
        "developers": ["Valve"],
        "publishers": ["Valve"],
        "genres": [
            {"id": "1", "description": "Action"},
            {"id": "37", "description": "FPS"},
        ],
        "categories": [{"id": "2", "description": "Single-player"}],
        "price_overview": {
            "currency": "USD", "initial": 5999, "final": 2999,
            "discount_percent": 50,
        },
        "metacritic": {"score": 99},
        "recommendations": {"total": 123456},
        "achievements": {"total": 42},
    }
    sparse = {"type": "demo"}  # exercises every default (B15)
    raw = spark.createDataFrame(
        [(10, json.dumps(full)), (20, json.dumps(sparse))],
        "appid int, raw_json string",
    )
    out = {r["appid"]: r.asDict() for r in flatten_app_details(raw).collect()}
    assert out[10]["name"] == "Half-Life 3"
    assert out[10]["genres"] == ["Action", "FPS"]  # F2 list-of-struct -> str
    assert out[10]["primary_genre"] == "Action"
    assert out[10]["release_date"] == "1 Jan, 2030"
    assert out[10]["metacritic"] == 99
    assert out[10]["price_overview"]["final"] == 2999
    assert out[10]["achievements_count"] == 42
    assert out[20]["name"] == "App 20"  # fallback name (steam_utils.py:185)
    assert out[20]["genres"] == []
    assert out[20]["primary_genre"] is None
    assert out[20]["is_free"] is False
    assert out[20]["achievements_count"] == 0


def test_valid_appids(spark):
    lines = spark.createDataFrame(
        [("730",), (" 570 ",), ("",), ("# comment",), ("12ab",), ("440",)],
        "value string",
    )
    got = sorted(r["appid"] for r in valid_appids(lines).collect())
    assert got == [440, 570, 730]


def test_jsonl_round_trip_with_split_partitioning(spark, tmp_path):
    """JSONL delivery: hash-split docs -> partitioned gzip shards -> read
    back schema-first with full fidelity (incl. multiline-unsafe text)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from bigdata_20251_steam_spark.operators.sampling import hash_split
    from bigdata_20251_steam_spark.sources.batch import read_jsonl, write_jsonl

    docs = spark.createDataFrame(
        [
            (1, 'text with "quotes" and\ttabs'),
            (2, "unicode: привет 你好"),
            (3, "newline\\n literal backslash"),
        ] + [(i, f"doc {i}") for i in range(10, 40)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "delivery")
    write_jsonl(
        hash_split(docs, "doc_id").repartition(2),
        out,
        partition_cols=("split",),
    )
    import glob

    shards = glob.glob(f"{out}/split=*/part-*.json.gz")
    assert shards, "expected partitioned gzip shards"

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    back = read_jsonl(spark, out, schema)
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert got == want
    # malformed line degrades to nulls, never fails the read (PERMISSIVE)
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\n{broken json\n')
    parsed = read_jsonl(spark, str(bad), schema).collect()
    assert len(parsed) == 2
    assert sorted([r["doc_id"] for r in parsed], key=lambda x: (x is None, x)) \
        == [1, None]


# ---------------------------------------------------------------------------
# paged_api Python DataSource (A8)
# ---------------------------------------------------------------------------


def _write_page(dir_, app_id, page, reviews, next_cursor=""):
    import json
    import os

    with open(os.path.join(dir_, f"{app_id}_page{page}.json"), "w") as f:
        json.dump({"reviews": reviews, "cursor": next_cursor}, f)


def _rev(i, text="ok"):
    return {
        "recommendationid": i,
        "author": {"steamid": f"s{i}", "playtime_at_review": 1,
                   "playtime_forever": 2},
        "language": "english", "voted_up": True, "votes_up": 1,
        "weighted_vote_score": 0.5, "timestamp_created": 1700000000 + i,
        "review": text,
    }


def _api_df(spark, fixture_dir, appids, max_pages=3):
    from bigdata_20251_steam_spark.sources.paged_api import register_paged_api

    register_paged_api(spark)
    return (
        spark.read.format("paged_api")
        .option("appids", ",".join(str(a) for a in appids))
        .option("fixture_dir", fixture_dir)
        .option("max_pages", max_pages)
        .load()
    )


def test_paged_api_cursor_chain_and_caps(spark, tmp_path):
    d = str(tmp_path)
    # app 1: three pages chained; max_pages=2 must stop after two
    _write_page(d, 1, 0, [_rev(10), _rev(11)], next_cursor="1")
    _write_page(d, 1, 1, [_rev(12)], next_cursor="2")
    _write_page(d, 1, 2, [_rev(13)], next_cursor="")
    # app 2: one page, empty cursor terminates
    _write_page(d, 2, 0, [_rev(20)], next_cursor="")
    # app 3: no files at all -> zero rows, no error
    got = _api_df(spark, d, [1, 2, 3], max_pages=2).collect()
    ids = sorted(r["review_id"] for r in got)
    assert ids == [10, 11, 12, 20]  # page 2 of app 1 never fetched


def test_paged_api_empty_page_terminates(spark, tmp_path):
    d = str(tmp_path)
    _write_page(d, 5, 0, [], next_cursor="1")  # empty first page
    _write_page(d, 5, 1, [_rev(50)], next_cursor="")
    assert _api_df(spark, d, [5]).count() == 0


def test_paged_api_flatten_and_clean(spark, tmp_path):
    d = str(tmp_path)
    _write_page(
        d, 7, 0,
        [_rev(70, text="<i>good &amp; <b>bad</b></i>  ")],
        next_cursor="",
    )
    row = _api_df(spark, d, [7]).collect()[0]
    assert row["review_text"] == "good & bad"
    assert row["author_steamid"] == "s70"
    assert row["playtime_forever"] == 2  # nested author struct flattened


def test_paged_api_one_partition_per_app(spark, tmp_path):
    d = str(tmp_path)
    for a in range(6):
        _write_page(d, a, 0, [_rev(100 + a)], next_cursor="")
    df = _api_df(spark, d, list(range(6)))
    assert df.rdd.getNumPartitions() == 6  # per-app parallel crawl
    assert df.count() == 6


def test_paged_api_stream_incremental_exactly_once(spark, tmp_path):
    """readStream over the API source: pages appearing between runs are
    consumed exactly once (offsets = per-app next-page, checkpointed)."""
    import os

    from bigdata_20251_steam_spark.sources.paged_api import register_paged_api

    register_paged_api(spark)
    d = str(tmp_path / "pages")
    os.makedirs(d)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_page(d, 1, 0, [_rev(10), _rev(11)], next_cursor="1")
    _write_page(d, 2, 0, [_rev(20)], next_cursor="")

    def run_once():
        q = (
            spark.readStream.format("paged_api")
            .option("appids", "1,2")
            .option("fixture_dir", d)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got1 = sorted(
        r["review_id"] for r in spark.read.parquet(sink).collect()
    )
    assert got1 == [10, 11, 20]
    # new pages land for both apps; restart consumes ONLY the new ones
    _write_page(d, 1, 1, [_rev(12)], next_cursor="")
    _write_page(d, 2, 1, [_rev(21)], next_cursor="")
    run_once()
    got2 = sorted(
        r["review_id"] for r in spark.read.parquet(sink).collect()
    )
    assert got2 == [10, 11, 12, 20, 21]  # no re-reads, no gaps


# ---------------------------------------------------------------------------
# paged_api over REAL HTTP — loopback http.server (r9 verdict #3)
# ---------------------------------------------------------------------------


def _start_loopback_api(pages_dir, request_log):
    """Serve the page fixtures over HTTP with OPAQUE cursor tokens.

    Speaks the reference's parameter surface (json=1, filter=recent,
    language=english, review_type=all, purchase_type=all, num_per_page,
    cursor — producers/steam_utils.py:137-146) and 400s any request
    missing it, so a passing test proves the client sent every
    parameter (r11: the three filter params joined the contract — the
    live API returns all-language reviews without them).  Cursors are re-minted as ``opq-<n>`` tokens the
    client cannot compute, proving the cursor is threaded opaquely from
    each response into the next request rather than synthesized.
    """
    import http.server
    import json
    import os
    import threading
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence per-request stderr
            pass

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            qs = urllib.parse.parse_qs(parsed.query)
            request_log.append(self.path)
            ok_params = (
                qs.get("json") == ["1"]
                and qs.get("filter") == ["recent"]
                and qs.get("language") == ["english"]
                and qs.get("review_type") == ["all"]
                and qs.get("purchase_type") == ["all"]
                and "num_per_page" in qs
                and "cursor" in qs
            )
            cur = qs.get("cursor", [""])[0]
            if cur == "*":
                page = 0
            elif cur.startswith("opq-"):
                page = int(cur[4:])
            else:
                page = None
            if not ok_params or page is None:
                self.send_response(400)
                self.end_headers()
                return
            app_id = parsed.path.rstrip("/").split("/")[-1]
            path = os.path.join(pages_dir, f"{app_id}_page{page}.json")
            if os.path.exists(path):
                with open(path) as f:
                    body = json.load(f)
                if body.get("cursor"):
                    body["cursor"] = f"opq-{page + 1}"
            else:
                body = {"reviews": [], "cursor": ""}
            data = json.dumps(body).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_paged_api_http_batch_loopback(spark, tmp_path):
    """The REAL HTTP transport (urllib in executor workers) against a
    loopback server: cursor chain, param surface, termination."""
    import urllib.parse

    from bigdata_20251_steam_spark.sources.paged_api import register_paged_api

    d = str(tmp_path)
    _write_page(d, 1, 0, [_rev(10), _rev(11)], next_cursor="x")
    _write_page(d, 1, 1, [_rev(12)], next_cursor="")
    _write_page(d, 2, 0, [_rev(20)], next_cursor="")
    log = []
    srv = _start_loopback_api(d, log)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/appreviews"
        register_paged_api(spark)
        df = (
            spark.read.format("paged_api")
            .option("appids", "1,2,3")
            .option("base_url", base)
            .option("max_pages", 5)
            .load()
        )
        ids = sorted(r["review_id"] for r in df.collect())
        assert ids == [10, 11, 12, 20]  # app 3: empty response, 0 rows
        cursors = [
            urllib.parse.parse_qs(urllib.parse.urlparse(p).query)["cursor"][0]
            for p in log
        ]
        # every request carried either the start sentinel or a token the
        # server minted — the client threads cursors opaquely
        assert set(cursors) <= {"*", "opq-1", "opq-2"}
        assert "opq-1" in cursors  # page 1 of app 1 reached via the token
    finally:
        srv.shutdown()


def test_paged_api_http_stream_loopback(spark, tmp_path):
    """readStream over the HTTP transport: cursor-bearing offsets give
    exactly-once across restarts; new pages behind a live cursor are
    picked up, exhausted chains are not re-read."""
    import os

    from bigdata_20251_steam_spark.sources.paged_api import register_paged_api

    register_paged_api(spark)
    d = str(tmp_path / "pages")
    os.makedirs(d)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    # app 1: page 0 with a live cursor (page 1 not there yet)
    _write_page(d, 1, 0, [_rev(10), _rev(11)], next_cursor="x")
    # app 2: single exhausted page
    _write_page(d, 2, 0, [_rev(20)], next_cursor="")
    log = []
    srv = _start_loopback_api(d, log)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/appreviews"

        def run_once():
            q = (
                spark.readStream.format("paged_api")
                .option("appids", "1,2")
                .option("base_url", base)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        got1 = sorted(r["review_id"] for r in spark.read.parquet(sink).collect())
        assert got1 == [10, 11, 20]
        # page 1 appears behind app 1's still-live cursor
        _write_page(d, 1, 1, [_rev(12)], next_cursor="")
        run_once()
        got2 = sorted(r["review_id"] for r in spark.read.parquet(sink).collect())
        assert got2 == [10, 11, 12, 20]  # exactly once: no re-reads, no gaps
    finally:
        srv.shutdown()


def test_paged_api_http_stream_raises_on_truncated_range(tmp_path):
    """r11 (ADVICE): latestOffset PROVED the committed range's pages
    exist, so a transient empty page mid-range must RAISE (task retry)
    instead of silently breaking — breaking would commit the
    checkpointed offset over pages never read (silent data loss under
    the exactly-once contract; Steam's API intermittently returns
    empty review lists with HTTP 200)."""
    import types

    import pytest

    from bigdata_20251_steam_spark.sources.paged_api import (
        PagedApiDataSource,
    )

    d = str(tmp_path)
    # the server has ONLY page 0; the committed range claims 2 pages
    _write_page(d, 1, 0, [_rev(10)], next_cursor="x")
    log = []
    srv = _start_loopback_api(d, log)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/appreviews"
        sr = PagedApiDataSource(
            {"appids": "1", "base_url": base}
        ).streamReader(None)
        part = types.SimpleNamespace(value=("http", 1, "*", 2))
        with pytest.raises(IOError, match="committed range"):
            list(sr.read(part))
        # a range the server CAN serve yields and terminates normally
        ok = list(
            sr.read(types.SimpleNamespace(value=("http", 1, "*", 1)))
        )
        assert [r[1] for r in ok] == [10]  # review_id field
    finally:
        srv.shutdown()


def test_paged_api_http_probe_page_cap(tmp_path):
    """r11 (ADVICE): the driver-side latestOffset probe advances at
    most max_pages_per_trigger pages per app per trigger — the first
    trigger on an app with a long history must not fetch the whole
    chain serially on the driver; unread pages arrive over subsequent
    triggers."""
    from bigdata_20251_steam_spark.sources.paged_api import (
        PagedApiDataSource,
    )

    d = str(tmp_path)
    _write_page(d, 1, 0, [_rev(10)], next_cursor="x")
    _write_page(d, 1, 1, [_rev(11)], next_cursor="x")
    _write_page(d, 1, 2, [_rev(12)], next_cursor="")
    log = []
    srv = _start_loopback_api(d, log)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/appreviews"
        sr = PagedApiDataSource(
            {"appids": "1", "base_url": base, "max_pages_per_trigger": "1"}
        ).streamReader(None)
        ns = [sr.latestOffset()["1"]["n"] for _ in range(4)]
        assert ns == [1, 2, 3, 3]  # one page per trigger, then parked
        # exactly one request per productive probe; the exhausted chain
        # (empty cursor) is never probed again
        assert len(log) == 3
    finally:
        srv.shutdown()


def test_load_table_second_load_fires_no_job(spark, tmp_path, jobs_fired):
    """The first load of a table infers its schema (a Spark job); a second
    load of the unchanged file reads with the memoized schema and starts
    no job at all."""
    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f"{d}/t.parquet")
    with jobs_fired() as first:
        load_table(spark, d, "t")
    with jobs_fired() as second:
        df = load_table(spark, d, "t")
    assert first, "the first load should infer the schema"
    assert second == []
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_load_table_rewritten_table_gets_new_schema(spark, tmp_path):
    """The memo is keyed by file version: a table rewritten at the same
    path with other columns is inferred again, for a single parquet file
    and for a directory written by Spark."""
    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f"{d}/t.parquet")
    assert load_table(spark, d, "t").columns == ["a", "b"]
    pq.write_table(
        pa.table({"a": [3], "c": [1.5], "e": [True]}), f"{d}/t.parquet"
    )
    df = load_table(spark, d, "t")
    assert df.columns == ["a", "c", "e"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]

    spark.range(3).write.parquet(f"{d}/u.parquet")
    assert load_table(spark, d, "u").columns == ["id"]
    spark.range(2).selectExpr("id", "id * 2 AS y").write.mode("overwrite").parquet(
        f"{d}/u.parquet"
    )
    df = load_table(spark, d, "u")
    assert df.columns == ["id", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, 0), (1, 2)]


def test_load_table_nanos_and_micros_timestamps(spark, tmp_path):
    """``ts`` written as parquet TIMESTAMP(NANOS) and as micros both load
    as TIMESTAMP with the same values (nanos truncate to micros), on the
    inferring first load and on the memoized second one."""
    nanos = np.array(
        ["2024-01-02T03:04:05.123456789", "2024-06-30T23:59:59.000000999"],
        dtype="datetime64[ns]",
    )
    want = [
        dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        dt.datetime(2024, 6, 30, 23, 59, 59, 0),
    ]
    for unit, values in (("ns", nanos), ("us", nanos.astype("datetime64[us]"))):
        d = str(tmp_path / unit)
        os.makedirs(d)
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": pa.array(values, pa.timestamp(unit))}),
            f"{d}/events.parquet",
            version="2.6",
        )
        written = pq.ParquetFile(f"{d}/events.parquet").schema_arrow
        assert written.field("ts").type == pa.timestamp(unit)
        for _ in range(2):
            df = load_table(spark, d, "events")
            assert df.schema["ts"].dataType == TimestampType(), unit
            got = [r["ts"] for r in df.orderBy("event_id").collect()]
            assert got == want, unit
