"""asof_join / range_join / time-bucket rollup operators."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lotad_spark.operators import (
    asof_join,
    merge_rollup,
    range_join,
    rollup_time_bucket,
)


def _rollup_rows(rollup, dims):
    """A rollup's stored partials as sorted tuples, for equality checks."""
    cols = ["bucket", *dims, "n", "sum_value", "min_value", "max_value"]
    return sorted(map(tuple, rollup.select(*cols).collect()))


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            (1, _ts(0), 100.0),
            (1, _ts(10), 110.0),
            (1, _ts(20), 120.0),
            (2, _ts(5), 200.0),
            (2, None, 999.0),  # null ts: never matches
            (None, _ts(0), 888.0),  # null key: never matches
        ],
        "key bigint, qts timestamp, price double",
    )


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            (1, 1, _ts(0)),  # exactly at a quote: inclusive match
            (2, 1, _ts(15)),  # between quotes: takes the earlier
            (3, 1, _ts(25)),
            (4, 2, _ts(4)),  # before any quote of key 2
            (5, 3, _ts(30)),  # key with no quotes at all
            (6, 1, None),  # null left ts stays unmatched
        ],
        "trade_id bigint, key bigint, tts timestamp",
    )


def test_asof_backward(spark, quotes, trades):
    out = asof_join(
        trades,
        quotes,
        key="key",
        left_ts="tts",
        right_ts="qts",
        value_cols=["price"],
    )
    got = {r["trade_id"]: r["price"] for r in out.collect()}
    assert got == {1: 100.0, 2: 110.0, 3: 120.0, 4: None, 5: None, 6: None}
    assert out.count() == trades.count()  # left join: every row kept


def test_asof_forward(spark, quotes, trades):
    out = asof_join(
        trades,
        quotes,
        key="key",
        left_ts="tts",
        right_ts="qts",
        value_cols=["price"],
        direction="forward",
    )
    got = {r["trade_id"]: r["price"] for r in out.collect()}
    assert got == {1: 100.0, 2: 120.0, 3: None, 4: 200.0, 5: None, 6: None}


def test_asof_tolerance(spark, quotes, trades):
    out = asof_join(
        trades,
        quotes,
        key="key",
        left_ts="tts",
        right_ts="qts",
        value_cols=["price"],
        tolerance_seconds=6 * 60,
    )
    got = {r["trade_id"]: r["price"] for r in out.collect()}
    # trade 2 is 5 min past the 10:10 quote (in tolerance); trade 3 is
    # 5 min past 10:20; trade 1 is exactly at its quote (gap 0).
    assert got == {1: 100.0, 2: 110.0, 3: 120.0, 4: None, 5: None, 6: None}
    tight = asof_join(
        trades,
        quotes,
        key="key",
        left_ts="tts",
        right_ts="qts",
        value_cols=["price"],
        tolerance_seconds=60,
    )
    got = {r["trade_id"]: r["price"] for r in tight.collect()}
    assert got == {1: 100.0, 2: None, 3: None, 4: None, 5: None, 6: None}


def test_asof_matches_sql_inequality(spark, sf_dir):
    """Brute-force SQL oracle: latest order at or before each event."""
    from lotad_spark.sources import read_table

    events = read_table(spark, f"{sf_dir}/events.parquet")
    orders = (
        read_table(spark, f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_ok"))
    )
    got = asof_join(
        events.select("event_id", "user_id", "ts"),
        orders,
        key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["last_ok"],
    )
    events.createOrReplaceTempView("_ev")
    orders.createOrReplaceTempView("_od")
    want = spark.sql(
        """
        SELECT event_id, last_ok FROM (
          SELECT e.event_id, o.last_ok, row_number() OVER (
            PARTITION BY e.event_id
            ORDER BY o.o_orderdate DESC NULLS LAST
          ) AS rn
          FROM _ev e LEFT JOIN _od o
            ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        ) WHERE rn = 1
        """
    )
    g = {r["event_id"]: r["last_ok"] for r in got.collect()}
    w = {r["event_id"]: r["last_ok"] for r in want.collect()}
    assert g == w and len(g) == events.count()


@pytest.fixture(scope="module")
def bands(spark):
    return spark.createDataFrame(
        [
            ("lo", 0.0, 10.0),
            ("mid", 10.0, 20.0),
            ("wide", 5.0, 35.0),
        ],
        "band string, lo double, hi double",
    )


def test_range_join_numeric(spark, bands):
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 5.0, 10.0, 19.99, 20.0, 34.9, 35.0, 99.0])],
        "pid bigint, x double",
    )
    out = range_join(
        pts,
        bands,
        point_col="x",
        start_col="lo",
        end_col="hi",
        bin_width=7.0,
    )
    got = sorted((r["pid"], r["band"]) for r in out.collect())
    # start inclusive, end exclusive; 35.0 and 99.0 match nothing
    assert got == [
        (0, "lo"),
        (1, "lo"),
        (1, "wide"),
        (2, "mid"),
        (2, "wide"),
        (3, "mid"),
        (3, "wide"),
        (4, "wide"),
        (5, "wide"),
    ]


@pytest.mark.parametrize("width", [1.0, 3.3, 50.0])
def test_range_join_bin_width_invariance(spark, bands, width):
    pts = spark.createDataFrame(
        [(i, i * 1.7) for i in range(25)], "pid bigint, x double"
    )
    out = range_join(
        pts,
        bands,
        point_col="x",
        start_col="lo",
        end_col="hi",
        bin_width=width,
    )
    want = sorted(
        (r["pid"], r["band"])
        for r in pts.crossJoin(bands)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
        .collect()
    )
    assert sorted((r["pid"], r["band"]) for r in out.collect()) == want


def test_range_join_keyed_timestamps(spark, sf_dir):
    """Views in the hour before each purchase — vs the SQL inequality."""
    from lotad_spark.sources import read_table

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    out = range_join(
        views,
        purchases,
        point_col="v_ts",
        start_col="w_start",
        end_col="w_end",
        bin_width=3600.0,
        point_key="v_user",
        interval_key="p_user",
    )
    got = sorted((r["v_id"], r["p_id"]) for r in out.collect())
    ev.createOrReplaceTempView("_ev2")
    want = sorted(
        (r["v_id"], r["p_id"])
        for r in spark.sql(
            """
            SELECT v.event_id AS v_id, p.event_id AS p_id
            FROM _ev2 v JOIN _ev2 p
              ON v.user_id = p.user_id
             AND v.event_type = 'view' AND p.event_type = 'purchase'
             AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
            """
        ).collect()
    )
    assert got == want


def test_range_join_rejects_overlap_and_bad_width(spark, bands):
    with pytest.raises(ValueError, match="overlapping"):
        range_join(
            bands,
            bands,
            point_col="lo",
            start_col="lo",
            end_col="hi",
            bin_width=1.0,
        )
    pts = spark.createDataFrame([(1, 1.0)], "pid bigint, x double")
    with pytest.raises(ValueError, match="positive"):
        range_join(
            pts,
            bands,
            point_col="x",
            start_col="lo",
            end_col="hi",
            bin_width=0,
        )
    with pytest.raises(ValueError, match="go together"):
        range_join(
            pts,
            bands,
            point_col="x",
            start_col="lo",
            end_col="hi",
            bin_width=1.0,
            point_key="pid",
        )


def test_rollup_merge_equals_direct(spark, sf_dir):
    """minute→hour merged rollup must be row-identical to aggregating the
    raw events straight to hours — the mergeable-partials invariant."""
    from lotad_spark.sources import read_table

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    minutes = rollup_time_bucket(
        ev, ts_col="ts", value_col="value", unit="minute", dims=["event_type"]
    )
    hours = merge_rollup(minutes, unit="hour", dims=["event_type"])
    direct = rollup_time_bucket(
        ev, ts_col="ts", value_col="value", unit="hour", dims=["event_type"]
    )
    got = _rollup_rows(hours, ["event_type"])
    want = _rollup_rows(direct, ["event_type"])
    assert got == want and len(got) > 0


def test_rollup_chain_and_report(spark):
    ev = spark.createDataFrame(
        [
            (_ts(0, 10), "a", 1.5),
            (_ts(0, 50), "a", 2.5),
            (_ts(59), "a", 4.0),
            (dt.datetime(2024, 1, 1, 11, 0), "a", 8.0),
        ],
        "ts timestamp, k string, value double",
    )
    minutes = rollup_time_bucket(ev, ts_col="ts", value_col="value", dims=["k"])
    assert minutes.count() == 3
    days = merge_rollup(
        merge_rollup(minutes, unit="hour", dims=["k"]), unit="day", dims=["k"]
    )
    r = days.collect()
    assert len(r) == 1
    row = r[0]
    assert row["n"] == 4
    assert float(row["sum_value"]) == 16.0
    assert float(row["min_value"]) == 1.5
    assert float(row["max_value"]) == 8.0
    assert float(row["sum_value"]) / row["n"] == 4.0


def test_rollup_upsert_equals_batch(spark, sf_dir, tmp_path):
    """Nightly maintenance invariant: rolling 20 days then upserting the
    remaining days must read back identical to rolling all 30 at once,
    and untouched day-partitions must keep their original files."""
    import os

    from lotad_spark.operators import (
        read_rollup,
        upsert_rollup,
        write_rollup,
    )
    from lotad_spark.sources import read_table

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    cutoff = "2024-01-21"
    path = str(tmp_path / "rollup")
    write_rollup(
        rollup_time_bucket(
            ev.filter(F.col("ts") < cutoff),
            ts_col="ts",
            value_col="value",
            unit="minute",
            dims=["event_type"],
        ),
        path,
    )
    untouched_day = os.path.join(path, "bucket_day=2024-01-05")
    before = sorted(os.listdir(untouched_day))
    upsert_rollup(
        ev.filter(F.col("ts") >= cutoff),
        path,
        ts_col="ts",
        value_col="value",
        unit="minute",
        dims=["event_type"],
    )
    assert sorted(os.listdir(untouched_day)) == before  # never rewritten
    got = _rollup_rows(read_rollup(spark, path), ["event_type"])
    want = _rollup_rows(
        rollup_time_bucket(
            ev,
            ts_col="ts",
            value_col="value",
            unit="minute",
            dims=["event_type"],
        ),
        ["event_type"],
    )
    assert got == want and len(got) > 0


def test_rollup_distinct_merge_invariant(spark, sf_dir):
    """Unioning minute-level HLL sketches must give the SAME hourly
    estimate as sketching the raw hour directly (registers max-combine
    losslessly), and the estimate must sit within 5% of exact."""
    from lotad_spark.operators import (
        distinct_report,
        merge_distinct_rollup,
        rollup_distinct,
    )
    from lotad_spark.sources import read_table

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    minutes = rollup_distinct(ev, ts_col="ts", id_col="user_id")
    merged = distinct_report(
        merge_distinct_rollup(minutes, unit="hour")
    ).collect()
    direct = distinct_report(
        rollup_distinct(ev, ts_col="ts", id_col="user_id", unit="hour")
    ).collect()
    m = {r["bucket"]: (r["n_rows"], r["n_distinct_est"]) for r in merged}
    d = {r["bucket"]: (r["n_rows"], r["n_distinct_est"]) for r in direct}
    assert m == d and len(m) > 0

    exact = {
        r["bucket"]: r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("bucket")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(exact) == set(m)
    for b, n in exact.items():
        assert abs(m[b][1] - n) <= max(1, 0.05 * n), (b, m[b][1], n)


def test_rollup_distinct_rejects_unknown_unit(spark):
    from lotad_spark.operators import merge_distinct_rollup, rollup_distinct

    ev = spark.createDataFrame([(_ts(0), 1)], "ts timestamp, uid bigint")
    with pytest.raises(ValueError):
        rollup_distinct(ev, ts_col="ts", id_col="uid", unit="epoch")
    with pytest.raises(ValueError):
        merge_distinct_rollup(
            rollup_distinct(ev, ts_col="ts", id_col="uid"), unit="never"
        )


def test_rollup_rejects_unknown_unit(spark):
    ev = spark.createDataFrame([(_ts(0), 1.0)], "ts timestamp, value double")
    with pytest.raises(ValueError):
        rollup_time_bucket(ev, ts_col="ts", value_col="value", unit="fortnight")
    with pytest.raises(ValueError):
        merge_rollup(
            rollup_time_bucket(ev, ts_col="ts", value_col="value"), unit="eon"
        )


def test_asof_randomized_vs_bruteforce(spark):
    """Backward and forward as-of on an adversarial seeded corpus —
    duplicate timestamps across sides, NULL keys/timestamps, keys
    missing on either side — must match a brute-force python scan."""
    import random

    rng = random.Random(20260814)
    base = dt.datetime(2024, 3, 1)
    lrows = [
        (
            i,
            rng.choice([None] + list(range(12))),
            rng.choice(
                [None, base + dt.timedelta(seconds=rng.randrange(0, 600, 5))]
            ),
        )
        for i in range(400)
    ]
    # One right row per (key, ts): asof tie-breaking among identical
    # (key, ts) right rows is nondeterministic by contract.
    seen, rrows = set(), []
    for j in range(300):
        k = rng.choice([None] + list(range(10)))
        t = rng.choice(
            [None, base + dt.timedelta(seconds=rng.randrange(0, 600, 5))]
        )
        if (k, t) in seen:
            continue
        seen.add((k, t))
        rrows.append((k, t, float(j)))
    left = spark.createDataFrame(lrows, "lid bigint, k bigint, t timestamp")
    right = spark.createDataFrame(rrows, "k bigint, rt timestamp, p double")

    def brute(direction):
        out = {}
        for lid, k, t in lrows:
            best = None
            if k is not None and t is not None:
                for rk, rt, p in rrows:
                    if rk != k or rt is None:
                        continue
                    if direction == "backward" and rt <= t:
                        if best is None or rt > best[0]:
                            best = (rt, p)
                    elif direction == "forward" and rt >= t:
                        if best is None or rt < best[0]:
                            best = (rt, p)
            out[lid] = best[1] if best else None
        return out

    for direction in ("backward", "forward"):
        got = {
            r["lid"]: r["p"]
            for r in asof_join(
                left,
                right,
                key="k",
                left_ts="t",
                right_ts="rt",
                value_cols=["p"],
                direction=direction,
            ).collect()
        }
        assert got == brute(direction), direction


def test_rollup_cli_init_upsert_serves_batch_hours(spark, sf_dir, tmp_path):
    """python -m lotad_spark.cli rollup: --init the first half, upsert
    the second, and the store must serve the same hours as a direct
    aggregation over everything."""
    from click.testing import CliRunner

    from lotad_spark.cli import cli
    from lotad_spark.operators import merge_rollup, read_rollup
    from lotad_spark.sources import read_table

    store = str(tmp_path / "store")
    events = f"{sf_dir}/events.parquet"
    runner = CliRunner()
    r1 = runner.invoke(cli, [
        "rollup", "--events", events, "--store", store, "--init",
        "--until", "2024-01-15", "--dim", "event_type",
    ])
    assert r1.exit_code == 0, r1.output
    assert "initialized" in r1.output
    r2 = runner.invoke(cli, [
        "rollup", "--events", events, "--store", store,
        "--since", "2024-01-15", "--dim", "event_type",
    ])
    assert r2.exit_code == 0, r2.output
    assert "upserted" in r2.output
    got = _rollup_rows(
        merge_rollup(
            read_rollup(spark, store), unit="hour", dims=["event_type"]
        ),
        ["event_type"],
    )
    ev = read_table(spark, events)
    want = _rollup_rows(
        rollup_time_bucket(
            ev, ts_col="ts", value_col="value", unit="hour",
            dims=["event_type"],
        ),
        ["event_type"],
    )
    assert got == want and len(got) > 0


def test_asof_rejects_bad_direction(spark, quotes, trades):
    with pytest.raises(ValueError):
        asof_join(
            trades,
            quotes,
            key="key",
            left_ts="tts",
            right_ts="qts",
            direction="sideways",
        )


def test_asof_rejects_output_collision(spark, quotes, trades):
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            trades.withColumnRenamed("tts", "t"),
            quotes.select(
                "key", "qts", F.col("price").alias("trade_id")
            ),
            key="key",
            left_ts="t",
            right_ts="qts",
            value_cols=["trade_id"],
        )


def test_range_join_date_columns(spark):
    import datetime as dtm

    pts = spark.createDataFrame(
        [(1, dtm.date(2024, 1, 5)), (2, dtm.date(2024, 2, 1))],
        "pid bigint, d date",
    )
    ivs = spark.createDataFrame(
        [("jan", dtm.date(2024, 1, 1), dtm.date(2024, 2, 1))],
        "name string, lo date, hi date",
    )
    out = range_join(
        pts,
        ivs,
        point_col="d",
        start_col="lo",
        end_col="hi",
        bin_width=86400.0 * 7,
    )
    assert [(r["pid"], r["name"]) for r in out.collect()] == [(1, "jan")]


def test_asof_null_value_in_matched_row_stays_null(spark):
    """The matched right row wins even when its value is NULL — per-
    column last(ignoreNulls) would silently substitute an OLDER row's
    value (and mix rows across value columns)."""
    quotes = spark.createDataFrame(
        [(1, _ts(0), 100.0, "a"), (1, _ts(10), None, None)],
        "key bigint, qts timestamp, price double, tag string",
    )
    trades = spark.createDataFrame(
        [(1, 1, _ts(15)), (2, 1, _ts(5))],
        "trade_id bigint, key bigint, tts timestamp",
    )
    out = {
        r["trade_id"]: (r["price"], r["tag"])
        for r in asof_join(
            trades,
            quotes,
            key="key",
            left_ts="tts",
            right_ts="qts",
            value_cols=["price", "tag"],
        ).collect()
    }
    # trade 1 matches the 10:10 quote (price NULL) — NOT the 10:00 one
    assert out == {1: (None, None), 2: (100.0, "a")}


def test_asof_tolerance_with_date_right_ts(spark):
    orders = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 7)],
        "k bigint, od date, okey bigint",
    )
    evs = spark.createDataFrame(
        [(10, 1, dt.datetime(2024, 1, 1, 12)), (11, 1, dt.datetime(2024, 1, 9))],
        "eid bigint, k bigint, ts timestamp",
    )
    out = {
        r["eid"]: r["okey"]
        for r in asof_join(
            evs,
            orders,
            key="k",
            left_ts="ts",
            right_ts="od",
            value_cols=["okey"],
            tolerance_seconds=2 * 86400,
        ).collect()
    }
    assert out == {10: 7, 11: None}  # 8 days out of tolerance


def test_asof_rejects_internal_prefix_collision(spark, quotes, trades):
    bad = trades.withColumnRenamed("trade_id", "_asof_x")
    with pytest.raises(ValueError, match="_asof_"):
        asof_join(
            bad,
            quotes,
            key="key",
            left_ts="tts",
            right_ts="qts",
            value_cols=["price"],
        )


def test_rollup_upsert_preserves_null_ts_bucket(spark, tmp_path):
    """NULL-ts rows roll into the NULL bucket; a later upsert must MERGE
    the stored null-bucket partials, not replace them with batch-only
    counts (isin never matches NULL)."""
    from lotad_spark.operators import (
        read_rollup,
        upsert_rollup,
        write_rollup,
    )

    schema = "ts timestamp, value double"
    first = spark.createDataFrame([(None, 1.0), (_ts(0), 2.0)], schema)
    second = spark.createDataFrame([(None, 10.0), (_ts(1), 20.0)], schema)
    path = str(tmp_path / "r")
    write_rollup(
        rollup_time_bucket(first, ts_col="ts", value_col="value"), path
    )
    days = upsert_rollup(second, path, ts_col="ts", value_col="value")
    assert None in days
    rows = {
        r["bucket"]: (r["n"], float(r["sum_value"]))
        for r in read_rollup(spark, path).collect()
    }
    assert rows[None] == (2, 11.0)  # both NULL-ts rows survived the merge


def test_gapfill_locf_hand_case(spark):
    from lotad_spark.operators import gapfill_rollup

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0, 10), "a", 2.0),
            (dt.datetime(2024, 1, 1, 3, 20), "a", 4.0),
            (dt.datetime(2024, 1, 1, 2, 5), "b", 9.0),
        ],
        "ts timestamp, k string, value double",
    )
    hours = rollup_time_bucket(
        ev, ts_col="ts", value_col="value", unit="hour", dims=["k"]
    )
    g = gapfill_rollup(hours, unit="hour", dims=["k"]).orderBy("k", "bucket")
    rows = [
        (r["k"], r["bucket"].hour, r["n"], r["sum_value"],
         float(r["locf_sum_value"]), r["locf_n"])
        for r in g.collect()
    ]
    # series a spans hours 0..3 (two gaps LOCF-filled); series b is a
    # single bucket — no padding outside its own observed span
    assert rows == [
        ("a", 0, 1, rows[0][3], 2.0, 1),
        ("a", 1, 0, None, 2.0, 1),
        ("a", 2, 0, None, 2.0, 1),
        ("a", 3, 1, rows[3][3], 4.0, 1),
        ("b", 2, 1, rows[4][3], 9.0, 1),
    ]
    assert float(rows[0][3]) == 2.0 and float(rows[3][3]) == 4.0


def test_gapfill_rejects_unknown_unit(spark):
    from lotad_spark.operators import gapfill_rollup

    r = rollup_time_bucket(
        spark.createDataFrame([(_ts(0), 1.0)], "ts timestamp, value double"),
        ts_col="ts",
        value_col="value",
    )
    with pytest.raises(ValueError):
        gapfill_rollup(r, unit="month")


def test_time_weighted_sum_hand_case(spark):
    from lotad_spark.operators import time_weighted_sum

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, 1, base, 10.0),
            (2, 1, base + dt.timedelta(seconds=2), 20.0),
            (3, 1, base + dt.timedelta(seconds=3), 99.0),  # last: no dur
            (4, 2, base, 7.0),  # single sample
        ],
        "event_id bigint, k bigint, ts timestamp, value double",
    )
    got = {
        r["k"]: (
            float(r["twa_num"]) if r["twa_num"] is not None else None,
            r["dur_us"],
            r["n_samples"],
        )
        for r in time_weighted_sum(
            ev, key_col="k", ts_col="ts", value_col="value",
            tiebreak_col="event_id",
        ).collect()
    }
    # key 1: 10 held 2s + 20 held 1s = 4e7 value-us over 3e6 us
    assert got[1] == (10.0 * 2e6 + 20.0 * 1e6, 3_000_000, 3)
    assert got[2] == (None, 0, 1)
    # derived TWA
    assert abs(got[1][0] / got[1][1] - (10 * 2 + 20 * 1) / 3) < 1e-9


def test_gapfill_null_dim_series_keeps_its_data(spark):
    from lotad_spark.operators import gapfill_rollup

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0, 30), None, 5.0),
            (dt.datetime(2024, 1, 1, 2, 30), None, 7.0),
        ],
        "ts timestamp, k string, value double",
    )
    hours = rollup_time_bucket(
        ev, ts_col="ts", value_col="value", unit="hour", dims=["k"]
    )
    g = gapfill_rollup(hours, unit="hour", dims=["k"]).orderBy("bucket")
    rows = [(r["n"], float(r["locf_sum_value"])) for r in g.collect()]
    # NULL-dim series is a real series: observed partials survive the
    # null-safe join and the middle hour LOCF-fills
    assert rows == [(1, 5.0), (0, 5.0), (1, 7.0)]


def test_gapfill_coarsens_finer_rollup_first(spark):
    """A minute rollup gap-filled at hour granularity must coarsen to
    hours first — not report every off-grid minute bucket as a gap."""
    from lotad_spark.operators import gapfill_rollup

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0, 10), 1.0),
            (dt.datetime(2024, 1, 1, 0, 40), 2.0),
            (dt.datetime(2024, 1, 1, 2, 5), 4.0),
        ],
        "ts timestamp, value double",
    )
    minutes = rollup_time_bucket(ev, ts_col="ts", value_col="value")
    g = gapfill_rollup(minutes, unit="hour").orderBy("bucket")
    rows = [
        (r["bucket"].hour, r["n"], float(r["locf_sum_value"]))
        for r in g.collect()
    ]
    assert rows == [(0, 2, 3.0), (1, 0, 3.0), (2, 1, 4.0)]


def test_twa_null_values_hold_previous(spark):
    """A NULL-valued sample is not an observation: the previous value
    holds through it instead of diluting the duration."""
    from lotad_spark.operators import time_weighted_sum

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, 1, base, 10.0),
            (2, 1, base + dt.timedelta(seconds=2), None),
            (3, 1, base + dt.timedelta(seconds=3), 20.0),
        ],
        "event_id bigint, k bigint, ts timestamp, value double",
    )
    r = time_weighted_sum(
        ev, key_col="k", ts_col="ts", value_col="value",
        tiebreak_col="event_id",
    ).collect()[0]
    # 10 holds the full 3s to the next real observation
    assert float(r["twa_num"]) == 10.0 * 3e6
    assert r["dur_us"] == 3_000_000 and r["n_samples"] == 2


def test_asof_value_cols_can_include_right_ts(spark, quotes, trades):
    out = asof_join(
        trades,
        quotes,
        key="key",
        left_ts="tts",
        right_ts="qts",
        value_cols=["qts", "price"],
    )
    got = {r["trade_id"]: (r["qts"], r["price"]) for r in out.collect()}
    assert got[2] == (_ts(10), 110.0)
    assert got[5] == (None, None)


def test_multi_grain_cube_consistency(spark):
    """Every grain of the cube must agree with the base grain's sums,
    and grain ids follow the packed-bit convention."""
    from lotad_spark.operators.rollup import multi_grain_report

    rows = [
        (dt.datetime(2024, 1, 1, 10 + m // 60, m % 60), t, float(v))
        for m, t, v in [(0, "a", 1), (1, "a", 2), (2, "b", 4), (61, "a", 8)]
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = multi_grain_report(ev, grain="cube")
    by = {
        (r.bucket, r.event_type, r.grain_id): (r.n_events, r.sum_value)
        for r in out.collect()
    }
    h10 = "2024-01-01 10:00:00"
    h11 = "2024-01-01 11:00:00"
    # base grain (0): bucket+type
    assert by[(h10, "a", 0)] == (2, 3.0)
    assert by[(h10, "b", 0)] == (1, 4.0)
    # grain 1: bucket totals (type rolled out -> NULL)
    assert by[(h10, None, 1)] == (3, 7.0)
    assert by[(h11, None, 1)] == (1, 8.0)
    # grain 2: per-type totals across time
    assert by[(None, "a", 2)] == (3, 11.0)
    # grain 3: grand total
    assert by[(None, None, 3)] == (4, 15.0)


def test_multi_grain_rollup_is_prefix_subset(spark):
    from lotad_spark.operators.rollup import multi_grain_report

    rows = [
        (dt.datetime(2024, 1, 1, 10, m), t, 1.0) for m, t in [(0, "a"), (1, "b")]
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    cube_ids = {r.grain_id for r in multi_grain_report(ev, grain="cube").collect()}
    roll_ids = {r.grain_id for r in multi_grain_report(ev, grain="rollup").collect()}
    assert cube_ids == {0, 1, 2, 3}
    assert roll_ids == {0, 1, 3}  # hierarchical prefixes only

    with pytest.raises(ValueError):
        multi_grain_report(ev, grain="nope")
    with pytest.raises(ValueError, match="bucket"):
        multi_grain_report(
            ev.withColumnRenamed("event_type", "bucket"), dims=("bucket",)
        )

    # dims with dots resolve as column names, not struct access
    dotted = ev.withColumnRenamed("event_type", "event.type")
    got = {
        r.grain_id
        for r in multi_grain_report(dotted, dims=("event.type",)).collect()
    }
    assert got == {0, 1, 2, 3}


def test_multi_grain_single_exchange(spark):
    """Expand + partial agg: the whole cube is ONE shuffle."""
    from lotad_spark.operators.rollup import multi_grain_report

    rows = [(dt.datetime(2024, 1, 1, 10, 0), "a", 1.0)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    plan = (
        multi_grain_report(ev, grain="cube")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "Expand" in plan
