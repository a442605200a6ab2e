"""DuckDB-oracle parity for every registered qkey (the driver's gate, run
locally at sf0.001 so the suite stays fast)."""

from __future__ import annotations

import pytest

import __spark_entry__ as ent
from caraspark.oracle_compare import compare, duck_connection

QUERIES = ent.queries()
ORACLES = ent.oracle_sql()


def test_registry_shape():
    assert set(ORACLES) <= set(QUERIES)
    # broad coverage, with a large hash-verified core; the only oracle-free
    # keys are agg_approx (a nondeterministic sketch) and partition_metrics
    # (wall-clock timings), each with a hash-verified sibling
    # (test_registry.py::test_oracle_free_keys_sort_dead_last pins them)
    assert len(QUERIES) >= 80
    assert len(ORACLES) >= 50


def test_entry_smoke(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns  # stable schema


@pytest.fixture(scope="module")
def duck(sf_smoke):
    return duck_connection(sf_smoke)


@pytest.mark.parametrize("qkey", sorted(QUERIES))
def test_oracle_parity(qkey, spark, duck, sf_smoke):
    df = QUERIES[qkey](spark, sf_smoke)
    if qkey not in ORACLES:
        assert df.count() >= 0  # rows-only contract
        return
    ok, msg = compare(df, duck, ORACLES[qkey])
    assert ok, f"{qkey}: {msg}"


def test_sessionize_matches_python(spark, sf_smoke):
    """Third implementation: recompute gaps-and-islands sessions per user
    in plain Python and compare every rollup column."""
    from caraspark.relational import _SESSION_GAP_S, win_sessionize
    from caraspark.tables import load

    ev = sorted(
        (
            (r.user_id, int(r.ts.timestamp()), r.event_id)
            for r in load(spark, sf_smoke, "events")
            .select("user_id", "ts", "event_id")
            .collect()
        )
    )
    want = {}
    prev, idx = {}, {}
    for uid, sec, _eid in ev:
        if uid not in prev or sec - prev[uid] > _SESSION_GAP_S:
            idx[uid] = idx.get(uid, 0) + 1
        prev[uid] = sec
        key = (uid, idx[uid])
        n, lo, hi = want.get(key, (0, sec, sec))
        want[key] = (n + 1, min(lo, sec), max(hi, sec))
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.start_s, r.end_s)
        for r in win_sessionize(spark, sf_smoke).collect()
    }
    assert got == want
    assert any(n > 1 for n, _, _ in got.values()), "multi-event sessions"


def test_funnel_stage_ordering_invariants(spark, sf_smoke):
    from caraspark.relational import events_funnel

    rows = events_funnel(spark, sf_smoke).collect()
    assert rows
    stages = set()
    for r in rows:
        if r.stage >= 2:
            assert r.t_view < r.t_click
        if r.stage == 3:
            assert r.t_click < r.t_purchase
        assert r.stage == sum(
            x is not None for x in (r.t_view, r.t_click, r.t_purchase)
        ) or (r.t_view, r.t_click, r.t_purchase).count(None) == 3 - r.stage
        stages.add(r.stage)
    assert 3 in stages, "some user completes the funnel"


def test_retention_cohort_week0_is_cohort_size(spark, sf_smoke):
    """Every user is active in their own first week, and no later cell
    can exceed the cohort's size."""
    from collections import defaultdict

    from caraspark.relational import retention_cohorts

    rows = retention_cohorts(spark, sf_smoke).collect()
    size = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    per = defaultdict(list)
    for r in rows:
        per[r.cohort_week].append(r)
    for cw, cells in per.items():
        assert cw in size, "offset-0 cell must exist per cohort"
        for r in cells:
            assert r.n_users <= size[cw]


def test_transitions_rows_sum_to_thousand_bound(spark, sf_smoke):
    """Row-normalized integer permilles: each prev's row sums into
    (1000 - n_cells, 1000] and every cell matches n/total flooring."""
    from collections import defaultdict

    from caraspark.relational import events_transitions

    rows = events_transitions(spark, sf_smoke).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.prev].append(r)
    assert per
    for prev, cells in per.items():
        tot = sum(r.n for r in cells)
        for r in cells:
            assert r.permille == 1000 * r.n // tot
        s = sum(r.permille for r in cells)
        assert 1000 - len(cells) < s <= 1000


def test_ts_downsample_ohlc_invariants(spark, sf_smoke):
    from caraspark.relational import ts_downsample
    from caraspark.tables import load

    rows = ts_downsample(spark, sf_smoke).collect()
    assert rows
    for r in rows[:200]:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        if r.n == 1:
            assert r.open == r.close == r.low == r.high
    n_events = load(spark, sf_smoke, "events").count()
    assert sum(r.n for r in rows) == n_events  # every event in one bar


def test_cusum_matches_python_fold(spark, sf_smoke):
    """Third implementation: the literal clamped recursion
    s_i = max(0, s_{i-1} + x_i - 2k) must equal the closed-form
    prefix-minus-running-min the dataflow computes, and every planted
    burst minute must alert."""
    import math
    from collections import defaultdict

    from caraspark.relational import _CUSUM_H, _CUSUM_PLANT, ts_cusum
    from caraspark.tables import load

    got = {
        (r.event_type, r.minute): r.cusum_cents
        for r in ts_cusum(spark, sf_smoke).collect()
    }
    ev = load(spark, sf_smoke, "events").collect()
    buckets = defaultdict(float)
    for e in ev:
        buckets[(e.event_type, int(e.ts.timestamp()) // 60)] += e.value
    cents = {
        key: math.floor(v * 100)
        + (_CUSUM_PLANT if key[1] % 89 == 0 else 0)
        for key, v in buckets.items()
    }
    by_type = defaultdict(list)
    for (t, m), c in cents.items():
        by_type[t].append((m, c))
    want = {}
    for t, series in by_type.items():
        series.sort()
        k = sum(c for _, c in series) // len(series)
        s = 0
        for m, c in series:
            s = max(0, s + c - 2 * k)
            if s > _CUSUM_H:
                want[(t, m)] = s
    assert got == want
    assert got, "planted bursts must alert"
    planted = {key for key in cents if key[1] % 89 == 0}
    assert planted <= set(got), "every planted burst minute alerts"


def test_events_attribution_matches_python(spark, sf_smoke):
    """First/last touch and counts agree with a per-user Python replay;
    purchases with no prior touch keep NULLs and n_touches=0."""
    from caraspark.relational import events_attribution
    from caraspark.tables import load

    evs = (
        load(spark, sf_smoke, "events")
        .selectExpr(
            "event_id",
            "user_id",
            "event_type",
            "CAST(CAST(ts AS TIMESTAMP) AS LONG) AS sec",
        )
        .collect()
    )
    by_user = {}
    for r in evs:
        by_user.setdefault(r.user_id, []).append(r)
    exp = {}
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r.sec, r.event_id))
        touches = []
        for r in rows:
            if r.event_type == "purchase":
                exp[r.event_id] = (
                    touches[0][0] if touches else None,
                    touches[0][1] if touches else None,
                    touches[-1][0] if touches else None,
                    touches[-1][1] if touches else None,
                    len(touches),
                )
            if r.event_type in ("view", "click"):
                touches.append((r.event_id, r.event_type))
    got = {
        r.purchase_id: (
            r.first_touch_id,
            r.first_touch_type,
            r.last_touch_id,
            r.last_touch_type,
            r.n_touches,
        )
        for r in events_attribution(spark, sf_smoke).collect()
    }
    assert got == exp and exp


def test_scd2_intervals_partition_users_cleanly(spark, sf_smoke):
    """Per user: intervals abut exactly (valid_to == next valid_from),
    exactly one open current row, states alternate (no two consecutive
    runs share a state), and n_events sums to the user's event count."""
    from collections import Counter

    from caraspark.relational import scd2_intervals
    from caraspark.tables import load

    n_events = Counter(
        r.user_id
        for r in load(spark, sf_smoke, "events").select("user_id").collect()
    )
    by_user = {}
    for r in scd2_intervals(spark, sf_smoke).collect():
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(n_events)
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r.run_id)
        assert [r.run_id for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r.n_events for r in rows) == n_events[uid]
        assert sum(r.is_current for r in rows) == 1 and rows[-1].is_current
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to_s == b.valid_from_s
            assert a.state != b.state


def test_ts_gapfill_dense_grid_and_forward_fill(spark, sf_smoke):
    """Per type: buckets form a contiguous range, filled rows carry the
    previous observed cents, and observed rows are never flagged."""
    from caraspark.relational import ts_gapfill

    by_type = {}
    for r in ts_gapfill(spark, sf_smoke).collect():
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    any_filled = False
    for rows in by_type.values():
        rows.sort(key=lambda r: r.bucket)
        assert [r.bucket for r in rows] == list(
            range(rows[0].bucket, rows[-1].bucket + 1)
        )
        last = None
        for r in rows:
            if r.filled:
                any_filled = True
                assert r.n == 0 and r.cents_ff == last
            else:
                assert r.n > 0
                last = r.cents_ff
        assert not rows[0].filled  # grid starts at an observation
    assert any_filled


def test_events_streaks_match_python_day_runs(spark, sf_smoke):
    from caraspark.relational import events_streaks
    from caraspark.tables import load

    days = {}
    for r in (
        load(spark, sf_smoke, "events")
        .selectExpr(
            "user_id",
            "CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 86400 AS day",
        )
        .collect()
    ):
        days.setdefault(r.user_id, set()).add(r.day)
    exp = {}
    for uid, ds in days.items():
        ds = sorted(ds)
        runs = []
        cur = 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        exp[uid] = (len(ds), len(runs), max(runs), ds[0])
    got = {
        r.user_id: (r.n_active_days, r.n_streaks, r.longest, r.first_day)
        for r in events_streaks(spark, sf_smoke).collect()
    }
    assert got == exp and exp


def test_events_iqr_outliers_matches_python_fences(spark, sf_smoke):
    from caraspark.relational import events_iqr_outliers
    from caraspark.tables import load

    vals = {}
    for r in (
        load(spark, sf_smoke, "events")
        .selectExpr(
            "event_type", "event_id",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .collect()
    ):
        vals.setdefault(r.event_type, []).append((r.cents, r.event_id))
    got = {r.event_type: r for r in events_iqr_outliers(spark, sf_smoke).collect()}
    assert set(got) == set(vals)
    for t, xs in vals.items():
        xs.sort()
        n = len(xs)
        cents = [c for c, _ in xs]
        q1 = next(c for i, c in enumerate(cents, 1) if i * 4 >= n)
        q3 = next(c for i, c in enumerate(cents, 1) if i * 4 >= 3 * n)
        iqr = q3 - q1
        lo = sum(1 for c in cents if 2 * c < 2 * q1 - 3 * iqr)
        hi = sum(1 for c in cents if 2 * c > 2 * q3 + 3 * iqr)
        r = got[t]
        assert (r.q1, r.q3, r.n_events, r.n_low, r.n_high) == (
            q1, q3, n, lo, hi,
        )


def test_win_sliding_median_matches_python(spark, sf_smoke):
    from collections import defaultdict

    from caraspark.relational import win_sliding_median
    from caraspark.tables import load

    buckets = defaultdict(dict)
    for r in (
        load(spark, sf_smoke, "events")
        .selectExpr(
            "event_type",
            "CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 600 AS bucket",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .collect()
    ):
        buckets[r.event_type][r.bucket] = (
            buckets[r.event_type].get(r.bucket, 0) + r.cents
        )
    exp = {}
    for t, bs in buckets.items():
        ks = sorted(bs)
        for i in range(4, len(ks)):
            window = sorted(bs[k] for k in ks[i - 4 : i + 1])
            exp[(t, ks[i])] = window[2]
    got = {
        (r.event_type, r.bucket): r.median_cents
        for r in win_sliding_median(spark, sf_smoke).collect()
    }
    assert got == exp and exp


def test_events_wau_equals_naive_window_distinct(spark, sf_smoke):
    """WAU from the cover-explode equals the naive 'distinct users in
    the trailing 7 days' recomputed in Python."""
    from caraspark.relational import events_wau
    from caraspark.tables import load

    ud = {}
    for r in (
        load(spark, sf_smoke, "events")
        .selectExpr(
            "user_id", "CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 86400 AS day"
        )
        .distinct()
        .collect()
    ):
        ud.setdefault(r.day, set()).add(r.user_id)
    d0, d1 = min(ud), max(ud)
    got = {r.day: r for r in events_wau(spark, sf_smoke).collect()}
    assert set(got) == set(range(d0 + 6, d1 + 1))
    for day, r in got.items():
        week = set()
        for d in range(day - 6, day + 1):
            week |= ud.get(d, set())
        assert r.dau == len(ud.get(day, set()))
        assert r.wau == len(week)
        assert r.stickiness_permille == r.dau * 1000 // r.wau


def test_quality_auc_matches_pairwise_definition(spark, sf_smoke):
    """The rank-sum AUC equals the DEFINITION: P(score_pos > score_neg)
    + 1/2·P(equal), counted by brute force over all cross pairs."""
    import __spark_entry__ as ent
    from caraspark.tables import load

    rows = load(spark, sf_smoke, "documents").select(
        "source", "n_chars", "lang"
    ).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(
            (int(r.n_chars), r.lang == "en")
        )
    got = {
        r.source: (r.n_pos, r.n_neg, r.auc_ppm)
        for r in ent.queries()["quality_auc"](spark, sf_smoke).collect()
    }
    assert got
    for src, (n_pos, n_neg, auc_ppm) in got.items():
        pos = [x for x, p in by_src[src] if p]
        neg = [x for x, p in by_src[src] if not p]
        assert (len(pos), len(neg)) == (n_pos, n_neg)
        wins2 = sum(
            2 if a > b else (1 if a == b else 0) for a in pos for b in neg
        )
        assert auc_ppm == wins2 * 1000000 // (2 * n_pos * n_neg), src


def test_sales_ols_matches_numpy_lstsq(spark, sf_smoke):
    """The integer-ppm slope agrees with NumPy's float least squares to
    within 1 ppm quantization on every part type."""
    import numpy as np

    import __spark_entry__ as ent
    from pyspark.sql import functions as F
    from caraspark.tables import load

    li = load(spark, sf_smoke, "lineitem").filter(
        F.round("l_quantity") > 0
    )
    p = load(spark, sf_smoke, "part").select("p_partkey", "p_type")
    pts = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_type",
        F.expr(
            "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " DIV CAST(round(l_quantity) AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    ).collect()
    by_type = {}
    for r in pts:
        by_type.setdefault(r.p_type, []).append((r.x, r.y))
    got = {
        r.p_type: r.slope_ppm
        for r in ent.queries()["sales_ols"](spark, sf_smoke).collect()
    }
    assert set(got) == set(by_type)
    for t, xy in by_type.items():
        x = np.array([a for a, _ in xy], dtype=float)
        y = np.array([b for _, b in xy], dtype=float)
        slope = np.polyfit(x, y, 1)[0]
        assert abs(got[t] - slope * 1e6) <= 1.5, (t, got[t], slope * 1e6)
