"""The benchmark's workloads: which registered queries each one runs.

Each workload is a list of names from ``go_pandas_spark.suite.QUERIES``
(plus the benchmark's own IVF round trip). Both read inputs derived from
the sf0.01 snapshot. README.md records why each one was chosen.
"""

from __future__ import annotations

IVF_ROUNDTRIP = "ivf_roundtrip"
SCALE = "sf0.01"

WORKLOADS = {
    # Order-dependent kernels: whole-frame interpolation and an as-of
    # join without keys (blocked running picks and carries, the
    # UNBOUNDED FOLLOWING frames, driver jobs issued while the plan is
    # built), a grouped rolling window, a label slice and the five
    # grouped rank methods. No Python worker runs, so this is the
    # no-change control for the row-wise Python path.
    "ordered": (
        "interpolate_global_linear", "merge_asof_global_noby",
        "rolling_sum_rows", "loc_label_slice", "rank_methods",
    ),
    # The row-wise Python UDF and a pandas-batch multimodal kernel, an
    # at-rest IVF index written and probed in the same pass, and a text
    # battery whose .count() plan is a bare scan, and a grouped sum
    # unstacked to wide columns (the cheapest registered query that
    # reaches both operators.reshape and operators.aggregates and takes
    # longer than the UDF, so the median query sample is a >1 s one). No
    # distwindow kernel runs, so this is the no-change control for the
    # order-dependent kernels.
    "corpus": (
        "rowwise_udf_integrate", IVF_ROUNDTRIP, "multimodal_features",
        "text_stats_battery", "dup_tuple_concat",
    ),
}
