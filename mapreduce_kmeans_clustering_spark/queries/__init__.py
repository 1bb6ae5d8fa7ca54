"""Driver-facing query registry: every operator from SURVEY.md §2
exposed as a (spark, sf_dir) -> DataFrame callable, each with a
DuckDB-equivalent ANSI-SQL oracle string.

Cross-engine determinism rules (so value-hash comparison holds):
- distance arithmetic is written with explicit multiplications
  (``dx*dx``), the same left-associated shape in Spark and SQL, so
  per-row doubles are bit-identical;
- centroids are rounded to 6 decimals BETWEEN Lloyd iterations on both
  sides, pinning the iteration chain to identical doubles;
- aggregate outputs are rounded (4-6 decimals) to absorb
  summation-order noise, which is the only nondeterminism left.

A query is declared once, in the module for its family, with its
oracle beside it::

    @query(oracle="SELECT ... FROM lineitem ...")
    def q_name(spark, sf_dir): ...

``query`` (from ``queries._shared``) registers the function under its
``__name__`` and keeps the SQL as ``q_name.oracle``; an oracle that
composes another names it (``{q_other.oracle}``). The family modules:

- ``kmeans``: the K-Means / silhouette parity queries and their memos;
- ``relational``: TPC-H relational queries;
- ``stats``: statistics and experiments;
- ``events``: events analytics;
- ``text``: text analysis and dedup;
- ``vector``: ANN and vector queries;
- ``web``: web-corpus curation.

This package exports the merged surface: ``ALL_QUERIES``,
``ALL_ORACLES``, ``DRIVER_ROTATION`` and ``WARMUPS``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing a family module registers its queries; registry order past
# the driver window follows this import order.
from mapreduce_kmeans_clustering_spark.queries import (  # noqa: F401
    kmeans,
    relational,
    stats,
    events,
    text,
    vector,
    web,
)
from mapreduce_kmeans_clustering_spark.queries._shared import QUERIES
from mapreduce_kmeans_clustering_spark.queries.kmeans import (
    CONVERGE_CAP,
    _sil_stats,
    chain_centroids,
)
from mapreduce_kmeans_clustering_spark.queries.text import _dup_groups_df
from mapreduce_kmeans_clustering_spark.queries.vector import _exact_topk, _ivf_assigned

# The external correctness driver records only the FIRST 50 keys of
# queries() (observed cap in CORRECTNESS_r01/r02). To get every
# registered query driver-verified across rounds, we rotate: the 12
# K-Means parity queries (SURVEY §2.3, incl. the new q_chain_cap)
# always occupy the first slots, and the remaining 38 slots are filled
# with queries that have not yet appeared in any CORRECTNESS_r*.json.
# Queries verified in rounds 1-2 (see those JSON files) move to the
# tail; the full registry is still covered every round by
# tests/test_oracle_parity.py (the local mirror of the driver's DuckDB
# gate).
#
# Round-12 rotation (executes the committed round-12 pre-plan —
# QUERIES.md / VERDICT r11 item 1 — with ONE rule-2 adjustment made
# at round start, before any driver run). Slot budget (38 = 50-row
# driver window minus the 12 pins):
#   * 14 debt slots: the never-driver-verified round-11 registrations
#     (the web/curation/DSIR surface), in registry order — every key
#     below is mirror-green at 3 SFs and plan-gated since its
#     registering commit but has no CORRECTNESS row yet;
#   * 19 round-6-stale refreshers (the full r6 remainder, including
#     q_fd_profile — displaced from the r11 window — and
#     q_session_paths);
#   * 4 oldest round-7 refreshers in registry order (the pre-plan
#     said 5; the 5th, q_text_winnow, is displaced to round 13 by
#     the rule-2 slot below — slot priority is never-verified >
#     semantics-changed > oldest-verified);
#   * 1 rule-2 slot: q_dedup_embed, re-pinned THIS round (same
#     commit as this freeze) from the fixed planes=8 to the
#     corpus-aware planes=None → similarity.auto_planes form — the
#     LAST registered pair generator on a fixed blocking granularity
#     (VERDICT r11 item 2); the oracle now derives the plane count
#     from count(*) over its planted union exactly as q_knn_graph's
#     r11 re-pin did. The output changes (planes 8 → 4/4/5 at the
#     test SFs, so more in-bucket pairs), hence the ride.
# Rotation policy: set ONCE at round start, never mid-round (see
# QUERIES.md "Driver coverage cap + rotation").
DRIVER_ROTATION: list[str] = [
    # -- debt: never-driver-verified round-11 registrations --
    "q_url_host_parse", "q_url_dedup", "q_domain_quality_caps",
    "q_domain_stats", "q_multi_bench_decontam", "q_web_curation",
    "q_decontam_spans", "q_dedup_source_flow", "q_decontam_scrub",
    "q_boilerplate_audit", "q_boilerplate_scrub", "q_dsir_weights",
    "q_dsir_select", "q_ngram_diversity",
    # -- round-6-stale remainder (registry order) --
    "q_session_paths", "q_fd_profile", "q_benford", "q_balance_gini",
    "q_basket_rules", "q_survival_km", "q_skyline_parts",
    "q_budget_allocation", "q_fifo_match", "q_ab_lift",
    "q_quantile_normalize", "q_embed_cov", "q_nation_hops",
    "q_hybrid_rrf", "q_revenue_trend", "q_kmv_setops",
    "q_conversion_isotonic", "q_user_streaks", "q_cohort_ltv",
    # -- oldest round-7 refreshers (registry order) --
    "q_text_stats", "q_text_quality", "q_text_lang",
    "q_text_fingerprint",
    # -- rule-2: planes=None re-pin this round (see block comment) --
    "q_dedup_embed",
]

# The driver window (K-Means parity keys, then DRIVER_ROTATION), then the rest.
ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **{k: fn for k, fn in QUERIES.items() if fn.__module__ == kmeans.__name__},
    **{k: QUERIES[k] for k in DRIVER_ROTATION},
    **QUERIES,
}
ALL_ORACLES: dict[str, str] = {k: fn.oracle for k, fn in ALL_QUERIES.items()}


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _ann_baseline_warmup(spark: SparkSession, sf_dir: str) -> None:
    _noop(_exact_topk(spark, sf_dir))
    _noop(_ivf_assigned(spark, sf_dir))


# Shared memo builds, each timed as its own line before the registered
# queries (bench.py, tools/opt_bench.py) so its cost never lands on
# whichever consumer happens to run first in alphabetical order.
WARMUPS: dict[str, Callable[[SparkSession, str], None]] = {
    # The chain family (q_chain2/5/cap/converge, q_disp, q_label, ...)
    # shares chain_centroids: warm the deepest prefix, and each member
    # measures only its terminal work (r3's new q_chain_cap silently
    # absorbed the cost q_chain_converge paid in r1).
    "chain_warmup": lambda spark, sf_dir: chain_centroids(spark, sf_dir, CONVERGE_CAP),
    # The exact-top-k baseline the recall gates compare against
    # (q_ann_dim_recall absorbed it in r7: 1.74→2.67 s), and one
    # EXECUTION of the IVF assignment: its memo holds the assigned
    # relation, whose one-time build (~3.4 s of codegen at sf0.1 when
    # the seeds were plan literals) used to be q_ann_ivf's recorded
    # number (VERDICT r8 item 2).
    "ann_baseline_warmup": _ann_baseline_warmup,
    # The iterative label propagation behind q_dedup_groups /
    # q_dedup_cluster_sizes: ~8 s cold / 0.15 s warm at sf0.1, all of it
    # once billed to q_dedup_cluster_sizes (VERDICT r7 item 5).
    "dedup_groups_warmup": lambda spark, sf_dir: _noop(_dup_groups_df(spark, sf_dir)),
    # The all-pairs stats build behind q_intra/q_inter/q_sil: without
    # it q_inter flipped from cold (4.58 s, r10) to warm (0.29 s, r11)
    # when a rerun hit the memo; pre-r12 q_inter values mix the two and
    # are not comparable across rounds (VERDICT r11 item 3).
    "sil_warmup": lambda spark, sf_dir: _noop(_sil_stats(spark, sf_dir)),
}
