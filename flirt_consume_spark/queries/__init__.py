"""Query registry: every SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

Importing this package populates ``REGISTRY``; ``__spark_entry__.py``
exposes it to the driver, and ``tools/check.py`` + tests verify each
pair locally against DuckDB with the exact driver semantics
(row count + schema + order-insensitive value hash).
"""

from flirt_consume_spark.queries.base import REGISTRY, QuerySpec  # noqa: F401

# Import for side effect: each module registers its query keys.
# (Import order no longer controls the driver window — see the explicit
# key-level rotation below, which is precise where module order wasn't.)
from flirt_consume_spark.queries import mixture  # noqa: F401,E402
from flirt_consume_spark.queries import lifecycle  # noqa: F401,E402
from flirt_consume_spark.queries import sketches  # noqa: F401,E402
from flirt_consume_spark.queries import robust  # noqa: F401,E402
from flirt_consume_spark.queries import advanced  # noqa: F401,E402
from flirt_consume_spark.queries import corpus  # noqa: F401,E402
from flirt_consume_spark.queries import evolution  # noqa: F401,E402
from flirt_consume_spark.queries import analytics  # noqa: F401,E402
from flirt_consume_spark.queries import retrieval  # noqa: F401,E402
from flirt_consume_spark.queries import governance  # noqa: F401,E402
from flirt_consume_spark.queries import relational  # noqa: F401,E402
from flirt_consume_spark.queries import temporal  # noqa: F401,E402
from flirt_consume_spark.queries import scalar  # noqa: F401,E402
from flirt_consume_spark.queries import windows  # noqa: F401,E402
from flirt_consume_spark.queries import llm  # noqa: F401,E402
from flirt_consume_spark.queries import extras  # noqa: F401,E402
from flirt_consume_spark.queries import shapes  # noqa: F401,E402
from flirt_consume_spark.queries import tpch_tail  # noqa: F401,E402
from flirt_consume_spark.queries import pipeline  # noqa: F401,E402
from flirt_consume_spark.queries import streaming  # noqa: F401,E402
from flirt_consume_spark.queries import enrich  # noqa: F401,E402
from flirt_consume_spark.queries import distrib  # noqa: F401,E402
from flirt_consume_spark.queries import curation  # noqa: F401,E402
from flirt_consume_spark.queries import trend  # noqa: F401,E402
from flirt_consume_spark.queries import facets  # noqa: F401,E402
from flirt_consume_spark.queries import leakage  # noqa: F401,E402
from flirt_consume_spark.queries import hopping  # noqa: F401,E402

# --- driver-window rotation ----------------------------------------------
# External verifiers sample REGISTRY in insertion order with a bounded
# window of 50 keys per round, so the live window below is moved to the
# front of REGISTRY. The round-13 window: keys whose internals the
# round-13 optimization restructured lead (fresh external rows on the
# live plans are worth the most), then the r7-vintage staleness backlog
# in alphabetical order, minus stream_join / stream_outer (the
# stream==batch equivalence suite gives them independent live-code
# evidence). Earlier windows live in git history.
_ROUND13_WINDOW = [
    # internals changed this round (r13 optimization):
    "agg_weighted_median", "join_setsim", "audit_fk",
    "shape_local_supplier_volume", "shape_market_share", "scan_pyds",
    "sink_pyds", "llm_ngram_jaccard", "llm_minhash_dedup",
    "dedup_components", "dedup_components_star", "llm_semdedup",
    "llm_cross_dedup",
    # r7-vintage staleness backlog (alphabetical; several of these —
    # agg_cms, graph_assortativity, graph_bfs_dist, sql_recursive,
    # graph kcore-family — also changed this round):
    "agg_cms", "agg_mode", "agg_skew_kurt", "cdc_time_travel",
    "emb_mmr", "graph_assortativity", "graph_bfs_dist",
    "join_geo_nearest", "join_interval_overlap", "join_nullsafe",
    "llm_bpe_pairs", "llm_hash_embed", "llm_ngram_lm",
    "sample_reservoir", "shape_custdist", "shape_disjunctive_revenue",
    "shape_forecast_revenue", "shape_important_stock",
    "shape_parts_supplier", "shape_potential_promotion",
    "shape_promo_effect", "shape_returned_items",
    "shape_small_qty_revenue", "shape_top_customers",
    "shape_top_supplier", "sql_distant_customers", "sql_lateral",
    "sql_min_cost", "sql_pivot", "sql_recursive", "sql_waiting_orders",
    "time_interpolate", "time_interval_merge", "time_workdays",
    "win_locf", "win_range_hour", "win_zscore",
]


def _rotate_front(front: list[str]) -> None:
    missing = [k for k in front if k not in REGISTRY]
    if missing:  # fail loudly: a typo here would silently waste the window
        raise KeyError(f"rotation names unknown query keys: {missing}")
    snap = dict(REGISTRY)
    order = front + [k for k in snap if k not in set(front)]
    REGISTRY.clear()
    for k in order:
        REGISTRY[k] = snap[k]


_rotate_front(_ROUND13_WINDOW)
