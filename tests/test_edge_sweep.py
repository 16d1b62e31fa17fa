"""Degenerate-input robustness: every query family must survive an
empty source directory and a one-row-per-table directory.

This is the pinned pytest slice of ``tools/edge_sweep.py`` (the
standalone runner covers all registry keys at round close; this
subset keeps the suite fast while still covering every module and
every risky shape — iterative driver loops, argmax collects,
checkpointed range layouts, session-cached fits).

Why it matters at 100 TB: empty partitions are ROUTINE in production
(a month with no flights, a filter that eliminates a source, an
upstream job that wrote zero rows). An operator that throws
IndexError on an empty frame is a pipeline outage; the contract is
"well-formed empty result" (or a deliberate, documented guard).
"""

from __future__ import annotations

import pytest

from flirt_consume_spark.queries import REGISTRY
from tools.edge_sweep import make_degenerate

SF = "/root/testdata/sf0.001"

# One key per risky implementation shape, spanning every module:
# driver-side iterative loops (argmax/centroid collects), session-
# cached fits, checkpointed range layouts, multi-stage graph loops,
# pandas-UDF kernels, sketch builders, and plain relational plans.
KEYS = [
    "agg_route",  # hash agg
    "agg_percentile",  # grouped_percentiles rank path
    "agg_weighted_median",  # bucketized weighted quantile
    "win_rank",  # WindowGroupLimit top-k + ntile_expr
    "audit_ks",  # multi-counter global_cumsum
    "join_asof",  # union + running scan
    "join_setsim",  # LSH banding + verify
    "graph_pagerank",  # fixed-round iterative joins
    "graph_bfs_dist",  # min-plus rounds in one SQL statement
    "graph_kcore",  # peel loop
    "dedup_components_star",  # star-contraction loop
    "emb_kmeans",  # Lloyd's with driver centroid collect
    "emb_mmr",  # greedy k-round selection
    "emb_pca_project",  # power-iteration fit cache
    "llm_bpe_train",  # argmax collect per round (regression: IndexError)
    "llm_bpe_encode",  # consumes the cached BPE fit
    "llm_semdedup",  # k-means cells + in-cell pairing
    "llm_minhash_dedup",  # minhash bands
    "llm_quality",  # text heuristics
    "llm_multimodal",  # NULL-payload pandas kernel (regression)
    "scan_binary",  # NULL-text fixture build (regression)
    "scan_text",  # tab-line round-trip of NULL text (regression)
    "udtf_expand",  # UDTF generator over NULL text (regression)
    "udtf_analyze",  # UDTF analyze-chunk over NULL text (regression)
    "udtf_table_arg",  # UDTF table-arg NULL-sum convention (regression)
    "win_rolling_median",  # all-NULL frame selection (regression)
    "time_theilsen",  # NULL-slope pair filter (regression)
    "agg_subsample_ci",  # short replica array selection (regression)
    "audit_ttest",  # zero-variance try_divide family (regression)
    "agg_ols",  # constant-regressor var_x = 0 (skew regression)
    "time_kalman",  # per-series recursive pandas UDF
    "time_viterbi",  # per-series DP pandas UDF
    "stream_tumbling",  # streaming-semantics batch twin
    "sample_reservoir",  # hierarchical top-k
    "agg_cms",  # count-min sketch rows
    "scan_filemeta",  # file-metadata source
    "sink_compact",  # writes derived output dir
    "sink_upsert",  # partitioned write + schema'd read-back (regression)
    "scan_partitioned",  # hive-layout read-back (regression)
    "join_dpp",  # DPP fact read-back (regression)
    "agg_histogram",  # min==max bucket-width guard (regression)
    "profile_table",  # whole-table profiling
    "sql_recursive",  # recursive-CTE expansion loop
    "topk",  # TakeOrdered path
]


@pytest.fixture(scope="module", params=["empty", "one", "nulls", "skew"])
def degenerate_dir(request, tmp_path_factory):
    root = tmp_path_factory.mktemp("edge")
    return make_degenerate(SF, str(root), request.param)


@pytest.mark.parametrize("key", KEYS)
def test_degenerate_input_no_crash(spark, degenerate_dir, key):
    df = REGISTRY[key].fn(spark, degenerate_dir)
    # noop sink: full evaluation of every output column (a bare
    # count() lets Catalyst prune a crashing projection out of the
    # plan); then the count must be well-defined and the schema the
    # key's declared shape.
    df.write.format("noop").mode("overwrite").save()
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_nonfinite_rejects_loudly(spark, tmp_path):
    """Round-10 nonfinite-mirror contract: a NaN/Inf measure entering
    an exact-decimal quantization FAILS THE ACTION with the shared
    guard message instead of silently leaking the floor-saturated
    LongMax/LongMin sentinel into order statistics (the original
    behavior: one Inf event placed 9.2e18 into time_ohlc's high_q)."""
    import pytest

    d = make_degenerate(SF, str(tmp_path), "nonfinite")
    with pytest.raises(Exception, match="non-finite measure value"):
        REGISTRY["time_ohlc"].fn(spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
    # The oracle rejects the same input (DuckDB CAST refuses NaN/Inf):
    # loud on both engines, uniform contract.
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS FROM read_parquet('{d}/events.parquet')"
    )
    with pytest.raises(Exception, match="[Cc]an't be cast|Conversion"):
        con.execute(
            "SELECT CAST(floor(value * 1e6) AS BIGINT) FROM events"
        ).fetchall()


def test_nonfinite_reject_classifier_is_strict(spark, monkeypatch):
    """ADVICE r9 contract applied to the EXPECTED-REJECT path: a
    rejected key whose exception does NOT carry one of the pinned
    markers must still classify as CRASH — never silently absorbed."""
    from dataclasses import dataclass

    import flirt_consume_spark.queries as q
    from tools.edge_sweep import NONFINITE_REJECTS, run_sweep

    assert "agg_cuped" in NONFINITE_REJECTS

    @dataclass
    class Shim:
        fn: object

    def boom(spark_, sf_dir_):
        raise ValueError("entirely unrelated failure")

    monkeypatch.setitem(q.REGISTRY, "agg_cuped", Shim(fn=boom))
    res = run_sweep(spark, SF, ["agg_cuped"], mode="nonfinite")
    assert res["agg_cuped"]["status"] == "CRASH"


def test_expected_guard_verbatim_text_classifies(spark, monkeypatch):
    """First EXPECTED_GUARDS entry (VERDICT r10 task 7): a crash whose
    message carries the guard's VERBATIM raise text classifies as
    EXPECTED-GUARD — in any mode, since the guard is part of the
    key's contract, not a mirror artifact."""
    from dataclasses import dataclass

    import flirt_consume_spark.queries as q
    from tools.edge_sweep import EXPECTED_GUARDS, run_sweep

    text = EXPECTED_GUARDS["agg_mad_outliers"]
    # Pin the entry to the live finite_or_fail literal: a drifted
    # guard message would silently turn every future guard trip into
    # CRASH.
    from flirt_consume_spark.queries.base import finite_or_fail  # noqa: F401

    assert text.startswith("agg_mad_outliers: non-finite measure value")

    @dataclass
    class Shim:
        fn: object

    def guarded(spark_, sf_dir_):
        raise RuntimeError(f"[USER_RAISED_EXCEPTION] {text}")

    monkeypatch.setitem(q.REGISTRY, "agg_mad_outliers", Shim(fn=guarded))
    res = run_sweep(spark, SF, ["agg_mad_outliers"], mode="nonfinite")
    assert res["agg_mad_outliers"]["status"] == "EXPECTED-GUARD"


def test_expected_guard_nonmatching_crash_stays_crash(spark, monkeypatch):
    """The EXPECTED_GUARDS docstring's negative half: an exception on
    a guarded key that does NOT carry the verbatim text must still
    report CRASH — the entry is not a blanket absolution."""
    from dataclasses import dataclass

    import flirt_consume_spark.queries as q
    from tools.edge_sweep import run_sweep

    @dataclass
    class Shim:
        fn: object

    def boom(spark_, sf_dir_):
        raise ValueError("agg_mad_outliers: some OTHER arithmetic bug")

    monkeypatch.setitem(q.REGISTRY, "agg_mad_outliers", Shim(fn=boom))
    res = run_sweep(spark, SF, ["agg_mad_outliers"], mode="empty")
    assert res["agg_mad_outliers"]["status"] == "CRASH"


def test_expected_guards_fire_for_real_on_nonfinite(spark, tmp_path):
    """End-to-end: every EXPECTED_GUARDS plan on the nonfinite mirror
    raises its exact verbatim text (not just a shim) — all five
    finite_or_fail order-statistic keys classify EXPECTED-GUARD."""
    from tools.edge_sweep import EXPECTED_GUARDS, run_sweep

    d = make_degenerate(SF, str(tmp_path), "nonfinite")
    keys = sorted(EXPECTED_GUARDS)
    assert keys == [
        "agg_mad_outliers", "emb_quantize", "stream_ohlc",
        "time_ohlc", "win_rolling_median",
    ]
    res = run_sweep(spark, d, keys, mode="nonfinite")
    for k in keys:
        assert res[k]["status"] == "EXPECTED-GUARD", (k, res[k])
        assert EXPECTED_GUARDS[k][:30] in res[k]["error"], k


def test_nonfinite_mirror_preserves_null_rows(tmp_path):
    """ADVICE r10: poison injection must not erase pre-existing NULLs
    (to_pandas renders NULL as NaN; the validity mask restores them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.edge_sweep import make_degenerate as mk

    src = tmp_path / "src"
    src.mkdir()
    import shutil as sh

    for name in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        sh.copy(f"{SF}/{name}.parquet", src / f"{name}.parquet")
    ev = pq.read_table(f"{SF}/events.parquet")
    idx = ev.schema.get_field_index("value")
    n = ev.num_rows
    # Null out every 7th value row, then mirror.
    vals = ev.column(idx).to_pylist()
    nulled = [None if j % 7 == 0 else v for j, v in enumerate(vals)]
    ev = ev.set_column(
        idx, ev.schema.field(idx), pa.array(nulled, ev.schema.field(idx).type)
    )
    pq.write_table(ev, src / "events.parquet")
    out = mk(str(src), str(tmp_path / "out"), "nonfinite")
    got = pq.read_table(f"{out}/events.parquet").column("value")
    import pyarrow.compute as pc

    assert pc.sum(pc.is_null(got)).as_py() == sum(
        1 for j in range(n) if j % 7 == 0
    )


def test_levenshtein_engine_divergence_pinned(spark):
    """Documented engine boundary (unicode mirror, llm_editdist):
    Spark's levenshtein counts CODEPOINTS, DuckDB's counts BYTES —
    identical on ASCII (all real-data parity), divergent on
    multibyte text. Pinned so the divergence is a known constant,
    not a surprise. Permanent ruling: IMPLEMENTATION.md §"Permanent
    divergence rulings" R5 — removing this pin requires removing
    (and re-arguing) that ruling."""
    import duckdb

    from pyspark.sql import functions as F

    s = "日本語の文書"  # 6 codepoints, 18 UTF-8 bytes
    got = (
        spark.range(1)
        .select(F.levenshtein(F.lit(s), F.lit("")).alias("d"))
        .collect()[0]["d"]
    )
    assert got == 6
    duck = duckdb.connect().execute(
        "SELECT levenshtein(?, '')", [s]
    ).fetchone()[0]
    assert duck == 18


def test_percentile_nan_convention_divergence_pinned(spark):
    """Documented engine boundary (nonfinite mirror: agg_percentile /
    agg_approx_percentile FAIL_VALUES): Spark's percentile DEFINES
    NaN as the greatest value (median([0,1,2,NaN]) = 1.5 at rank
    h = 1.5 over four values, deterministic), while DuckDB 1.0's
    quantile_cont over NaN-bearing data is NOT consistent with its
    own ORDER BY (which sorts NaN last): p25 of the same four values
    interpolates finitely (0.75) but p50 returns NaN even though the
    h = 1.5 bracket (1.0, 2.0) contains no NaN — a selection-
    algorithm artifact, observed group-dependently on the mirror
    (some groups finite-but-shifted, some NaN). Unreconcilable by
    rounding; NaN measures are outside these keys' domain contract
    (real-data and all-NULL-mirror parity hold on both engines).
    Permanent ruling: IMPLEMENTATION.md §"Permanent divergence
    rulings" R6 (agg_percentile) / R7 (agg_approx_percentile) —
    removing this pin requires removing (and re-arguing) those
    rulings."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (2.0,), (float("nan"),)], "x double"
    )
    got = df.agg(F.percentile("x", F.lit(0.5)).alias("p")).collect()[0]["p"]
    assert got == 1.5  # NaN included as greatest: h over 4 values
    con = duckdb.connect()
    con.execute("CREATE TABLE tt (x DOUBLE)")
    con.execute(
        "INSERT INTO tt VALUES (0.0),(1.0),(2.0),(CAST('nan' AS DOUBLE))"
    )
    p25, p50 = con.execute(
        "SELECT quantile_cont(x, 0.25), quantile_cont(x, 0.5) FROM tt"
    ).fetchone()
    assert p25 == 0.75  # finite bracket interpolates fine...
    assert math.isnan(p50)  # ...but the (1,2) bracket still yields NaN
