"""Cross-corpus leakage & duplicate-cluster structure (round-6,
sixth wave).

- ``llm_cross_dedup``: held-out decontamination at the DOCUMENT
  level — drop from the train split anything that exact-matches
  (sha256) or near-matches (shared MinHash-LSH band) a held-out
  document. The doc-granular sibling of ``llm_contaminate`` (which
  screens at n-gram granularity) and the cross-split application of
  ``llm_minhash_dedup``'s candidate machinery — both layers reuse
  the per-invocation pinned LSH pair set, the staged-intermediate
  shape of a real decontamination job;
- ``graph_kcore``: k-core decomposition (synchronized peeling) of
  the near-duplicate candidate graph — docs surviving the 2-core
  peel sit in DENSE duplicate clusters (template farms, mirrors),
  the structure signal ranking which clusters to collapse first.
  Peeling rounds are FIXED (8) and synchronized on both engines, so
  results are exact by construction whether or not the peel has
  converged (it converges in <8 rounds on every fixture —
  convergence is pinned in tests, not assumed);
- ``sql_unpivot``: the SQL UNPIVOT clause surface (Spark ≥3.4 and
  DuckDB both parse it natively) — the declarative sibling of
  ``unpivot_long``'s DataFrame melt.

Determinism: splits and hashes are md5/sha256 of explicit strings —
no seeded RNG — so every layer hash-matches its oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.queries.base import query, t
from flirt_consume_spark.queries.llm import _MH_BANDS, _SH_CTE, _lsh_pairs
from flirt_consume_spark.queries.pipeline import _BUCKET_SPARK, _BUCKET_SQL

# Held-out split: md5 bucket >= 90 (the exact split_assign "test"
# slice, so decontamination and split assignment agree by token).
_SPLIT_SQL = f"""
    split AS (
      SELECT doc_id, source,
             ({_BUCKET_SQL.format(c='doc_id')}) >= 90 AS heldout
      FROM documents
    )
"""


@query(
    "llm_cross_dedup",
    oracle=_SH_CTE
    + _MH_BANDS
    + f"""
    , pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    {_SPLIT_SQL},
    exact_leak AS (
      SELECT DISTINCT s.doc_id
      FROM split s JOIN documents d ON d.doc_id = s.doc_id
      WHERE NOT s.heldout AND sha256(d.text) IN (
        SELECT sha256(d2.text)
        FROM split s2 JOIN documents d2 ON d2.doc_id = s2.doc_id
        WHERE s2.heldout
      )
    ),
    near_leak AS (
      SELECT DISTINCT t.doc_id
      FROM split t
      JOIN pairs p ON t.doc_id IN (p.doc_a, p.doc_b)
      JOIN split o ON o.doc_id = CASE WHEN p.doc_a = t.doc_id
                                      THEN p.doc_b ELSE p.doc_a END
      WHERE NOT t.heldout AND o.heldout
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_leak,
           CAST(SUM(CASE WHEN nl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_leak,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL
                           OR nl.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM split s
    LEFT JOIN exact_leak e ON e.doc_id = s.doc_id
    LEFT JOIN near_leak nl ON nl.doc_id = s.doc_id
    WHERE NOT s.heldout
    GROUP BY 1
    """,
)
def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L42: held-out decontamination — per source, how many TRAIN
    documents must drop because they leak a held-out document,
    exactly (identical sha256) or nearly (share a MinHash-LSH band
    with one). Both layers are candidate-generation shapes that
    never go all-pairs: the exact layer is a hash semi-join, the
    near layer re-uses the dedup ladder's banded LSH equi-join pair
    build (rebuilt per invocation).

    Scale: split assignment is a narrow md5 projection; the exact
    layer shuffles one sha256 per doc; the near layer joins the
    (sparse) candidate pair set to the split table twice on doc_id.
    Nothing is quadratic; the held-out side needs no broadcast
    assumption."""
    docs = t(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        (_BUCKET_SPARK(F.col("doc_id")) >= 90).alias("heldout"),
        F.sha2(F.col("text"), 256).alias("sha"),
    )
    train = split.filter(~F.col("heldout"))
    held = split.filter(F.col("heldout"))
    exact_leak = (
        train.join(
            held.select(F.col("sha").alias("sha")).distinct(), "sha", "semi"
        )
        .select("doc_id")
        .distinct()
        .withColumn("_exact", F.lit(1))
    )
    pairs = _lsh_pairs(spark, sf_dir)
    flags = split.select("doc_id", "heldout")
    pa = flags.select(
        F.col("doc_id").alias("doc_a"), F.col("heldout").alias("ha")
    )
    pb = flags.select(
        F.col("doc_id").alias("doc_b"), F.col("heldout").alias("hb")
    )
    pj = pairs.join(pa, "doc_a").join(pb, "doc_b")
    near_leak = (
        pj.filter(~F.col("ha") & F.col("hb"))
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pj.filter(F.col("ha") & ~F.col("hb")).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    joined = (
        train.select("doc_id", "source")
        .join(exact_leak, "doc_id", "left")
        .join(near_leak, "doc_id", "left")
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum(F.when(F.col("_exact").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_leak"),
        F.sum(F.when(F.col("_near").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_near_leak"),
        F.sum(
            F.when(
                F.col("_exact").isNotNull() | F.col("_near").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_dropped"),
    )


# --- k-core of the near-duplicate graph ----------------------------------

_KCORE_K = 2
# Every fixture's candidate graph converges after 2 peel rounds
# (pinned in tests/test_leakage.py); 4 = 2x headroom. Rounds are
# synchronized across engines, so the value is a correctness contract
# only through convergence — results match by construction either way.
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled synchronized-peeling SQL: round i recomputes degrees
    over e{i} and keeps edges whose BOTH endpoints have degree >= k
    (the llm_bpe_train unrolled-loop oracle pattern)."""
    sql = (
        _SH_CTE
        + _MH_BANDS
        + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), e0 AS MATERIALIZED (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    )
    """
    )
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references e{i} three times — un-materialized, the
    # expansion is 3^rounds re-scans of the corpus.
    for i in range(_KCORE_ROUNDS):
        sql += f"""
    , keep{i} AS MATERIALIZED (
      SELECT s AS node FROM e{i} GROUP BY 1
      HAVING COUNT(*) >= {_KCORE_K}
    ), e{i + 1} AS MATERIALIZED (
      SELECT e.s, e.d FROM e{i} e
      JOIN keep{i} ks ON ks.node = e.s
      JOIN keep{i} kd ON kd.node = e.d
    )
    """
    last = f"e{_KCORE_ROUNDS}"
    return (
        sql
        + f"""
    SELECT CAST(s AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM {last} GROUP BY 1
    """
    )


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: 2-core of the near-duplicate candidate graph — docs whose
    LSH-candidate neighborhood survives synchronized degree-{k}
    peeling, with their in-core degree. High-core documents sit in
    dense duplicate clusters (template farms, mirrored boilerplate)
    — the triage signal for which clusters to collapse first.

    Both engines compute {rounds} synchronized peeling rounds (the
    mirrored edge set is directed-both-ways, so per-node degree is
    one groupBy), so results match by construction even before
    convergence. Spark stops as soon as a round leaves the edge
    count unchanged — peeling is monotone, so every later round is
    the identity and the early exit is result-identical; tests pin
    that the fixtures converge in <{rounds} rounds, so the output IS
    the true 2-core. Each round's edge set lives on a
    localCheckpoint to stop plan growth — rounds are O(E) shuffles
    on a candidate graph already far smaller than the corpus.

    Scale: peeling cost tracks the candidate-edge count per round
    and the edge set only shrinks; for graphs where global peeling
    must iterate further, raise rounds logarithmically — each round
    is shuffle-only (no broadcast assumption, no driver state)."""
    pairs = _lsh_pairs(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    from pyspark.sql import Observation

    init_obs = Observation()
    e = e.observe(init_obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    prev_n = init_obs.get["n"]
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
        )
        obs = Observation()
        e = (
            e.join(keep.withColumnRenamed("node", "s"), "s")
            .join(keep.withColumnRenamed("node", "d"), "d")
            .select("s", "d")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        # Peeling is monotone: an edge count unchanged by a round
        # means the keep set is at its fixpoint and every remaining
        # synchronized round is the identity — stop early with a
        # result identical to running all _KCORE_ROUNDS (r12; the
        # count rides the checkpoint's action via observe, so the
        # probe costs no extra job).
        cur_n = obs.get["n"]
        if cur_n == prev_n:
            break
        prev_n = cur_n
    return e.groupBy(F.col("s").cast("bigint").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


graph_kcore.__doc__ = graph_kcore.__doc__.format(
    k=_KCORE_K, rounds=_KCORE_ROUNDS
)


# --- SQL UNPIVOT clause --------------------------------------------------


@query(
    "sql_unpivot",
    oracle="""
    SELECT p_brand, metric,
           CAST(SUM(CAST(floor(val * 100) AS BIGINT)) AS BIGINT)
             AS total_centi
    FROM (
      SELECT p_brand, metric, val FROM (
        SELECT p_brand, CAST(p_size AS DOUBLE) AS size_units,
               p_retailprice AS retail_price
        FROM part
      ) UNPIVOT (val FOR metric IN (size_units, retail_price))
    )
    GROUP BY 1, 2
    """,
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: the SQL UNPIVOT clause — wide numeric columns melted to
    (metric, value) rows declaratively, then rolled up per brand.
    The pure-SQL surface of unpivot_long's DataFrame melt: both
    engines parse the same clause shape natively, so the query text
    IS the cross-engine contract.

    Scale: UNPIVOT is a zero-shuffle projection (row explodes to
    k metric rows map-side); the only shuffle is the final bounded
    hash agg. Values are floor-scaled to integer centi-units before
    summing (dsum discipline)."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part_unpivot_src")
    return spark.sql(
        """
        SELECT p_brand, metric,
               CAST(SUM(CAST(floor(val * 100) AS BIGINT)) AS BIGINT)
                 AS total_centi
        FROM (
          SELECT p_brand, metric, val FROM (
            SELECT p_brand, CAST(p_size AS DOUBLE) AS size_units,
                   p_retailprice AS retail_price
            FROM part_unpivot_src
          ) UNPIVOT (val FOR metric IN (size_units, retail_price))
        )
        GROUP BY 1, 2
        """
    )
