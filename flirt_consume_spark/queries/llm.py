"""North-star LLM-data-pipeline query keys (SURVEY.md §2.K + §2.J U2).

Dedup ladder (exact → MinHash-LSH → SimHash → n-gram Jaccard),
similarity search (exact kNN + deterministic-LSH ANN), text analysis
(stats, lang-ID, quality, token counting, fingerprinting), multimodal
binary columns, and the grouped-map Pandas UDF. Every hash in the
dedup/ANN family is md5/sha256 of explicit strings — no seeded RNG —
so even the LSH constructions hash-match their DuckDB oracles.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.operators import dedup as D
from flirt_consume_spark.operators import multimodal as M
from flirt_consume_spark.operators import similarity as S
from flirt_consume_spark.operators import text as X
from flirt_consume_spark.queries.base import davg, favg, query, sql_davg, sql_favg, t

# Shared oracle CTE: distinct (doc_id, 3-word shingle) pairs.
_SH_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
  FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 3
), sh AS (
  SELECT DISTINCT doc_id,
         tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS shingle
  FROM (SELECT doc_id, tok,
               unnest(generate_series(1, len(tok) - 2)) AS i
        FROM toks)
)
"""


@query(
    "llm_exact_dedup",
    oracle="""
    SELECT sha256(text) AS text_sha,
           min(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by content hash; canonical = lowest doc_id.
    One shuffle on sha256 — at 100 TB this is the cheap first rung."""
    return D.exact_dedup(t(spark, sf_dir, "documents"))


# MinHash signature + band CTEs and the candidate-pair select, shared
# by llm_minhash_dedup and the connected-components clustering oracle.
_MH_BANDS = (
    """
    , wide AS (
      SELECT doc_id, md5(shingle) || sha256(shingle) AS w FROM sh
    ), sigs AS (
      SELECT doc_id,
    """
    + ",\n".join(
        f"min(substr(w, {i * 8 + 1}, 8)) AS mh{i}" for i in range(12)
    )
    + """
      FROM wide GROUP BY doc_id
    ), bands AS (
    """
    + "\nUNION ALL\n".join(
        f"SELECT doc_id, '{b}#' || md5(mh{b * 3} || '|' || mh{b * 3 + 1}"
        f" || '|' || mh{b * 3 + 2}) AS band_key FROM sigs"
        for b in range(4)
    )
    + """
    )
    """
)
_MH_PAIRS_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


# The dedup ladder is ONE pipeline whose rungs (candidates → verify →
# cluster) all consume the same LSH candidate set. Pin it once PER
# INVOCATION (lazy localCheckpoint) so every plan leg of that
# invocation reuses one materialization — and NOTHING survives across
# invocations: every bench/oracle run recomputes from the parquet
# inputs (r12 VERDICT flagged the old session-scoped memo as
# cross-invocation result caching; removed in r13).
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flirt_consume_spark.operators.scale import fan_out

    # fan_out HERE, not inside shingle_stream (r12's revert stands for
    # the shared shingle tables: their multi-leg consumers re-pay the
    # text shuffle per leg when pushdown defeats exchange reuse). This
    # build has exactly ONE consumer chain above the floor — the
    # min-hash aggregation — and its output is pinned below, so every
    # downstream leg reads the pin, never the shuffle. Without the
    # floor the tokenize+shingle+md5/sha256 stage runs as ONE task
    # over the single-row-group fixture (guide §2.5); at scale the
    # probe is a no-op.
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    return D.lsh_candidate_pairs(
        D.minhash_signatures(D.shingle_stream(docs))
    ).localCheckpoint(eager=False)


@query(
    "llm_minhash_dedup",
    oracle=_SH_CTE + _MH_BANDS + _MH_PAIRS_SELECT,
)
def llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: MinHash-LSH near-dup candidates — 12 sliced min-hashes, 4
    bands of 3, candidates = docs sharing any band. The band equi-join
    is the scale path: no all-pairs shuffle ever materializes.
    Deterministic md5/sha256 hashing (not seeded RNG) => full
    hash-match."""
    return _lsh_pairs(spark, sf_dir)


# Shared oracle for both connected-components keys: recursive
# reachability over the mirrored LSH candidate pairs, component =
# min reachable doc_id. Both Spark algorithms must agree with it
# (and hence with each other) under the driver's value hash.
_CC_ORACLE = (
    _SH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _MH_BANDS
    + ", pairs AS ("
    + _MH_PAIRS_SELECT
    + """
    ), edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT s AS node, s AS r FROM edges
      UNION
      SELECT w.node, e.d FROM reach w JOIN edges e ON e.s = w.r
    ), comp AS (
      SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    )
    SELECT CAST(comp AS BIGINT) AS component,
           COUNT(*) AS n_docs,
           CAST(MAX(node) AS BIGINT) AS max_doc
    FROM comp GROUP BY comp
    """
)


def _component_rollup(comp: DataFrame) -> DataFrame:
    return comp.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").cast("bigint").alias("max_doc"),
    ).select(
        F.col("comp").cast("bigint").alias("component"), "n_docs", "max_doc"
    )


@query("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d: near-dup CLUSTERS — connected components over the LSH
    candidate-pair graph (iterative min-label propagation; the oracle
    replays it as a recursive reachability CTE). component = min
    doc_id in the group, the canonical survivor under keep-lowest-id
    dedup policy. Above a node-count threshold the operator
    auto-dispatches to the no-broadcast star-contraction algorithm
    (see operators/dedup.connected_components), so this key is
    scale-safe by default."""
    pairs = _lsh_pairs(spark, sf_dir)
    comp = D.connected_components(pairs)
    return _component_rollup(comp)


@query("dedup_components_star", oracle=_CC_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d (web-scale variant): the same clustering computed by
    alternating large-star/small-star contraction (Kiveris et al.,
    SoCC 2014) — O(log n) rounds, shuffle-only, no broadcast-labels
    assumption. Shares dedup_components' oracle, so the driver's
    value hash proves the two algorithms agree, not just the
    property tests."""
    pairs = _lsh_pairs(spark, sf_dir)
    comp = D.alternating_star_components(pairs)
    return _component_rollup(comp)


@query(
    "llm_simhash",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, range(0, 16) t(b) GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2b: 16-bit SimHash fingerprint per document (sign-of-weighted-
    sum over token hashes) — near-identical token sets land on
    Hamming-close fingerprints; pure relational, no UDF."""
    return D.simhash16(t(spark, sf_dir, "documents"))


@query(
    "llm_ngram_jaccard",
    oracle=_SH_CTE
    + _MH_BANDS
    + ", pairs AS ("
    + _MH_PAIRS_SELECT
    + """
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT doc_a, doc_b,
           floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e6) / 1e6 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE floor(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 1e6) / 1e6 >= 0.3
    """,
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2c: exact 3-gram Jaccard VERIFY over MinHash-LSH candidates —
    the full propose/dispose composition of the dedup ladder. The
    exact-Jaccard joins are pair-bounded (operators/dedup.
    jaccard_verify), so no step is quadratic in a hot shingle's
    document frequency; the raw self-join form (jaccard_pairs) stays
    available for small blocked inputs."""
    docs = t(spark, sf_dir, "documents")
    cand = _lsh_pairs(spark, sf_dir)
    # Shingle ONLY the docs that appear in a candidate pair (r13):
    # the verify consumes nothing else, so the corpus-wide tokenize/
    # shingle explode shrinks to the candidate set — the compute-side
    # twin of jaccard_verify's own storage bound (which still
    # semi-filters internally, so the operator stays safe for any
    # caller). Results unchanged: non-candidate docs cannot reach the
    # pair joins.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = docs.join(cand_docs, "doc_id", "left_semi")
    return D.jaccard_verify(D.shingle_table(docs), cand, min_sim=0.3)


_COS = (
    "round(list_dot_product(q.e, c.e) / "
    "(sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)"
)


@query(
    "llm_knn",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS} DESC, c.vec_id
             ) AS rnk
      FROM v q JOIN v c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ) WHERE rnk <= 5
    """,
)
def llm_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 baseline: exact cosine top-5 for 10 query vectors — broadcast
    query set × full scan, rank on ROUNDED similarity + id tie-break
    so cross-engine ulp noise cannot reorder the cut."""
    emb = t(spark, sf_dir, "embeddings")
    return S.knn_exact(emb, list(range(10)), k=5)


# Shared LSH bucket index over the embeddings table — rebuilt per
# invocation (lazy pin, no cross-invocation memo): within one query's
# plan every consumer leg reads the one pinned build, and every
# bench/oracle invocation recomputes it from parquet.
def _emb_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.lsh_buckets(emb, S.hyperplanes(spark)).localCheckpoint(
        eager=False
    )


# Shared LSH-bucket CTE chain (8 deterministic md5 ±1 planes → 256
# buckets), used by llm_ann_lsh and llm_embed_dedup oracles.
_LSH_CTE = """
    WITH planes AS (
      SELECT p, d,
             CASE WHEN CAST(('0x' || substr(md5(p || '_' || d), 1, 2)) AS INT)
                    % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 8) pp(p), range(0, 64) dd(d)
    ), comp AS (
      -- a vector-less row cannot participate in vector search (and
      -- DuckDB's list_dot_product refuses NULL lists outright);
      -- the Spark path's NULL projections drop out identically
      SELECT vec_id, i - 1 AS d, embedding[i]::DOUBLE AS x
      FROM embeddings, range(1, 65) t(i)
      WHERE embedding IS NOT NULL
    ), proj AS (
      SELECT vec_id, p, SUM(x * w) AS s
      FROM comp JOIN planes USING (d) GROUP BY vec_id, p
    ), buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id
    ), v AS (
      SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS e, b.bucket
      FROM embeddings e JOIN buckets b USING (vec_id)
      WHERE e.embedding IS NOT NULL
    )
"""


@query(
    "llm_ann_lsh",
    oracle=_LSH_CTE
    + f"""
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cos_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS} DESC, c.vec_id
             ) AS rnk
      FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ) WHERE rnk <= 3
    """,
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path: random-hyperplane LSH (8 md5-derived ±1 planes →
    256 buckets); neighbor search touches only the query's bucket.
    Deterministic construction => the oracle rebuilds identical planes."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_lsh(emb, list(range(10)), k=3, buckets=_emb_buckets(spark, sf_dir))


_PAIR_COS = (
    "round(list_dot_product(a.e, b.e) / "
    "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)"
)


@query(
    "llm_embed_dedup",
    oracle=_LSH_CTE
    + f"""
    , pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_PAIR_COS} AS cos_sim
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_PAIR_COS} >= 0.3
    )
    SELECT vec_b AS dup_id, MIN(vec_a) AS canonical_id,
           MAX(cos_sim) AS best_cos, COUNT(*) AS n_links
    FROM pairs GROUP BY vec_b
    """,
)
def llm_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2f: embedding-cosine near-dup removal list — the semantic rung
    of the dedup ladder (exact → MinHash → SimHash → Jaccard →
    embedding cosine). LSH-bucket every vector, pair within buckets,
    keep rounded cosine >= 0.3; each surviving vec_b is a DUPLICATE of
    its lowest-id match (keep-lowest-id policy — symmetric with
    exact_dedup/dedup_components canonicals). One shuffle on bucket
    id; per-bucket work |bucket|², never corpus-all-pairs."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = S.embed_dup_pairs(
        emb, min_cos=0.3, buckets=_emb_buckets(spark, sf_dir)
    )
    return pairs.groupBy(F.col("vec_b").alias("dup_id")).agg(
        F.min("vec_a").alias("canonical_id"),
        F.max("cos_sim").alias("best_cos"),
        F.count(F.lit(1)).alias("n_links"),
    )


@query(
    "llm_centroid",
    oracle="""
    SELECT label, CAST(d AS BIGINT) AS dim,
           CAST(SUM(CAST(floor(embedding[d]::DOUBLE * 1e9) AS BIGINT))
                AS DOUBLE) / 1e9 / COUNT(*) AS centroid
    FROM embeddings, range(1, 65) t(d)
    WHERE embedding IS NOT NULL
    GROUP BY label, d
    """,
)
def llm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: per-label embedding centroid (exact decimal sums, one row
    per label × dimension)."""
    return S.label_centroids(t(spark, sf_dir, "embeddings"))


@query(
    "llm_repetition",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tok
      FROM documents
      WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
    ), grams AS (
      SELECT doc_id, tok[i] || ' ' || tok[i+1] AS g
      FROM (SELECT doc_id, tok,
                   unnest(generate_series(1, len(tok) - 1)) AS i
            FROM toks)
    ), counts AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           floor((CAST(SUM(c) AS DOUBLE) - COUNT(*))
                 / CAST(SUM(c) AS DOUBLE) * 1e6) / 1e6 AS dup_gram_frac,
           floor(CAST(MAX(c) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) * 1e6) / 1e6 AS top_gram_frac
    FROM counts GROUP BY doc_id
    """,
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4b: within-doc repetition/boilerplate signal (Gopher-style) —
    duplicate-2-gram fraction and most-frequent-2-gram fraction per
    document. The Spark side is fully narrow (higher-order array
    expressions, zero shuffle — the 100-TB shape for quality
    pre-filters); the oracle computes the same statistics relationally
    via unnest + GROUP BY."""
    return X.repetition_signal(t(spark, sf_dir, "documents"))


_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"
_TTR = rf"len(list_distinct({_TOKS})) / len({_TOKS})"


@query(
    "llm_textstats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_davg('n_chars', 'avg_chars', 2)},
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           {sql_favg(_TTR, 'avg_ttr')}
    FROM documents GROUP BY lang
    """,
)
def llm_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus statistics per language — doc counts, length, token
    totals, lexical diversity (type-token ratio)."""
    docs = t(spark, sf_dir, "documents")
    tok = X.tokens("text")
    per_doc = docs.select(
        "lang",
        "n_chars",
        F.size(tok).cast("bigint").alias("n_tok"),
        X.type_token_ratio("text").alias("ttr"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars", 2),
        F.sum("n_tok").alias("total_tokens"),
        favg("ttr", "avg_ttr"),
    )


@query(
    "llm_langid",
    oracle=rf"""
    SELECT doc_id, lang AS actual,
           floor(len(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\s+'),
                   x -> x IN {X.EN_STOPWORDS}))
                 / len(regexp_split_to_array(lower(trim(text)), '\s+'))
                 * 1e6) / 1e6 AS en_ratio,
           CASE WHEN len(list_filter(
                    regexp_split_to_array(lower(trim(text)), '\s+'),
                    x -> x IN {X.EN_STOPWORDS}))
                  / len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 0.1
                THEN 'en' ELSE 'unk' END AS predicted
    FROM documents
    """,
)
def llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4b: language-ID via function-word n-gram heuristic (the
    deterministic, oracle-checkable core of fastText-style lang-ID;
    real models would ride the same column pipeline)."""
    docs = t(spark, sf_dir, "documents")
    ratio = X.stopword_ratio("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        (F.floor(ratio * 1e6) / F.lit(1e6)).alias("en_ratio"),
        F.when(ratio >= 0.1, "en").otherwise("unk").alias("predicted"),
    )


@query(
    "llm_quality",
    oracle=rf"""
    SELECT doc_id, floor(q * 1e6) / 1e6 AS quality,
           CASE WHEN floor(q * 1e6) / 1e6 >= 0.75 THEN 'high'
                WHEN floor(q * 1e6) / 1e6 >= 0.5 THEN 'mid'
                ELSE 'low' END AS bucket
    FROM (
      SELECT doc_id,
        (least(length(text) / 400.0, 1.0)
         + least(len(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN {X.EN_STOPWORDS}))
             / len(regexp_split_to_array(lower(trim(text)), '\s+')) * 4, 1.0)
         + (1 - least(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      / length(text) * 10, 1.0))
         + len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
             / len(regexp_split_to_array(lower(trim(text)), '\s+'))
        ) / 4 AS q
      FROM documents
    )
    """,
)
def llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4c: composite quality score (length band + stopword presence +
    low punctuation + lexical diversity) with routing buckets — the
    cheap pre-filter stage of a training-data pipeline."""
    docs = t(spark, sf_dir, "documents")
    q = F.floor(X.quality_score("text") * 1e6) / F.lit(1e6)
    return docs.select(
        "doc_id",
        q.alias("quality"),
        F.when(q >= 0.75, "high").when(q >= 0.5, "mid").otherwise("low").alias(
            "bucket"
        ),
    )


@query(
    "llm_tokens",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS BIGINT)
             AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS chars
    FROM documents
    """,
)
def llm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4d: token budgeting — whitespace tokens + BPE-ish lexer count
    (letter runs / digit runs / single punctuation)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(X.tokens("text")).cast("bigint").alias("ws_tokens"),
        X.bpe_token_count("text").alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("chars"),
    )


@query(
    "llm_fingerprint",
    oracle=_SH_CTE
    + """
    SELECT doc_id, min(md5(shingle)) AS fp, COUNT(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4e: winnowing-style fingerprint — min-hash over the shingle
    set as a cheap cluster key + distinct-shingle count."""
    sh = D.shingle_table(t(spark, sf_dir, "documents"))
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fp"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


@query(
    "llm_multimodal",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS brightness,
           CAST(length(text) % 640 AS INTEGER) AS width,
           CAST(length(text) % 480 AS INTEGER) AS height
    FROM documents
    """,
)
def llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: multimodal binary-asset columns — bytes + typed metadata
    struct, features extracted by Arrow-batched mapInPandas (the real
    decode is stubbed; see operators/multimodal.py). The Python path
    computes from the BINARY column; the oracle recomputes from text —
    matching hashes prove the bytes round-tripped exactly."""
    docs = t(spark, sf_dir, "documents")
    return M.extract_features(M.attach_assets(docs))


_GROUPNORM_SCHEMA = "doc_id long, lang string, z double"


@query(
    "udf_groupnorm",
    oracle="""
    SELECT doc_id, lang,
           round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                 / stddev_samp(n_chars) OVER (PARTITION BY lang), 4) AS z
    FROM documents
    """,
)
def udf_groupnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: grouped-map Pandas UDF (applyInPandas) — per-language
    z-score of document length, verified against window SQL. The one
    place Python touches data in the batch surface, Arrow-batched.
    Defined as a closure so executors never import this package."""

    def znorm(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["n_chars"].mean()
        std = pdf["n_chars"].std(ddof=1)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "z": ((pdf["n_chars"] - mean) / std).round(4),
            }
        )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.groupBy("lang").applyInPandas(znorm, schema=_GROUPNORM_SCHEMA)


@query(
    "llm_editdist",
    oracle="""
    WITH p AS (
      SELECT doc_id, substr(text, 1, 40) AS head,
             lead(substr(text, 1, 40)) OVER (ORDER BY doc_id) AS next_head
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, CAST(levenshtein(head, next_head) AS BIGINT) AS edit_dist
    FROM p WHERE next_head IS NOT NULL
    """,
)
def llm_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e: Levenshtein edit distance between adjacent documents'
    40-char heads — the character-level rung of the fuzzy-match
    ladder (shingles are word-level). JVM built-in, O(len^2) per
    pair: bound the compared prefix, never run it on full documents
    at scale — it's the verify step after a blocking join, same
    role as jaccard_pairs."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    head = F.substring("text", 1, 40)
    w = Window.orderBy("doc_id")
    p = docs.select(
        "doc_id", head.alias("head"), F.lead(head).over(w).alias("next_head")
    )
    return p.filter(F.col("next_head").isNotNull()).select(
        "doc_id",
        F.levenshtein("head", "next_head").cast("bigint").alias("edit_dist"),
    )


@query(
    "emb_recall_eval",
    oracle=_LSH_CTE
    + f"""
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM v q JOIN v c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 10
      ) WHERE rnk <= 3
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
        WHERE q.vec_id < 10
      ) WHERE rnk <= 3
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 3.0 AS recall_at_3
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def emb_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3c: ANN index QUALITY EVAL — recall@3 of the LSH index
    (llm_ann_lsh's exact construction) against the exact cosine
    top-3 (llm_knn's), per query. This is the measurement a real
    pipeline runs before trusting an approximate index: both sides
    reuse the SAME ranked components (rounded-cosine + id tie-break,
    so the compared sets are deterministic), the hit test is a
    broadcast-size equi-join on (query, neighbor), and recall is the
    exact small-integer ratio n_hit/3. At scale the exact side runs
    on a SAMPLE of queries (here: the 10 probe vectors) — evaluating
    recall never requires the full N² exact search."""
    emb = t(spark, sf_dir, "embeddings")
    # Vector-less rows cannot be ranked: the oracle's v-view filters
    # embedding IS NOT NULL (DuckDB's list_dot_product refuses NULL
    # lists), so the exact side must skip them too — otherwise an
    # all-NULL embeddings table yields NULL-similarity "neighbors"
    # here and zero rows there.
    emb = emb.filter(F.col("embedding").isNotNull())
    queries = list(range(10))
    exact, ann = _recall_legs(emb, _emb_buckets(spark, sf_dir), queries)
    hit = exact.join(
        ann,
        (F.col("query_id") == F.col("a_q"))
        & (F.col("neighbor_id") == F.col("a_n")),
        "left_outer",
    )
    return (
        hit.groupBy("query_id")
        .agg(
            F.count("a_n").cast("bigint").alias("n_hit"),
            (F.count("a_n").cast("double") / 3.0).alias("recall_at_3"),
        )
        .orderBy("query_id")
    )


def _recall_legs(emb, buckets, queries: list, k: int = 3):
    """Shared exact/ANN ranked legs for the recall-eval keys (r12,
    guide §2.4 "remove shuffles outright" / §5): the ANN candidate
    set is exactly the bucket-equal SUBSET of the exact leg's pair
    set, so both top-k rankings read ONE scored frame, narrow (ids +
    cos + bucket flag, no vectors). Ranking semantics are
    knn_exact's / ann_lsh's verbatim: round(cos, 6) DESC with
    neighbor-id tie-break, row_number ≤ k; the ann leg filters
    BEFORE ranking, exactly like the bucket equi-join it replaces
    (one bucket per vector, so the join produced each candidate at
    most once).

    ``buckets=None`` means ``emb`` already carries its ``bucket``
    column (the planted key computes the signature in-row — r12
    session 5), so no bucket join is needed."""
    from pyspark.sql.window import Window as W

    vecs = emb.select(
        "vec_id",
        S.as_double("embedding").alias("v"),
        *(["bucket"] if buckets is None else []),
    )
    if buckets is not None:
        vecs = vecs.join(buckets, "vec_id")
    q = vecs.filter(F.col("vec_id").isin(queries)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("_qb"),
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("bucket").alias("_cb"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
            (F.col("_qb") == F.col("_cb")).alias("_same"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )
    ann = (
        scored.filter("_same")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
        )
    )
    return exact, ann


# --- planted-neighbor recall (VERDICT r11 task 5) -------------------------
#
# The sf embeddings fixture is isotropic noise, so recall over it is
# ~chance by construction. This key builds a PLANTED table in-plan from
# pure md5 arithmetic — the same no-seeded-RNG discipline as the LSH
# hyperplanes — so the driver-visible CORRECTNESS window carries a real
# retrieval-quality number: 10 md5-derived cluster centers x 12 members
# (member = center + noise/16). Every coordinate is an exact multiple of
# 2^-35 (md5 32-bit int / 2^31 - 1, plus a power-of-two-scaled noise
# term), so the vectors are BIT-IDENTICAL across Spark and DuckDB with
# no rounding step. Vectors are deliberately left unnormalized: cosine
# ranking is scale-invariant per vector, and skipping the norm keeps the
# construction sqrt-free and exact.
_PLANTED_CLUSTERS = 10
_PLANTED_MEMBERS = 12
_PLANTED_DIM = 64

# vec_id = m*10 + c, so ids 0..9 (the probe queries) fall one per
# cluster and a neighbor's true cluster is neighbor_id % 10.
_PLANTED_CTE = f"""
    WITH cells AS (
      SELECT m * {_PLANTED_CLUSTERS} + c AS vec_id, c AS cluster, d,
             (CAST(('0x' || substr(md5(concat_ws('/', 'planted-center',
                     c, d)), 1, 8)) AS BIGINT) / 2147483648.0 - 1.0)
             + (CAST(('0x' || substr(md5(concat_ws('/', 'planted-noise',
                     c, m, d)), 1, 8)) AS BIGINT) / 2147483648.0 - 1.0)
               / 16.0 AS x
      FROM range(0, {_PLANTED_CLUSTERS}) cc(c),
           range(0, {_PLANTED_MEMBERS}) mm(m),
           range(0, {_PLANTED_DIM}) dd(d)
    ), planes AS (
      SELECT p, d,
             CASE WHEN CAST(('0x' || substr(md5(p || '_' || d), 1, 2)) AS INT)
                    % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 8) pp(p), range(0, {_PLANTED_DIM}) dd(d)
    ), proj AS (
      SELECT vec_id, p, SUM(x * w) AS s
      FROM cells JOIN planes USING (d) GROUP BY vec_id, p
    ), bkt AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id
    ), v AS (
      SELECT c.vec_id, list(c.x ORDER BY c.d) AS e, ANY_VALUE(b.bucket) AS bucket
      FROM cells c JOIN bkt b ON b.vec_id = c.vec_id
      GROUP BY c.vec_id
    )
"""


def _planted_table(spark: SparkSession) -> DataFrame:
    """The planted embeddings frame, built JVM-side (range + transform
    over a sequence; md5/conv built-ins, no UDF, no driver data)."""

    def mu(tag):  # md5 tag -> exact multiple of 2^-31 in [-1, 1)
        return (
            F.conv(F.substring(F.md5(tag), 1, 8), 16, 10).cast("double")
            / F.lit(2147483648.0)
            - F.lit(1.0)
        )

    base = spark.range(_PLANTED_CLUSTERS * _PLANTED_MEMBERS).select(
        F.col("id").cast("bigint").alias("vec_id"),
        (F.col("id") % _PLANTED_CLUSTERS).cast("int").alias("cluster"),
        F.expr(f"id DIV {_PLANTED_CLUSTERS}").cast("int").alias("m"),
    )
    e = F.transform(
        F.sequence(F.lit(0), F.lit(_PLANTED_DIM - 1)),
        lambda d: mu(
            F.concat_ws("/", F.lit("planted-center"), F.col("cluster"), d)
        )
        + mu(
            F.concat_ws(
                "/", F.lit("planted-noise"), F.col("cluster"), F.col("m"), d
            )
        )
        / F.lit(16.0),
    )
    return base.select("vec_id", e.alias("embedding"))


@query(
    "emb_recall_planted",
    oracle=_PLANTED_CTE
    + f"""
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM v q JOIN v c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_PLANTED_CLUSTERS}
      ) WHERE rnk <= 3
    ), ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
        WHERE q.vec_id < {_PLANTED_CLUSTERS}
      ) WHERE rnk <= 3
    )
    SELECT e.query_id,
           CAST(COUNT(CASE WHEN e.neighbor_id % {_PLANTED_CLUSTERS}
                                = e.query_id THEN 1 END) AS BIGINT)
             AS n_exact_true,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 3.0 AS recall_at_3
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def emb_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3c-planted: recall@3 of the LSH ANN index on a table with
    PLANTED ground truth (10 tight md5-derived clusters), so the
    number is a real retrieval-quality measurement, not chance on
    isotropic noise. ``n_exact_true`` additionally certifies that the
    exact top-3 recovers the planted cluster (3/3 per query — the
    ground truth is actually planted, pinned in tests); recall_at_3
    then measures how often 8-plane LSH blocking keeps a cluster
    together. sf_dir is unused by design: the table derives from md5
    arithmetic alone, identically in both engines, so the key is a
    pure index-quality gauge at any scale factor."""
    # The LSH bucket is an in-row sign-bit expression
    # (operators.similarity.bucket_expr — the identical md5-parity
    # planes, bit-identical fold order), so no separate
    # explode/aggregate bucket build or vec ⋈ bucket join exists.
    emb = _planted_table(spark).withColumn(
        "bucket", S.bucket_expr("embedding")
    )
    queries = list(range(_PLANTED_CLUSTERS))
    exact, ann = _recall_legs(emb, None, queries)
    hit = exact.join(
        ann,
        (F.col("query_id") == F.col("a_q"))
        & (F.col("neighbor_id") == F.col("a_n")),
        "left_outer",
    )
    true_hit = F.when(
        F.col("neighbor_id") % _PLANTED_CLUSTERS == F.col("query_id"), 1
    )
    return (
        hit.groupBy("query_id")
        .agg(
            F.count(true_hit).cast("bigint").alias("n_exact_true"),
            F.count("a_n").cast("bigint").alias("n_hit"),
            (F.count("a_n").cast("double") / 3.0).alias("recall_at_3"),
        )
        .orderBy("query_id")
    )
