"""Training-data pipeline operators beyond the reference's surface:
deterministic dataset splits, sequence packing, vocabulary building,
and PII-style redaction over the ``documents`` table.

These are the engine-completing ops a 100-TB pretraining pipeline
needs on top of SURVEY.md §2: every one is a narrow/agg composition
of built-in functions (no Python in the hot path) and each is fully
oracle-checkable because all randomness is replaced by deterministic
md5-derived hashing (the same discipline as MinHash/SimHash — seeded
RNG would never hash-match across engines, md5 does bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import text as X
from flirt_consume_spark.queries.base import query, t

# md5-derived uniform bucket in [0, 100): the deterministic,
# engine-portable replacement for rand()-based splits. Identical
# 32-bit hex prefix parsed as an integer in both engines.
_BUCKET_SPARK = (
    lambda c: F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
    .cast("long")
    % 100
)
_BUCKET_SQL = "(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT % 100)"


@query(
    "split_assign",
    oracle=f"""
    WITH b AS (
      SELECT {_BUCKET_SQL.format(c='doc_id')} AS bucket, n_chars
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by md5(doc_id) —
    stable under re-runs, insertions, and repartitioning (a rand()
    split is none of those), which is what makes held-out sets
    trustworthy at 100 TB. Narrow op: no shuffle until the final
    3-group agg."""
    docs = t(spark, sf_dir, "documents")
    bucket = _BUCKET_SPARK(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_CTX = 4096  # tokens per packed training sequence


@query(
    "pack_sequences",
    oracle=rf"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
               AS n_tok
      FROM documents
    ), packed AS (
      SELECT source, n_tok,
             CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tok)
                  // {_CTX} AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY source, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in stable doc_id order)
    into {_CTX}-token training bins — bin = starting token offset DIV
    context length. Packing is per-source, and the per-source running
    token offset comes from ONE ``grouped_cumsum`` (range-partitioned
    prefix sum + broadcast per-source offsets): a per-source window
    would serialize each source's whole corpus through one reducer,
    and a single global window through one, period."""
    from flirt_consume_spark.operators.scale import grouped_cumsum

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(X.tokens("text")).cast("bigint").alias("n_tok")
    )
    # pin_sample: the child carries the regex tokenizer, which the
    # range sampler would otherwise re-run over the corpus (ADVICE
    # r12; cheap scan-children leave the default False).
    packed = grouped_cumsum(
        toks,
        "n_tok",
        ["source"],
        [F.col("doc_id")],
        cum_col="_ctok",
        pin_sample=True,
    ).withColumn(
        "bin_id",
        ((F.col("_ctok") - F.col("n_tok")) / _CTX).cast("bigint"),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


@query(
    "llm_vocab",
    oracle=r"""
    SELECT token, cnt, rnk FROM (
      SELECT token, COUNT(*) AS cnt,
             row_number() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
      FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
              AS token
            FROM documents)
      GROUP BY token
    ) WHERE rnk <= 50
    """,
)
def llm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: global top-50 tokens by frequency.
    explode + two-phase hash agg (map-side partial combine absorbs the
    Zipf head's skew before the shuffle), then TakeOrdered for the
    cut — ties broken on the token itself so the cut is deterministic
    cross-engine."""
    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Distributed top-k (TakeOrderedAndProject) takes the cut; the
    # rank window then only ever sees 50 rows — a global row_number
    # over the full vocabulary would sort it through one partition.
    top = counts.orderBy(F.desc("cnt"), "token").limit(50)
    w = Window.orderBy(F.desc("cnt"), "token")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "token", "cnt", "rnk"
    )


@query(
    "llm_redact",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_md5,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_hits
    FROM documents
    """,
)
def llm_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: mask digit runs, count the hits, and prove
    byte-exact agreement via md5 of the redacted text. Pure per-row
    JVM regex (whole-stage codegen, no UDF); the pattern set extends
    to emails/phones the same way."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[0-9]+", "<NUM>")).alias("redacted_md5"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).cast("bigint").alias(
            "n_hits"
        ),
    )


@query(
    "sample_stratified",
    oracle=f"""
    WITH b AS (
      SELECT lang, n_chars,
             {_BUCKET_SQL.format(c='doc_id')} AS bucket,
             CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM b WHERE bucket < rate GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-stratum rates (corpus
    rebalancing: downsample the dominant language to 10%, keep the
    tail at 50%) off the same md5 bucket as split_assign. Unlike
    ``df.sampleBy`` (RNG, non-reproducible across engines/runs) the
    kept set is a pure function of doc_id, so resumed or re-sharded
    pipelines keep exactly the same documents."""
    docs = t(spark, sf_dir, "documents")
    bucket = _BUCKET_SPARK(F.col("doc_id"))
    rate = F.when(F.col("lang") == "en", 10).otherwise(50)
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )
