"""Similarity search over embedding columns (J7/L3/L6).

Two tiers:
- exact brute-force cosine top-k — the baseline and the verifier;
  dot products via zip_with + aggregate (JVM higher-order functions,
  no UDF, no Python);
- deterministic random-hyperplane LSH — 8 md5-derived ±1 planes bucket
  vectors into 256 cells; neighbor search touches only the query's
  cell. The md5 construction replaces seeded RNG so the DuckDB oracle
  can rebuild the identical planes.

Scale: brute force is O(Q·N) — fine for a broadcast query set, wrong
for all-pairs at 100 TB; the LSH path shuffles once on bucket id and
its per-bucket work is |bucket|², the standard ANN trade. Rank/cut
always on ROUNDED similarity (6 dp) + id tie-break so cross-engine
ulp noise can't reorder the top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def knn_exact(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L3 baseline: exact cosine top-k for a small query set.
    The query side is broadcast → no shuffle of the big side at all."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def hyperplanes(spark, n_planes: int = 8, dim: int = 64) -> DataFrame:
    """Deterministic ±1 hyperplanes: w(p,d) = parity of md5('p_d')."""
    if not 1 <= n_planes <= 63:
        raise ValueError(
            f"n_planes must be in [1, 63] (bucket is a signed 64-bit "
            f"sign-bit signature), got {n_planes}"
        )
    p = spark.range(n_planes).select(F.col("id").cast("int").alias("p"))
    d = spark.range(dim).select(F.col("id").cast("int").alias("d"))
    return p.crossJoin(d).select(
        "p",
        "d",
        F.when(
            F.conv(
                F.substring(F.md5(F.concat_ws("_", "p", "d")), 1, 2), 16, 10
            ).cast("int")
            % 2
            == 1,
            1.0,
        )
        .otherwise(-1.0)
        .alias("w"),
    )


def bucket_expr(vec_col: str, n_planes: int = 8, dim: int = 64):
    """IN-ROW LSH bucket signature — the same 8-sign-bit value
    ``lsh_buckets`` computes, as one array expression over the vector
    column (r12 session 5): bucket = Σ_p (1<<p)·[Σ_d x_d·w(p,d) > 0].

    The ±1 plane weights are the identical md5-parity construction as
    :func:`hyperplanes` — md5 of the literal bytes ``"{p}_{d}"`` — only
    evaluated once driver-side (hashlib) into literal arrays instead of
    per-row JVM md5 calls. Each plane's dot product folds the zipped
    (x, w) pairs left-to-right in ascending d — the same IEEE addition
    order as the exploded ``SUM(x*w)`` (all 64 terms of a vector sit in
    one task, summed in explode order), so the doubles and their signs
    are bit-identical to the table construction. Use when the bucket
    can ride an existing per-vector projection; the shared
    ``lsh_buckets`` TABLE remains the build-once/query-many index.

    Fixed-dim guard (ADVICE r12): the equivalence claim above holds
    ONLY for exactly ``dim``-element vectors — on a shorter/longer
    vector ``zip_with`` NULL-pads, ``acc + NULL`` poisons the plane
    sum, and the bit silently lands 0, whereas ``lsh_buckets``'s
    explode+join computes a partial dot product over the dims
    present; mixed use would then diverge silently. A wrong-length
    non-NULL vector therefore FAILS the action loudly (raise_error)
    instead. NULL vectors keep their current behavior (every caller
    filters them; the expression yields 0 on NULL exactly as
    before)."""
    import hashlib

    def w(p: int, d: int) -> float:
        h = hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:2]
        return 1.0 if int(h, 16) % 2 == 1 else -1.0

    terms = []
    for p in range(n_planes):
        arr = ", ".join(
            f"{w(p, d):.1f}D" for d in range(dim)
        )
        terms.append(
            f"IF(aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), "
            f"array({arr}), (x, wv) -> x * wv), CAST(0.0 AS DOUBLE), "
            f"(acc, v) -> acc + v) > 0D, "
            f"shiftleft(CAST(1 AS BIGINT), {p}), CAST(0 AS BIGINT))"
        )
    signature = " + ".join(terms)
    return F.expr(
        f"IF({vec_col} IS NULL OR size({vec_col}) = {dim}, "
        f"{signature}, "
        f"raise_error(concat('bucket_expr: vector length ', "
        f"CAST(size({vec_col}) AS STRING), ' != fixed dim {dim} — "
        f"sign bits would silently diverge from lsh_buckets')))"
    ).cast("bigint")


def lsh_buckets(
    emb: DataFrame, planes: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Bucket id = 8 sign bits of plane projections. explode(vector) ×
    broadcast(planes) → one partial-aggregated sum per (vec, plane):
    a single shuffle keyed on vec id."""
    comp = emb.select(
        F.col(id_col), F.posexplode(as_double(vec_col)).alias("d", "x")
    )
    proj = (
        comp.join(F.broadcast(planes), "d")
        .groupBy(id_col, "p")
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
    )
    return proj.groupBy(id_col).agg(
        # BIGINT shift: an INT literal would wrap at p >= 31, silently
        # aliasing high planes onto low bit positions once band widths
        # scale past 8 planes (banded_similarity_join at large corpora).
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("bucket")
    )


def ann_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """L3 scale path: cosine top-k restricted to the query's LSH bucket.
    Pass a prebuilt ``buckets`` table (lsh_buckets) to amortize index
    construction across queries — the build-once/query-many shape of a
    real ANN index."""
    if buckets is None:
        buckets = lsh_buckets(emb, hyperplanes(emb.sparkSession), id_col, vec_col)
    vecs = emb.select(F.col(id_col), as_double(vec_col).alias("v")).join(
        buckets, id_col
    )
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), "bucket"
    )
    pairs = F.broadcast(q).join(c, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def embed_dup_pairs(
    emb: DataFrame,
    min_cos: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
    n_planes: int = 8,
    prune_singletons: bool = False,
    salt_buckets: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup candidates: LSH-bucket every vector
    (``n_planes`` deterministic ±1 planes → 2^n_planes buckets), pair
    vectors sharing a bucket (id_a < id_b), keep pairs with ROUNDED
    cosine >= min_cos.

    Scale shape: one shuffle keyed on bucket id; per-bucket work is
    |bucket|² — the standard ANN trade, never an all-pairs product
    over the corpus. ``n_planes`` is the scale knob: expected pair
    work is N²/2^n_planes, so grow it with the corpus (+1 plane
    halves per-bucket pair work; 16 planes = 65k buckets). Adding a
    plane only REFINES the blocking — plane p's md5 weights do not
    depend on the plane count, so the p-plane bucket is the low p
    bits of the (p+1)-plane bucket and the candidate set shrinks
    monotonically (pinned by a test). The threshold cut is on the
    6-dp rounded value so cross-engine ulp noise cannot move a pair
    across the cut.

    ``prune_singletons``: drop single-member buckets before attaching
    vectors — a singleton cannot form a pair, but would still ship
    its vector through BOTH sides of the bucket shuffle. The prune is
    one hash agg + join over the NARROW (id, bucket) frame, never the
    vectors, but it reads ``buckets`` a second time — so enable it
    when the bucket frame is cheap to re-read (checkpointed k-means
    cells, the llm_semdedup path) or when blocking is fine enough
    that singleton traffic dominates; with an UNPERSISTED derived
    bucket frame (the default LSH hashing) the rehash can cost more
    than it saves (measured +0.25 s on llm_embed_dedup at sf0.1),
    which is why it defaults off. No semantic change either way.

    ``salt_buckets`` (r13, guide §2.5 "split hot keys"): the pairing
    join is keyed on bucket id alone, so with FEWER buckets than
    cores the |bucket|² comparison work serializes onto |buckets|
    tasks (llm_semdedup's oracle-tractable k=5 cells ran the whole
    cosine pass 5-wide on 32 cores). With salt_buckets = S > 1, side
    a carries a deterministic salt pmod(xxhash64(id), S), side b is
    replicated S ways, and the join key becomes (bucket, salt) —
    S·|buckets| evenly-loaded tasks, identical pair set (each (a, b)
    meets exactly once, at a's salt). The caller sizes S from its
    bucket-count knowledge: semdedup passes ~defaultParallelism/k,
    which is ≥ 1 only while k is below the core count — at the design
    point k grows with the corpus (the SemDeDup recipe) and the salt
    degenerates to 1, so no replication cost is ever paid at scale."""
    if buckets is None:
        buckets = lsh_buckets(
            emb, hyperplanes(emb.sparkSession, n_planes=n_planes), id_col, vec_col
        )
    if prune_singletons:
        sizes = buckets.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        buckets = buckets.join(
            sizes.filter(F.col("_bn") >= 2).drop("_bn"), "bucket"
        )
    # Hoist the L2 norm to once-per-vector (O(N·dim)) instead of
    # inside the pair comparison (O(pairs·dim)) — same IEEE value as
    # computing it per pair, so the rounded cosine is unchanged.
    vecs = (
        emb.select(F.col(id_col), as_double(vec_col).alias("v"))
        .join(buckets, id_col)
        .select(id_col, "v", "bucket", norm(F.col("v")).alias("nv"))
    )
    a = vecs.select(
        F.col(id_col).alias("vec_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"), "bucket",
    )
    b = vecs.select(
        F.col(id_col).alias("vec_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"), "bucket",
    )
    if salt_buckets > 1:
        a = a.withColumn(
            "_ps", F.pmod(F.xxhash64("vec_a"), F.lit(salt_buckets))
        )
        b = b.withColumn(
            "_ps",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(salt_buckets - 1))
            ),
        )
        pairs = a.join(b, ["bucket", "_ps"]).filter(
            F.col("vec_a") < F.col("vec_b")
        )
    else:
        pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos_sim"),
    )
    return scored.filter(F.col("cos_sim") >= min_cos)


def banded_similarity_join(
    emb: DataFrame,
    min_cos: float = 0.45,
    n_bands: int = 4,
    band_bits: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """J7 core: similarity self-join via banded LSH candidates + exact
    cosine verify. The n_bands·band_bits sign bits of the bucket
    signature are split into bands; a pair is a candidate iff SOME
    band matches (OR-construction) within the optional metadata block.
    Candidate generation is an equi-join per band (never a cross
    product), distinct-ed BEFORE the exact verify; band_bits is the
    scale knob (2^band_bits-way blocking per band — grow it with the
    corpus, adding planes as needed), n_bands buys recall
    (1-(1-p^r)^b). Emits (vec_a, vec_b, cos_sim) with the 6-dp
    rounded cosine >= min_cos."""
    spark = emb.sparkSession
    if buckets is None:
        buckets = lsh_buckets(
            emb, hyperplanes(spark, n_planes=n_bands * band_bits),
            id_col, vec_col,
        )
    block = [block_col] if block_col else []
    v = (
        emb.select(id_col, *block, as_double(vec_col).alias("e"))
        .join(buckets, id_col)
        # Hoist each vector's norm out of the pair loop: same IEEE ops
        # as recomputing per pair, ~3× less per-pair HOF work.
        .withColumn("nrm", norm(F.col("e")))
        # r13 re-adjudication (VERDICT r12 task 1): the r12 pin here
        # (three consumers — band explode + both verify sides)
        # measured SLOWER in the committed solo A/B (2.90 vs 1.85 s
        # median, plans/r13/readjudicate_*.json): the legs are
        # scan + AQE-broadcast join + one HOF fold — cheap to re-run —
        # while materializing the vector-carrying frame is not.
        # REVERTED to the unpinned r11 form.
    )
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.shiftright(F.col("bucket"), j * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bk"),
            )
            for j in range(n_bands)
        ]
    )
    keyed = v.select(id_col, *block, F.explode(band_structs).alias("band")).select(
        id_col, *block, F.col("band.j").alias("j"), F.col("band.bk").alias("bk")
    )
    a = keyed.select(
        F.col(id_col).alias("vec_a"),
        *[F.col(c).alias(f"{c}_a") for c in block],
        F.col("j").alias("ja"), F.col("bk").alias("bka"),
    )
    b = keyed.select(
        F.col(id_col).alias("vec_b"),
        *[F.col(c).alias(f"{c}_b") for c in block],
        F.col("j").alias("jb"), F.col("bk").alias("bkb"),
    )
    cond = (
        (F.col("ja") == F.col("jb"))
        & (F.col("bka") == F.col("bkb"))
        & (F.col("vec_a") < F.col("vec_b"))
    )
    for c in block:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cand = a.join(b, cond).select("vec_a", "vec_b").distinct()
    va = v.select(
        F.col(id_col).alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v.select(
        F.col(id_col).alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cos)
    )


def ann_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L3 scale path, IVF flavor: coarse-quantize every vector to its
    nearest label centroid (the deterministic stand-in for k-means
    cells), then search only the query's cell. Same shuffle shape as a
    real IVF index: one pass to build cells (a groupBy), one equi-join
    on cell id, exact cosine within the cell. Assignment distance uses
    rounded values + label tie-break so both engines cut identically."""
    cents = label_centroids(emb, id_col, vec_col)
    # centroid rows -> one array per label, ordered by dim
    cent_arr = (
        cents.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("centroid")))
            ).alias("s")
        )
        .select(
            F.col("label").alias("c_label"),
            F.transform("s", lambda st: st.centroid).alias("cv"),
        )
    )
    vecs = emb.select(F.col(id_col), as_double(vec_col).alias("v"))
    # assign: nearest centroid by (rounded) cosine, tie-break on label.
    # r12 (guide §2.3 "aggregate before you shuffle"): a per-vector
    # argmax via max_by hash aggregation instead of a row_number
    # window — the window shuffled AND sorted nvec·|cells| rows (each
    # carrying the full vector) to keep one in |cells|; the hash agg's
    # map-side partial collapses every vector to ONE row before the
    # exchange. The max_by key struct(sim, -c_label) reproduces the
    # window's (sim DESC, c_label ASC) order exactly, including the
    # degenerate orderings: Spark's struct comparison ranks NaN above
    # every number (= NaN-first under DESC) and a NULL sim below every
    # number (= NULLS LAST under DESC), with -c_label breaking ties
    # toward the smallest label either way.
    scored = vecs.crossJoin(F.broadcast(cent_arr)).select(
        id_col,
        "v",
        "c_label",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("sim"),
    )
    cells = (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(F.col("v"), F.col("c_label")),
                F.struct(F.col("sim"), (-F.col("c_label")).alias("_nl")),
            ).alias("_best")
        )
        .select(id_col, F.col("_best.v").alias("v"), F.col("_best.c_label").alias("cell"))
    )
    q = cells.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    c = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv2"), "cell"
    )
    pairs = F.broadcast(q).join(c, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    out = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv2")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def label_centroids(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """L6: per-label centroid, one value per (label, dimension).
    Components are summed in exact integer nano-units (floor(x·1e9) —
    both engines compute the identical IEEE product and floor, so the
    sum is order-independent AND engine-independent; a plain double
    SUM would drift with partial-aggregation order, and Spark's
    double→DECIMAL cast goes through the shortest string repr, which
    disagrees with DuckDB's exact binary expansion at high scales).
    posexplode parallelizes with the scan; one shuffle to aggregate."""
    comp = emb.select(
        "label", F.posexplode(as_double(vec_col)).alias("d", "x")
    )
    return comp.groupBy("label", (F.col("d") + 1).cast("bigint").alias("dim")).agg(
        (
            F.sum(F.floor(F.col("x") * 1e9).cast("long")) / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("centroid")
    )
