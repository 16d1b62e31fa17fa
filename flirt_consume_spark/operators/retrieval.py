"""Lexical retrieval / set-similarity operators.

Two classic candidate-bounded algorithms, both expressed as pure
DataFrame plans (no UDFs, no driver loops):

- ``prefix_filtered_pairs``: the AllPairs/PPJoin prefix-filtering
  set-similarity join (Bayardo, Ma, Srikant — WWW 2007; Xiao et al. —
  WWW 2008). Unlike the MinHash-LSH path (operators/dedup.py), the
  prefix filter is LOSSLESS: every pair with Jaccard >= tau shares at
  least one token inside the other's prefix, so recall is exactly 1.0
  by construction — the trade is a larger (still bounded) candidate
  set instead of a probabilistic miss rate.

- ``bm25_scores``: Okapi BM25 term-weighted ranking (Robertson &
  Walker, SIGIR 1994), with the idf in its RATIONAL form
  ``(N - df + 0.5) / (df + 0.5)`` — order-isomorphic to the usual
  ``ln``-wrapped idf but free of libm, so DuckDB and the JVM compute
  bit-identical doubles and the scores hash-match the oracle
  (the same trick queries/corpus.py uses for tf-idf).

All threshold tests are integer cross-multiplications
(``den·inter >= num·union``), never float compares, so the decision
boundary is exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prefix_filtered_pairs(
    items: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "shingle",
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """Exact set-similarity self-join at Jaccard >= tau_num/tau_den
    via prefix filtering.

    ``items`` holds DISTINCT (id, item) pairs. Each record's items are
    globally ordered by (ascending corpus frequency, item) — rare
    items first — and only the first ``|T| - ceil(tau·|T|) + 1``
    items (the *prefix*) participate in candidate generation: two
    sets with Jaccard >= tau must overlap in >= ceil(tau·|T|) items,
    so skipping the last ceil(tau·|T|) - 1 of either set cannot hide
    all shared items (the pigeonhole that makes the filter lossless).
    Ordering by rarity makes prefixes maximally selective: frequent
    items land outside most prefixes and never generate candidates.

    Plan shape (100-TB lens): one agg for frequencies, one per-id
    window for prefix positions (partitioned by id — parallel, never
    a global window), one equi-join ON THE PREFIX ITEMS ONLY for
    candidates, then a candidate-bounded exact verify. No all-pairs
    stage anywhere; the verify joins candidates back to the full item
    table, so cost is O(candidates · avg set size), not O(n²).

    Returns (id_a < id_b, n_inter, n_union, jaccard) for pairs
    passing the EXACT integer threshold test
    ``tau_den · inter >= tau_num · union``; ``jaccard`` is the
    floor-to-1e-6 rational value (cross-engine-stable rounding).
    """
    freq = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("_freq"))
    # One shuffle builds the rarity-ordered item array per id:
    # array_sort on (freq, item) structs IS the global frequency order,
    # so no row_number window and no separate size aggregate — set size
    # and prefix both read off the array. Per-id arrays are bounded by
    # record size (shingle count), not corpus size.
    arr = (
        items.join(freq, item_col)
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_freq", item_col))
            ).alias("_a")
        )
    )
    # ceil(tau·n) in integers: ceil(a·n / b) = floor((a·n + b - 1)/b).
    n_items = F.size("_a")
    min_overlap = F.floor(
        (F.lit(tau_num) * n_items + F.lit(tau_den - 1)) / F.lit(tau_den)
    ).cast("int")
    # Candidate-join key = xxhash64 of the item, not the item string
    # (r13, guide §2.3 "narrower types"): the prefix equi-join only
    # needs to DECIDE which id pairs might match, so an 8-byte hash
    # replaces the ~20-30-byte shingle text in the join's exchange. A
    # hash collision can only ADD a candidate pair (a real shared
    # item still collides with itself, and positions stay the true
    # per-item positions, so the positional filter's lossless bound
    # is computed on genuine matches too) — and every candidate is
    # exact-verified on the full string arrays below, so results are
    # unchanged at any scale.
    prefixed = arr.select(
        F.col(id_col),
        n_items.alias("_n"),
        F.posexplode(
            F.slice(F.col("_a"), F.lit(1), n_items - min_overlap + 1)
        ).alias("_p0", "_s"),
    ).select(
        id_col,
        "_n",
        (F.col("_p0") + 1).alias("_pos"),
        F.xxhash64(F.col(f"_s.{item_col}")).alias("_ih"),
    )
    # PPJoin positional filter (Xiao et al., WWW 2008), applied before
    # the distinct: Jaccard >= tau forces inter >= ceil(tau·(na+nb) /
    # (1+tau)); items share ONE global order, so the pair's first
    # common item (which the prefixes are sized to contain) bounds the
    # intersection by min(na-pa, nb-pb)+1. Pairs whose every prefix
    # match fails the bound cannot qualify — lossless, and it prunes
    # the frequent-item matches that sit late in rarity-ordered
    # prefixes (409k → 125k candidates measured at sf0.1). The same
    # inequality subsumes the tau·na <= nb length filter.
    pa = prefixed.select(
        F.col(id_col).alias("id_a"),
        F.col("_n").alias("_pna"),
        F.col("_pos").alias("_pa"),
        "_ih",
    )
    pb = prefixed.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("_pnb"),
        F.col("_pos").alias("_pb"),
        "_ih",
    )
    need = F.floor(
        (
            F.lit(tau_num) * (F.col("_pna") + F.col("_pnb"))
            + F.lit(tau_num + tau_den - 1)
        )
        / F.lit(tau_num + tau_den)
    )
    bound = (
        F.least(F.col("_pna") - F.col("_pa"), F.col("_pnb") - F.col("_pb"))
        + 1
    )
    cand = (
        pa.join(pb, "_ih")
        .filter((F.col("id_a") < F.col("id_b")) & (bound >= need))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify on the doc-level ARRAYS, not the exploded item table:
    # joining candidates back to `arr` shuffles one doc-sized row per
    # side instead of re-shuffling every (id, item) pair, and the
    # intersection is a per-row array_intersect over the two bounded
    # sets — verify cost O(|cand| · set size) with no third pass over
    # the item-level table (measured ~2× on the sf0.1 bench).
    plain = arr.select(
        F.col(id_col),
        F.transform(F.col("_a"), lambda s: s[item_col]).alias("_items"),
    )
    aa = plain.select(
        F.col(id_col).alias("id_a"),
        F.col("_items").alias("_ia"),
        F.size("_items").alias("_na"),
    )
    bb = plain.select(
        F.col(id_col).alias("id_b"),
        F.col("_items").alias("_ib"),
        F.size("_items").alias("_nb"),
    )
    verified = (
        cand.join(aa, "id_a")
        .join(bb, "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect(F.col("_ia"), F.col("_ib")))
        )
        .withColumn("n_union", F.col("_na") + F.col("_nb") - F.col("n_inter"))
        .filter(
            F.lit(tau_den) * F.col("n_inter")
            >= F.lit(tau_num) * F.col("n_union")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        (F.floor(F.col("n_inter") / F.col("n_union") * 1e6) / F.lit(1e6)).alias(
            "jaccard"
        ),
    )


def bm25_scores(
    tok_stream: DataFrame,
    terms: tuple[str, ...],
    id_col: str = "doc_id",
    token_col: str = "token",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for a fixed query term set, rational-idf
    variant (module docstring). ``tok_stream`` is the NON-distinct
    (id, token) stream: tf needs multiplicity.

    One pass computes doc lengths (every doc), a second filtered pass
    computes per-(doc, term) tf — the filter on the tiny term set is
    pushed into the scan, so the tf aggregation only shuffles matching
    tokens. N and avgdl ride on one broadcast row. The per-term
    contribution
    ``idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``
    is pure IEEE +,-,·,/ on integer-derived doubles — deterministic on
    both engines — and the per-doc sum over terms is the exact
    integer-unit sum (1e-9 units), so the total is order-independent.

    Returns (id, bm25) for every doc containing >= 1 query term.

    r12 (guide §2.3 "aggregate before you shuffle"): ONE pass over the
    token stream — per-doc length and the per-term tfs come from a
    single conditional aggregation (the query term set is a compile-
    time constant, so tf per term is a SUM(CASE) column), doc-sized;
    corpus count / total length / per-term document
    frequencies are tiny re-aggregations of that frame. The former
    shape tokenized the corpus up to three times (dl leg ×2 consumers
    + the filtered tf leg) and shuffled tf for a doc-length join that
    the single frame now carries for free. Scores are bit-identical:
    same integer inputs, same IEEE expression tree.
    """
    per_doc = tok_stream.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_dl"),
        *[
            F.sum(F.when(F.col(token_col) == t, 1).otherwise(0)).alias(
                f"_tf_{i}"
            )
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_dl").alias("_tot_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("int")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    tf = per_doc.select(
        F.col(id_col),
        "_dl",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_ti"),
                        F.col(f"_tf_{i}").alias("_tf"),
                    )
                    for i in range(len(terms))
                ]
            )
        ).alias("_e"),
    ).select(
        id_col, "_dl", F.col("_e._ti").alias("_ti"), F.col("_e._tf").alias("_tf")
    ).filter(F.col("_tf") > 0)
    avgdl = F.col("_tot_dl").cast("double") / F.col("_n_docs")
    # per-term df arrives on the same 1-row broadcast as n/avgdl;
    # element_at picks this row's term (arrays are tiny literals).
    df_arr = F.array(*[F.col(f"_df_{i}") for i in range(len(terms))])
    df_col = F.element_at(df_arr, F.col("_ti") + 1)
    idf = (F.col("_n_docs") - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    contrib = idf * (
        (F.col("_tf") * F.lit(k1 + 1.0))
        / (
            F.col("_tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / avgdl))
        )
    )
    scored = tf.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), contrib.alias("_s")
    )
    return scored.groupBy(id_col).agg(
        (F.sum(F.floor(F.col("_s") * 1e9).cast("long")) / F.lit(1e9))
        .cast("double")
        .alias("bm25")
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    hot_cap: int = 20,
    min_tokens: int = 9,
) -> DataFrame:
    """Maximal shared token runs (>= ``min_tokens``) between document
    pairs — the exact-substring half of training-data dedup (Lee et
    al., ACL 2022) — found as diagonal islands in gram match space.

    Consecutive ``gram_n``-gram matches at the same offset diagonal
    d = pos_b - pos_a are one shared substring; the gaps-and-islands
    grouping collapses them to (start_a, start_b, length) spans — as
    of r12 via ONE per-(pair, diagonal) hash aggregation whose sorted
    position array yields the runs in-row (no row_number window, no
    sort of the match stream).

    Scale shape: the only join is the gram equi-join, and grams
    occurring more than ``hot_cap`` times corpus-wide are dropped
    FIRST via a broadcast anti-join against the (tiny) hot-gram set —
    the boilerplate-gram guard that bounds join fanout at 100 TB. The
    islands aggregation groups per (pair, diagonal) — parallel
    everywhere, arrays bounded by a single diagonal's match count.
    """
    from flirt_consume_spark.operators.text import shingles, tokens

    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("_tok")
    ).filter(F.size("_tok") >= gram_n)
    grams = (
        toks.select(
            F.col(id_col),
            F.posexplode(shingles("_tok", gram_n)).alias("_p0", "gram"),
        )
        .select(id_col, (F.col("_p0") + 1).alias("i"), "gram")
        # The HOF gram-string construction (gram_n element_ats +
        # concat per position) dominates this operator's cost; it
        # feeds both the hot-set aggregate and the match join, so
        # build it once per invocation.
        .persist()
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_cap)
        .select("gram")
    )
    kept = grams.join(F.broadcast(hot), "gram", "left_anti")
    a = kept.select(
        F.col(id_col).alias("doc_a"), F.col("i").alias("pa"), "gram"
    )
    b = kept.select(
        F.col(id_col).alias("doc_b"), F.col("i").alias("pb"), "gram"
    )
    # b-side position rides implicitly: for a fixed diagonal d every
    # match satisfies pb = pa + d, so matches carry (d, pa) only and
    # start_b is reconstructed as start_a + d — one less column
    # through the gram join's shuffle (guide §2.3).
    matches = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            (F.col("pb") - F.col("pa")).alias("d"), "pa",
        )
    )
    # Gaps-and-islands WITHOUT the row_number window (r12, guide §2.4):
    # the old plan exchanged matches on (pair, d), SORTED every
    # partition for the window, then re-aggregated per island. Per
    # (pair, d) the match positions are unique (grams are posexploded
    # per position), so ONE hash aggregation collects them and the
    # islands fall out in-row: sort the bounded per-diagonal array,
    # runs are the [start, end] stretches of consecutive positions —
    # start indices where no predecessor position exists, end indices
    # where no successor does, zipped pairwise in order. Same single
    # exchange, no sort of the match stream, and the partial
    # aggregation batches map-side.
    grouped = matches.groupBy("doc_a", "doc_b", "d").agg(
        F.array_sort(F.collect_list("pa")).alias("_ps")
    )
    spans = F.expr(
        f"""
        filter(
          zip_with(
            filter(transform(sequence(1, size(_ps)), k ->
                     IF(k = 1 OR try_element_at(_ps, k)
                               != try_element_at(_ps, k - 1) + 1,
                        try_element_at(_ps, k), CAST(NULL AS INT))),
                   x -> x IS NOT NULL),
            filter(transform(sequence(1, size(_ps)), k ->
                     IF(k = size(_ps) OR try_element_at(_ps, k + 1)
                               != try_element_at(_ps, k) + 1,
                        try_element_at(_ps, k), CAST(NULL AS INT))),
                   x -> x IS NOT NULL),
            (s, e) -> named_struct('s', s, 'e', e)),
          p -> p.e - p.s + {gram_n} >= {min_tokens})
        """
    )
    return (
        grouped.select("doc_a", "doc_b", "d", F.explode(spans).alias("_sp"))
        .select(
            "doc_a",
            "doc_b",
            F.col("_sp.s").alias("start_a"),
            (F.col("_sp.s") + F.col("d")).alias("start_b"),
            (F.col("_sp.e") - F.col("_sp.s") + F.lit(gram_n))
            .cast("long")
            .alias("len_tokens"),
        )
    )
