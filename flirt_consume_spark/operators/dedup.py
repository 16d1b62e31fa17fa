"""Deduplication operators for the training-data pipeline (L1/L2 + extras).

Four tiers, cheapest-first — the standard large-corpus dedup ladder:

1. exact        — sha256(text) hash-groupBy; one shuffle on the hash.
2. minhash LSH  — shingle → K md5 min-hashes → band keys → candidate
                  pairs via an equi-join on (band, value). This IS the
                  scale path: candidates shuffle on band keys only, no
                  all-pairs comparison ever materializes.
3. simhash      — 16-bit sign-of-weighted-sum fingerprint; Hamming-
                  close fingerprints collide into the same value for
                  near-dup clustering at one shuffle.
4. n-gram Jaccard — exact verify step on candidate pairs.

Determinism: every hash is md5/sha256 of explicit strings (no seeded
RNG, no JVM hashCode), so results are bit-identical across engines —
the DuckDB oracle checks the *same* construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators.text import shingles


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """L1: exact duplicate groups; canonical = lowest id (deterministic).
    Returns one row per distinct text with its duplicate count."""
    h = docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha"))
    return h.groupBy("text_sha").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingle_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct (doc, shingle) pairs — the unit for MinHash & Jaccard.

    Fully narrow: global distinct over (doc, shingle) pairs is exactly
    per-doc ``array_distinct``, so no shuffle — and the explode sits
    DIRECTLY over the token-array projection (one Generate node).
    Don't re-shape this into project-array-then-explode-the-alias: an
    aliased HOF array column crossing a Project boundary is evaluated
    by the interpreted (non-codegen) projection path and re-serialized
    per row — measured 15× slower at sf0.1.

    Deliberately NO ``fan_out`` here (reverted r12): every consumer
    of the shingle tables puts a shuffle aggregation directly above
    them, so downstream stages are already parallel, and the keys
    that use them fan into SEVERAL plan legs (llm_contaminate's
    bench/hits/sizes, gram_novelty's first-seen + join-back). A
    round-robin exchange below means each leg re-pays a full-text
    shuffle + the sort-before-repartition local sort whenever filter
    pushdown specializes the subtree and defeats exchange reuse —
    the driver's own sf0.1 artifact measured contaminate 2.6×,
    ngram_jaccard 2.4×, gram_novelty 1.9× with the fan_out in place,
    and an ABA solo re-measurement confirmed the direction."""
    from flirt_consume_spark.operators.text import tokens

    step = docs.select(F.col(id_col), tokens(text_col).alias("_tok")).filter(
        F.size("_tok") >= n
    )
    return step.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles("_tok", n))).alias("shingle"),
    )


def shingle_stream(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Non-distinct (doc, shingle) stream. MIN-based consumers
    (MinHash) are duplicate-insensitive, so they skip shingle_table's
    distinct() — one less full shuffle; partial aggregation reduces
    the stream map-side instead. No ``fan_out`` — same multi-leg
    re-shuffle hazard as shingle_table (see there)."""
    from flirt_consume_spark.operators.text import tokens

    step = docs.select(F.col(id_col), tokens(text_col).alias("_tok")).filter(
        F.size("_tok") >= n
    )
    return step.select(
        F.col(id_col), F.explode(shingles("_tok", n)).alias("shingle")
    )


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id", k: int = 12) -> DataFrame:
    """K independent min-hashes per doc, from ONE wide hash per shingle:
    w = md5(shingle) || sha256(shingle) (96 hex chars), sliced into K
    8-hex (32-bit) windows; mh_i = min(substr(w, i*8+1, 8)).

    Disjoint slices of a cryptographic hash are independent hash
    functions of the input, so each slice induces its own permutation
    of the shingle set — the K-permutation structure MinHash needs —
    while the map side computes 2 hash invocations per shingle
    occurrence instead of K (measured 6× less hashing at 100-TB shape;
    hex strings compare lexicographically = numerically, identically
    in Spark and DuckDB). One hash-aggregate pass computes all K mins
    (duplicates don't affect MIN — feed shingle_stream, not the
    distinct table)."""
    if k > 12:
        raise ValueError("k<=12: md5||sha256 yields 96 hex chars = 12 slices")
    wide = sh.select(
        F.col(id_col),
        F.concat(F.md5("shingle"), F.sha2("shingle", 256)).alias("_w"),
    )
    aggs = [
        F.min(F.substring("_w", i * 8 + 1, 8)).alias(f"mh{i}") for i in range(k)
    ]
    return wide.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", k: int = 12, bands: int = 4
) -> DataFrame:
    """Band the K-wide signature into `bands` keys and equi-join docs
    sharing any band — the LSH trick that finds high-Jaccard pairs
    without an all-pairs shuffle. Returns distinct (doc_a < doc_b)."""
    rows = k // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat_ws("#", F.lit(str(b)), F.col(f"band{b}"))
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    a = stacked.select(F.col(id_col).alias("doc_a"), "band_key")
    b = stacked.select(F.col(id_col).alias("doc_b"), "band_key")
    pairs = a.join(b, "band_key").filter(F.col("doc_a") < F.col("doc_b"))
    return pairs.select("doc_a", "doc_b").distinct()


def jaccard_pairs(
    sh: DataFrame, id_col: str = "doc_id", min_sim: float = 0.3
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing >= 1 shingle.
    |A∩B| via self-join on shingle; |A∪B| = |A|+|B|-|A∩B|.
    At scale, feed this LSH candidates instead of the raw self-join
    (the join here bounds pairs to co-occurring shingles only)."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            # rational value → floor-to-unit, not round: exact-decimal
            # ties round differently across engines
            "jaccard",
            F.floor(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                * 1e6
            )
            / F.lit(1e6),
        )
    )
    return j.filter(F.col("jaccard") >= min_sim).select(
        "doc_a", "doc_b", "jaccard"
    )


def jaccard_verify(
    sh: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    min_sim: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to CANDIDATE pairs — the
    scale-true verify rung: LSH proposes (lsh_candidate_pairs), this
    disposes. ``sh`` is the distinct (doc, shingle) stream
    (shingle_table).

    Unlike jaccard_pairs' raw shingle self-join (quadratic in a hot
    shingle's document frequency), every join here is pair-bounded,
    and the verify runs on DOC-LEVEL ARRAYS (the join_setsim shape,
    r12 session 5): ONE pass collapses the shingle stream to per-doc
    arrays (pinned — previously the sizes leg and both pair sides
    each re-ran the shingle explode over the corpus: 3 passes → 1),
    the candidate joins move one doc-sized row per side, and the
    intersection is an in-row ``array_intersect`` over the two
    bounded sets — work O(Σ_pairs |shingles|), independent of
    corpus-wide shingle frequencies.

    ``cand`` must have (doc_a, doc_b) with doc_a < doc_b.

    Size bound (ADVICE r12): the per-doc array frame is restricted to
    docs that actually appear in ``cand`` (one left-semi join against
    the distinct union of both pair sides) BEFORE the collect_list —
    so the arrays built are O(candidate docs), not corpus-sized, and
    a small candidate set never pays for arrays of the whole corpus.
    Results are unchanged: docs outside ``cand`` could never survive
    the inner joins below anyway.

    Contract: ``min_sim`` must be > 0 (enforced below). The
    pre-array-form of this operator inner-joined on the shingle
    intersection and therefore never PRODUCED a zero-overlap pair;
    this form computes jaccard = 0 rows and relies on the >= min_sim
    filter to drop them — equivalent exactly when min_sim > 0."""
    if min_sim <= 0:
        raise ValueError(
            "jaccard_verify requires min_sim > 0: with min_sim <= 0 the "
            "array form would emit zero-overlap candidate pairs the "
            "join-on-intersection form never produced"
        )
    cand_docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    arr = (
        sh.join(cand_docs, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("_sh"))
    )
    aa = arr.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sh").alias("_sa"),
        F.size("_sh").alias("n_a"),
    )
    bb = arr.select(
        F.col(id_col).alias("doc_b"),
        F.col("_sh").alias("_sb"),
        F.size("_sh").alias("n_b"),
    )
    j = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
        )
        .withColumn(
            "jaccard",
            F.floor(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                * 1e6
            )
            / F.lit(1e6),
        )
    )
    return j.filter(F.col("jaccard") >= min_sim).select(
        "doc_a", "doc_b", "jaccard"
    )


def simhash16(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint (16-bit): per distinct token, a 32-bit md5
    hash votes ±1 on each of 16 bit positions; the sign of each
    column's total sets the bit. Near-identical token sets differ in
    few bits.

    One shuffle, no row blowup: the 16 per-bit vote totals are 16
    aggregate expressions over the (doc, token-hash) stream — NOT an
    explode × 16 bit positions (that multiplies shuffle volume 16×;
    integer vote sums are order-independent, so the single-pass form
    is bit-identical and the oracle's join-with-range construction
    still matches). No UDF, deterministic."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    )
    toks = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    vote_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    bit = F.lit(0).cast("long")
    for b in range(16):
        bit = bit + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
    return vote_sums.select(F.col(id_col), bit.cast("bigint").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    max_iter: int = 25,
    broadcast_nodes_limit: int = 5_000_000,
) -> DataFrame:
    """Tier 5 of the dedup ladder: candidate PAIRS -> duplicate GROUPS.

    Min-label propagation to fixpoint: every node's component id is
    the minimum doc_id reachable from it. Iterative (not expressible
    as one SQL query in Spark), so the driver loops; each iteration is
    one distributed join + min-agg, convergence is detected by the
    strictly-decreasing sum of labels (one cheap scalar action), and
    ``localCheckpoint`` truncates the plan lineage so iteration N does
    not replay iterations 1..N-1.

    Converges in O(diameter) rounds — near-dup clusters are
    shallow/star-shaped, so single digits in practice. The per-round
    join broadcasts the label table, which assumes the candidate-pair
    node set fits in driver/executor memory; when the node count
    exceeds ``broadcast_nodes_limit`` (counted on the materialized
    init table, one cheap action), the call dispatches to
    ``alternating_star_components`` — O(log n) rounds, shuffle-only,
    no broadcast assumption — so the operator is scale-safe by
    default rather than by caller discipline.
    """
    # Mirror each pair into both directions with one explode — a
    # single narrow pass. No distinct(): candidate pairs are distinct
    # with left < right, so the mirrored set is distinct by
    # construction.
    s, d = F.col(left).cast("long"), F.col(right).cast("long")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(s.alias("s"), d.alias("d")),
                    F.struct(d.alias("s"), s.alias("d")),
                )
            ).alias("_e")
        )
        .select("_e.s", "_e.d")
    )
    # Initialize at min(self, neighbors): the first propagation round
    # folded into the init aggregation — one fewer loop iteration
    # (each costs a join + agg + action). The dispatch count AND the
    # convergence-probe seed both ride the init checkpoint's action
    # via observe() (r12) — two fewer jobs than separate agg actions.
    from pyspark.sql import Observation

    init_obs = Observation()
    labels = (
        edges.groupBy(F.col("s").alias("node"))
        .agg(F.least(F.min("s"), F.min("d")).alias("comp"))
        .observe(
            init_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("comp").alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    init_row = init_obs.get
    if init_row["n"] > broadcast_nodes_limit:
        return alternating_star_components(pairs, left, right)

    def propagate(lbl: DataFrame) -> DataFrame:
        # The label table is the candidate-pair node set — orders of
        # magnitude smaller than the corpus; broadcast it so the
        # per-round join never shuffles the edge list. Node sets
        # beyond broadcast_nodes_limit never reach this loop (see
        # dispatch above).
        nbr_min = (
            edges.join(F.broadcast(lbl), edges["d"] == lbl["node"])
            .groupBy("s")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return lbl.join(
            F.broadcast(nbr_min), lbl["node"] == nbr_min["s"], "left"
        ).select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )

    # Seed the convergence probe with the INIT labels' sum (observed
    # on the init checkpoint above): near-dup graphs are star-shaped,
    # so min(self, neighbors) init usually IS the fixpoint — seeding
    # lets the loop confirm it with a single propagation round instead
    # of two. Each round's sum rides its checkpoint action the same
    # way — one job per round, not two.
    prev_sum = init_row["s"]
    for _ in range(max_iter):
        obs = Observation()
        labels = (
            propagate(labels)
            .observe(obs, F.sum("comp").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def alternating_star_components(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the web-scale alternative to
    ``connected_components``' min-label propagation.

    Why two algorithms: min-label propagation costs O(diameter)
    rounds — ideal for near-dup graphs (shallow stars, 2-3 rounds)
    but hopeless on long chains; star contraction halves component
    height every two rounds, converging in O(log n) rounds on ANY
    topology. Each round is two self-contained groupBy/join passes
    over the edge list keyed on node id — no broadcast requirement,
    so it also drops the "labels fit in a broadcast" assumption the
    propagation loop makes.

    - large-star: every node u links each LARGER neighbor to the
      minimum of its neighborhood ∪ {u}.
    - small-star: every node u links each SMALLER-or-equal neighbor
      (and itself) to that minimum.

    Returns (node, comp) — comp is the minimum node id reachable,
    identical to ``connected_components`` output (property-tested
    against it and against a union-find reference).
    """
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    u, v = F.col(left).cast("long"), F.col(right).cast("long")
    e = pairs.select(u.alias("u"), v.alias("v")).filter(
        F.col("u") != F.col("v")
    )
    # m(u) = min over the represented neighborhood ∪ {u}, as a window
    # min partitioned by u (r12, guide §2.4): the former groupBy +
    # join-back paid TWO exchanges of the edge list per star (the
    # partial-agg leg and the join leg canonicalize differently, so
    # the shuffle is not reused) plus the join itself; the window pays
    # ONE exchange + the per-node sort the sort-merge join was doing
    # anyway. Per-partition sort cost is bounded by node degree — the
    # same bound the join's build/stream side had.
    _w = Window.partitionBy("u")
    _m = F.least(F.col("u"), F.min("v").over(_w))

    def large_star(ed: DataFrame) -> DataFrame:
        bidir = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return (
            bidir.withColumn("m", _m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # direct every edge from its larger endpoint
        d = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        dm = d.withColumn("m", _m)
        to_small = dm.select(F.col("v").alias("u"), F.col("m").alias("v"))
        # One (u, m) row PER EDGE rather than per node — the trailing
        # distinct collapses them, so the emitted set is unchanged and
        # no separate per-node aggregate (with its own exchange) is
        # needed.
        to_self = dm.select("u", F.col("m").alias("v"))
        return (
            to_small.union(to_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    for _ in range(max_iter):
        # The convergence signature rides the checkpoint's own action
        # via observe() — one job per round instead of two (the old
        # separate agg re-scanned the checkpointed blocks).
        obs = Observation()
        e = (
            small_star(large_star(e))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("u") * 31 + F.col("v")).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        row = obs.get
        cur_sig = (row["n"], row["s"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    # At the fixpoint every edge is (node, root); roots map to themselves.
    roots = e.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    members = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    result = members.union(roots).distinct()
    # Nodes appearing ONLY in self-pairs (u == v) were dropped by the
    # up-front filter; the propagation path keeps them as singleton
    # components, and both algorithms must agree on all inputs (the
    # size dispatch in connected_components must not change the node
    # set). Union them back as (node, node); the anti join keeps a
    # node that also has real edges from gaining a bogus self row.
    self_nodes = (
        pairs.select(u.alias("node"), v.alias("_v"))
        .filter(F.col("node") == F.col("_v"))
        .select("node")
        .distinct()
    )
    isolated = self_nodes.join(result, "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return result.union(isolated)
