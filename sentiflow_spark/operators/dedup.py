"""Deduplication operators for large-scale corpus curation
(SURVEY §7.2 M5 — a first-class extension beyond the reference, whose
only dedup was a keyed TTL set: ``internal/clients/valkey_client.go:126-159``).

Four families, all shuffle-architected for 100 TB:

- **exact**: canonical fingerprint (normalize→md5) + first-wins pick.
  One hash-partitioned aggregation; the md5 key is uniform → no skew.
- **MinHash + LSH**: shingle → k permutation mins → band buckets →
  candidate pairs. Signature build is one groupBy(doc) over exploded
  shingles with k partial-aggregable MIN()s; band join is an equi-join
  on (band_idx, band_hash) — never an all-pairs product. Estimated
  Jaccard = matching-component fraction; a final exact-Jaccard pass can
  be layered for verification.
- **SimHash**: 60-bit sign-aggregated token hash; near-dups share
  15-bit chunks (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks equal), so
  candidate generation is again an equi-join, then exact hamming via
  bit_count(xor). 60-bit/15-bit (not 32/8) so chunk buckets stay fine
  at corpus scale — see simhash().
- **n-gram Jaccard (exact)**: inverted-index self-join on shingle,
  count shared per pair, |A∩B| / (|A|+|B|-|A∩B|). At 100 TB you add
  prefix filtering / df-capping on the index; the plan shape (explode →
  equi-join → aggregate) is unchanged.

Every hash is a portable md5-derived integer (32-bit for MinHash
permutation inputs, 60-bit for SimHash — functions/hashing.py), so
results are engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.hashing import (
    MERSENNE_31,
    md5_i32,
    md5_i60,
    minhash_coeffs,
)
from sentiflow_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    word_tokens,
)

NUM_PERM = 16
BAND_SIZE = 4  # 4 bands × 4 rows: P(candidate) = 1-(1-j^4)^4


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per canonical fingerprint."""
    w = W.partitionBy("fp").orderBy(id_col)
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def exploded_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc. The token
    array is materialized in its own projection so the tokenizer regex
    runs once per document, not once per element_at reference (16x at
    sf0.1 — see shingles_from_tokens)."""
    tokd = df.select(F.col(id_col), word_tokens(F.col(text_col)).alias("_toks"))
    return tokd.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"))).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_perm: int = NUM_PERM
) -> DataFrame:
    """id → sig_0..sig_{k-1}. Docs with no shingles get no row (nothing
    to hash — same convention as the oracle)."""
    coeffs = minhash_coeffs(num_perm)
    sh = exploded_shingles(df, text_col, id_col)
    # materialize the md5 once per shingle; the k permutations are then
    # k cheap int ops per row instead of k md5 evaluations
    hashed = sh.select(F.col(id_col), md5_i32(F.col("shingle")).alias("_h"))
    h = F.col("_h")
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def packed_band_keys(sig_of, b: int, band_size: int = BAND_SIZE) -> list[Column]:
    """The band key for band ``b`` as packed 62-bit longs — each key
    holds two 31-bit signature values: ``shiftleft(s0, 31) | s1``.
    MinHash sig values live in [0, MERSENNE_31) (md5_i32 is
    non-negative, so ``(h*a+b) % p`` is too), so the packing is
    INJECTIVE: key-tuple equality is exactly equality of the band's
    signature tuple — the same bucket partition the previous
    ``md5(concat_ws(',', sigs))`` hex key induced (md5 equality ==
    tuple equality absent collisions), with two 8-byte longs shuffled
    per band instead of a 32-char string, and the per-band
    md5 + 4 long→string casts replaced by two shift-or pairs (guide
    §2.3 "narrower types" / "shuffle keys instead of payloads").
    Every consumer treats the key as an opaque equality token, so the
    declared pair/cluster outputs are unchanged.

    ``sig_of(i)`` maps a flat signature index to its Column (a
    ``sig_{i}`` column, or an element_at over ``sig_arr``)."""
    lo = b * band_size
    return [
        F.shiftleft(sig_of(lo + j), 31)
        .bitwiseOR(sig_of(lo + j + 1))
        .alias(f"bk{j // 2}")
        for j in range(0, band_size, 2)
    ]


def band_join_keys(band_size: int = BAND_SIZE) -> list[str]:
    """Column names a banded table is bucketed/joined on."""
    return ["band_idx"] + [f"bk{j}" for j in range(band_size // 2)]


def banded_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Explode a wide signature table to (id, band_idx, bk*) rows —
    the shared band-table construction for the pair join and the
    star-edge clustering."""
    n_bands = num_perm // band_size
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        *packed_band_keys(
                            lambda i: F.col(f"sig_{i}"), b, band_size
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.*")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
    materialized: bool = False,
) -> DataFrame:
    """Band the signatures and equi-join on (band_idx, bk*) to get
    candidate pairs with their estimated Jaccard (matching-signature
    fraction). Never materializes a cross product.

    Shuffle shape: the band self-join carries ONLY (id, band) rows —
    ids pair up narrow, duplicates collapse, and the k signature
    columns are re-joined afterwards for just the surviving pairs.
    Measured 1.75x faster than carrying signatures through the band
    join at a duplicate-heavy 100k-doc corpus (1.05M candidate pairs),
    and the gap widens with bucket skew since wide rows multiply
    within-bucket. Band keys are packed sig-tuple longs
    (packed_band_keys) — exactly the md5-hex bucket partition at half
    the key bytes and none of the hash cost."""
    # materialize the signature table once: it has THREE consumers here
    # (band explode + both sides of the est-Jaccard re-join), each of
    # which would otherwise re-run the tokenize/explode/16-min-agg
    # lineage (k rows per doc — tiny to store; 9.8 s -> 2.6 s cold /
    # 2.4 -> 2.0 s warm at sf0.1). ``materialized=True`` means the
    # caller already pinned sigs (e.g. the curation DAG, which feeds
    # the same table to its star-edge clustering) — don't copy it.
    if not materialized:
        sigs = sigs.localCheckpoint(eager=False)
    bands = banded_sigs(sigs, id_col, num_perm, band_size)

    a, b = bands.alias("a"), bands.alias("b")
    key_eq = None
    for k in band_join_keys(band_size):
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        key_eq = eq if key_eq is None else (key_eq & eq)
    pairs = (
        a.join(
            b,
            key_eq & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(num_perm)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(num_perm)],
    )
    match_frac = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(num_perm)
    ) / F.lit(float(num_perm))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", match_frac.alias("est_jaccard"))
    )


def lsh_star_edges(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Sparsified LSH candidate edges: per (band_idx, bk*) bucket
    emit only (bucket_min_id, member) — occ-1 STAR edges instead of
    C(occ, 2) pairs. Within one bucket a star has exactly the same
    connectivity as the clique, so connected components over these
    edges equal components over all candidate pairs, while the edge
    count is linear in bucket occupancy instead of quadratic. This is
    the corpus-scale clustering shape (what makes unverified-candidate
    dedup tractable when duplicate groups run to hundreds of copies);
    the trade is that no per-pair similarity can be attached — use
    lsh_candidate_pairs when pairs must be verified before clustering.

    Plan: one groupBy per bucket for the hub + one equi-join back —
    both partial-agg/AQE-friendly, no self-join of the band table.
    Band keys are packed sig-tuple longs (packed_band_keys) — the
    identical bucket partition as the md5-hex key at half the bytes.
    """
    bands = banded_sigs(sigs, id_col, num_perm, band_size)
    keys = band_join_keys(band_size)
    hubs = bands.groupBy(*keys).agg(
        F.min(id_col).alias("hub"), F.count(F.lit(1)).alias("occ")
    )
    return (
        bands.join(hubs.filter(F.col("occ") >= 2), keys)
        .filter(F.col(id_col) != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col(id_col).alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard via inverted-index self-join.

    ``df_cap`` is the 100 TB refinement: shingles appearing in more
    than ``df_cap`` documents are removed from the sets BEFORE the
    self-join (consistently from both intersection and set sizes, so
    the metric stays a true Jaccard — over the capped sets). Without
    it, one boilerplate shingle shared by m documents contributes
    O(m²) join rows; with it, the join's output is bounded by
    df_cap × postings. The capped sets are what production near-dup
    pipelines actually compare (stopword-phrases carry no duplicate
    signal)."""
    return (
        shingle_pair_counts(df, text_col, id_col, df_cap=df_cap)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Inverted-index pair statistics: (doc_a, doc_b, shared, size_a,
    size_b) for every document pair sharing ≥1 shingle (doc_a < doc_b).
    The single source for every set-overlap measure — Jaccard
    (ngram_jaccard_pairs), asymmetric containment shared/size_x, and
    overlap counting — so the df-cap refinement and the pair
    convention live in exactly one place."""
    sh = exploded_shingles(df, text_col, id_col)
    if df_cap is not None:
        # the raw shingle stream has two consumers here (the document-
        # frequency aggregate and the semi-join's stream side); pin it
        # so the tokenize+explode pass runs once (r12, guide §5)
        if pin:
            sh = sh.localCheckpoint(eager=False)
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.filter(F.col("_df") <= df_cap), "shingle", "left_semi")
        )
    # three consumers below (set sizes + both sides of the inverted-
    # index self-join) — without the pin each re-runs the whole
    # shingle (and, when capped, df-cap) lineage from the corpus scan.
    # ``pin=False`` is the introspection escape hatch: the checkpoint
    # hides this subtree behind a Scan ExistingRDD, so the plan lints
    # that guard the df-cap/sample shape read the unpinned form.
    if pin:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
    return shared.join(sa, "doc_a").join(sb, "doc_b")


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 15-bit chunks; pairs sharing >=1 chunk are candidates
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over distinct word tokens: bit k is set when the
    signed sum of token-hash bit-k contributions is positive.

    60 bits (not 32) because the chunk join's bucket count is the scale
    limiter: pigeonhole blocking for hamming<=3 needs 4 chunks, and
    4x8-bit chunks give only 256 buckets per chunk — at 100k+ docs the
    buckets hold hundreds of fingerprints each and the candidate join
    degrades toward quadratic (observed: non-terminating at a 20x
    probe). 4x15-bit chunks give 32,768 buckets per chunk, which keeps
    bucket occupancy — and the join output — proportional to true
    near-duplicate density."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_tokens(F.col(text_col)))).alias("token"),
    )
    return simhash_from_tokens(toks, id_col=id_col)


def simhash_from_tokens(
    toks: DataFrame, id_col: str = "doc_id", token_col: str = "token"
) -> DataFrame:
    """SimHash core over an arbitrary (id, token) feature stream — the
    signed per-bit vote is feature-agnostic, so the same operator
    fingerprints word tokens (simhash) or byte grams
    (multimodal_queries.mm_bytes_simhash_pairs)."""
    h = md5_i60(F.col(token_col))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bs_{k}")
        for k in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy(id_col).agg(*bit_sums)
    sim = sum(
        (F.when(F.col(f"bs_{k}") > 0, F.lit(2**k)).otherwise(F.lit(0)))
        for k in range(SIMHASH_BITS)
    ).cast("long")
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Candidate pairs share at least one 15-bit chunk (pigeonhole for
    hamming ≤ 3 over 4 chunks), then exact hamming via bit_count(xor)."""
    chunks = sims.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(SIMHASH_CHUNK_MASK))
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.*")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-duplicate pair graph, as ``(node, cluster_id)`` where
    cluster_id = the minimum doc id reachable from the node.

    LSH/SimHash emit *pairs*; real corpus dedup needs the transitive
    closure (A~B, B~C ⇒ {A,B,C} is one cluster, even when A≁C), so a
    keep-one-per-cluster policy sees each duplicate group exactly once.

    Algorithm: distributed min-label propagation with pointer jumping
    (label ← label of one's label each round), the hash-to-min shape
    from the MapReduce connected-components literature. Each iteration
    is two equi-joins + one aggregation, all hash-partitioned on node
    id — no driver-side graph state, so it scales to any number of
    edges. Propagation alone needs O(diameter) rounds; pointer jumping
    compresses chains geometrically, so convergence is
    O(log diameter) — near-dup clusters are almost-cliques with tiny
    diameters, so this terminates in 2-3 rounds in practice.

    Each round ends in ``localCheckpoint`` to truncate the lineage
    (without it the plan doubles per iteration and the job dies on
    plan-compile time long before data size matters). Convergence is
    an explicit any-label-changed probe; ``max_iter`` is a safety rail.
    """
    # Materialize the edge set ONCE: `pairs` is typically the whole
    # MinHash→LSH candidate pipeline, and every iteration below joins
    # against it — without this checkpoint the signature computation
    # re-runs once per round (measured 6.8 s → 3.9 s for
    # dd_duplicate_clusters at sf0.1). The edge set is the near-dup
    # pair list — orders of magnitude smaller than the corpus — so
    # executor-local storage (memory, spilling to disk) holds it; this
    # is NOT the pin-the-fact-table anti-pattern flagged in BASELINE.md.
    # Both directions come from ONE explode over the pair stream, not a
    # self-union: the union shape ran the whole upstream candidate
    # pipeline TWICE inside the checkpoint job (r12 profile: the LSH
    # lineage is the dominant cost of that job at any scale).
    both = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .localCheckpoint(eager=False)
    )
    # Hash-min INIT (the standard CC bootstrap): lbl0 = min(node, its
    # neighbors) costs the same one shuffle as the plain distinct() it
    # replaces, but near-dup graphs (star edges, LSH near-cliques)
    # start at — or one pointer-jump from — their component min, so the
    # loop below converges one full iteration earlier (r12: 2 rounds →
    # 1 for every bench CC query; each round is 3 joins + a shuffle).
    labels = (
        both.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_mn"))
        .select(
            "node", F.least(F.col("node"), F.col("_mn")).alias("lbl")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = both.join(labels, both.v == labels.node).select(
            F.col("u").alias("node"), "lbl"
        )
        merged = (
            labels.select("node", "lbl")
            .union(nbr_min)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        hop = merged.select(
            F.col("node").alias("pnode"), F.col("lbl").alias("plbl")
        )
        # The convergence flag rides INSIDE the checkpointed frame
        # (one extra equi-join against the already-materialized old
        # labels) so the any-changed probe is a scan of local
        # checkpoint partitions — the old shape re-joined new-vs-old
        # as a SEPARATE post-checkpoint job chain every round.
        jumped = (
            merged.join(hop, merged.lbl == hop.pnode, "left")
            .select("node", F.coalesce("plbl", "lbl").alias("lbl"))
            .join(labels.select("node", F.col("lbl").alias("_old")), "node")
            .select(
                "node", "lbl", (F.col("lbl") != F.col("_old")).alias("_chg")
            )
            .localCheckpoint(eager=False)
        )
        changed = jumped.filter(F.col("_chg")).limit(1).count()
        labels = jumped.select("node", "lbl")
        if changed == 0:
            break
    return labels


SEG_OWNER_BASE = 1_000_000


def segment_dedup(
    docs: DataFrame,
    seg_chars: int = 80,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-global segment-level dedup (C4-style "drop any span seen
    earlier anywhere in the corpus") with per-document reconstruction.

    Split every document into fixed ``seg_chars`` segments, assign each
    DISTINCT segment one global owner — the smallest (doc_id, seg_no)
    that contains it — and rebuild each document from the segments it
    owns. Returns (id, text_dedup, n_kept, n_total); documents fully
    covered by earlier text come back empty (n_kept = 0).

    Scale shape: ownership is a partial-aggregated min over an encoded
    (doc_id, seg_no) key — never a Window over the segment value, which
    would single-task hot boilerplate segments; the join-back on the
    segment is a hash-join probe (one build row per distinct segment).
    Reconstruction aggregates per document, bounded by one doc's size.
    Requires doc lengths under seg_chars * SEG_OWNER_BASE bytes so the
    owner encoding stays collision-free.
    """
    n_total = F.greatest(
        F.ceil(F.length(text_col) / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    segs = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_total - 1)).alias("seg_no"),
    ).select(
        id_col,
        "seg_no",
        F.col("_t")
        .substr((F.col("seg_no") * seg_chars + 1).cast("int"), F.lit(seg_chars))
        .alias("seg"),
    )
    encoded = F.col(id_col) * SEG_OWNER_BASE + F.col("seg_no")
    owners = segs.groupBy("seg").agg(F.min(encoded).alias("owner"))
    kept = segs.join(owners, "seg").filter(encoded == F.col("owner"))
    rec = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                lambda s: s.seg,
            ),
            "",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        docs.select(F.col(id_col), n_total.alias("n_total"))
        .join(rec, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            "n_total",
        )
    )


# Boilerplate (frequency-threshold) line dedup parameters — shared by
# dd_boilerplate_lines, the curation DAG's boilerplate stage, and their
# oracles. 16-char segments stand in for lines on the newline-free
# fixture; >= 3 distinct docs marks a segment boilerplate; a doc losing
# > 30% of its characters is dropped (RefinedWeb's doc-level rule).
BP_SEG_CHARS = 16
BP_MIN_DOCS = 3
BP_MAX_REMOVED_FRAC = 0.30


def boilerplate_removal(
    docs: DataFrame,
    seg_chars: int = BP_SEG_CHARS,
    min_docs: int = BP_MIN_DOCS,
    max_removed_frac: float = BP_MAX_REMOVED_FRAC,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document frequency-threshold boilerplate removal — the
    OTHER canonical line-dedup mode next to segment_dedup's C4-style
    first-wins ownership: a segment that occurs in >= ``min_docs``
    DISTINCT documents is boilerplate (nav bars, cookie banners,
    licence footers) and is removed from EVERY document including the
    first, per CCNet's paragraph dedup (Wenzek et al., LREC 2020) and
    RefinedWeb's line dedup (Penedo et al., 2023). Documents losing
    more than ``max_removed_frac`` of their characters are flagged
    dropped (doc_kept = false), RefinedWeb's document-level rule.

    Returns (id, text_clean, n_kept, n_total, removed_frac, doc_kept);
    fixed ``seg_chars`` segments stand in for lines on the
    newline-free synthetic corpus, exactly like segment_dedup.

    Scale shape: the boilerplate set is a partial-aggregated distinct
    count over (segment, doc) — two-phase, so a segment repeated a
    billion times combines map-side and never hot-spots one reducer —
    and is typically tiny relative to the corpus (only segments
    crossing the threshold survive the HAVING), so the removal
    anti-join broadcasts under AQE; at larger boilerplate-set sizes it
    degrades to a shuffled hash anti-join co-partitioned with the
    counting shuffle on the same key. Reconstruction aggregates per
    document, bounded by one doc's size. removed_frac is one IEEE
    double division of two exact ints — bitwise identical across
    engines."""
    segs = boiler_segments(docs, seg_chars, text_col, id_col)
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg")
    )
    return strip_with_boiler(
        docs, boiler, max_removed_frac, id_col, text_col, seg_chars
    )


def boiler_segments(
    docs: DataFrame,
    seg_chars: int = BP_SEG_CHARS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, seg_no, seg) — the fixed-width segmentation stage of
    boilerplate_removal, split out so the incremental curation DAG can
    maintain its cross-batch segment-count manifest from the SAME
    segmentation the one-shot operator uses (curation_delta.py)."""
    n_total = F.greatest(
        F.ceil(F.length(text_col) / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    return docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_total - 1)).alias("seg_no"),
    ).select(
        id_col,
        "seg_no",
        F.col("_t")
        .substr((F.col("seg_no") * seg_chars + 1).cast("int"), F.lit(seg_chars))
        .alias("seg"),
    )


def strip_with_boiler(
    docs: DataFrame,
    boiler: DataFrame,
    max_removed_frac: float = BP_MAX_REMOVED_FRAC,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_chars: int = BP_SEG_CHARS,
) -> DataFrame:
    """Reassemble per-doc text with the given boilerplate segment SET
    removed — the strip stage of boilerplate_removal, split out so the
    incremental DAG can apply a manifest-backed boilerplate set to a
    delta batch. ``boiler`` is any (seg) DataFrame (extra columns
    ignored). Returns the same schema as boilerplate_removal:
    (id, text_clean, n_kept, n_total, removed_frac, doc_kept).

    Shuffle shape (guide §8 "decide with small rows, move big rows
    once"): the only cross-row decision — WHICH segment occurrences are
    boilerplate — needs (seg, id, seg_no) rows; the reassembly itself
    is a pure per-doc function of (text, flagged segment positions).
    So the per-doc aggregation collects flagged seg_no POSITIONS only
    (boilerplate occurrences — a small fraction of segments), and the
    clean text is rebuilt MAP-SIDE by folding the sorted positions
    into kept-range substrings over the original text column, which
    joins back against the tiny position table (broadcast under AQE)
    and never crosses an exchange. The previous shape shuffled every
    segment of the corpus ((seg_no, seg, is_bp) structs) through a
    per-doc collect_list exchange — the corpus crossed the wire even
    when nothing was boilerplate. Output is IDENTICAL: fixed-width
    segments partition the text exactly, so concatenating kept
    segments in seg_no order == cutting the flagged segments'
    character ranges from the original text, and every per-doc stat
    is derivable map-side (n_total from length, kept_chars from the
    rebuilt text's length)."""
    segs = boiler_segments(docs, seg_chars, text_col, id_col)
    bp_pos = (
        segs.join(boiler.select("seg"), "seg", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("seg_no")).alias("_bp"))
    )
    base = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    t = F.col("_t")
    bp_arr = F.coalesce(F.col("_bp"), F.array().cast("array<bigint>"))
    # fold the sorted flagged segment indices into kept-range
    # substrings (cut_spans' shape): acc.pos is the next uncut 1-based
    # char; flagged segment s covers [s*W+1, s*W+W]
    zero = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    folded = F.aggregate(
        bp_arr,
        zero,
        lambda acc, s: F.struct(
            (s * seg_chars + seg_chars + 1).cast("long").alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(
                    acc["pos"].cast("int"),
                    (s * seg_chars + 1 - acc["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        # the final flagged segment may be the (short) last segment of
        # the doc, leaving pos past the end — clamp the tail length at 0
        lambda acc: F.concat(
            acc["acc"],
            t.substr(
                acc["pos"].cast("int"),
                F.greatest(
                    F.length(t) - acc["pos"].cast("int") + 1, F.lit(0)
                ),
            ),
        ),
    )
    # '' (never null) for null-text rows — the collect_list shape's
    # array_join skipped null segs and yielded '' there
    out_text = F.coalesce(folded, F.lit(""))
    n_total = F.greatest(
        F.ceil(F.length(t) / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    n_bp = F.size(bp_arr).cast("long")
    # bind the folded text through a 1-element transform + explode
    # barrier so the O(bp) cut-and-concat fold evaluates ONCE per row
    # (the CollapseProject duplication trap cut_spans documents)
    stats = F.explode(
        F.transform(
            F.array(out_text),
            lambda c: F.struct(
                c.alias("text_clean"),
                F.length(c).cast("long").alias("kept_chars"),
            ),
        )
    )
    rec = (
        base.join(bp_pos, id_col, "left")
        .select(
            F.col(id_col),
            stats.alias("_s"),
            (n_total - n_bp).alias("n_kept"),
            n_total.alias("n_total"),
            F.length(t).cast("long").alias("total_chars"),
        )
    )
    total_chars = F.col("total_chars")
    removed_frac = F.when(
        total_chars > 0,
        (total_chars - F.col("_s.kept_chars")).cast("double") / total_chars,
    ).otherwise(F.lit(0.0))
    return rec.select(
        id_col,
        F.col("_s.text_clean").alias("text_clean"),
        "n_kept",
        "n_total",
        removed_frac.alias("removed_frac"),
        (removed_frac <= max_removed_frac).alias("doc_kept"),
    )


PR_SCALE = 10**12


def pagerank_int(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Integer fixed-point PageRank over an undirected pair graph —
    bit-deterministic across engines and cluster sizes: ranks are
    BIGINTs scaled by PR_SCALE and every step is integer arithmetic
    (floor divisions in a fixed order), so there is no float
    summation-order wobble to round away. r' = 0.15/N + 0.85 * sum of
    neighbor rank/degree, i.e.::

        contrib(j) = rank(j) DIV deg(j)
        rank'(i)   = (15 * (SCALE DIV N)) DIV 100
                   + (85 * sum contrib over neighbors) DIV 100

    Each iteration is one join + one partial-agg shuffle on node id
    (same shape as connected_components); edges and degrees are
    materialized once via localCheckpoint. Returns (node, rank_scaled).
    """
    # one explode pass, not a self-union: the union shape computed the
    # upstream edge pipeline twice inside the checkpoint job (see
    # connected_components)
    both = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # deg and nodes checkpoint too: they join into EVERY iteration, and
    # without materialization the degree shuffle re-runs n_iter times
    deg = (
        both.groupBy("v").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(eager=False)
    )
    nodes = both.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    base = (15 * (PR_SCALE // n)) // 100
    ranks = nodes.withColumn(
        "rank_scaled", F.lit(PR_SCALE // n).cast("long")
    ).localCheckpoint(eager=False)
    for _ in range(n_iter):
        # DIV, not `/`: float division of 1e12-scale longs can land a
        # hair under the true integer quotient and truncate one off —
        # integral DIV is exact, matching DuckDB's `//`
        contribs = (
            both.join(ranks, both.v == ranks.node)
            .join(deg, "v")
            .select(
                F.col("u").alias("node"),
                F.expr("rank_scaled DIV deg").alias("contrib"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"(85 * coalesce(s, 0)) DIV 100")
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


# ----------------------------------------------------------- Winnowing

# Robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS fingerprinting algorithm): hash every k-char gram, slide a
# window of w consecutive gram hashes, keep the minimum of each window
# (rightmost on ties). Guarantees any shared substring of length
# >= k + w - 1 contributes at least one IDENTICAL selected fingerprint
# in both documents, at ~2/(w+1) storage density — the local, position-
# robust complement to document-level MinHash.
WINNOW_K = 8   # gram length (chars)
WINNOW_W = 8   # window of consecutive gram hashes
# Position packing: key = h * BASE - pos. min(key) picks the min hash
# and, among equal hashes, the RIGHTMOST position (robust winnowing's
# tie rule) in one comparison. h < 2^32 and BASE = 2^21 (> max doc
# chars) keep every key under 2^53 — exact int64 in both engines.
WINNOW_POS_BASE = 2 ** 21


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(id, fps: array<long>) — the distinct packed winnowed keys per
    document. ENTIRELY map-side: gram hashing and the windowed min are
    higher-order array expressions over each row (no per-gram explode,
    no shuffle), so fingerprint extraction scales as one linear pass
    over the corpus; documents shorter than k + w - 1 chars yield no
    fingerprints (no full window exists), matching the oracle."""
    def _keys_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: md5_i32(t.substr(i, F.lit(k)))
            * F.lit(WINNOW_POS_BASE)
            - i,
        )

    def _sels(arr):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - w + 1),
                lambda j: F.array_min(F.slice(arr, j, w)),
            )
        )

    # Both the lowered text and the gram-key array are bound through
    # lambda variables (transform over a 1-element array) so each is
    # evaluated ONCE per row: leaving them as plain expressions lets
    # CollapseProject inline lower(text) into every one of the O(L)
    # gram substrings (O(L^2) char copying) and the whole O(L) md5
    # array build into every one of the O(L) window slices — measured
    # 167 s vs ~2 s at sf0.01 for identical output.
    fps = F.element_at(
        F.transform(
            F.array(F.lower(F.col(text_col))),
            lambda t: F.element_at(F.transform(F.array(_keys_of(t)), _sels), 1),
        ),
        1,
    )
    # extraction is CPU-bound (O(L) md5 per doc), so it must be as wide
    # as the cluster: a SMALL input is repartitioned first, because a
    # single-row-group parquet file lands every row in one task no
    # matter how many byte-range splits the scan plans (partition
    # count lies — only one is non-empty), and shuffling a few MB of
    # text costs far less than hashing it on one core (measured 3.7 s
    # -> 0.4 s warm at sf0.1). The guard is total input SIZE, so at
    # real corpus scale (many files, >> 256 MB) it is a no-op and the
    # extraction stays purely map-side on the scan's own partitions.
    try:
        files = df.inputFiles()
    except Exception:  # non-file sources: leave the plan alone
        files = []
    if files and len(files) <= 64:
        import os as _os

        try:
            total = sum(
                _os.path.getsize(f[7:] if f.startswith("file:") else f)
                for f in files
            )
        except OSError:
            total = None
        if total is not None and total < (256 << 20):
            df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # Packing-limit guard: key = h*BASE - i is only injective (and the
    # rightmost-tie min only correct) while every gram position
    # i = 1..L-k+1 stays under BASE, i.e. L <= BASE + k - 2. A longer
    # document would corrupt fingerprints IDENTICALLY in engine and
    # oracle (parity cannot catch it), so fail loudly instead — a
    # 100 TB corpus chunks documents long before 2 MB of text anyway.
    max_len = WINNOW_POS_BASE + k - 2
    guarded = F.when(
        F.length(F.col(text_col)) > max_len,
        F.raise_error(
            F.concat(
                F.lit(
                    f"winnow_fingerprints: document longer than {max_len} "
                    "chars exceeds the WINNOW_POS_BASE position-packing "
                    "limit; chunk it first: "
                ),
                F.col(id_col).cast("string"),
            )
        ),
    ).otherwise(F.col(text_col))
    df = df.withColumn(text_col, guarded)
    return df.filter(F.length(F.lower(F.col(text_col))) >= k + w - 1).select(
        F.col(id_col), fps.alias("fps")
    )


def winnow_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int = 50,
) -> DataFrame:
    """(doc_a, doc_b, shared) — pairs sharing >= 1 winnowed gram HASH
    (positions unpacked away, so the same content matches anywhere in
    either doc). Inverted-index equi-join on the 32-bit hash with a
    consistent df-cap, the same bounded shape as shingle_pair_counts:
    join output <= df_cap x postings at any corpus size."""
    # materialize the fingerprint arrays BEFORE exploding them:
    # Generate with an expensive interpreted higher-order child
    # re-evaluates that child per output element, not per input row —
    # explode(extraction_expr) measured 4.4 s warm vs 0.7 s for
    # checkpoint-then-explode of identical data at sf0.1 (the third
    # expression-duplication trap this operator surfaced; see
    # winnow_fingerprints for the other two)
    fps = winnow_fingerprints(df, text_col, id_col, k, w).localCheckpoint(eager=False)
    # ... and the slim (id, h) inverted index ONCE more: three
    # consumers (df-cap frequency table + both sides of the self-join)
    # would each re-run the explode+distinct otherwise (same pattern
    # as the LSH edge list in connected-components)
    inv = (
        fps.select(F.col(id_col), F.explode("fps").alias("_key"))
        .select(
            F.col(id_col),
            F.expr(
                f"(_key + {WINNOW_POS_BASE - 1}) DIV {WINNOW_POS_BASE}"
            ).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    inv = inv.join(dfreq.filter(F.col("_df") <= df_cap), "h", "left_semi")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )


# --------------------------------------------- Edit-distance (PassJoin)

# Segment-based exact edit-similarity self-join (PassJoin — Li, Deng,
# Wang & Feng, VLDB 2012): for strings of equal length, if
# lev(A, B) <= d then at least one of A's d+1 disjoint segments occurs
# VERBATIM in B within +-d of its home position (pigeonhole over the
# edit operations). Candidate generation is therefore a pure equi-join
# of (segment_idx, gram) index entries against (2d+1)-shifted probe
# grams — never an all-pairs product — followed by the exact banded
# levenshtein. The fixed-length prefix domain keeps the segmentation
# uniform (classic PassJoin handles variable lengths with per-length
# groups; the prefix form is the fuzzy title/URL-key dedup shape).
EDIT_PREFIX_LEN = 60
EDIT_MAX_DIST = 4
EDIT_SEG_LEN = EDIT_PREFIX_LEN // (EDIT_MAX_DIST + 1)  # 12


def edit_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, lev) for every pair whose lowercased
    ``EDIT_PREFIX_LEN``-char prefixes are within edit distance
    ``EDIT_MAX_DIST`` — EXACT output (the segment blocking is
    recall-lossless by the pigeonhole argument), verified against a
    brute-force all-pairs oracle. Docs shorter than the prefix are out
    of the domain (mirrored in the oracle). The verification step uses
    Spark's THRESHOLDED levenshtein (banded O(d x L) DP, returns -1
    past the bound) so the exact pass costs d/L of the full DP."""
    d, q, L = EDIT_MAX_DIST, EDIT_SEG_LEN, EDIT_PREFIX_LEN
    pref = F.substring(F.lower(F.col(text_col)), 1, L)
    base = (
        df.filter(F.length(F.lower(F.col(text_col))) >= L)
        .select(F.col(id_col).alias("doc"), pref.alias("pref"))
    )
    n_segs = d + 1
    idx_entries = [
        F.struct(
            F.lit(i).alias("seg_i"),
            F.substring(F.col("pref"), 1 + i * q, q).alias("gram"),
        )
        for i in range(n_segs)
    ]
    probe_entries = [
        F.struct(
            F.lit(i).alias("seg_i"),
            F.substring(F.col("pref"), 1 + i * q + s, q).alias("gram"),
        )
        for i in range(n_segs)
        for s in range(-d, d + 1)
        if 1 <= 1 + i * q + s <= L - q + 1
    ]
    index = base.select("doc", F.explode(F.array(*idx_entries)).alias("e")).select(
        "doc", "e.seg_i", "e.gram"
    )
    probes = (
        base.select("doc", F.explode(F.array(*probe_entries)).alias("e"))
        .select("doc", "e.seg_i", "e.gram")
        .distinct()
    )
    cand = (
        index.alias("a")
        .join(probes.alias("b"), ["seg_i", "gram"])
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        .distinct()
    )
    pa = base.select(F.col("doc").alias("doc_a"), F.col("pref").alias("_pa"))
    pb = base.select(F.col("doc").alias("doc_b"), F.col("pref").alias("_pb"))
    lev = F.levenshtein(F.col("_pa"), F.col("_pb"), d)
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", lev.alias("lev"))
        .filter(F.col("lev") >= 0)
    )


# ------------------------------------- Exact-substring duplicate spans

SPAN_DF_CAP = 50            # shared-hash doc-frequency cap floor (boilerplate guard)
SPAN_CAP_DENOM = 10         # self-scaling cap: max(floor, n_docs // DENOM)
SPAN_MERGE_GAP = WINNOW_K + WINNOW_W   # island merge distance, chars
SPAN_MIN_FPS = 2            # fingerprints a span must contain to be emitted


def winnow_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    df_cap: int | None = None,
    merge_gap: int = SPAN_MERGE_GAP,
    min_fps: int = SPAN_MIN_FPS,
) -> DataFrame:
    """(id, span_start, span_end, n_shared) — maximal character ranges of
    each document whose content also appears in at least one OTHER
    document: the cut-list the ExactSubstr pass of "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., ACL 2022)
    produces with a suffix array, re-expressed for Spark on top of the
    winnowing core. Winnowed fingerprints KEEP their positions (the
    packed key is h*BASE - pos, so pos unpacks exactly); a position is
    flagged when its gram hash occurs in >= 2 distinct documents (and
    <= df_cap — ultra-common boilerplate grams are excluded on both
    engines); flagged positions closer than ``merge_gap`` merge into
    islands (one gaps-and-islands window per doc) and each island emits
    [min_pos, max_pos + k - 1]. Winnowing guarantees any cross-doc
    match >= w + k - 1 chars selects a shared fingerprint, so no
    duplicated region longer than the guarantee is missed.

    Scale shape: NO doc-to-doc join anywhere — extraction is map-side,
    the doc-frequency table is a partial aggregate over fingerprints
    (~2/(w+1) of corpus chars), flagging is one semi-join against that
    table, and the island window partitions by doc (bounded by doc
    length x density). Output is linear in flagged positions at any
    corpus size, unlike pair-based detectors whose output is quadratic
    in clique size.

    ``df_cap=None`` (default) SELF-SCALES the boilerplate cap to
    max(SPAN_DF_CAP, n_docs // SPAN_CAP_DENOM): a boilerplate guard is
    a corpus FRACTION, not an absolute count. dd_substring_recall
    measured the fixed cap of 50 collapsing char-level recall from
    0.93 (500 docs) to 0.046 (5000 docs) — 86% of winnowed selections
    carried hashes legitimately duplicated in >50 docs. The one
    metadata-cheap count() is the same self-scaling contract input as
    dd_semantic_dedup's plane stair."""
    if df_cap is None:
        df_cap = max(SPAN_DF_CAP, df.count() // SPAN_CAP_DENOM)
    pos = _unpacked_positions(df, text_col, id_col, k, w)
    dfreq = (
        pos.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap))
    )
    flagged = (
        pos.join(dfreq, "h", "left_semi").select(id_col, "pos").distinct()
    )
    return _position_islands(flagged, id_col, k, merge_gap, min_fps)


def _unpacked_positions(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """(id, h, pos) — distinct winnowed selections with their 32-bit
    gram hash and 1-based char position unpacked from the packed
    h*BASE - pos keys. localCheckpointed: every consumer uses it at
    least twice (frequency table + flagging).

    Distinctness is an INVARIANT, not an operation: winnow_fingerprints
    returns one row per doc whose ``fps`` array is already
    array_distinct, and the packed key unpacks bijectively to (h, pos),
    so the exploded triples are unique per doc — and globally, because
    every caller feeds one row per ``id_col`` (the documents table or a
    stage that already deduplicated on it). An explicit ``distinct()``
    here was measured a pure no-op that cost one full exchange inside
    the pin's materialization per invocation (r12); the invariant is
    pinned by test_unpacked_positions_unique."""
    b = WINNOW_POS_BASE
    fps = winnow_fingerprints(df, text_col, id_col, k, w).localCheckpoint(eager=False)
    return (
        fps.select(F.col(id_col), F.explode("fps").alias("_key"))
        .select(
            F.col(id_col),
            F.expr(f"(_key + {b - 1}) DIV {b}").alias("h"),
            F.expr(
                f"((_key + {b - 1}) DIV {b}) * {b} - _key"
            ).alias("pos"),
        )
        .localCheckpoint(eager=False)
    )


def _position_islands(
    flagged: DataFrame, id_col: str, k: int, merge_gap: int, min_fps: int
) -> DataFrame:
    """Merge flagged (id, pos) rows closer than ``merge_gap`` into
    maximal [min_pos, max_pos + k - 1] spans — one gaps-and-islands
    window per doc, bounded by doc length x winnow density."""
    seq = W.partitionBy(id_col).orderBy("pos")
    with_prev = flagged.withColumn("_prev", F.lag("pos").over(seq))
    islands = with_prev.withColumn(
        "_island",
        F.sum(
            F.when(
                F.col("_prev").isNull()
                | (F.col("pos") - F.col("_prev") > merge_gap),
                1,
            ).otherwise(0)
        ).over(seq),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_fps)
        .select(id_col, "span_start", "span_end", "n_shared")
    )


def winnow_selfrepeat_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    merge_gap: int = SPAN_MERGE_GAP,
    min_fps: int = SPAN_MIN_FPS,
) -> DataFrame:
    """(id, span_start, span_end, n_shared) — maximal character ranges
    of WITHIN-document repetition: positions whose winnowed gram hash
    is selected at >= 2 distinct positions of the SAME document. This
    is the cut-list form of the Gopher duplicate-fraction signal —
    that filter FLAGS a page as repetitive, this says which bytes are
    the repeats (nav boilerplate, spammy keyword runs, copy-pasted
    paragraphs) so the page can be salvaged instead of dropped. Every
    copy is flagged (composition with dd_cluster_reps-style keep-one
    policies happens downstream). Same guarantee as the cross-doc
    form: any self-repeat of length >= w + k - 1 selects the same
    hash in both copies. Scale shape: the repeat table is a partial
    agg keyed (id, h) — per-DOC state, even more local than the
    cross-doc df table; no join ever leaves the document."""
    pos = _unpacked_positions(df, text_col, id_col, k, w)
    rep = (
        pos.groupBy(id_col, "h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select(id_col, "h")
    )
    flagged = (
        pos.join(rep, [id_col, "h"], "left_semi")
        .select(id_col, "pos")
        .distinct()
    )
    return _position_islands(flagged, id_col, k, merge_gap, min_fps)

def winnow_contaminated_spans(
    df: DataFrame,
    is_bench,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    merge_gap: int = SPAN_MERGE_GAP,
    min_fps: int = SPAN_MIN_FPS,
    bench_flag_of_id: bool = False,
) -> DataFrame:
    """(id, span_start, span_end, n_shared) over NON-benchmark docs —
    maximal character ranges whose content also appears in a held-out
    benchmark document: span-LEVEL decontamination, the surgical
    alternative to dropping whole documents (dd_decontaminate's
    doc-level policy discards an entire page because it quotes one
    benchmark question; this cuts just the quote, Lee et al. ACL 2022
    style, salvaging the rest of the page for training).

    ``is_bench`` is a boolean Column over ``df`` marking the held-out
    slice. Benchmark winnowed-hash set → semi-join flags training-doc
    positions → per-doc islands; the winnowing guarantee carries over:
    any train↔bench shared run >= w + k - 1 chars selects the same
    fingerprint in both, so no quotation longer than the guarantee is
    missed. Hash collisions only OVER-flag (cut slightly more text) —
    the safe direction for decontamination, the same posture as
    dd_decontaminate's 60-bit doc gate. No benchmark-to-train doc
    join: the benchmark hash set is a distinct partial-agg (tiny —
    benchmarks are thousands of docs, not billions) semi-joined onto
    the training position stream.

    ``bench_flag_of_id=True`` declares that ``is_bench`` references
    ONLY ``id_col`` (the engine's bench-holdout predicates are all
    ``doc_id % MOD == 0``): the flag is then evaluated directly on the
    position stream instead of joining a one-row-per-doc flag table
    onto it — one join (and its exchange over the O(corpus/4.5)
    position rows) removed outright (guide §2.4). Identical flags by
    construction: the predicate is a pure function of the id column
    both frames carry."""
    pos = _unpacked_positions(df, text_col, id_col, k, w)
    if bench_flag_of_id:
        pos = pos.withColumn("_is_bench", is_bench)
    else:
        flags = df.select(id_col, is_bench.alias("_is_bench"))
        pos = pos.join(flags, id_col)
    bench_h = pos.filter(F.col("_is_bench")).select("h").distinct()
    flagged = (
        pos.filter(~F.col("_is_bench"))
        .join(bench_h, "h", "left_semi")
        .select(id_col, "pos")
        .distinct()
    )
    return _position_islands(flagged, id_col, k, merge_gap, min_fps)


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, clean_text, clean_len, orig_len) — remove every [span_start,
    span_end] character range (1-based, inclusive, disjoint) from each
    document and reassemble the rest in order. Docs absent from
    ``spans`` pass through verbatim; docs spanned end-to-end become the
    empty string (distinguished from no-spans by the join miss — a
    present-but-fully-covering span array folds to '', a NULL array
    keeps the text).

    Shape chosen for the 100 TB case: spans collapse to ONE sorted
    array per doc (a shuffle of span METADATA only), the heavy text
    column participates in exactly one doc_id equi-join, and the
    cut-and-reassemble is a map-side higher-order aggregate over the
    span array — no window over text rows, no piece explosion, no
    second pass over the corpus. Measured honestly: on local[32] at the
    20x probe this is a wash vs the piece-explosion formulation (26.5 s
    vs 24.6 s — everything is warm in one JVM, so moving text twice is
    nearly free); it is kept because the CLUSTER cost model differs —
    the alternative shuffles the corpus text through two doc_id joins
    plus a pieces groupBy, while this shape moves span metadata only
    and touches text in exactly one co-partitioned join."""
    docs = docs.select(id_col, text_col)
    span_arrs = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    t = F.col(text_col)
    zero = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    # Disjointness guard: after consuming a span, acc.pos is the first
    # uncut position, so any valid next span starts at >= acc.pos. An
    # overlapping/non-disjoint span list would make span_start - acc.pos
    # negative — substr silently drops characters and the corruption is
    # parity-INVISIBLE (the oracle mirrors the fold). Fail loudly
    # instead, mirroring the WINNOW_POS_BASE guard's convention.
    folded = F.aggregate(
        F.col("_spans"),
        zero,
        lambda acc, sp: F.struct(
            (sp["span_end"] + 1).cast("long").alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(
                    acc["pos"],
                    F.when(
                        sp["span_start"] < acc["pos"],
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "cut_spans: overlapping/non-disjoint "
                                    "span list (span_start < next uncut "
                                    "position) for doc "
                                ),
                                F.col(id_col).cast("string"),
                            )
                        ).cast("long"),
                    ).otherwise(sp["span_start"] - acc["pos"]),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], t.substr(acc["pos"], F.length(t) - acc["pos"] + 1)
        ),
    )
    out_text = F.when(F.col("_spans").isNull(), t).otherwise(folded)
    # bind the folded text through a 1-element transform + explode
    # barrier so the O(spans) cut-and-concat aggregate evaluates ONCE
    # per row — referencing out_text from both the value and length()
    # lets CollapseProject inline the whole fold twice (the same
    # expression-duplication trap winnow_fingerprints documents)
    stats = F.explode(
        F.transform(
            F.array(out_text),
            lambda c: F.struct(
                c.alias("clean_text"), F.length(c).alias("clean_len")
            ),
        )
    )
    return (
        docs.join(span_arrs, id_col, "left")
        .select(id_col, stats.alias("_s"), F.length(t).alias("orig_len"))
        .select(id_col, "_s.clean_text", "_s.clean_len", "orig_len")
    )


def minhash_sig_array_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """Per-row MinHash signature as ONE pure column expression —
    identical values to minhash_signatures (groupBy-min over exploded
    shingles == running-min over the shingle-hash array) but with no
    explode/aggregation, so it runs unchanged under Structured
    Streaming as a stateless map over Kafka partitions: the online
    half of streaming near-dup detection (st_neardup_alert).

    The k permutation mins are folded in ONE aggregate() pass over the
    hash array (accumulator = k-wide running-min array), so the md5
    chain is evaluated once per shingle even if Catalyst collapses the
    projections. Docs with no shingles are dropped (same convention as
    the batch side). Output: ``(…df columns…, sig_arr array<long>)``."""
    coeffs = minhash_coeffs(num_perm)
    tokd = df.withColumn("_toks", word_tokens(F.col(text_col)))
    hashes = F.transform(
        shingles_from_tokens(F.col("_toks")), lambda s: md5_i32(s)
    )
    sig_arr = F.aggregate(
        hashes,
        F.array(*[F.lit(MERSENNE_31).cast("long") for _ in range(num_perm)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)
                    for a, b in coeffs
                ]
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    return (
        tokd.filter(F.size(F.col("_toks")) >= 3)
        .withColumn("sig_arr", sig_arr)
        .drop("_toks")
    )


def band_structs_from_sig_array(
    num_perm: int = NUM_PERM, band_size: int = BAND_SIZE
):
    """(band_idx, bk*) struct array from a sig_arr column — the
    stateless mirror of the band construction in lsh_candidate_pairs
    (same packed sig-tuple keys, packed_band_keys)."""
    n_bands = num_perm // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                *packed_band_keys(
                    lambda i: F.element_at(F.col("sig_arr"), i + 1),
                    b,
                    band_size,
                ),
            )
            for b in range(n_bands)
        ]
    )
