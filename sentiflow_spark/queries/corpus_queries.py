"""Second-wave corpus operators (round 2 additions), grouped:

- dedup: segment-level dedup with document reconstruction
  (dd_segment_dedup), cluster representative selection
  (dd_cluster_reps), asymmetric containment exact + df-capped
  (dd_containment_pairs/_capped), incremental batch admission
  (dd_incremental_dedup), LSH recall evaluation (dd_lsh_recall),
  method-comparison report (dd_method_compare), integer fixed-point
  PageRank over the dup graph (dd_pagerank_dupgraph)
- retrieval: query-likelihood LM (ret_query_likelihood), hybrid
  sparse+dense RRF fusion (ret_hybrid_rrf), positional phrase match
  (ret_phrase_match), inverted-index construction (ret_build_index),
  pseudo-relevance feedback expansion (ret_prf_expansion)
- text/curation: robust length outliers (txt_robust_outliers),
  blocklist gate (txt_blocklist_filter), count-min-sketch heavy
  hitters (txt_heavy_hitters_cms)
- similarity: bucketed k-NN graph (sim_knn_graph), int8
  scalar-quantization recall gate (sim_sq8_recall)
- multimodal: payload content-hash dedup (mm_content_dedup)
- time-series/analytics: retention cohorts (win_retention_cohorts),
  rolling z-score anomalies (win_anomaly_zscore), gap filling by LOCF
  and by linear interpolation (win_gapfill_locf/_interp), last-touch
  attribution (win_attribution_last_touch), unrolled-EWMA smoothing
  (win_ewma_halflife)
- curation reporting: temperature mixing table (txt_mix_temperature),
  gate funnel (txt_curation_funnel)
- relational/ops: interval-overlap join (rel_interval_overlap_join),
  batch CDC apply (rel_cdc_apply), data-quality audit (rel_dq_audit),
  ANALYZE-style column stats (rel_column_stats)

Reference parity: the reference has no corpus engine; these extend the
M5 training-data families (SURVEY §7.2) on the same tokenizer
(`functions/text.py` word_tokens), the same MinHash-LSH cluster graph
(`operators/dedup.py`), and the same quantized-vector cosine
(`functions/vectors.py`) as the first-wave queries.

Scale notes (100 TB):
- ``dd_segment_dedup`` is the C4-style "drop text seen anywhere else
  in the corpus" pass. Ownership is a partial-aggregated
  ``groupBy(seg).min(encoded owner)`` — never a Window over the
  segment, which would single-task hot boilerplate segments. The
  join-back on ``seg`` is a hash-join probe (1 build row per segment),
  so hot segments fan out across probe tasks instead of buffering.
  Reconstruction aggregates per doc_id — state bounded by one document.
- ``ret_query_likelihood`` scores every document against a fixed term
  query with Dirichlet smoothing: ONE tokenize pass, ONE partial-agg
  shuffle (same shape as ``ret_bm25_topk``), corpus scalars broadcast.
- ``ret_hybrid_rrf`` fuses two top-k lists (tens of rows after their
  own distributed top-k), so the fusion join is driver-trivial; the
  heavy lifting stays in the BM25 aggregate and the brute-force cosine
  (broadcast probe, TakeOrdered-style per-probe window over one probe).
- ``ret_phrase_match`` is the positional-postings phrase join: tokens
  filtered to the phrase's words BEFORE the self-join, so the join
  carries only matching postings, and adjacency is an equi-join on
  ``(doc_id, pos+1)`` — never a cross product. A production positional
  index would materialize the filtered postings once; here the two
  sides re-scan (cheap: scan is pruned to two terms).
- ``txt_robust_outliers`` is two partial-agg passes (median, then MAD)
  grouped by ``source`` — no windows, no skew (group count = number of
  sources).

Cross-engine determinism: medians interpolate to exact halves in both
engines; cosine uses exact int64 dot products (`functions/vectors.py`);
transcendental scores are quantized with ``round(x, 4)`` and summed as
DECIMAL (see `retrieval_queries.py` module docstring for the 1-ulp
argument); RRF increments are ``round(1/(60+rank), 8)`` DECIMAL(12,8)
sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.hashing import duck_md5_i32
from sentiflow_spark.functions.numeric import MONEY
from sentiflow_spark.functions.text import (
    cased_word_tokens,
    duck_cased_word_tokens,
    duck_fingerprint,
    duck_word_count,
    duck_word_tokens,
    word_tokens,
)
from sentiflow_spark.functions.vectors import (
    adaptive_plane_count,
    duck_cosine,
    duck_dot,
    duck_plane_count,
    duck_quantize,
    duck_rp_bucket_dyn,
    rp_hyperplanes,
)
from sentiflow_spark.operators.dedup import (
    PR_SCALE,
    SEG_OWNER_BASE,
    shingle_pair_counts,
)
from sentiflow_spark.operators.similarity import brute_force_topk, with_quantized
from sentiflow_spark.queries.dedup_queries import (
    _DUCK_BAND_PAIRS,
    _duck_bands_cte,
    _duck_match_frac,
    _duck_shingles_cte,
    _duck_sigs_cte,
    dd_duplicate_clusters,
)
from sentiflow_spark.queries.registry import register
from sentiflow_spark.queries.similarity_queries import (
    _DUCK_Q_CTE,
    _DUCK_SCORE,
    N_PROBES,
    TOP_K,
)
from sentiflow_spark.queries.retrieval_queries import (
    _DUCK_BM25_CTES,
    _DUCK_BM25_TOPK,
    _DUCK_TOKS,
    _TERMS_SQL,
    _tokens,
    BM25_TERMS,
    ret_bm25_topk,
)
from sentiflow_spark.tables import load

SEG_CHARS = 80
# Boilerplate (frequency-threshold) line dedup: shorter segments than
# the first-wins pass — boilerplate detection keys on short repeated
# "lines", and 16 chars gives the word-soup fixture a real collision
# surface (sf0.01: 73 segments cross the 3-doc threshold, 2.5% of
# occurrences removed, and the doc-drop gate fires on 3-278 docs per
# SF). Values live next to the operator; the DAG stage shares them.
from sentiflow_spark.operators.dedup import (  # noqa: E402
    BP_MAX_REMOVED_FRAC,
    BP_MIN_DOCS,
    BP_SEG_CHARS,
)
QL_MU = 300.0
QL_TOP_K = 20
RRF_K = 60
RRF_DEPTH = 20
PHRASE = ("hash", "join")
OUTLIER_MAD_SCALE = 4.4478  # 3 * 1.4826 (normal-consistency constant)
CONTAIN_THRESHOLD = 0.6
ZS_LOOKBACK = 24  # preceding hourly buckets in the rolling frame
ZS_MIN_PREV = 12  # minimum history before flagging
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"

# Owner encoding shared with operators/dedup.py::segment_dedup — the
# oracles interpolate the SAME constant the Spark path encodes with.
_OWNER_BASE = SEG_OWNER_BASE


@register(
    "dd_segment_dedup",
    oracle=f"""
    WITH segs AS (
      SELECT doc_id,
             unnest(range(greatest(CAST(ceil(length(text)/{SEG_CHARS}.0) AS BIGINT), 1))) AS seg_no,
             text
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, seg_no,
             substring(text, CAST(seg_no*{SEG_CHARS} AS INT)+1, {SEG_CHARS}) AS seg
      FROM segs
    ),
    owners AS (
      SELECT seg, MIN(doc_id*{_OWNER_BASE} + seg_no) AS owner FROM s2 GROUP BY seg
    ),
    kept AS (
      SELECT s.doc_id, s.seg_no, s.seg
      FROM s2 s JOIN owners o ON o.seg = s.seg
      WHERE s.doc_id*{_OWNER_BASE} + s.seg_no = o.owner
    ),
    rec AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY seg_no) AS text_dedup,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.text_dedup, '') AS text_dedup,
           COALESCE(r.n_kept, 0) AS n_kept,
           greatest(CAST(ceil(length(d.text)/{SEG_CHARS}.0) AS BIGINT), 1) AS n_total
    FROM documents d LEFT JOIN rec r ON r.doc_id = d.doc_id
    """,
    tags=("dedup", "M5", "segment", "e2e", "bench"),
    doc="Corpus-global segment-level dedup (C4-style 'drop any span "
    "seen earlier anywhere'): fixed 80-char segments, global "
    "first-wins ownership by (doc_id, seg_no), then per-document "
    "reconstruction of the surviving text. Documents fully covered by "
    "earlier text come back empty (n_kept = 0) — the keep/drop signal "
    "a curation pass consumes. The synthetic corpus has no newlines, "
    "so fixed-width segments stand in for lines; the shape (explode → "
    "partial-agg ownership → join-back → per-doc re-agg) is identical.",
)
def dd_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import segment_dedup

    return segment_dedup(load(spark, sf_dir, "documents"), seg_chars=SEG_CHARS)


_BP_FRAC_SQL = f"""CASE WHEN length(d.text) > 0
            THEN CAST(length(d.text) - COALESCE(r.kept_chars, 0) AS DOUBLE)
                 / length(d.text)
            ELSE CAST(0 AS DOUBLE) END"""


@register(
    "dd_boilerplate_lines",
    oracle=f"""
    WITH segs AS (
      SELECT doc_id,
             unnest(range(greatest(CAST(ceil(length(text)/{BP_SEG_CHARS}.0) AS BIGINT), 1))) AS seg_no,
             text
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, seg_no,
             substring(text, CAST(seg_no*{BP_SEG_CHARS} AS INT)+1, {BP_SEG_CHARS}) AS seg
      FROM segs
    ),
    boiler AS (
      SELECT seg FROM s2 GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
    ),
    kept AS (
      SELECT s.doc_id, s.seg_no, s.seg
      FROM s2 s ANTI JOIN boiler b ON b.seg = s.seg
    ),
    rec AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY seg_no) AS text_clean,
             COUNT(*) AS n_kept,
             CAST(SUM(length(seg)) AS BIGINT) AS kept_chars
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.text_clean, '') AS text_clean,
           COALESCE(r.n_kept, 0) AS n_kept,
           greatest(CAST(ceil(length(d.text)/{BP_SEG_CHARS}.0) AS BIGINT), 1) AS n_total,
           {_BP_FRAC_SQL} AS removed_frac,
           ({_BP_FRAC_SQL}) <= CAST({BP_MAX_REMOVED_FRAC} AS DOUBLE) AS doc_kept
    FROM documents d LEFT JOIN rec r ON r.doc_id = d.doc_id
    """,
    tags=("dedup", "M5", "boilerplate", "e2e", "bench"),
    doc="Cross-document frequency-threshold boilerplate removal — the "
    "OTHER canonical line-dedup mode next to dd_segment_dedup's "
    "C4-style first-wins ownership: a segment occurring in >= 3 "
    "DISTINCT documents (nav bars, cookie banners, licence footers) "
    "is removed from EVERY document including the first, per CCNet's "
    "paragraph dedup (Wenzek et al., LREC 2020) and RefinedWeb's line "
    "dedup (Penedo et al., 2023); documents losing > 30% of their "
    "characters are flagged doc_kept = false (RefinedWeb's doc-level "
    "rule). Distinct-doc counting is a two-phase partial agg (hot "
    "boilerplate combines map-side, never one reducer); the removal "
    "anti-join builds on the tiny over-threshold set (broadcast under "
    "AQE, degrading to a co-partitioned hash anti-join at larger "
    "boilerplate volumes); per-doc reconstruction is bounded by one "
    "document. removed_frac is one IEEE double division of exact ints "
    "— bitwise identical across engines. 16-char segments stand in "
    "for lines on the newline-free fixture, like dd_segment_dedup.",
)
def dd_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import boilerplate_removal

    return boilerplate_removal(
        load(spark, sf_dir, "documents"),
        seg_chars=BP_SEG_CHARS,
        min_docs=BP_MIN_DOCS,
        max_removed_frac=BP_MAX_REMOVED_FRAC,
    )


@register(
    "dd_cluster_reps",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    members AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    cmax AS (
      SELECT cluster_id, COUNT(*) AS n_members, MAX(n_chars) AS max_chars
      FROM members GROUP BY cluster_id
    )
    SELECT m.cluster_id, MIN(m.doc_id) AS rep_doc_id,
           ANY_VALUE(x.n_members) AS n_members, ANY_VALUE(x.max_chars) AS max_chars
    FROM members m JOIN cmax x ON x.cluster_id = m.cluster_id
    WHERE m.n_chars = x.max_chars
    GROUP BY m.cluster_id
    """,
    tags=("dedup", "M5", "minhash", "lsh", "iterative", "e2e"),
    doc="Canonical-representative selection per duplicate cluster — "
    "the dedup keep-list: for every MinHash-LSH connected component "
    "(dd_duplicate_clusters), keep the longest document (max n_chars, "
    "ties to the smallest doc_id). Singletons represent themselves, so "
    "the output IS the post-dedup corpus manifest. Two partial-agg "
    "shuffles on cluster_id after the cluster computation; the argmax "
    "is max-then-filter-then-min (no window over cluster members).",
)
def dd_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    members = dd_duplicate_clusters(spark, sf_dir).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    cmax = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"), F.max("n_chars").alias("max_chars")
    )
    return (
        members.join(cmax, "cluster_id")
        .filter(F.col("n_chars") == F.col("max_chars"))
        .groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.min("n_members").alias("n_members"),
            F.min("max_chars").alias("max_chars"),
        )
    )


@register(
    "ret_query_likelihood",
    oracle=f"""
    WITH {_DUCK_TOKS},
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) AS total_dl FROM dl),
    tfq AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
    ),
    cf AS (
      SELECT q.term, CAST(COALESCE(SUM(t.tf), 0) AS DOUBLE) AS cf
      FROM (VALUES {", ".join(f"('{t}')" for t in BM25_TERMS)}) q(term)
      LEFT JOIN tfq t ON t.term = q.term GROUP BY q.term
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(round(ln(
               (CAST(COALESCE(t.tf, 0) AS DOUBLE) + ({QL_MU!r} * c.cf) / s.total_dl)
               / (CAST(d.dl AS DOUBLE) + {QL_MU!r})), 4) AS DECIMAL(18,4)) AS term_ll
      FROM dl d CROSS JOIN cf c CROSS JOIN stats s
      LEFT JOIN tfq t ON t.doc_id = d.doc_id AND t.term = c.term
      WHERE c.cf > 0
    )
    SELECT doc_id, CAST(SUM(term_ll) AS DOUBLE) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {QL_TOP_K}
    """,
    tags=("retrieval", "text", "M5", "bench"),
    doc="Dirichlet-smoothed query-likelihood ranking (mu=300) for a "
    "fixed term query, top-20 documents. Smoothing scores every "
    "document (tf=0 rows included), so the melt keeps zeros; corpus "
    "language-model stats (cf per term, total tokens) broadcast. Same "
    "one-tokenize-pass shape as ret_bm25_topk.",
)
def ret_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = _tokens(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == t).cast("long")).alias(f"_tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = per_doc.agg(F.sum("dl").cast("double").alias("total_dl"))
    melted = per_doc.select(
        "doc_id",
        "dl",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("term"), F.col(f"_tf_{i}").alias("tf"))
                    for i, t in enumerate(BM25_TERMS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "dl", "x.*")
    cf_map = melted.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    term_ll = F.round(
        F.log(
            (
                F.col("tf").cast("double")
                + (F.lit(QL_MU) * F.col("cf")) / F.col("total_dl")
            )
            / (F.col("dl").cast("double") + F.lit(QL_MU))
        ),
        4,
    ).cast("decimal(18,4)")
    # OOV guard, mirrored in the oracle's WHERE c.cf > 0: a query term
    # absent from the corpus has zero smoothed probability everywhere
    # (ln(0) → NULL in Spark, a hard error in DuckDB) and carries no
    # discrimination, so it is excluded from scoring in BOTH engines.
    return (
        melted.join(F.broadcast(cf_map), "term")
        .filter(F.col("cf") > 0)
        .join(F.broadcast(stats))
        .withColumn("term_ll", term_ll)
        .groupBy("doc_id")
        .agg(F.sum("term_ll").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(QL_TOP_K)
    )


@register(
    "ret_hybrid_rrf",
    oracle=f"""
    WITH {_DUCK_TOKS},{_DUCK_BM25_CTES},
    sparse AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS s_rank
      FROM ({_DUCK_BM25_TOPK})
    ),
    q AS (
      SELECT vec_id, {duck_quantize('embedding')} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, qvec, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    ),
    dense AS (
      SELECT cand_id, rk AS d_rank FROM (
        SELECT c.vec_id AS cand_id,
               row_number() OVER (
                 ORDER BY {duck_cosine(duck_dot('p.qvec', 'c.qvec'), 'p.qnorm', 'c.qnorm')} DESC,
                          c.vec_id) AS rk
        FROM qn p JOIN qn c ON c.vec_id <> 0
        WHERE p.vec_id = 0
      ) WHERE rk <= {RRF_DEPTH}
    )
    SELECT COALESCE(s.doc_id, d.cand_id) AS id,
           CAST(s.s_rank AS INTEGER) AS s_rank,
           CAST(d.d_rank AS INTEGER) AS d_rank,
           CAST(COALESCE(CAST(round(1.0/({RRF_K} + s.s_rank), 8) AS DECIMAL(12,8)), 0)
                + COALESCE(CAST(round(1.0/({RRF_K} + d.d_rank), 8) AS DECIMAL(12,8)), 0)
                AS DOUBLE) AS rrf_score
    FROM sparse s FULL OUTER JOIN dense d ON d.cand_id = s.doc_id
    """,
    tags=("retrieval", "similarity", "M5", "ann", "e2e", "bench"),
    doc="Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 "
    "sparse top-20 with the dense cosine top-20 from probe vector 0, "
    "joined on the documents↔embeddings id alignment. Each input list "
    "is already a distributed top-k, so the full-outer fusion join "
    "touches tens of rows; docs found by only one channel keep the "
    "other rank NULL.",
)
def ret_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    sparse = ret_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .alias("s_rank"),
    )
    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=RRF_DEPTH
    ).select(F.col("cand_id"), F.col("rank").alias("d_rank"))
    rrf = lambda rank: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(RRF_K) + rank), 8).cast("decimal(12,8)"),
        F.lit(0).cast("decimal(12,8)"),
    )
    return (
        sparse.join(dense, sparse.doc_id == dense.cand_id, "full_outer")
        .select(
            F.coalesce("doc_id", "cand_id").alias("id"),
            F.col("s_rank").cast("int").alias("s_rank"),
            F.col("d_rank").cast("int").alias("d_rank"),
            (rrf(F.col("s_rank")) + rrf(F.col("d_rank")))
            .cast("double")
            .alias("rrf_score"),
        )
    )


@register(
    "ret_phrase_match",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS term
      FROM (SELECT doc_id, {duck_word_tokens("text")} AS w
            FROM documents)
    )
    SELECT a.doc_id, COUNT(*) AS n_phrase, CAST(MIN(a.pos) AS INTEGER) AS first_pos
    FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    tags=("retrieval", "text", "M5"),
    doc=f"Positional phrase match for \"{PHRASE[0]} {PHRASE[1]}\": "
    "posexplode builds the positional postings, postings are filtered "
    "to the phrase's two terms BEFORE the self-join, and adjacency is "
    "the equi-join (doc_id, pos+1) — the positional-index phrase "
    "primitive, never a cross product. Output: per-doc occurrence "
    "count and first match position.",
)
def ret_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(word_tokens(F.col("text"))).alias("pos", "term"),
    ).filter(F.col("term").isin(*PHRASE))
    a = toks.filter(F.col("term") == PHRASE[0]).select("doc_id", "pos")
    b = toks.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_phrase"),
            F.min("pos").cast("int").alias("first_pos"),
        )
    )


@register(
    "txt_robust_outliers",
    oracle=f"""
    WITH m AS (
      SELECT source, median(n_chars) AS med FROM documents GROUP BY source
    ),
    d AS (
      SELECT doc.source, doc.n_chars, m.med,
             abs(CAST(doc.n_chars AS DOUBLE) - m.med) AS dev
      FROM documents doc JOIN m ON m.source = doc.source
    ),
    md AS (
      SELECT source, median(dev) AS mad FROM d GROUP BY source
    )
    SELECT d.source, COUNT(*) AS n_docs,
           MIN(d.med) AS med, MIN(md.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > md.mad * {OUTLIER_MAD_SCALE!r} THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN md ON md.source = d.source
    GROUP BY d.source
    """,
    tags=("text", "M5", "curation"),
    doc="Robust per-source length-outlier detection: median + MAD of "
    "n_chars per source, outlier = deviation > 3*1.4826*MAD (the "
    "winsorize/trim gate a curation pass applies before packing). Two "
    "partial-agg passes grouped by source — no windows; medians "
    "interpolate to exact halves so both engines agree bitwise.",
)
def txt_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(F.median("n_chars").alias("med"))
    d = docs.join(F.broadcast(m), "source").select(
        "source",
        "med",
        F.abs(F.col("n_chars").cast("double") - F.col("med")).alias("dev"),
    )
    md = d.groupBy("source").agg(F.median("dev").alias("mad"))
    return (
        d.join(F.broadcast(md), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.col("dev") > F.col("mad") * F.lit(OUTLIER_MAD_SCALE)).cast("long")
            ).alias("n_outliers"),
        )
    )


# Default df-cap for dd_containment_pairs: generous enough to keep the
# near-exhaustive semantics (only shingles shared by >50 docs — pure
# boilerplate — are dropped) but it bounds the inverted-index join at
# df_cap x postings; the round-2 uncapped form was 322 s / 1.05M pairs
# at the 20x probe. dd_containment_capped (cap 5) stays the tight
# production shape.
CONTAIN_PAIRS_DF_CAP = 50
CONTAIN_DF_CAP = 5


@register(
    "dd_containment_pairs",
    oracle=f"""
    WITH {_duck_shingles_cte(with_hashed=False)},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    keep AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh JOIN dfreq USING (shingle)
      WHERE dfreq.df <= {CONTAIN_PAIRS_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM keep GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM keep a JOIN keep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / sa.set_size AS cont_a_in_b,
             CAST(shared AS DOUBLE) / sb.set_size AS cont_b_in_a
      FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ) WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAIN_THRESHOLD!r}
    """,
    tags=("dedup", "M5", "containment"),
    doc="Asymmetric shingle-set containment pairs (|A∩B|/|A| and "
    "|A∩B|/|B|): catches a short document quoted inside a long one, "
    "which symmetric Jaccard misses because the union is dominated by "
    f"the long side. Guarded by a default df-cap of "
    f"{CONTAIN_PAIRS_DF_CAP} (shingles in more docs than that carry no "
    "containment signal and would blow the inverted-index join up "
    "O(m²) per hot shingle), so the join output is bounded at any "
    "corpus size; dd_containment_capped is the tighter production cap. "
    "One row per unordered pair carrying both directions.",
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        shingle_pair_counts(docs, df_cap=CONTAIN_PAIRS_DF_CAP)
        .select(
            "doc_a",
            "doc_b",
            (F.col("shared").cast("double") / F.col("size_a")).alias("cont_a_in_b"),
            (F.col("shared").cast("double") / F.col("size_b")).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(CONTAIN_THRESHOLD)
        )
    )


@register(
    "win_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS INTEGER) AS offset_days,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
    tags=("window", "analytics", "M5"),
    doc="Cohort retention: users grouped by first-seen day, distinct "
    "active users per (cohort, day offset) — the engagement-analytics "
    "primitive. Two partial-agg shuffles (first-seen per user, then "
    "the cohort×offset count-distinct); the first-seen map joins back "
    "on user_id, co-partitioned with the events shuffle.",
)
def win_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_day").cast("int").alias("offset_days"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "win_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, h, CAST(total AS DOUBLE) AS x,
             CAST(SUM(total) OVER w AS DOUBLE) AS s1,
             CAST(SUM(total * total) OVER w AS DOUBLE) AS s2,
             CAST(COUNT(*) OVER w AS DOUBLE) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT event_type, h, x, n,
             s1 / n AS mean,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd
      FROM framed
    )
    SELECT strftime(h, '{TS_FMT_DUCK}') AS window_start, event_type,
           x AS total, round(mean, 6) AS mean, round(sd, 6) AS sd,
           CAST(n AS BIGINT) AS n_prev
    FROM scored
    WHERE n >= {ZS_MIN_PREV} AND abs(x - mean) > sd * 3.0
    """,
    tags=("window", "analytics", "M5", "anomaly", "bench"),
    doc="Rolling z-score anomaly detection over the hourly per-type "
    "value series: mean/std from the preceding 24 observed buckets "
    "(exact DECIMAL sums -> deterministic doubles; sd via E[x^2] - "
    "E[x]^2 in one canonical op order), flag |x - mean| > 3 sd after "
    "a 12-bucket warmup. The window partitions by series key — state "
    "is one series' frame, bounded by the lookback, regardless of "
    "corpus size.",
)
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.col("value").cast(MONEY)).alias("total"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-ZS_LOOKBACK, -1)
    )
    framed = hourly.select(
        "event_type",
        "h",
        F.col("total").cast("double").alias("x"),
        F.sum("total").over(w).cast("double").alias("s1"),
        F.sum(F.col("total") * F.col("total")).over(w).cast("double").alias("s2"),
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")),
            F.lit(0.0),
        )
    )
    return (
        framed.select(
            F.date_format("h", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            F.col("x").alias("total"),
            F.round(mean, 6).alias("mean"),
            F.round(sd, 6).alias("sd"),
            F.col("n").cast("long").alias("n_prev"),
            mean.alias("_mean"),
            sd.alias("_sd"),
        )
        .filter(
            (F.col("n_prev") >= ZS_MIN_PREV)
            & (F.abs(F.col("total") - F.col("_mean")) > F.col("_sd") * F.lit(3.0))
        )
        .drop("_mean", "_sd")
    )


# Plane pool for the k-NN family: the LCG generates planes
# sequentially, so the first p of 32 are identical for every p — the
# adaptive count just slices a prefix. The EFFECTIVE count is derived
# from the corpus size on both sides (adaptive_plane_count in Spark,
# the same arithmetic via duck_plane_count in the oracle), replacing
# the round-2 hardcoded 4 planes whose 20x probe degraded
# super-linearly (176 s sim_mutual_knn at 100k vectors; self-scaled:
# 11 planes).
_KNN_PLANE_POOL = rp_hyperplanes(32, 64)
KNN_K = 3

_KNN_NP_CTE = (
    "np AS (SELECT "
    + duck_plane_count("COUNT(*)")
    + " AS n_planes FROM embeddings)"
)
_KNN_BUCKETED_CTE = f"""bucketed AS (
      SELECT vec_id, qvec, qnorm,
             {duck_rp_bucket_dyn("qvec", _KNN_PLANE_POOL, "n_planes")} AS rp_bucket
      FROM qn CROSS JOIN np
    )"""


def _knn_planes(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Corpus-sized plane prefix — one cheap metadata count."""
    n = load(spark, sf_dir, "embeddings").count()
    return _KNN_PLANE_POOL[: adaptive_plane_count(n)]


@register(
    "sim_knn_graph",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {duck_quantize('embedding')} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, qvec, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    ),
    {_KNN_NP_CTE},
    {_KNN_BUCKETED_CTE}
    SELECT src, dst, cosine, rank FROM (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {duck_cosine(duck_dot('a.qvec', 'b.qvec'), 'a.qnorm', 'b.qnorm')} AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {duck_cosine(duck_dot('a.qvec', 'b.qvec'), 'a.qnorm', 'b.qnorm')} DESC,
                        b.vec_id) AS rank
      FROM bucketed a JOIN bucketed b
        ON a.rp_bucket = b.rp_bucket AND a.vec_id <> b.vec_id
    ) WHERE rank <= {KNN_K}
    """,
    tags=("similarity", "M5", "ann", "lsh", "graph", "bench"),
    doc="Bucketed k-NN graph construction (k=3): random-hyperplane "
    "blocking, then exact cosine rank within the bucket — the "
    "candidate-graph primitive under graph-based ANN indexes and "
    "density-based dedup. The plane count SELF-SCALES with corpus "
    "size (ceil(log2(n/64)) clamped to [4,32], mirrored bit-for-bit "
    "in the oracle via a COUNT(*) CTE), keeping expected bucket "
    "occupancy ~64 so the within-bucket join stays near-linear at any "
    "scale. Approximation contract is the BLOCKING (same in the "
    "oracle), so results are bit-checkable; sim_ivf_recall is the "
    "recall gate for the same family.",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import knn_graph

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    return knn_graph(emb, _knn_planes(spark, sf_dir), k=KNN_K)


@register(
    "mm_content_dedup",
    oracle="""
    SELECT sha256(text) AS fp, MIN(doc_id) AS rep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    tags=("multimodal", "dedup", "M5"),
    doc="Exact content-hash dedup over binary media payloads: "
    "sha256(payload) -> first-wins representative + copy count, one "
    "partial-agg shuffle on the digest (the image/audio-level exact "
    "dedup pass that runs before any perceptual hashing). Payload "
    "bytes are the attach_binary stand-in, so the oracle hashes the "
    "same bytes as VARCHAR.",
)
def mm_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.multimodal import attach_binary

    media = attach_binary(load(spark, sf_dir, "documents"))
    return (
        media.select("doc_id", F.sha2(F.col("payload"), 256).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


ACT_SPAN_S = 1200
INC_SPAN_S = 1800
OVERLAP_BIN_S = 1800


# Shared dense-spine construction for BOTH gap-fill queries: per-series
# hourly rollup -> min/max span -> exploded spine -> left join back.
# One definition per rendering (Spark helper + oracle CTE constant) so
# a spine change can never drift between the LOCF and interp variants.
_DUCK_SPINE_CTES = """
    hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS h_idx,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, MIN(h_idx) AS h0, MAX(h_idx) AS h1 FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT event_type, h0 + unnest(range(h1 - h0 + 1)) AS h_idx FROM spans
    ),
    joined AS (
      SELECT s.event_type, s.h_idx, CAST(h.total AS DOUBLE) AS total
      FROM spine s LEFT JOIN hourly h
        ON h.event_type = s.event_type AND h.h_idx = s.h_idx
    )"""


def _hourly_spine(ev: DataFrame) -> DataFrame:
    hourly = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_timestamp(F.date_trunc("hour", "ts")) / F.lit(3600)
        ).cast("long").alias("h_idx"),
    ).agg(F.sum(F.col("value").cast(MONEY)).alias("total"))
    spans = hourly.groupBy("event_type").agg(
        F.min("h_idx").alias("h0"), F.max("h_idx").alias("h1")
    )
    spine = spans.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h_idx")
    )
    return spine.join(hourly, ["event_type", "h_idx"], "left").select(
        "event_type", "h_idx", F.col("total").cast("double").alias("total")
    )


@register(
    "win_gapfill_locf",
    oracle=f"""
    WITH {_DUCK_SPINE_CTES}
    SELECT event_type,
           strftime(make_timestamp(h_idx * 3600 * 1000000), '{TS_FMT_DUCK}') AS window_start,
           total,
           last_value(total IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           (total IS NULL) AS is_gap
    FROM joined
    """,
    tags=("window", "timeseries", "M5", "analytics", "bench"),
    doc="Hypertable-style gap filling: a dense hourly spine per series "
    "(generated from each series' own min/max bucket — a per-group "
    "sequence explode, not a global calendar scan), left-joined onto "
    "the observed hourly rollup, missing buckets filled by "
    "last-observation-carried-forward. The LOCF window partitions by "
    "series key, so state is one series regardless of corpus width; "
    "the spine explode is map-side after a tiny per-series min/max agg.",
)
def win_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _hourly_spine(load(spark, sf_dir, "events"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("h_idx") * 3600), TS_FMT_SPARK
        ).alias("window_start"),
        "total",
        F.last("total", ignorenulls=True).over(w).alias("filled"),
        F.col("total").isNull().alias("is_gap"),
    )


@register(
    "rel_interval_overlap_join",
    oracle=f"""
    WITH act AS (
      SELECT event_id AS a_id, CAST(floor(epoch(ts)) AS BIGINT) AS a_start,
             CAST(floor(epoch(ts)) AS BIGINT) + {ACT_SPAN_S} AS a_end
      FROM events WHERE event_type IN ('click', 'view')
    ),
    inc AS (
      SELECT event_id AS b_id, CAST(floor(epoch(ts)) AS BIGINT) AS b_start,
             CAST(floor(epoch(ts)) AS BIGINT) + {INC_SPAN_S} AS b_end
      FROM events WHERE event_type = 'error'
    )
    SELECT a.a_id, b.b_id,
           least(a.a_end, b.b_end) - greatest(a.a_start, b.b_start) AS overlap_s
    FROM act a JOIN inc b
      ON a.a_start < b.b_end AND b.b_start < a.a_end
    """,
    tags=("relational", "join", "interval", "M5", "bench"),
    doc="Interval x interval overlap join (activity windows vs "
    "incident windows): each interval explodes to the time bins it "
    "covers (bounded by span/bin), candidates meet on a bin EQUI-join, "
    "duplicates from multi-bin spans collapse, and the exact overlap "
    "predicate runs as a residual filter — the scalable form of the "
    "quadratic ON a.start < b.end AND b.start < a.end the oracle "
    "states. Half-open [start, end): touching intervals don't match.",
)
def rel_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval ends are the starts plus FIXED spans, so only the starts
    # travel through the bin join and the dedup exchange (4 longs per
    # candidate instead of 6 — guide §2.3), the exact residual filter
    # runs BEFORE the distinct (filter∘distinct == distinct∘filter on a
    # deterministic row predicate) so non-overlapping bin co-residents
    # never reach the exchange, and distinct over (ids, starts) equals
    # the old distinct over (ids, starts, ends) because the dropped
    # ends are functions of the starts. Result multiset identical.
    ev = load(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("long")
    act = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("a_id"),
        epoch.alias("a_start"),
    )
    inc = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"),
        epoch.alias("b_start"),
    )

    def binned(df: DataFrame, start: str, span_s: int) -> DataFrame:
        return df.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(start) / OVERLAP_BIN_S).cast("long"),
                    F.floor(
                        (F.col(start) + span_s - 1) / OVERLAP_BIN_S
                    ).cast("long"),
                )
            ),
        )

    a_end = F.col("a_start") + ACT_SPAN_S
    b_end = F.col("b_start") + INC_SPAN_S
    cand = (
        binned(act, "a_start", ACT_SPAN_S)
        .join(binned(inc, "b_start", INC_SPAN_S), "bin")
        .filter((F.col("a_start") < b_end) & (F.col("b_start") < a_end))
        .select("a_id", "a_start", "b_id", "b_start")
        .distinct()
    )
    return cand.select(
        "a_id",
        "b_id",
        (F.least(a_end, b_end) - F.greatest("a_start", "b_start")).alias(
            "overlap_s"
        ),
    )


BATCH_SOURCES = ("src0", "src1")  # the "incoming crawl batch" slice
_BATCH_SQL = ", ".join(f"'{s}'" for s in BATCH_SOURCES)
# the designated DuckDB twin of functions/text.py::fingerprint — a
# single source so normalization changes can't drift one-sided
_DUCK_FP = duck_fingerprint("text")


@register(
    "dd_incremental_dedup",
    oracle=f"""
    WITH corpus_fp AS (
      SELECT DISTINCT {_DUCK_FP} AS fp FROM documents
      WHERE source NOT IN ({_BATCH_SQL})
    ),
    batch AS (
      SELECT doc_id, {_DUCK_FP} AS fp FROM documents
      WHERE source IN ({_BATCH_SQL})
    ),
    fresh AS (
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM corpus_fp c WHERE c.fp = b.fp)
    )
    SELECT MIN(doc_id) AS doc_id, fp FROM fresh GROUP BY fp
    """,
    tags=("dedup", "M5", "incremental"),
    doc="Incremental dedup — the production shape for a growing corpus: "
    "an incoming batch (two source slices) is admitted only where its "
    "canonical fingerprint (a) does not exist in the standing corpus "
    "(LEFT ANTI join against the survivor manifest — the manifest is "
    "the only thing scanned from the existing data, never the corpus "
    "text) and (b) is first-wins unique within the batch. Nothing is "
    "re-clustered; cost is O(batch) plus one semi-join against the "
    "fingerprint index.",
)
def dd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.text import fingerprint

    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("source").isin(*BATCH_SOURCES)
    corpus_fp = (
        docs.filter(~is_batch)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = docs.filter(is_batch).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    return (
        batch.join(corpus_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )


# The exact-Jaccard truth side carries the shingle CTEs under a "j"
# prefix because _duck_sigs_cte() defines its own toks/sh/hashed chain
# in the same WITH clause (parameterized generation, not string surgery).
_J_SHINGLES = _duck_shingles_cte("j", with_hashed=False)

# dd_lsh_recall runs on a deterministic uniform doc sample (md5 of the
# id, first hex digit in 0-7 -> 50%) with a df-capped truth join:
# recall on a uniform sample is the standard estimator, and the
# uncapped all-pairs exact-Jaccard truth was the round-2 quadratic
# escape (318.7 s at the 20x probe). The sample predicate and the cap
# are mirrored bit-for-bit in the oracle.
LSH_RECALL_SAMPLE_HEX = ("0", "1", "2", "3", "4", "5", "6", "7")
LSH_RECALL_TRUTH_DF_CAP = 20

_LSH_SAMPLE_PRED = (
    "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ("
    + ", ".join(f"'{h}'" for h in LSH_RECALL_SAMPLE_HEX)
    + ")"
)
_J_SHINGLES_SAMPLED = _duck_shingles_cte(
    "j", with_hashed=False, source="lsh_sample"
)


@register(
    "dd_lsh_recall",
    oracle=f"""
    WITH lsh_sample AS (
      SELECT doc_id, text FROM documents WHERE {_LSH_SAMPLE_PRED}
    ),
    {_J_SHINGLES_SAMPLED},
    jdfreq AS (SELECT shingle, COUNT(*) AS df FROM jsh GROUP BY 1),
    jkeep AS (
      SELECT jsh.doc_id, jsh.shingle
      FROM jsh JOIN jdfreq USING (shingle)
      WHERE jdfreq.df <= {LSH_RECALL_TRUTH_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM jkeep GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM jkeep a JOIN jkeep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      ) WHERE jaccard >= 0.9
    ),
    {_duck_sigs_cte(source="lsh_sample")}{_duck_bands_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
    )
    SELECT COUNT(*) AS n_truth,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
           round(CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS recall
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    """,
    tags=("dedup", "M5", "minhash", "lsh", "evaluation"),
    doc="LSH recall evaluation — the accept/reject gate for the banded "
    "MinHash index, SAMPLE-ESTIMATED: both sides restrict to a "
    "deterministic uniform 50% doc sample (first md5 hex digit of the "
    "id in 0-7), ground truth = df-capped exact shingle-Jaccard >= 0.9 "
    "pairs within the sample (cap 20 bounds the inverted-index join at "
    "df_cap x postings — the production truth standard), measured = "
    "fraction of those pairs the 16-perm/4-band LSH candidate stage "
    "surfaces. One scalar row (n_truth, n_caught, recall); the same "
    "harness shape as sim_ivf_recall for the vector side.",
)
def dd_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *LSH_RECALL_SAMPLE_HEX
        )
    )
    truth = ngram_jaccard_pairs(
        docs, threshold=0.9, df_cap=LSH_RECALL_TRUTH_DF_CAP
    ).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(minhash_signatures(docs)).select(
        "doc_a", "doc_b", F.lit(1).alias("_hit")
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_caught"),
            F.round(
                F.sum(F.coalesce("_hit", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("recall"),
        )
    )


@register(
    "dd_method_compare",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    {_J_SHINGLES},
    jdfreq AS (SELECT shingle, COUNT(*) AS df FROM jsh GROUP BY 1),
    jkeep AS (
      SELECT jsh.doc_id, jsh.shingle
      FROM jsh JOIN jdfreq USING (shingle)
      WHERE jdfreq.df <= {CONTAIN_DF_CAP}
    ),
    jsizes AS (SELECT doc_id, COUNT(*) AS set_size FROM jkeep GROUP BY doc_id),
    jshared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM jkeep a JOIN jkeep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    contained AS (
      SELECT DISTINCT s.doc_b AS flagged
      FROM jshared s JOIN jsizes sb ON sb.doc_id = s.doc_b
      WHERE CAST(s.shared AS DOUBLE) / sb.set_size >= 0.9
    ),
    segs AS (
      SELECT doc_id,
             unnest(range(greatest(CAST(ceil(length(text)/{SEG_CHARS}.0) AS BIGINT), 1))) AS seg_no,
             text
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, seg_no,
             substring(text, CAST(seg_no*{SEG_CHARS} AS INT)+1, {SEG_CHARS}) AS seg
      FROM segs
    ),
    owners AS (
      SELECT seg, MIN(doc_id*{_OWNER_BASE} + seg_no) AS owner FROM s2 GROUP BY seg
    )
    SELECT 'exact' AS method,
           (SELECT COUNT(*) FROM documents)
           - (SELECT COUNT(DISTINCT {_DUCK_FP}) FROM documents) AS n_flagged
    UNION ALL
    SELECT 'segment',
           (SELECT COUNT(*) FROM documents)
           - (SELECT COUNT(DISTINCT owner // {_OWNER_BASE}) FROM owners)
    UNION ALL
    SELECT 'minhash_cluster',
           (SELECT COUNT(*) FROM comp WHERE node <> cluster_id)
    UNION ALL
    SELECT 'containment',
           (SELECT COUNT(*) FROM contained)
    """,
    tags=("dedup", "M5", "evaluation", "iterative", "e2e"),
    doc="Dedup-method comparison report — how many documents each "
    "signal flags as removable under the same first-wins convention: "
    "exact fingerprint (docs minus distinct fingerprints), segment "
    "coverage (docs owning zero segments), MinHash-LSH transitive "
    "clusters (non-root members), shingle containment >= 0.9 in an "
    "earlier doc. One table a curation owner reads before choosing a "
    "pipeline; each branch reuses the corresponding operator, so the "
    "numbers ARE the operators' outputs.",
)
def dd_method_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.text import fingerprint
    from sentiflow_spark.operators.dedup import segment_dedup

    docs = load(spark, sf_dir, "documents")

    exact = docs.agg(
        (
            F.count(F.lit(1)) - F.countDistinct(fingerprint(F.col("text")))
        ).alias("n_flagged")
    ).select(F.lit("exact").alias("method"), "n_flagged")

    segment = (
        segment_dedup(docs, seg_chars=SEG_CHARS)
        .filter(F.col("n_kept") == 0)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
        .select(F.lit("segment").alias("method"), "n_flagged")
    )

    minhash = (
        dd_duplicate_clusters(spark, sf_dir)
        .filter(F.col("cluster_id") != F.col("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_flagged"))
        .select(F.lit("minhash_cluster").alias("method"), "n_flagged")
    )

    # the production (df-capped) containment shape, mirrored in the
    # oracle's jkeep CTE — the method compared is the method that
    # actually runs at scale; the uncapped join was the last
    # registered consumer of the all-pairs inverted index
    contained = (
        shingle_pair_counts(docs, df_cap=CONTAIN_DF_CAP)
        .filter(F.col("shared").cast("double") / F.col("size_b") >= 0.9)
        .select("doc_b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_flagged"))
        .select(F.lit("containment").alias("method"), "n_flagged")
    )

    return exact.unionAll(segment).unionAll(minhash).unionAll(contained)


BLOCKLIST = ("hash join", "merge sort", "table scan")


@register(
    "txt_blocklist_filter",
    oracle=f"""
    SELECT doc_id,
           {" + ".join(f"CAST(CASE WHEN strpos(lower(text), '{p}') > 0 THEN 1 ELSE 0 END AS BIGINT)" for p in BLOCKLIST)} AS n_hits
    FROM documents
    WHERE {" OR ".join(f"strpos(lower(text), '{p}') > 0" for p in BLOCKLIST)}
    """,
    tags=("text", "M5", "curation"),
    doc="Blocklist phrase filter — the banned-content gate a curation "
    "pass runs first: flag documents containing ANY of N literal "
    "phrases, reporting how many matched. Pure map-side substring "
    "scans (one pass over the text per phrase, whole-stage codegen, "
    "no shuffle); a large blocklist compiles to a single automaton "
    "(regex alternation / Aho-Corasick in a pandas UDF) with the same "
    "plan shape.",
)
def txt_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    hits = [
        (F.instr(low, p) > 0).cast("long") for p in BLOCKLIST
    ]
    n_hits = hits[0]
    for h in hits[1:]:
        n_hits = n_hits + h
    return (
        docs.select("doc_id", n_hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )



@register(
    "dd_containment_capped",
    oracle=f"""
    WITH {_duck_shingles_cte(with_hashed=False)},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    keep AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh JOIN dfreq USING (shingle) WHERE dfreq.df <= {CONTAIN_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM keep GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM keep a JOIN keep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / sa.set_size AS cont_a_in_b,
             CAST(shared AS DOUBLE) / sb.set_size AS cont_b_in_a
      FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ) WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAIN_THRESHOLD!r}
    """,
    tags=("dedup", "M5", "containment"),
    doc=f"DF-capped containment — the 100 TB form of "
    f"dd_containment_pairs (shingles in more than {CONTAIN_DF_CAP} "
    "docs dropped consistently from intersections and set sizes), "
    "bounding the inverted-index join at df_cap x postings. One call "
    "into the shared shingle_pair_counts(df_cap=...) operator.",
)
def dd_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        shingle_pair_counts(docs, df_cap=CONTAIN_DF_CAP)
        .select(
            "doc_a",
            "doc_b",
            (F.col("shared").cast("double") / F.col("size_a")).alias("cont_a_in_b"),
            (F.col("shared").cast("double") / F.col("size_b")).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(CONTAIN_THRESHOLD)
        )
    )


@register(
    "win_gapfill_interp",
    oracle=f"""
    WITH {_DUCK_SPINE_CTES},
    bounded AS (
      SELECT event_type, h_idx, total,
             last_value(total IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN total IS NOT NULL THEN h_idx END IGNORE NULLS)
               OVER w_prev AS prev_h,
             first_value(total IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN total IS NOT NULL THEN h_idx END IGNORE NULLS)
               OVER w_next AS next_h
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY h_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY h_idx
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           strftime(make_timestamp(h_idx * 3600 * 1000000), '{TS_FMT_DUCK}') AS window_start,
           total,
           round(CASE
             WHEN total IS NOT NULL THEN total
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
               prev_v + (next_v - prev_v)
                 * (CAST(h_idx - prev_h AS DOUBLE) / CAST(next_h - prev_h AS DOUBLE))
             ELSE COALESCE(prev_v, next_v)
           END, 6) AS filled,
           (total IS NULL) AS is_gap
    FROM bounded
    """,
    tags=("window", "timeseries", "M5", "analytics"),
    doc="Gap filling by linear interpolation: dense per-series spine "
    "(as win_gapfill_locf), then each gap interpolates between the "
    "nearest observed buckets on both sides (edge gaps fall back to "
    "the one-sided neighbor). Two bounded windows per series — "
    "prev/next carried by IGNORE NULLS frames, state bounded by one "
    "series; interpolation weights are exact integer ratios so both "
    "engines compute identical doubles (quantized to 1e-6 for the "
    "ln-free rounding guard).",
)
def win_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _hourly_spine(load(spark, sf_dir, "events"))
    w_prev = (
        W.partitionBy("event_type")
        .orderBy("h_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # "next observed" is a RUNNING frame over DESCENDING order, not a
    # [current, unbounded following] frame: Spark re-scans a following
    # frame per row (O(n^2) per series — measured 145 s at the 50x
    # probe's 21k-hour series vs 1.4 s at 20x), while a preceding
    # running frame is incremental O(n). last(...) over the reversed
    # running frame IS first_value-ignore-nulls over the forward
    # following frame; same 5.6 s class as the EWMA query after the
    # fix.
    w_next = (
        W.partitionBy("event_type")
        .orderBy(F.desc("h_idx"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    obs_h = F.when(F.col("total").isNotNull(), F.col("h_idx"))
    bounded = joined.select(
        "event_type",
        "h_idx",
        "total",
        F.last("total", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("prev_h"),
        F.last("total", ignorenulls=True).over(w_next).alias("next_v"),
        F.last(obs_h, ignorenulls=True).over(w_next).alias("next_h"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        (F.col("h_idx") - F.col("prev_h")).cast("double")
        / (F.col("next_h") - F.col("prev_h")).cast("double")
    )
    filled = F.when(F.col("total").isNotNull(), F.col("total")).when(
        F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(), interp
    ).otherwise(F.coalesce("prev_v", "next_v"))
    return bounded.select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("h_idx") * 3600), TS_FMT_SPARK
        ).alias("window_start"),
        "total",
        F.round(filled, 6).alias("filled"),
        F.col("total").isNull().alias("is_gap"),
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_K = 15


@register(
    "txt_heavy_hitters_cms",
    oracle=f"""
    WITH {_DUCK_TOKS},
    exact AS (
      SELECT term, COUNT(*) AS true_count FROM toks GROUP BY term
    ),
    counters AS (
      SELECT r.d AS row_id,
             CAST(('0x' || substr(md5(CAST(r.d AS VARCHAR) || ':' || term), 1, 8)) AS BIGINT)
               % {CMS_WIDTH} AS bucket,
             CAST(SUM(true_count) AS BIGINT) AS c
      FROM exact, (VALUES {", ".join(f"({i})" for i in range(CMS_DEPTH))}) r(d)
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT term, true_count FROM exact
      ORDER BY true_count DESC, term LIMIT {CMS_TOP_K}
    ),
    est AS (
      SELECT t.term, t.true_count, MIN(c.c) AS est_count
      FROM topk t
      CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(CMS_DEPTH))}) r(d)
      JOIN counters c
        ON c.row_id = r.d
       AND c.bucket = CAST(('0x' || substr(md5(CAST(r.d AS VARCHAR) || ':' || t.term), 1, 8)) AS BIGINT)
                        % {CMS_WIDTH}
      GROUP BY t.term, t.true_count
    )
    SELECT term, true_count, est_count,
           est_count - true_count AS overcount
    FROM est
    """,
    tags=("text", "M5", "sketch", "evaluation", "bench"),
    doc=f"Count-min-sketch heavy hitters: a {CMS_DEPTH}x{CMS_WIDTH} "
    "CMS with portable md5 row hashes counts every token in "
    "fixed memory (depth x width counters regardless of vocabulary "
    "size — the sketch an ingest tier keeps when the exact vocab "
    "doesn't fit); the query reports the top-15 true heavy hitters "
    "with their sketch estimate and overcount. Deterministic hashes "
    "make even the approximation bit-checkable (same convention as "
    "rel_kmv_distinct). Building the sketch is d partial-agg "
    "shuffles of (row, bucket) — 4096 counters total.",
)
def txt_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.hashing import md5_i32

    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("row_id")
    # ONE corpus-wide shuffle: per-term exact counts. The sketch
    # counters are then built FROM those counts (counter = sum of the
    # counts of terms hashing to the bucket — identical to counting
    # raw token instances, but the d-way row explode happens on the
    # tiny vocabulary instead of every token occurrence; measured
    # 1.9 s -> 0.9 s at sf0.1). A streaming ingest tier updates the
    # counters incrementally instead; the counter VALUES are the same.
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .localCheckpoint(eager=False)
    )
    counters = (
        exact.select("term", "true_count", rows)
        .withColumn(
            "bucket",
            md5_i32(
                F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("term"))
            )
            % CMS_WIDTH,
        )
        .groupBy("row_id", "bucket")
        .agg(F.sum("true_count").alias("c"))
    )
    topk = exact.orderBy(F.col("true_count").desc(), "term").limit(CMS_TOP_K)
    probe = topk.select(
        "term", "true_count", rows
    ).withColumn(
        "bucket",
        md5_i32(F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("term")))
        % CMS_WIDTH,
    )
    return (
        probe.join(counters, ["row_id", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("c").alias("est_count"))
        .select(
            "term",
            "true_count",
            "est_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
    )


CDC_CUTOFF = "2024-01-15"


@register(
    "rel_cdc_apply",
    oracle=f"""
    WITH base AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS base_val
      FROM events WHERE CAST(ts AS DATE) < DATE '{CDC_CUTOFF}'
      GROUP BY user_id
    ),
    ops AS (
      SELECT user_id, event_type AS op, CAST(value AS DECIMAL(18,2)) AS op_val,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE CAST(ts AS DATE) >= DATE '{CDC_CUTOFF}'
    ),
    last_op AS (SELECT user_id, op, op_val FROM ops WHERE rn = 1)
    SELECT COALESCE(b.user_id, o.user_id) AS user_id,
           CAST(CASE WHEN o.user_id IS NULL THEN b.base_val
                     ELSE o.op_val END AS DOUBLE) AS val,
           CASE WHEN o.user_id IS NULL THEN 'base' ELSE 'cdc' END AS origin
    FROM base b FULL OUTER JOIN last_op o ON o.user_id = b.user_id
    WHERE o.op IS NULL OR o.op <> 'error'
    """,
    tags=("relational", "cdc", "merge", "M5", "bench"),
    doc="Batch CDC apply — MERGE semantics as a declarative plan: a "
    "base snapshot (pre-cutoff per-key aggregate) merged with a "
    "changelog where the LAST op per key wins ('error' = DELETE, "
    "anything else = UPSERT of that event's value; ties broken by "
    "event_id). Keys with no ops keep their base row; deleted keys "
    "vanish; fresh keys appear. One bounded per-key window over the "
    "changelog slice + one full-outer key join — the batch twin of "
    "the foreachBatch merge_upsert sink (K2), here oracle-checked.",
)
def rel_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(CDC_CUTOFF).cast("date")
    base = (
        ev.filter(F.to_date("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast(MONEY)).alias("base_val"))
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last_op = (
        ev.filter(F.to_date("ts") >= cutoff)
        .select(
            "user_id",
            F.col("event_type").alias("op"),
            F.col("value").cast(MONEY).alias("op_val"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    b, o = base.alias("b"), last_op.alias("o")
    return (
        b.join(o, F.col("b.user_id") == F.col("o.user_id"), "full_outer")
        .filter(F.col("o.op").isNull() | (F.col("o.op") != "error"))
        .select(
            F.coalesce("b.user_id", "o.user_id").alias("user_id"),
            F.when(F.col("o.user_id").isNull(), F.col("b.base_val"))
            .otherwise(F.col("o.op_val"))
            .cast("double")
            .alias("val"),
            F.when(F.col("o.user_id").isNull(), F.lit("base"))
            .otherwise(F.lit("cdc"))
            .alias("origin"),
        )
    )


ATTR_WINDOW_US = 1800 * 1_000_000  # 30 min lookback


@register(
    "win_attribution_last_touch",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             CAST(value AS DECIMAL(18,2)) AS value
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ),
    w AS (
      SELECT event_id, user_id, event_type, ts_us, value,
             max(CASE WHEN event_type IN ('click', 'view')
                      THEN ts_us * 2 + (CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch_code
      FROM t
    )
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM (
      SELECT CASE
               WHEN touch_code IS NULL
                    OR ts_us - touch_code // 2 > {ATTR_WINDOW_US} THEN 'organic'
               WHEN touch_code % 2 = 1 THEN 'view'
               ELSE 'click'
             END AS channel,
             value
      FROM w WHERE event_type = 'purchase'
    ) GROUP BY channel
    """,
    tags=("window", "analytics", "asof", "M5"),
    doc="Last-touch attribution: each purchase credits the most recent "
    "click/view by the same user within a 30-minute lookback, else "
    "'organic' — the as-of union+window pattern (rel_asof_join) "
    "carrying the touch type encoded into the order key (ts*2 + "
    "view-bit, so a same-microsecond view outranks a click — "
    "deterministic tie documented). One shuffle on user_id, then a "
    "tiny channel aggregate; revenue summed as DECIMAL.",
)
def win_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.col("value").cast(MONEY).alias("value"),
        )
    )
    touch_code = F.when(
        F.col("event_type").isin("click", "view"),
        F.col("ts_us") * 2
        + F.when(F.col("event_type") == "view", F.lit(1)).otherwise(F.lit(0)),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    coded = ev.withColumn("touch_code", F.max(touch_code).over(w))
    channel = (
        F.when(
            F.col("touch_code").isNull()
            | (F.col("ts_us") - F.floor(F.col("touch_code") / 2) > ATTR_WINDOW_US),
            "organic",
        )
        .when(F.col("touch_code") % 2 == 1, "view")
        .otherwise("click")
    )
    return (
        coded.filter(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("value").cast("double").alias("total_value"),
        )
    )


@register(
    "rel_dq_audit",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'documents_docid_unique',
           (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
             (SELECT COUNT(*) AS n FROM documents GROUP BY doc_id) g
            WHERE n > 1)
    UNION ALL
    SELECT 'events_value_not_null',
           (SELECT COUNT(*) FROM events WHERE value IS NULL)
    UNION ALL
    SELECT 'events_ts_in_range',
           (SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '2000-01-01' OR ts > TIMESTAMP '2100-01-01')
    """,
    tags=("relational", "M5", "quality", "audit"),
    doc="Data-quality audit — an expectation suite as ONE declarative "
    "query: referential integrity (anti-join counts, never a "
    "row-by-row lookup), range checks (pushed scan predicates), key "
    "uniqueness (partial-agg duplicate count), null and bounds "
    "checks. Each check is a scalar aggregate; the union is a 6-row "
    "report a pipeline gates on before publishing a snapshot.",
)
def rel_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), F.col("n_violations").cast("long")
        )

    fk_orders = check(
        "orders_custkey_fk",
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    fk_lineitem = check(
        "lineitem_orderkey_fk",
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    qty_range = check(
        "lineitem_quantity_range",
        lineitem.filter(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    uniq = check(
        "documents_docid_unique",
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("n_violations")),
    )
    nn = check(
        "events_value_not_null",
        ev.filter(F.col("value").isNull()).agg(
            F.count(F.lit(1)).alias("n_violations")
        ),
    )
    ts_range = check(
        "events_ts_in_range",
        ev.filter(
            (F.col("ts") < F.lit("2000-01-01").cast("timestamp"))
            | (F.col("ts") > F.lit("2100-01-01").cast("timestamp"))
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    return (
        fk_orders.unionAll(fk_lineitem)
        .unionAll(qty_range)
        .unionAll(uniq)
        .unionAll(nn)
        .unionAll(ts_range)
    )


PR_ITER = 3


def _duck_pr_iter(prev: str, out: str) -> str:
    """One unrolled PageRank iteration (exact integer arithmetic,
    mirroring operators/dedup.py::pagerank_int step for step)."""
    return f"""
    {out} AS (
      SELECT nd.node,
             (15 * ({PR_SCALE} // (SELECT n FROM nn))) // 100
             + (85 * COALESCE(s.s, 0)) // 100 AS r
      FROM nodes nd LEFT JOIN (
        SELECT b.u AS node, SUM(it.r // d.deg) AS s
        FROM bothe b
        JOIN {prev} it ON it.node = b.v
        JOIN deg d ON d.v = b.v
        GROUP BY b.u
      ) s ON s.node = nd.node
    )"""


@register(
    "dd_pagerank_dupgraph",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    bothe AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM bothe GROUP BY v),
    nodes AS (SELECT DISTINCT u AS node FROM bothe),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (
      SELECT node, {PR_SCALE} // (SELECT n FROM nn) AS r FROM nodes
    ),{_duck_pr_iter("it0", "it1")},{_duck_pr_iter("it1", "it2")},{_duck_pr_iter("it2", "it3")}
    SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM it{PR_ITER}
    """,
    tags=("dedup", "M5", "graph", "iterative", "pagerank"),
    doc=f"PageRank over the MinHash-LSH duplicate graph ({PR_ITER} "
    "iterations, damping 0.85) in integer fixed-point (ranks scaled "
    "by 1e12, every step an exact integral DIV in a fixed order) — "
    "bit-identical across engines AND cluster sizes, where float "
    "PageRank drifts with summation order. The Spark side is a "
    "distributed join+agg loop (operators/dedup.py::pagerank_int, "
    "same checkpoint discipline as connected_components); the oracle "
    "unrolls the identical iterations as chained CTEs, so even this "
    "iterative operator is hash-checked. Rank centrality over a dup "
    "graph surfaces hub documents (templates quoted everywhere) that "
    "pairwise scores miss.",
)
def dd_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        pagerank_int,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
        F.col("est_jaccard") >= 0.9
    )
    return pagerank_int(pairs, n_iter=PR_ITER)


IDX_MIN_DF = 50
IDX_POSTINGS_CAP = 20


@register(
    "ret_build_index",
    oracle=f"""
    WITH {_DUCK_TOKS},
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    )
    SELECT term,
           COUNT(*) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(
             list_slice(list_sort(list(doc_id)), 1, {IDX_POSTINGS_CAP}), ','
           ) AS head_postings
    FROM tf
    GROUP BY term
    HAVING COUNT(*) >= {IDX_MIN_DF}
    """,
    tags=("retrieval", "text", "M5", "index"),
    doc=f"Inverted-index construction: per-term document frequency, "
    "corpus frequency and the postings list (sorted doc ids, head "
    f"capped at {IDX_POSTINGS_CAP} for output size; production writes "
    "the full list bucketed by term). One (doc, term) partial-agg "
    "then one term-partitioned agg — postings assembly per term is "
    "collect+sort, bounded by that term's df, which is exactly the "
    "state an index shard holds; df-hot stopword terms are the known "
    "skew and get df-capped or elided by the stopword list at scale.",
)
def ret_build_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tf = _tokens(docs).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            # serialized to a string: collection-typed output cells
            # crash the driver's pandas sort_values canonicalization
            # (CORRECTNESS_r03 'unhashable type: list'), so postings
            # heads ship as a comma-joined string on both sides
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, IDX_POSTINGS_CAP
                ),
                ",",
            ).alias("head_postings"),
        )
        .filter(F.col("df") >= IDX_MIN_DF)
    )


STATS_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _duck_col_stats(c: str) -> str:
    # integer cents: quantile interpolation over BIGINTs at quarter
    # positions is EXACT in double (a*(3/4)+b*(1/4) — all terms exact
    # multiples of 0.25 under 2^53), so both engines agree bitwise;
    # the final /100.0 is one correctly-rounded identical op
    v = f"CAST(round({c} * 100) AS BIGINT)"
    return f"""
    SELECT '{c}' AS col_name,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT {v}) AS ndv,
           CAST(MIN({v}) AS DOUBLE) / 100.0 AS min_v,
           CAST(MAX({v}) AS DOUBLE) / 100.0 AS max_v,
           quantile_cont({v}, 0.25) / 100.0 AS p25,
           quantile_cont({v}, 0.5) / 100.0 AS p50,
           quantile_cont({v}, 0.75) / 100.0 AS p75
    FROM lineitem"""


@register(
    "rel_column_stats",
    oracle=" UNION ALL ".join(_duck_col_stats(c) for c in STATS_COLS),
    tags=("relational", "M5", "statistics", "audit"),
    doc="ANALYZE-style column statistics collection: per-column row "
    "count, null count, exact NDV, min/max and exact quartiles — the "
    "stats a cost-based optimizer (or a data profiler) materializes "
    "per table. Values quantized to DECIMAL cents so quartile "
    "interpolation lands on exact halves in both engines; each "
    "column's pass is one aggregate over the scan (a production "
    "ANALYZE computes all columns in one pass with sketches — "
    "rel_approx_distinct / rel_approx_percentile are those kernels).",
)
def rel_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def one(c: str) -> DataFrame:
        v = F.round(F.col(c) * 100).cast("long")
        cents = f"CAST(round({c} * 100) AS BIGINT)"
        return li.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
            F.countDistinct(v).alias("ndv"),
            (F.min(v).cast("double") / 100.0).alias("min_v"),
            (F.max(v).cast("double") / 100.0).alias("max_v"),
            F.expr(f"percentile({cents}, 0.25) / 100.0").alias("p25"),
            F.expr(f"percentile({cents}, 0.5) / 100.0").alias("p50"),
            F.expr(f"percentile({cents}, 0.75) / 100.0").alias("p75"),
        ).select(F.lit(c).alias("col_name"), "n", "n_null", "ndv",
                 "min_v", "max_v", "p25", "p50", "p75")

    out = one(STATS_COLS[0])
    for c in STATS_COLS[1:]:
        out = out.unionAll(one(c))
    return out


_NIBBLES = "0123456789ABCDEF"


@register(
    "mm_bytes_entropy",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
             CAST(length(hex(CAST(text AS BLOB))) AS BIGINT) AS n
      FROM documents
    )
    SELECT doc_id, n AS n_nibbles,
           round(0.0 - ({" + ".join(
               f"CASE WHEN length(hx) > length(replace(hx, '{c}', '')) THEN "
               f"(CAST(length(hx) - length(replace(hx, '{c}', '')) AS DOUBLE) / n)"
               f" * log2(CAST(length(hx) - length(replace(hx, '{c}', '')) AS DOUBLE) / n)"
               f" ELSE 0.0 END"
               for c in _NIBBLES)}), 6) AS entropy_bits
    FROM h
    """,
    tags=("multimodal", "M5", "quality"),
    doc="Byte-level entropy of binary payloads via the hex-nibble "
    "distribution (0..4 bits/nibble): the randomness feature a "
    "multimodal curation pass uses to split already-compressed media "
    "from structured/padded payloads without decoding. Pure map-side "
    "string ops in whole-stage codegen — 16 replace+length probes per "
    "row, zero shuffles; the 16-term entropy sum runs in one fixed "
    "order so both engines emit identical doubles (log2 wobble "
    "absorbed by round-6).",
)
def mm_bytes_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.multimodal import attach_binary

    media = attach_binary(load(spark, sf_dir, "documents"))
    hx = F.hex(F.col("payload"))
    n = F.length(hx).cast("long")
    terms = []
    for c in _NIBBLES:
        cnt = (F.length(hx) - F.length(F.replace(hx, F.lit(c), F.lit("")))).cast(
            "double"
        )
        p = cnt / n
        terms.append(F.when(cnt > 0, p * F.log2(p)).otherwise(F.lit(0.0)))
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return media.select(
        "doc_id",
        n.alias("n_nibbles"),
        F.round(F.lit(0.0) - acc, 6).alias("entropy_bits"),
    )


@register(
    "win_ratio_to_report",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
           CAST(total AS DOUBLE) AS total,
           round(CAST(total AS DOUBLE)
                 / CAST(SUM(total) OVER (PARTITION BY d) AS DOUBLE), 6) AS day_share
    FROM daily
    """,
    tags=("window", "analytics", "M5"),
    doc="Ratio-to-report: each (day, type) total as a share of its "
    "day's grand total — the mix-shift view every ops dashboard "
    "carries. The share window partitions by day over the already-"
    "aggregated rollup (rows per partition = number of types), so the "
    "window state is tiny no matter how many raw events feed the "
    "rollup; shares divide exact DECIMAL sums, rounded to 1e-6.",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.sum(F.col("value").cast(MONEY)).alias("total"))
    w = W.partitionBy("d")
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("total").cast("double").alias("total"),
        F.round(
            F.col("total").cast("double")
            / F.sum("total").over(w).cast("double"),
            6,
        ).alias("day_share"),
    )


@register(
    "dd_lsh_calibration",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {_duck_match_frac()} AS est_jaccard
      {_DUCK_BAND_PAIRS}
    ),
    cand1 AS (
      SELECT DISTINCT doc_a, doc_b, est_jaccard FROM cand
    ),
    {_duck_shingles_cte("j", with_hashed=False)},
    jsizes AS (SELECT doc_id, COUNT(*) AS set_size FROM jsh GROUP BY doc_id),
    jshared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM jsh a JOIN jsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT s.doc_a, s.doc_b,
             CAST(s.shared AS DOUBLE)
             / (sa.set_size + sb.set_size - s.shared) AS jaccard
      FROM jshared s
      JOIN jsizes sa ON sa.doc_id = s.doc_a
      JOIN jsizes sb ON sb.doc_id = s.doc_b
    )
    SELECT CAST(round(c.est_jaccard * 16) AS BIGINT) AS est_sixteenths,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(round(COALESCE(e.jaccard, 0.0), 4) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_exact
    FROM cand1 c LEFT JOIN exact e
      ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    GROUP BY 1
    """,
    tags=("dedup", "M5", "minhash", "lsh", "evaluation"),
    doc="LSH estimator calibration: candidate pairs bucketed by their "
    "MinHash-estimated Jaccard (exact sixteenths — k=16 matching "
    "components), with pair counts and the summed exact Jaccard per "
    "bucket (quantized DECIMAL so the sum is order-free). Reading "
    "est vs exact per bucket is how you choose band/row parameters; "
    "complements dd_lsh_recall (which scores only the >= 0.9 truth).",
)
def dd_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import (
        exploded_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    # exact Jaccard ONLY for candidate pairs: join each side's shingle
    # SET onto the pair and intersect per row — O(candidates x
    # set_size), never the uncapped inverted-index all-pairs join
    # (which is the round-2 dd_lsh_recall escape in disguise: it ran
    # >580 s at the 50x probe while the candidate set itself stays
    # linear; this shape finishes in ~2 min there, identical values).
    # The oracle keeps the brute all-pairs exact side — same numbers,
    # since only candidate pairs are consumed.
    sets = (
        exploded_shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("_shs"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("_shs").alias("_sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("_shs").alias("_sb"))
    shared = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size("_sa") + F.size("_sb") - shared
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            (shared.cast("double") / union).alias("jaccard"),
        )
    )
    return (
        scored
        .groupBy(
            F.round(F.col("est_jaccard") * 16).cast("long").alias("est_sixteenths")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.round(F.coalesce("jaccard", F.lit(0.0)), 4).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("sum_exact"),
        )
    )


@register(
    "dd_cluster_size_hist",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    members AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM members GROUP BY cluster_id
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    tags=("dedup", "M5", "minhash", "lsh", "iterative", "evaluation"),
    doc="Duplicate-cluster size distribution: how many clusters of "
    "each size the corpus holds and how many documents they cover — "
    "the one-glance duplication profile (mass in size-1 = unique "
    "corpus; a fat tail = template farms). Two partial-agg shuffles "
    "over the cluster assignment.",
)
def dd_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = (
        dd_duplicate_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


@register(
    "sim_mutual_knn",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {duck_quantize('embedding')} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, qvec, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    ),
    {_KNN_NP_CTE},
    {_KNN_BUCKETED_CTE},
    knn AS (
      SELECT src, dst, cosine FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {duck_cosine(duck_dot('a.qvec', 'b.qvec'), 'a.qnorm', 'b.qnorm')} AS cosine,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {duck_cosine(duck_dot('a.qvec', 'b.qvec'), 'a.qnorm', 'b.qnorm')} DESC,
                          b.vec_id) AS rank
        FROM bucketed a JOIN bucketed b
          ON a.rp_bucket = b.rp_bucket AND a.vec_id <> b.vec_id
      ) WHERE rank <= {KNN_K}
    )
    SELECT a.src AS id_a, a.dst AS id_b, a.cosine
    FROM knn a JOIN knn b ON b.src = a.dst AND b.dst = a.src
    WHERE a.src < a.dst
    """,
    tags=("similarity", "M5", "ann", "lsh", "graph"),
    doc="Mutual k-NN edges: keep only pairs where EACH side ranks the "
    "other in its top-3 — the symmetric graph density-based clustering "
    "and dedup actually build on (one-directional neighbors of a hub "
    "are noise; mutual edges are the high-precision core). One "
    "self-join of the k-NN edge list on the reversed pair. Plane count "
    "self-scales with corpus size exactly as sim_knn_graph (formula "
    "mirrored in the oracle's np CTE).",
)
def sim_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import knn_graph

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    # materialize the k-NN edge list ONCE so both sides of the
    # mutuality self-join consume the same tiny k-rows-per-vector
    # table by construction (AQE exchange reuse usually dedupes the
    # subtree anyway — measured 184 s -> 176 s at the 20x probe — but
    # the checkpoint makes single evaluation a guarantee, not a
    # planner outcome; the dominant cost is the one bucketed cosine
    # pass itself, governed by the plane-count knob)
    knn = (
        knn_graph(emb, _knn_planes(spark, sf_dir), k=KNN_K)
        .select("src", "dst", "cosine")
        .localCheckpoint(eager=False)
    )
    rev = knn.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return (
        knn.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "cosine"
        )
    )


@register(
    "win_wow_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS wk,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(wk, '%Y-%m-%d') AS week_start,
           CAST(total AS DOUBLE) AS total,
           CAST(lag(total) OVER w AS DOUBLE) AS prev_total,
           round(CAST(total AS DOUBLE)
                 / CAST(lag(total) OVER w AS DOUBLE) - 1.0, 6) AS wow_growth
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY wk)
    """,
    tags=("window", "analytics", "M5"),
    doc="Week-over-week growth per series from the weekly rollup: "
    "lag(1) + ratio, the standard trend KPI. First week's growth is "
    "NULL (no prior); window partitions hold one row per week of the "
    "series. Exact DECIMAL weekly sums; the growth ratio divides "
    "identical doubles in both engines, rounded to 1e-6.",
)
def win_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(F.sum(F.col("value").cast(MONEY)).alias("total"))
    w = W.partitionBy("event_type").orderBy("wk")
    prev = F.lag("total").over(w)
    return weekly.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        F.col("total").cast("double").alias("total"),
        prev.cast("double").alias("prev_total"),
        F.round(
            F.col("total").cast("double") / prev.cast("double") - F.lit(1.0), 6
        ).alias("wow_growth"),
    )


DD_CURVE_THRESHOLDS = (0.6, 0.7, 0.8, 0.9)


@register(
    "dd_threshold_curve",
    oracle=f"""
    WITH curve_sample AS (
      SELECT doc_id, text FROM documents WHERE {_LSH_SAMPLE_PRED}
    ),
    {_duck_shingles_cte(with_hashed=False, source="curve_sample")},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT s.doc_a, s.doc_b,
             CAST(s.shared AS DOUBLE)
             / (sa.set_size + sb.set_size - s.shared) AS jaccard
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.doc_a
      JOIN sizes sb ON sb.doc_id = s.doc_b
    )
    {" UNION ALL ".join(
        f"SELECT CAST({t!r} AS DOUBLE) AS threshold, "
        f"(SELECT COUNT(*) FROM exact WHERE jaccard >= {t!r}) AS n_pairs, "
        f"(SELECT COUNT(DISTINCT doc_b) FROM exact WHERE jaccard >= {t!r}) AS n_docs_flagged"
        for t in DD_CURVE_THRESHOLDS)}
    """,
    tags=("dedup", "M5", "jaccard", "evaluation"),
    doc="Dedup aggressiveness curve: pair count and flagged-doc count "
    "(higher id of each pair, first-wins convention) at Jaccard "
    "thresholds 0.6-0.9 from ONE pass of the exact pair statistics — "
    "the knob-setting view a curation owner reads before fixing a "
    "production threshold. ONE pass, literally: per-doc_b partial "
    "aggregation carries the per-threshold pair counts AND the max "
    "Jaccard (doc flagged at t iff its max pair Jaccard >= t — "
    "identical semantics to COUNT(DISTINCT) per threshold), so the "
    "expensive pair subtree appears once and the shuffle carries one "
    "row per flagged doc, not one per (pair x threshold). The "
    "earlier union-of-per-threshold-aggregates shape re-ran the pair "
    "join per threshold (~500 s at the 20x probe vs the ~250 s "
    "inherent pair cost). The pair truth is inherently pairwise, so "
    "like dd_lsh_recall the declared query RUNS on the deterministic "
    "uniform 50% doc sample (same md5 predicate, mirrored in the "
    "oracle) — threshold tuning on a uniform slice is the standard "
    "practice the old docstring only referenced; the curve's SHAPE "
    "is what the knob-setter reads, and it is sample-invariant in "
    "expectation.",
)
def dd_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *LSH_RECALL_SAMPLE_HEX
        )
    )
    exact = shingle_pair_counts(docs).select(
        "doc_b",
        (
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared"))
        ).alias("jaccard"),
    )
    per_doc = exact.groupBy("doc_b").agg(
        F.max("jaccard").alias("mj"),
        *[
            F.sum((F.col("jaccard") >= t).cast("long")).alias(f"np_{i}")
            for i, t in enumerate(DD_CURVE_THRESHOLDS)
        ],
    )
    row = per_doc.agg(
        *[F.sum(f"np_{i}").alias(f"np_{i}") for i in range(len(DD_CURVE_THRESHOLDS))],
        *[
            F.sum((F.col("mj") >= t).cast("long")).alias(f"nd_{i}")
            for i, t in enumerate(DD_CURVE_THRESHOLDS)
        ],
    )
    # 4 literal rows out of the single aggregate row; coalesce keeps
    # the full curve even over an empty pair set (sum() over empty is
    # NULL, the oracle emits 0)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), coalesce(np_{i}, CAST(0 AS BIGINT)), "
        f"coalesce(nd_{i}, CAST(0 AS BIGINT))"
        for i, t in enumerate(DD_CURVE_THRESHOLDS)
    )
    return row.selectExpr(
        f"stack({len(DD_CURVE_THRESHOLDS)}, {stack_args}) "
        "AS (threshold, n_pairs, n_docs_flagged)"
    )


K_ANON = 5


@register(
    "rel_k_anonymity",
    oracle=f"""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS n
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n
    FROM cells WHERE n < {K_ANON}
    """,
    tags=("relational", "M5", "privacy", "audit"),
    doc=f"k-anonymity audit (k={K_ANON}) over the quasi-identifier "
    "pair (lang, source): any equivalence class smaller than k is a "
    "re-identification risk a privacy review must resolve before the "
    "corpus ships (suppress, generalize, or merge the cell). One "
    "partial-agg shuffle on the quasi-identifier tuple; the output is "
    "the violation list itself (empty = pass), the same gate shape as "
    "rel_dq_audit and the complement of txt_pii_redact's value-level "
    "masking.",
)
def rel_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < K_ANON)
    )


@register(
    "rel_benford_check",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM obs)
    SELECT d AS first_digit, n,
           round(CAST(n AS DOUBLE) / (SELECT t FROM tot), 6) AS observed_p,
           round(log10(1.0 + 1.0 / d), 6) AS benford_p
    FROM obs
    """,
    tags=("relational", "M5", "statistics", "audit"),
    doc="Benford's-law first-digit check over order totals — the "
    "classic fabricated-data / pipeline-corruption smoke test: "
    "observed first-digit shares vs log10(1 + 1/d). First digit "
    "extracted through integer-string truncation (no log-of-value "
    "float path, so binning is exact); shares and the reference curve "
    "round at 1e-6. Map-side digit extraction + one 9-group agg.",
)
def rel_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # explicit floor: Spark's double->bigint cast truncates while
    # DuckDB's ROUNDS, so a bare cast flips first digits at 9xx99.99+
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    return obs.join(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("observed_p"),
        F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d")), 6).alias("benford_p"),
    )


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 600_000.0, 20
_HIST_W = (HIST_HI - HIST_LO) / HIST_BUCKETS


@register(
    "rel_histogram_equiwidth",
    oracle=f"""
    SELECT bucket,
           CAST({HIST_LO!r} + bucket * {_HIST_W!r} AS DOUBLE) AS lo,
           CAST({HIST_LO!r} + (bucket + 1) * {_HIST_W!r} AS DOUBLE) AS hi,
           COUNT(*) AS n
    FROM (
      SELECT least(CAST(floor((o_totalprice - {HIST_LO!r}) / {_HIST_W!r}) AS BIGINT),
                   {HIST_BUCKETS - 1}) AS bucket
      FROM orders
      WHERE o_totalprice >= {HIST_LO!r} AND o_totalprice <= {HIST_HI!r}
    ) GROUP BY bucket
    """,
    tags=("relational", "M5", "statistics"),
    doc=f"Equi-width histogram ({HIST_BUCKETS} buckets over "
    "[0, 600k]) of order totals — the value-distribution profile "
    "complementing rel_column_stats' quantiles; fixed published "
    "bounds so bucketing needs no pre-pass and stays map-side (one "
    "partial-agg shuffle of at most bucket-count groups). The top "
    "edge folds into the last bucket (least()), matching both "
    "engines' floor semantics on identical doubles.",
)
def rel_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor((F.col("o_totalprice") - HIST_LO) / _HIST_W).cast("long"),
        F.lit(HIST_BUCKETS - 1).cast("long"),
    )
    return (
        orders.filter(
            (F.col("o_totalprice") >= HIST_LO) & (F.col("o_totalprice") <= HIST_HI)
        )
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(HIST_LO) + F.col("bucket") * _HIST_W).alias("lo"),
            (F.lit(HIST_LO) + (F.col("bucket") + 1) * _HIST_W).alias("hi"),
            "n",
        )
    )


VOCAB_TOP_N = 1000


@register(
    "txt_vocab_coverage",
    oracle=f"""
    WITH {_DUCK_TOKS},
    counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
    topv AS (
      SELECT n FROM counts ORDER BY n DESC, term LIMIT {VOCAB_TOP_N}
    )
    SELECT (SELECT COUNT(*) FROM counts) AS vocab_size,
           (SELECT t FROM total) AS total_tokens,
           CAST((SELECT SUM(n) FROM topv) AS BIGINT) AS covered_tokens,
           round(CAST((SELECT SUM(n) FROM topv) AS DOUBLE)
                 / (SELECT t FROM total), 6) AS coverage
    """,
    tags=("text", "M5", "statistics"),
    doc=f"Vocabulary coverage: what share of all corpus tokens the "
    f"top-{VOCAB_TOP_N} terms cover — the number that sizes a "
    "tokenizer vocabulary or a stopword list. One term-count "
    "partial agg, a TakeOrdered top-N (k rows to the driver), and "
    "two scalar aggregates; no windows.",
)
def txt_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = _tokens(docs).groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("n").cast("long").alias("total_tokens"),
    )
    topv = (
        counts.orderBy(F.col("n").desc(), "term")
        .limit(VOCAB_TOP_N)
        .agg(F.sum("n").cast("long").alias("covered_tokens"))
    )
    return total.join(topv).select(
        "vocab_size",
        "total_tokens",
        "covered_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("coverage"),
    )


# ------------------------------------------------- int8 scalar quantization

SQ8_MAX = 127.0

_DUCK_SQ8_CTES = f"""
s8 AS (
  SELECT vec_id,
         {SQ8_MAX!r} / greatest(
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           1e-9) AS scale,
         embedding
  FROM embeddings
),
q8 AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS qv
  FROM s8
),
q8n AS (
  SELECT vec_id, qv, {duck_dot('qv', 'qv')} AS qn FROM q8
)"""


@register(
    "sim_sq8_recall",
    oracle=f"""
    WITH {_DUCK_Q_CTE},
    {_DUCK_SQ8_CTES},
    bf AS (
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {_DUCK_SCORE} DESC, c.vec_id) AS rank
        FROM qn p JOIN qn c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < {N_PROBES}
      ) WHERE rank <= {TOP_K}
    ),
    sq AS (
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {duck_cosine(duck_dot('p.qv', 'c.qv'), 'p.qn', 'c.qn')} DESC,
                                           c.vec_id) AS rank
        FROM q8n p JOIN q8n c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < {N_PROBES}
      ) WHERE rank <= {TOP_K}
    )
    SELECT bf.probe_id,
           CAST(SUM(CASE WHEN s.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
           round(SUM(CASE WHEN s.cand_id IS NULL THEN 0.0 ELSE 1.0 END) / {TOP_K}, 4)
             AS recall_at_k
    FROM bf LEFT JOIN sq s
      ON s.probe_id = bf.probe_id AND s.cand_id = bf.cand_id
    GROUP BY bf.probe_id
    """,
    tags=("similarity", "M5", "ann", "eval", "bench"),
    doc=f"int8 scalar-quantization recall: each vector is affinely "
    "quantized to 8-bit codes with a per-vector max-abs scale (the "
    "classic SQ8 index compression — 4x fewer bytes than fp32, so a "
    "scan-bound brute-force pass at 100 TB reads a quarter of the "
    "I/O), then recall@k of the quantized ranking is measured against "
    "the exact baseline per probe — the same accept/reject gate shape "
    "as sim_ivf_recall, for the compression axis instead of the "
    "partition-pruning axis. Per-vector scales cancel in cosine, so "
    "SQ8 error comes only from the rounding, which this query "
    "quantifies. Deterministic: scale is one IEEE division off an "
    "exact max-abs; codes are exact ints; code dot products are exact "
    "int64; ranking totals order by (cosine DESC, cand_id).",
)
def sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.vectors import norm_sq

    emb = load(spark, sf_dir, "embeddings")
    exact = with_quantized(emb)
    maxabs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scale = F.lit(SQ8_MAX) / F.greatest(maxabs, F.lit(1e-9))
    q8 = (
        emb.withColumn(
            "qvec",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
            ),
        )
        .withColumn("qnorm", norm_sq(F.col("qvec")))
    )
    bf = brute_force_topk(
        exact, exact.filter(F.col("vec_id") < N_PROBES), k=TOP_K
    ).select("probe_id", "cand_id")
    sq = (
        brute_force_topk(q8, q8.filter(F.col("vec_id") < N_PROBES), k=TOP_K)
        .select("probe_id", "cand_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(sq, ["probe_id", "cand_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("double"))
                / F.lit(TOP_K),
                4,
            ).alias("recall_at_k"),
        )
    )


# --------------------------------------------- temperature-based source mix

MIX_ALPHA = 0.3


@register(
    "txt_mix_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS t, CAST(SUM(n) AS BIGINT) AS ti
      FROM counts
    ),
    w AS (
      SELECT lang, CAST(n AS BIGINT) AS n,
             CAST(round(pow(CAST(n AS DOUBLE) / (SELECT t FROM tot),
                            {MIX_ALPHA!r}), 8) AS DECIMAL(12,8)) AS wt
      FROM counts
    ),
    sw AS (SELECT SUM(wt) AS s FROM w)
    SELECT lang, n,
           CAST(wt AS DOUBLE) AS weight,
           round(CAST(wt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE), 6)
             AS share,
           CAST(round(round(CAST(wt AS DOUBLE) / CAST((SELECT s FROM sw) AS DOUBLE), 6)
                      * (SELECT ti FROM tot)) AS BIGINT) AS expected_docs
    FROM w
    """,
    tags=("text", "M5", "curation"),
    doc=f"Temperature-based language mixing (alpha={MIX_ALPHA}): "
    "sampling weights proportional to p^alpha — the standard "
    "multilingual-training rebalance that upsamples tail languages "
    "without letting any head language dominate (alpha=1 keeps the "
    "natural mix, alpha->0 approaches uniform). Output is the mixing "
    "table itself: per-language natural share, temperature weight, "
    "normalized share, and expected docs per epoch. One partial-agg "
    "shuffle over the corpus; everything after is per-language rows "
    "(tiny by construction). Applying the resulting keep/repeat rates "
    "back onto the scan is txt_lang_rebalance's map-side shape. "
    "Determinism: pow() is quantized at 1e-8 before the DECIMAL "
    "normalization sum (both engines' pow agree to ~1 ulp at 1e-17 — "
    "a 1e-8 rounding flip would need an exact boundary hit); shares "
    "round at 1e-6.",
)
def txt_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").cast("double").alias("t"), F.sum("n").cast("long").alias("ti")
    )
    w = counts.join(F.broadcast(tot)).select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.round(F.pow(F.col("n").cast("double") / F.col("t"), MIX_ALPHA), 8)
        .cast("decimal(12,8)")
        .alias("wt"),
        "ti",
    )
    sw = w.agg(F.sum("wt").alias("s"))
    share = F.round(
        F.col("wt").cast("double") / F.col("s").cast("double"), 6
    )
    return w.join(F.broadcast(sw)).select(
        "lang",
        "n",
        F.col("wt").cast("double").alias("weight"),
        share.alias("share"),
        F.round(share * F.col("ti"), 0).cast("long").alias("expected_docs"),
    )


# ------------------------------------------------------ map-side gate funnel

FUNNEL_LEN_LO, FUNNEL_LEN_HI = 100, 500
FUNNEL_LANGS = ("en", "es", "de", "fr")
_FUNNEL_LANGS_SQL = ", ".join(f"'{code}'" for code in FUNNEL_LANGS)


@register(
    "txt_curation_funnel",
    oracle=f"""
    WITH f AS (
      SELECT
        n_chars BETWEEN {FUNNEL_LEN_LO} AND {FUNNEL_LEN_HI} AS g1,
        lang IN ({_FUNNEL_LANGS_SQL}) AS g2,
        len(list_distinct({duck_cased_word_tokens("text")})) * 2
          >= {duck_word_count("text")} AS g3,
        NOT ({" OR ".join(f"contains(text, '{p}')" for p in BLOCKLIST)}) AS g4
      FROM documents
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
      FROM f
    )
    SELECT 0 AS stage_idx, 'ingest' AS stage, s0 AS survivors, CAST(0 AS BIGINT) AS dropped FROM a
    UNION ALL SELECT 1, 'length', s1, s0 - s1 FROM a
    UNION ALL SELECT 2, 'lang_whitelist', s2, s1 - s2 FROM a
    UNION ALL SELECT 3, 'uniq_tokens', s3, s2 - s3 FROM a
    UNION ALL SELECT 4, 'blocklist', s4, s3 - s4 FROM a
    """,
    tags=("text", "M5", "curation", "report"),
    doc="Curation funnel report: the per-gate survivor/drop counts a "
    "pipeline owner reads to see WHERE documents die — length bounds, "
    "language whitelist, unique-token ratio (>=0.5, compared as "
    "integer cross-multiplication so no division is involved), and "
    "the blocklist phrase gate, applied cumulatively in that order. "
    "All four gates are map-side column expressions over one scan; "
    "the whole funnel is ONE aggregate of conditional sums (no "
    "per-stage re-scan), then five literal rows. At 100 TB this is "
    "the cheapest possible shape: scan once, partial-agg to a single "
    "row.",
)
def txt_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = cased_word_tokens(F.col("text"))
    g1 = F.col("n_chars").between(FUNNEL_LEN_LO, FUNNEL_LEN_HI)
    g2 = F.col("lang").isin(*FUNNEL_LANGS)
    g3 = F.size(F.array_distinct(words)) * 2 >= F.size(words)
    g4 = ~sum(
        (F.col("text").contains(p).cast("int") for p in BLOCKLIST), F.lit(0)
    ).cast("boolean")
    cnt = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    a = docs.agg(
        F.count(F.lit(1)).alias("s0"),
        cnt(g1).alias("s1"),
        cnt(g1 & g2).alias("s2"),
        cnt(g1 & g2 & g3).alias("s3"),
        cnt(g1 & g2 & g3 & g4).alias("s4"),
    )
    return a.selectExpr(
        "stack(5, "
        "0, 'ingest',         s0, CAST(0 AS BIGINT), "
        "1, 'length',         s1, s0 - s1, "
        "2, 'lang_whitelist', s2, s1 - s2, "
        "3, 'uniq_tokens',    s3, s2 - s3, "
        "4, 'blocklist',      s4, s3 - s4) "
        "AS (stage_idx, stage, survivors, dropped)"
    )


# ------------------------------------------------- EWMA smoothing (dyadic)

EWMA_LAGS = 12  # truncated exponential lookback, half-life = 1 bucket
_EWMA_WEIGHTS = [(j, 0.5 ** (j + 1)) for j in range(EWMA_LAGS)]
_EWMA_VALUES_SQL = ", ".join(f"({j}, {w!r})" for j, w in _EWMA_WEIGHTS)


@register(
    "win_ewma_halflife",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS h_idx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, MIN(h_idx) AS h0, MAX(h_idx) AS h1 FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT event_type, h0 + unnest(range(h1 - h0 + 1)) AS h_idx FROM spans
    ),
    dense AS (
      SELECT s.event_type, s.h_idx, COALESCE(h.n, 0) AS n
      FROM spine s LEFT JOIN hourly h
        ON h.event_type = s.event_type AND h.h_idx = s.h_idx
    ),
    lags(lag, w) AS (VALUES {_EWMA_VALUES_SQL}),
    agg AS (
      SELECT event_type, h_idx + lag AS target,
             SUM(n * w) AS num, SUM(w) AS den
      FROM dense, lags GROUP BY 1, 2
    )
    SELECT d.event_type,
           strftime(make_timestamp(d.h_idx * 3600 * 1000000), '{TS_FMT_DUCK}')
             AS window_start,
           d.n,
           a.num / a.den AS ewma
    FROM dense d JOIN agg a
      ON a.event_type = d.event_type AND a.target = d.h_idx
    """,
    tags=("window", "timeseries", "M5", "analytics", "bench"),
    doc=f"Exponentially-weighted moving average (half-life = 1 bucket, "
    f"lookback truncated at {EWMA_LAGS}) over the dense hourly event "
    "count spine — the smoothing pass feeding alerting/trend views. "
    "The EWMA recurrence is order-dependent and therefore hostile to "
    "distributed execution; unrolling it to a fixed-depth weighted "
    "sum (truncation error <= 2^-12 relative, folded into the metric "
    "definition) turns it into a bounded 12x lag-replication "
    "EQUI-join + one partial agg — no window, no sequential scan, "
    "per-target state is 12 rows at any corpus width. Early buckets "
    "renormalize over the weights actually present. Bit-deterministic "
    "by construction: weights are dyadic (2^-(j+1)) literals, counts "
    "are integers, so every product and partial sum is exact in "
    "double at any addition order (< 52 significant bits).",
)
def win_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.date_trunc("hour", "ts")) / F.lit(3600))
        .cast("long")
        .alias("h_idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    spans = hourly.groupBy("event_type").agg(
        F.min("h_idx").alias("h0"), F.max("h_idx").alias("h1")
    )
    spine = spans.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h_idx")
    )
    # NOT pinned (r12 measured negative): the densified series has two
    # consumers, but an interleaved warm A/B at sf0.1 read the
    # localCheckpoint variant at 0.94 s vs 0.72 s unpinned (5 reps,
    # consistent) — the rollup lineage is cheap narrow aggregation that
    # pipelines under AQE, while the pin adds a serial materialization
    # barrier AND evicts the query from the prepared-plan memo. The
    # scan fanout (8 visible) is re-scan of pruned event columns, the
    # cheaper side of the materialize/recompute trade here.
    dense = spine.join(hourly, ["event_type", "h_idx"], "left").select(
        "event_type", "h_idx", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    lags = spark.createDataFrame(_EWMA_WEIGHTS, "lag INT, w DOUBLE")
    agg = (
        dense.join(F.broadcast(lags))
        .groupBy(
            F.col("event_type").alias("agg_type"),
            (F.col("h_idx") + F.col("lag")).alias("target"),
        )
        .agg(F.sum(F.col("n") * F.col("w")).alias("num"), F.sum("w").alias("den"))
    )
    return dense.join(
        agg,
        (F.col("event_type") == F.col("agg_type"))
        & (F.col("h_idx") == F.col("target")),
    ).select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("h_idx") * 3600), TS_FMT_SPARK
        ).alias("window_start"),
        "n",
        (F.col("num") / F.col("den")).alias("ewma"),
    )


# ------------------------------------------- deterministic weighted sampling

WSAMP_K = 100
WSAMP_SALT = "wsamp42:"


@register(
    "txt_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             round(
               -ln((({duck_md5_i32(f"'{WSAMP_SALT}' || CAST(doc_id AS VARCHAR)")}) % 1000000 + 1)
                   / 1000001.0)
               / n_chars, 10) AS priority
      FROM documents
    )
    SELECT doc_id, weight, priority FROM keyed
    ORDER BY priority, doc_id LIMIT {WSAMP_K}
    """,
    tags=("text", "M5", "curation", "sampling"),
    doc=f"Weighted sampling without replacement (top-{WSAMP_K}, "
    "weight = document length): the exponential-keys / A-ES scheme — "
    "priority = -ln(u)/w with u a deterministic per-doc hash uniform, "
    "smallest-k priorities win — so inclusion probability is "
    "proportional to weight, the sample is reproducible across runs "
    "and engines (no RNG), and the plan is one scan + a distributed "
    "TakeOrdered (per-partition partial top-k, k rows to the driver; "
    "no global sort materializes). This is the length-proportional "
    "subsample a training mix uses to hit a token budget rather than "
    "a document budget. Determinism: u has 1e-6 granularity from an "
    "exact integer hash, ln() agrees across engines to ~1 ulp and the "
    "priority is quantized at 1e-10 before ranking (ties then break "
    "by doc_id identically); swept at all three scale factors.",
)
def txt_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.hashing import md5_i32

    docs = load(spark, sf_dir, "documents")
    u = (
        (
            md5_i32(F.concat(F.lit(WSAMP_SALT), F.col("doc_id").cast("string")))
            % 1000000
            + 1
        )
        / F.lit(1000001.0)
    )
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.round(-F.log(u) / F.col("n_chars"), 10).alias("priority"),
    )
    return keyed.orderBy("priority", "doc_id").limit(WSAMP_K)


# --------------------------------------------------- privacy audit family

LDIV_L = 3  # minimum distinct sensitive values per QI cell
LDIV_SENS_BUCKET = 100  # sensitive attribute: length bucket of n_chars


@register(
    "rel_l_diversity",
    oracle=f"""
    SELECT lang, source, n, n_sensitive FROM (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT n_chars // {LDIV_SENS_BUCKET}) AS BIGINT)
               AS n_sensitive
      FROM documents GROUP BY lang, source
    ) WHERE n_sensitive < {LDIV_L}
    """,
    tags=("relational", "M5", "privacy", "audit"),
    doc=f"l-diversity audit (l={LDIV_L}) over the quasi-identifier "
    "pair (lang, source) with document-length bucket as the sensitive "
    "attribute: a cell all of whose members share too few distinct "
    "sensitive values leaks the attribute even when k-anonymity "
    "passes (the homogeneity attack) — the complement of "
    "rel_k_anonymity's size check. Same shape and cost: one "
    "partial-agg shuffle on the QI tuple, output is the violation "
    "list (empty = pass).",
)
def rel_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                F.floor(F.col("n_chars") / LDIV_SENS_BUCKET)
            ).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < LDIV_L)
    )


DP_EPS = 1.0  # count sensitivity 1 => Laplace scale b = 1/eps
DP_SALT = "dp42:"


@register(
    "rel_dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    unif AS (
      SELECT lang, n,
             (({duck_md5_i32(f"'{DP_SALT}' || lang")}) % 1000000 + 0.5)
               / 1000000.0 - 0.5 AS u
      FROM counts
    )
    SELECT lang, n,
           round(-{1.0 / DP_EPS!r} * sign(u) * ln(1 - 2 * abs(u)), 6) AS noise,
           round(n + round(-{1.0 / DP_EPS!r} * sign(u) * ln(1 - 2 * abs(u)), 6), 6)
             AS noisy_n
    FROM unif
    """,
    tags=("relational", "M5", "privacy"),
    doc=f"Laplace-mechanism noisy counts (eps={DP_EPS}, count "
    "sensitivity 1, scale b=1/eps) over per-language document counts "
    "— the differential-privacy release shape for published corpus "
    "statistics. Noise comes from the inverse-CDF transform of a "
    "SEEDED per-key hash uniform, so the release is reproducible and "
    "both engines agree bit-for-bit; a production eps-DP release "
    "draws fresh randomness per publication (a seeded release is "
    "only as private as the seed), so what this query demonstrates "
    "is the mechanism and its plan shape: one partial-agg shuffle, "
    "noise applied map-side to the tiny aggregate. ln() agrees "
    "across engines to ~1 ulp and is rounded at 1e-6 (same argument "
    "as txt_weighted_sample).",
)
def rel_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.hashing import md5_i32

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    u = (
        (md5_i32(F.concat(F.lit(DP_SALT), F.col("lang"))) % 1000000 + 0.5)
        / F.lit(1000000.0)
        - 0.5
    )
    noise = F.round(
        F.lit(-1.0 / DP_EPS) * F.signum(u) * F.log(1 - 2 * F.abs(u)), 6
    )
    return counts.select(
        "lang",
        "n",
        noise.alias("noise"),
        F.round(F.col("n") + noise, 6).alias("noisy_n"),
    )


# ------------------------------------------- per-doc similarity neighbors

DOC_SIM_K = 3
DOC_SIM_MIN_J = 0.1
DOC_SIM_DF_CAP = 50


@register(
    "dd_doc_sim_topk",
    oracle=f"""
    WITH {_duck_shingles_cte("", with_hashed=False)},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    keep AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh JOIN dfreq USING (shingle) WHERE dfreq.df <= {DOC_SIM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM keep GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM keep a JOIN keep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
               CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared)
                 AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
      ) WHERE jaccard >= {DOC_SIM_MIN_J!r}
    ),
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS neighbor, jaccard FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, jaccard FROM pairs
    )
    SELECT doc_id, neighbor, jaccard, rank FROM (
      SELECT doc_id, neighbor, jaccard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY jaccard DESC, neighbor) AS rank
      FROM sym
    ) WHERE rank <= {DOC_SIM_K}
    """,
    tags=("dedup", "M5", "jaccard", "similarity"),
    doc=f"Per-document text-similarity neighbors: top-{DOC_SIM_K} most "
    f"similar documents by exact shingle Jaccard (>= {DOC_SIM_MIN_J} "
    "floor) — the lexical twin of sim_knn_graph's embedding k-NN, "
    "and the view a curation owner opens to inspect WHAT a flagged "
    "document nearly duplicates. Pair generation is the shared "
    "inverted-index operator (shingle_pair_counts — equi-join on "
    f"shingle, never a cross product) DF-CAPPED at {DOC_SIM_DF_CAP}: "
    "the 20x duplicate-heavy scale probe showed the uncapped join "
    "degrading quadratically (292 s vs ~1 s at 1x — every replicated "
    "shingle's posting list multiplies), and the cap bounds the join "
    "at df_cap x postings while dropping only boilerplate shingles "
    "that carry no similarity signal. Jaccard is over the capped "
    "sets on BOTH sides (intersections and sizes), so the metric "
    "stays an honest set Jaccard of the rare-shingle profile; the "
    "floor bounds each rank partition before the window.",
)
def dd_doc_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = shingle_pair_counts(docs, df_cap=DOC_SIM_DF_CAP).select(
        "doc_a",
        "doc_b",
        (
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= DOC_SIM_MIN_J)
    # symmetrize map-side: explode each pair into both orientations in
    # ONE pass. The previous unionAll of two selects re-planned the
    # whole inverted-index pair join per arm (no exchange reuse —
    # verified in the executed plan), doubling the expensive stage:
    # 16 → 9 corpus scans in the plan, sf0.1 cold 9.7 → 3.8 s.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("neighbor"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("neighbor"),
                ),
            )
        ).alias("e"),
        "jaccard",
    ).select("e.doc_id", "e.neighbor", "jaccard")
    w = W.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("neighbor"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DOC_SIM_K)
    )


# --------------------------------------------- b-bit MinHash (compression)

from sentiflow_spark.operators.dedup import NUM_PERM as _NUM_PERM


def _bit_frac_sql(num_perm: int) -> str:
    terms = " + ".join(
        f"CASE WHEN (sa.sig_{i} % 2) = (sb.sig_{i} % 2) THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    return f"({terms}) / {float(num_perm)!r}"


@register(
    "dd_minhash_1bit_est",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
    ),
    cand1 AS (SELECT DISTINCT doc_a, doc_b FROM cand)
    SELECT c.doc_a, c.doc_b,
           {_duck_match_frac('sa', 'sb')} AS est_full,
           greatest(0.0, 2 * {_bit_frac_sql(_NUM_PERM)} - 1) AS est_1bit
    FROM cand1 c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """,
    tags=("dedup", "M5", "minhash", "compression", "eval"),
    doc=f"1-bit (b-bit) MinHash estimation over the LSH candidate "
    f"pairs: keep only the low bit of each of the {_NUM_PERM} "
    "signature components — a 32x signature-storage compression "
    "(16 bits vs 16 int32s per doc), the textbook b-bit MinHash "
    "trade — and estimate Jaccard via the debiased matching-bit "
    "fraction J = max(0, 2*frac - 1) (non-matching minima agree on "
    "a random bit half the time). Emitting est_1bit next to the "
    "full-signature est_full on the SAME candidate pairs is the "
    "calibration view for adopting the compressed signatures: the "
    "text twin of sim_sq8_recall's compression-axis gate. Candidate "
    "generation is the shared banded equi-join (never a cross "
    "product); both estimators are exact sixteenth fractions, "
    "bit-identical across engines.",
)
def dd_minhash_1bit_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sigs).select("doc_a", "doc_b")
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(_NUM_PERM)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(_NUM_PERM)],
    )
    full_frac = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(_NUM_PERM)
    ) / F.lit(float(_NUM_PERM))
    bit_frac = sum(
        ((F.col(f"a_{i}") % 2) == (F.col(f"b_{i}") % 2)).cast("int")
        for i in range(_NUM_PERM)
    ) / F.lit(float(_NUM_PERM))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            full_frac.alias("est_full"),
            F.greatest(F.lit(0.0), 2 * bit_frac - 1).alias("est_1bit"),
        )
    )


# ------------------------------------- pseudo-relevance feedback retrieval

PRF_FB_K = 10  # feedback set: top-k BM25 docs for the original query
PRF_EXP_K = 5  # expansion terms mined from the feedback set


@register(
    "ret_prf_expansion",
    oracle=f"""
    WITH {_DUCK_TOKS},{_DUCK_BM25_CTES},
    fb AS (
      SELECT doc_id FROM (
        SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {PRF_FB_K}
      )
    ),
    exp AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS w FROM toks
      WHERE doc_id IN (SELECT doc_id FROM fb)
        AND term NOT IN ({_TERMS_SQL})
      GROUP BY term ORDER BY w DESC, term LIMIT {PRF_EXP_K}
    ),
    tf2 AS (
      SELECT t.doc_id, t.term, COUNT(*) AS tf
      FROM toks t JOIN exp e ON e.term = t.term
      GROUP BY 1, 2
    )
    SELECT doc_id, score_exp, rank FROM (
      SELECT f.doc_id,
             CAST(SUM(f.tf * e.w) AS BIGINT) AS score_exp,
             row_number() OVER (ORDER BY SUM(f.tf * e.w) DESC, f.doc_id)
               AS rank
      FROM tf2 f JOIN exp e ON e.term = f.term
      GROUP BY f.doc_id
    ) WHERE rank <= {PRF_FB_K}
    """,
    tags=("retrieval", "text", "M5"),
    doc=f"Pseudo-relevance feedback (RM1-style query expansion): run "
    f"BM25 for the fixed query, mine the top-{PRF_EXP_K} "
    f"non-query terms from its top-{PRF_FB_K} feedback documents "
    "(count-weighted — the RM1 MLE numerator over the feedback "
    "concatenation), then re-rank the corpus by the expanded terms "
    "with integer tf x weight scoring — the classic two-pass "
    "retrieval loop behind 'more like these'. Every stage is "
    "scale-bounded: the feedback set is k ids (broadcast semi "
    "join), the expansion dictionary is a 5-row broadcast, the "
    "second pass is one scan + one partial agg, and the final cut "
    "is a TakeOrdered. The second-pass score is pure int64 "
    "arithmetic — no transcendental drift at all.",
)
def ret_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # NOT pinned (r12 measured negative): the token stream feeds both
    # the expansion mining and the re-scoring pass, but the interleaved
    # warm A/B read the pinned variant at 1.52 s vs 1.31 s unpinned —
    # same barrier-vs-cheap-recompute trade as win_ewma_halflife.
    toks = _tokens(docs)
    fb = (
        ret_bm25_topk(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(PRF_FB_K)
        .select("doc_id")
    )
    exp = (
        toks.join(F.broadcast(fb), "doc_id", "left_semi")
        .filter(~F.col("term").isin(*BM25_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .orderBy(F.desc("w"), "term")
        .limit(PRF_EXP_K)
    )
    tf2 = (
        toks.join(F.broadcast(exp), "term")
        .groupBy("doc_id", "term", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    top = (
        tf2.groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w")).cast("long").alias("score_exp"))
        .orderBy(F.desc("score_exp"), "doc_id")
        .limit(PRF_FB_K)
    )
    w = W.orderBy(F.desc("score_exp"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w))


# ----------------------------------------------- DTW series similarity

DTW_PROBES = 3  # probe users: user_id < 3
DTW_K = 3
DTW_BAND = 3


def _duck_dtw_oracle() -> str:
    """Recursive-CTE mirror of the banded-DTW dynamic program,
    LAMBDA-FREE (round 7, ADVICE item): the recursion iterates over
    DP ROWS (one working-table row per (pair, i)) carrying the full
    (m+1)-cell previous row as a LIST column, and the within-row
    left-to-right dependency (cur[j-1]) is resolved by UNROLLING the
    band — at most 2*DTW_BAND+1 cells — into chained lateral column
    aliases (c0 referenced by c1, ...), generated below by a Python
    loop so the width tracks DTW_BAND. Round 6 used a reduce() fold
    with a list accumulator and outer-column capture for this, the
    exact construct the repo measured as nondeterministic in DuckDB
    1.0 on ragged inputs (see txt_wordpiece_encode and the memory
    note); the unrolled form has no lambdas with state at all — the
    only remaining lambdas are pure per-element INF padding
    transforms. Out-of-band cells are INF = 2^62, matching the Spark
    DP's sentinel (operators/similarity.py::dtw_distances); all
    arithmetic is int64 and every reachable value << 2^62, so both
    engines agree bit-for-bit. Assumes equal series lengths — true by
    construction here (every user's series spans the same global
    [d0, d1] window), which also makes the band half-width exactly
    DTW_BAND on both sides (the Spark DP widens to |n-m| only for
    unequal lengths). Work: pairs x L recursion rows, each computing
    <= 2R+1 scalar cells — tiny next to the corpus (0.3 s at
    sf0.01)."""
    INF = 2**62
    R, K, P = DTW_BAND, DTW_K, DTW_PROBES
    width = 2 * R + 1
    # cur[j] = |sa[i]-sb[j]| + min(prev[j], prev[j-1], cur[j-1]);
    # with j = lo + t and 1-indexed lists: prev[j] -> d.prev[j+1],
    # prev[j-1] -> d.prev[j], cur[j-1] -> c{t-1} (INF-out-of-band at
    # t=0, so the third term drops there).
    cells = []
    for t in range(width):
        same_col = f"d.prev[CAST(lo + {t} + 1 AS INT)]"
        diag = f"d.prev[CAST(lo + {t} AS INT)]"
        terms = (
            f"{same_col}, {diag}"
            if t == 0
            else f"{same_col}, {diag}, c{t - 1}"
        )
        cells.append(
            f"CASE WHEN lo + {t} <= hi THEN "
            f"abs(p.sa[CAST(d.i + 1 AS INT)] - p.sb[CAST(lo + {t} AS INT)])"
            f" + least({terms}) ELSE CAST({INF} AS BIGINT) END AS c{t}"
        )
    cell_defs = ",\n               ".join(cells)
    band_list = "[" + ", ".join(f"c{t}" for t in range(width)) + "]"
    return f"""
    WITH RECURSIVE
    daily AS MATERIALIZED (
      SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    spine AS (
      SELECT u.user_id, b.d0 + unnest(range(b.d1 - b.d0 + 1)) AS day
      FROM (SELECT DISTINCT user_id FROM daily) u, b
    ),
    densed AS (
      SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    ),
    series AS MATERIALIZED (
      SELECT user_id, list(n ORDER BY day) AS s FROM densed GROUP BY user_id
    ),
    pairs AS MATERIALIZED (
      SELECT p.user_id AS probe_id, c.user_id AS cand_id, p.s AS sa, c.s AS sb
      FROM series p JOIN series c ON c.user_id <> p.user_id
      WHERE p.user_id < {P}
    ),
    dp(probe_id, cand_id, i, prev) AS (
      SELECT probe_id, cand_id, 0,
             [CAST(0 AS BIGINT)] ||
               list_transform(range(1, len(sa) + 1), x -> CAST({INF} AS BIGINT))
      FROM pairs
      UNION ALL
      SELECT probe_id, cand_id, i, prev FROM (
        SELECT d.probe_id, d.cand_id, d.i + 1 AS i,
               greatest(1, d.i + 1 - {R}) AS lo,
               least(len(p.sb), d.i + 1 + {R}) AS hi,
               {cell_defs},
               list_transform(range(lo), x -> CAST({INF} AS BIGINT))
               || list_slice({band_list}, 1, CAST(hi - lo + 1 AS INT))
               || list_transform(range(hi + 1, len(p.sb) + 1),
                                 x -> CAST({INF} AS BIGINT)) AS prev
        FROM dp d JOIN pairs p
          ON p.probe_id = d.probe_id AND p.cand_id = d.cand_id
        WHERE d.i < len(p.sa)
      )
    ),
    dist AS (
      SELECT d.probe_id, d.cand_id, d.prev[len(d.prev)] AS dtw
      FROM dp d JOIN pairs p
        ON p.probe_id = d.probe_id AND p.cand_id = d.cand_id
      WHERE d.i = len(p.sa)
    )
    SELECT probe_id, cand_id, dtw, rank FROM (
      SELECT probe_id, cand_id, CAST(dtw AS BIGINT) AS dtw,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY dtw, cand_id) AS rank
      FROM dist
    ) WHERE rank <= {K}
    """


@register(
    "sim_dtw_topk",
    # Round 6 closed the last no-oracle gap: the per-pair DP is now
    # hash-checked via a recursive row-frontier CTE (see
    # _duck_dtw_oracle). The LB_Keogh cascade on the Spark side is
    # provably identical to brute force (excluded => dtw >= lb > kth),
    # so the oracle states plain brute-force banded DTW over all
    # pairs. The independent pure-Python DP check
    # (tests/test_kmeans.py::test_dtw_matches_reference_dp) stays as
    # the third, engine-free reference.
    oracle=_duck_dtw_oracle(),
    tags=("similarity", "M5", "timeseries", "topk", "arrow"),
    doc=f"Banded-DTW time-series similarity (the EDBT'19 theme, "
    "warping-aware where sim_series_topk is lockstep-Euclidean): each "
    "user's activity becomes a dense integer daily-count series over "
    "the corpus day span (map built JVM-side: per-day partial agg, "
    "map_from_entries, sequence transform — one shuffle on user_id), "
    f"then the {DTW_PROBES}-user probe set broadcasts against all "
    "users and a Sakoe-Chiba banded DTW (half-width "
    f"{DTW_BAND}, integer |a-b| costs) runs per pair inside "
    "Arrow-batched mapInPandas — the sanctioned custom-operator path "
    "for per-pair dynamic programming, which no built-in expresses. "
    f"Top-{DTW_K} per probe by (dtw ASC, cand ASC). All-integer DP "
    "=> bit-deterministic at any batch size. The DP runs under the "
    "LB_Keogh cascade (operators/similarity.py::dtw_topk_pruned): a "
    "JVM-side windowed-envelope lower bound scores EVERY pair, the "
    "Python DP runs only on the best-bounded candidates plus any "
    "stragglers whose bound does not clear wave 1's kth distance — "
    "provably identical to brute-force (excluded => dtw >= lb > "
    "kth). Measured at the 20x probe (20x users AND 20x series "
    "length): 87 s brute-force -> 22-30 s cascaded, same rows; the "
    "DP runs on ~5% of pairs and the remaining cost is the JVM "
    "bound scan + series checkpoints.",
)
def sim_dtw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import dtw_topk_pruned

    ev = load(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long")
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)  # two consumers: bounds + densify
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dense = (
        daily.join(F.broadcast(bounds))
        .groupBy("user_id", "d0", "d1")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("day"), F.col("n")))
            ).alias("m")
        )
        .select(
            "user_id",
            F.transform(
                F.sequence(F.col("d0"), F.col("d1")),
                lambda d: F.coalesce(F.element_at(F.col("m"), d), F.lit(0)),
            ).alias("series"),
        )
        # pinned: the densified per-user series feeds both the probe
        # slice and the candidate side — one events rollup + map build
        # instead of two (r12)
        .localCheckpoint(eager=False)
    )
    probes = dense.filter(F.col("user_id") < DTW_PROBES).select(
        F.col("user_id").alias("probe_id"), F.col("series").alias("p_series")
    )
    cands = dense.select(F.col("user_id").alias("cand_id"), "series")
    return dtw_topk_pruned(cands, probes, k=DTW_K, band=DTW_BAND)


# ------------------------------------------------- Multi-probe LSH kNN

MP_FLIPS = 3  # probe own bucket + 3 smallest-margin flips
MP_RECALL_PROBES = 20  # probe set for the recall gate


def _duck_mp_cte() -> str:
    """mp CTE: per vector, the probed bucket list = own bucket plus the
    MP_FLIPS buckets reached by flipping the smallest-|dot| planes —
    the same deterministic (|dot|, plane_idx) sort as the Spark
    operator; planes at or past n_planes carry an int64-max sentinel so
    they are never chosen."""
    items = []
    for j, h in enumerate(_KNN_PLANE_POOL):
        arr = "[" + ",".join(f"{c}.0" for c in h) + "]"
        dot = f"list_dot_product(CAST(qvec AS DOUBLE[]), {arr})"
        items.append(
            f"[CASE WHEN {j} < n_planes THEN CAST(abs({dot}) AS BIGINT) "
            f"ELSE 9223372036854775807 END, {j}]"
        )
    margin_list = "[" + ", ".join(items) + "]"
    return f"""mp AS (
      SELECT vec_id, qvec, qnorm, rp_bucket,
             list_prepend(rp_bucket,
               list_transform(list_sort({margin_list})[1:{MP_FLIPS}],
                 x -> xor(rp_bucket, CAST(power(2, x[2]) AS BIGINT)))) AS pbuckets
      FROM bucketed CROSS JOIN np
    ),
    mprobes AS (
      SELECT vec_id AS src, qvec AS a_qvec, qnorm AS a_qnorm,
             unnest(pbuckets) AS rp_bucket
      FROM mp
    ),
    mpknn AS (
      SELECT src, dst, cosine, rank FROM (
        SELECT p.src, b.vec_id AS dst,
               {duck_cosine(duck_dot('p.a_qvec', 'b.qvec'), 'p.a_qnorm', 'b.qnorm')} AS cosine,
               row_number() OVER (
                 PARTITION BY p.src
                 ORDER BY {duck_cosine(duck_dot('p.a_qvec', 'b.qvec'), 'p.a_qnorm', 'b.qnorm')} DESC,
                          b.vec_id) AS rank
        FROM mprobes p JOIN bucketed b
          ON b.rp_bucket = p.rp_bucket AND b.vec_id <> p.src
      ) WHERE rank <= {KNN_K}
    )"""


@register(
    "sim_multiprobe_knn",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {duck_quantize('embedding')} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, qvec, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    ),
    {_KNN_NP_CTE},
    {_KNN_BUCKETED_CTE},
    {_duck_mp_cte()}
    SELECT src, dst, cosine, rank FROM mpknn
    """,
    tags=("similarity", "M5", "ann", "lsh", "graph"),
    doc=f"Multi-probe LSH k-NN (Lv et al., VLDB 2007): each query "
    f"probes its own hyperplane bucket PLUS the {MP_FLIPS} buckets "
    "reached by flipping the sign bits with the smallest dot-product "
    "margins — the planes the vector sits closest to, where its true "
    "neighbors most likely landed on the other side. Recovers "
    "boundary-loss recall at a fixed (1+T)x candidate multiplier "
    "instead of shrinking the plane count (which would grow EVERY "
    "bucket). Flip choice is a deterministic (|dot|, plane) sort over "
    "exact int64 margins, mirrored in the oracle; candidate "
    "generation stays an equi-join on the probed bucket id; planes "
    "self-scale with corpus size exactly as sim_knn_graph.",
)
def sim_multiprobe_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import multiprobe_knn

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    return multiprobe_knn(
        emb, _knn_planes(spark, sf_dir), k=KNN_K, n_probe_flips=MP_FLIPS
    )


@register(
    "sim_multiprobe_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {duck_quantize('embedding')} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, qvec, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    ),
    {_KNN_NP_CTE},
    {_KNN_BUCKETED_CTE},
    {_duck_mp_cte()},
    bf AS (
      SELECT src, dst FROM (
        SELECT p.vec_id AS src, c.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY {duck_cosine(duck_dot('p.qvec', 'c.qvec'), 'p.qnorm', 'c.qnorm')} DESC,
                          c.vec_id) AS rank
        FROM qn p JOIN qn c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < {MP_RECALL_PROBES}
      ) WHERE rank <= {KNN_K}
    ),
    single AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {duck_cosine(duck_dot('a.qvec', 'b.qvec'), 'a.qnorm', 'b.qnorm')} DESC,
                          b.vec_id) AS rank
        FROM bucketed a JOIN bucketed b
          ON a.rp_bucket = b.rp_bucket AND a.vec_id <> b.vec_id
        WHERE a.vec_id < {MP_RECALL_PROBES}
      ) WHERE rank <= {KNN_K}
    ),
    multi AS (
      SELECT src, dst FROM mpknn WHERE src < {MP_RECALL_PROBES}
    )
    SELECT method, n_hits, recall FROM (
      SELECT 'single' AS method,
             CAST(SUM(CASE WHEN s.dst IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
             round(SUM(CASE WHEN s.dst IS NULL THEN 0.0 ELSE 1.0 END)
                   / {MP_RECALL_PROBES * KNN_K}, 4) AS recall
      FROM bf LEFT JOIN single s ON s.src = bf.src AND s.dst = bf.dst
      UNION ALL
      SELECT 'multiprobe' AS method,
             CAST(SUM(CASE WHEN m.dst IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
             round(SUM(CASE WHEN m.dst IS NULL THEN 0.0 ELSE 1.0 END)
                   / {MP_RECALL_PROBES * KNN_K}, 4) AS recall
      FROM bf LEFT JOIN multi m ON m.src = bf.src AND m.dst = bf.dst
    )
    """,
    tags=("similarity", "M5", "ann", "eval"),
    doc=f"Recall gate for multi-probe: recall@{KNN_K} of single-bucket "
    "vs multi-probe k-NN against exact brute force over a fixed "
    f"{MP_RECALL_PROBES}-probe set — quantifies exactly how much "
    "boundary-loss recall the smallest-margin flips buy at the "
    f"(1+{MP_FLIPS})x candidate cost (same harness shape as "
    "sim_ivf_recall). Two rows: (method, n_hits, recall).",
)
def sim_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import (
        knn_graph,
        multiprobe_knn,
    )

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    planes = _knn_planes(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < MP_RECALL_PROBES)
    # the exact brute-force truth side is joined by BOTH scored arms
    # below (single and multiprobe) and would otherwise be computed
    # twice per action — the materialized result is probes x k rows,
    # so the expensive corpus-scan side of the gate runs exactly once
    # however many methods the harness compares.
    # localCheckpoint(eager=False), not persist(): lazy (plan lints
    # and construction stay job-free) but self-cleaning — persist()
    # registers in the session CacheManager and the blocks outlived
    # the query across the sweep/bench harness (r7 ADVICE), while a
    # local checkpoint's blocks are freed by the ContextCleaner once
    # the returned frame is garbage-collected
    bf = (
        brute_force_topk(emb, probes, k=KNN_K)
        .select(F.col("probe_id").alias("src"), F.col("cand_id").alias("dst"))
        .localCheckpoint(eager=False)
    )
    single = (
        knn_graph(emb, planes, k=KNN_K)
        .filter(F.col("src") < MP_RECALL_PROBES)
        .select("src", "dst", F.lit(1).alias("hit"))
    )
    multi = (
        multiprobe_knn(emb, planes, k=KNN_K, n_probe_flips=MP_FLIPS)
        .filter(F.col("src") < MP_RECALL_PROBES)
        .select("src", "dst", F.lit(1).alias("hit"))
    )
    denom = float(MP_RECALL_PROBES * KNN_K)

    def scored(cand: DataFrame, name: str) -> DataFrame:
        return (
            bf.join(cand, ["src", "dst"], "left")
            .agg(
                F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
                F.round(
                    F.sum(F.coalesce("hit", F.lit(0)).cast("double")) / denom, 4
                ).alias("recall"),
            )
            .select(F.lit(name).alias("method"), "n_hits", "recall")
        )

    return scored(single, "single").unionAll(scored(multi, "multiprobe"))
