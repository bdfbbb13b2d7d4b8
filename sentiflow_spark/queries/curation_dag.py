"""The end-to-end training-data curation DAG — every curation family
the repo proves in isolation, composed in production order over ONE
corpus pass-through:

  NFC normalize → benchmark holdout → cross-doc boilerplate strip
  (CCNet order: frequency-threshold line dedup BEFORE quality, so the
  Gopher metrics score content, not nav bars) → Gopher quality gates →
  exact dedup → MinHash-LSH near dedup → span-level benchmark
  decontamination (cut, not drop) → per-domain cap → leakage-safe
  grouped split → token-budget sequence packing

``txt_curation_dag`` emits one row per INPUT document with its final
disposition (`stage`: where it exited the funnel, or 'kept') and, for
kept docs, the training-shard assignment (split, seq_id) plus post-cut
token/char accounting — the artifact a pipeline owner audits after a
curation run, and the composition proof that the operators chain, not
just run (the way pl_e2e_results proves the sentiment DAG).

Every stage reuses the SAME operator core and the SAME oracle-SQL
generator as its standalone driver-verified query (nfc_norm_expr /
duck_norm_sql, gopher_flags / duck_gopher_m_cte, dedup_exact,
minhash_signatures + lsh_candidate_pairs, winnow_contaminated_spans +
cut_spans, lsh_star_edges + connected_components), so the composition
cannot drift from the parts.

Scale shape (the 100 TB argument is the SUM of the parts', all
documented on their standalone queries): the corpus text is touched by
map-side stages and doc_id-keyed joins only; every cross-doc structure
(fingerprints, signatures, winnowed hashes, span metadata, cluster
edges) is orders of magnitude smaller than the corpus; clustering uses
banding-trusted STAR edges (linear in bucket occupancy); packing
windows are partitioned by (split, lang) shard. No stage joins
doc-to-doc on content.

Reference: composes the semantics of /root/reference's ingest→filter→
dedup→store dataflow (internal/producer/fetch.go routing + the Valkey
dedup marks) re-targeted at corpus curation; stage algorithms cite
Rae 2021 (Gopher), Lee ACL 2022 (dedup/decontamination), C4/Gopher
domain policy, Schleimer SIGMOD 2003 (winnowing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.hashing import md5_i32
from sentiflow_spark.functions.text import duck_fingerprint, duck_token_count, token_count
from sentiflow_spark.operators.dedup import (
    BP_MAX_REMOVED_FRAC,
    BP_MIN_DOCS,
    BP_SEG_CHARS,
    SPAN_MERGE_GAP,
    SPAN_MIN_FPS,
    WINNOW_K,
    WINNOW_POS_BASE,
    boilerplate_removal,
    connected_components,
    cut_spans,
    dedup_exact,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_signatures,
    winnow_contaminated_spans,
)
from sentiflow_spark.queries.curation_queries import (
    DOMAIN_CAP,
    GOPHER_RULES_SQL,
    duck_gopher_m_cte,
    duck_norm_sql,
    gopher_flags,
    nfc_norm_expr,
)
from sentiflow_spark.queries.dedup_queries import (
    DECON_SPAN_MOD,
    _duck_bands_cte,
    _duck_match_frac,
    _duck_sigs_cte,
    _duck_winnow_sels_cte,
)
from sentiflow_spark.queries.registry import register
from sentiflow_spark.queries.text_queries import SEQ_BUDGET
from sentiflow_spark.tables import load

NEAR_DUP_JACCARD = 0.9
SPLIT_SALT = "curdag42:"
TRAIN_PCT = 90

# The DAG's quality gate = Gopher minus the stopword rule: the
# synthetic corpus vocabulary contains NO English stopwords, so
# ok_stopwords rejects 500/500 docs and would gate the composition on
# an empty pipeline (measured). The full five-rule set — including the
# stopword rule — is driver-verified standalone by txt_gopher_rules; a
# real-corpus deployment flips DAG_GOPHER_RULES back to all five.
DAG_GOPHER_RULES = (
    "ok_word_count",
    "ok_mean_word_len",
    "ok_symbol_ratio",
    "ok_alpha_frac",
)


def curation_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Run the DAG and return every stage boundary (for the job and the
    disposition query). Keys: docs_n, gq, exact_ranked, near_losers,
    s5 (post-dedup survivors w/ normalized text), spans (the
    decontamination cut-list — with s5 this reconstructs post-cut text
    map-side, see jobs.py), cut (per-doc post-cut accounting: n_tokens,
    cut_chars, clean_len — no text), capped, packed."""
    docs = load(spark, sf_dir, "documents")
    # One Arrow NFC pass, pinned: six downstream stages consume the
    # normalized corpus and would each re-run the Python stage.
    docs_n = docs.select(
        "doc_id", "lang", nfc_norm_expr(F.col("text")).alias("text")
    ).localCheckpoint(eager=False)
    is_bench = F.col("doc_id") % DECON_SPAN_MOD == 0

    cand0 = docs_n.filter(~is_bench)
    # cross-doc boilerplate strip (CCNet order: before quality, so the
    # Gopher metrics score content, not shared nav/footer segments).
    # Pinned: the cleaned candidate set is a phase boundary consumed by
    # the quality gate, every downstream text stage, and disposition —
    # NARROWED to the columns those consumers read (text_clean +
    # doc_kept; the n_kept/n_total/removed_frac stats are standalone-
    # query surface, dead weight in the pin's materialization here).
    bp = (
        boilerplate_removal(
            cand0,
            seg_chars=BP_SEG_CHARS,
            min_docs=BP_MIN_DOCS,
            max_removed_frac=BP_MAX_REMOVED_FRAC,
        )
        .select("doc_id", "text_clean", "doc_kept")
        .localCheckpoint(eager=False)
    )
    cand = (
        bp.filter(F.col("doc_kept"))
        .select("doc_id", F.col("text_clean").alias("text"))
        .join(docs_n.select("doc_id", "lang"), "doc_id")
    )
    flags = gopher_flags(cand)
    passes = None
    for r in DAG_GOPHER_RULES:
        passes = F.col(r) if passes is None else (passes & F.col(r))
    gq = flags.select("doc_id", passes.alias("passes_all"))
    quality = cand.join(
        gq.filter(F.col("passes_all")).select("doc_id"), "doc_id"
    )

    # exact dedup: first-wins per canonical fingerprint. dedup_exact
    # keeps only rn==1 survivors; the disposition infers exact_dup by
    # ABSENCE from this survivor set (quality minus s4), not from a
    # threaded rank column.
    exact_ranked = dedup_exact(quality).select("doc_id", "text", "lang")

    # near dedup among exact survivors: verified pairs, lowest-id wins.
    # The signature table is pinned HERE (not inside lsh_candidate_pairs)
    # because it has a FOURTH consumer: the grouped-split star edges
    # below re-ran the whole tokenize→explode→16-min-agg lineage (and
    # its quality/dedup upstream) when the checkpoint lived inside the
    # pair builder (r12 profile: part of the CC edge job's 1.2 s).
    sigs = minhash_signatures(exact_ranked).localCheckpoint(eager=False)
    near_losers = (
        lsh_candidate_pairs(sigs, materialized=True)
        .filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s5 = exact_ranked.join(near_losers, "doc_id", "left_anti").localCheckpoint(eager=False)

    # span-level benchmark decontamination: winnow the bench slice +
    # survivors together, cut shared spans out of survivors
    wsrc = docs_n.filter(is_bench).select("doc_id", "text").unionByName(
        s5.select("doc_id", "text")
    )
    # Width guard for the winnow gram-hashing pass — the DAG's most
    # CPU-bound stage. winnow_fingerprints' own guard cannot fire here
    # (wsrc is a union of checkpointed frames, not a file scan), and
    # the inherited partitioning is 2-3 partitions (single-file scan +
    # AQE-coalesced join output), so the extraction ran as ONE 2.5 s
    # task at sf0.1 while 31 cores idled. Guarded exactly like
    # winnow_fingerprints: only a small corpus (the original documents
    # input < 256 MB in <= 64 files) is repartitioned — at real corpus
    # scale wsrc arrives wide already and no text shuffle is added.
    try:
        _files = docs.inputFiles()
    except Exception:
        _files = []
    if _files and len(_files) <= 64:
        import os as _os

        try:
            _total = sum(
                _os.path.getsize(f[7:] if f.startswith("file:") else f)
                for f in _files
            )
        except OSError:
            _total = None
        if _total is not None and _total < (256 << 20):
            wsrc = wsrc.repartition(
                spark.sparkContext.defaultParallelism
            )
    spans = winnow_contaminated_spans(
        wsrc, is_bench=is_bench, bench_flag_of_id=True
    )
    # Pinned like docs_n/s5: the decontaminated accounting is the third
    # phase boundary a production pipeline persists. Without it the
    # winnow hashing pass re-executes once inside connected_components'
    # eager edge derivation and once per downstream branch (tok and
    # packed reference cut through separate join arms of the one
    # disposition action) — three computes of the most expensive stage
    # instead of one (measured at sf0.1: whole-DAG cold 23.5 s →
    # 18.0 s, warm ~9.8 s → ~9.1 s). NARROW (r13): the query path
    # consumes only per-doc NUMBERS from this boundary (n_tokens for
    # the funnel/packing, clean_len for the domain-cap ordering,
    # cut_chars for the audit columns) — clean_text itself is needed
    # only by jobs.py's corpus write, which re-derives it map-side
    # from the returned spans + s5 (both shared objects, so the winnow
    # pins are reused) instead of materializing the whole post-cut
    # corpus inside this pin and shuffling it through the domain-cap
    # window (guide §2.3 "project before the exchange"/§8).
    cut = (
        cut_spans(s5.select("doc_id", "text"), spans)
        .select(
            "doc_id",
            token_count(F.col("clean_text")).cast("long").alias("n_tokens"),
            (F.col("orig_len") - F.col("clean_len")).cast("long").alias(
                "cut_chars"
            ),
            F.col("clean_len").cast("long").alias("clean_len"),
        )
        .localCheckpoint(eager=False)
    )

    alive = cut.filter(F.col("n_tokens") > 0)

    # per-domain cap: longest-clean-text-first within each registered
    # domain. Domains are the synthetic doc_id % 40 hosts (canonical
    # lowercase registered domain — the URL parse itself is exercised
    # by txt_domain_cap; the composition keys the cap on the derived
    # domain so both engines state it identically).
    domain = F.concat(
        F.lit("example"), (F.col("doc_id") % 40).cast("string"), F.lit(".com")
    )
    w_dom = W.partitionBy("domain").orderBy(
        F.col("clean_len").desc(), "doc_id"
    )
    capped = (
        alive.withColumn("domain", domain)
        .withColumn("cap_rank", F.row_number().over(w_dom))
        .filter(F.col("cap_rank") <= DOMAIN_CAP)
    )

    # leakage-safe grouped split: cluster over banding-trusted STAR
    # edges among the capped survivors (sub-0.9 near-material shares a
    # cluster via band collisions and lands on one side), then the
    # deterministic salted-hash-mod split on the CLUSTER id
    sigs_kept = sigs.join(capped.select("doc_id"), "doc_id")
    cc = connected_components(lsh_star_edges(sigs_kept))
    clustered = (
        capped.join(cc, capped.doc_id == cc.node, "left")
        .select(
            capped.doc_id.alias("doc_id"),
            "n_tokens",
            "cut_chars",
            F.coalesce("lbl", capped.doc_id).alias("cluster_id"),
        )
    )
    bucket = (
        md5_i32(
            F.concat(F.lit(SPLIT_SALT), F.col("cluster_id").cast("string"))
        )
        % 100
    )
    split_df = clustered.withColumn(
        "split", F.when(bucket < TRAIN_PCT, "train").otherwise("val")
    )

    # token-budget packing, per (split, lang) shard — the way a real
    # corpus is packed (per shard/file, never one global ordering)
    with_lang = split_df.join(docs_n.select("doc_id", "lang"), "doc_id")
    w_pack = (
        W.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = with_lang.withColumn(
        "cum", F.sum("n_tokens").over(w_pack)
    ).select(
        "doc_id",
        "split",
        "n_tokens",
        "cut_chars",
        F.expr(f"(cum - n_tokens) div {SEQ_BUDGET}").alias("seq_id"),
    )

    return {
        "docs": docs,
        "docs_n": docs_n,
        "bp": bp,
        "gq": gq,
        "exact_ranked": exact_ranked,
        "near_losers": near_losers,
        "s5": s5,
        "spans": spans,
        "cut": cut,
        "capped": capped,
        "packed": packed,
    }


def _duck_dag_oracle(source: str = "documents") -> str:
    # The multiply-referenced CTEs are marked MATERIALIZED: DuckDB
    # inlines CTEs by default, and in a chain this deep every
    # re-reference re-expands its whole upstream (bands is read 3x,
    # s5 4x, pos 2x — the un-materialized form never finished at
    # sf0.001; materialized it runs in seconds).
    # ``source`` parameterizes the document universe (default output
    # byte-identical to the original): txt_curation_asof states the
    # one-shot truth over the first two delta batches' doc subset.
    b, k = WINNOW_POS_BASE, WINNOW_K
    frac = _duck_match_frac()
    return f"""
    WITH RECURSIVE
    docs_n AS MATERIALIZED (
      SELECT doc_id, lang, {duck_norm_sql('text')} AS text FROM {source}
    ),
    cand0 AS MATERIALIZED (
      SELECT * FROM docs_n WHERE doc_id % {DECON_SPAN_MOD} <> 0
    ),
    bsegs AS (
      SELECT doc_id,
             unnest(range(greatest(CAST(ceil(length(text)/{BP_SEG_CHARS}.0) AS BIGINT), 1))) AS seg_no,
             text
      FROM cand0
    ),
    bs2 AS (
      SELECT doc_id, seg_no,
             substring(text, CAST(seg_no*{BP_SEG_CHARS} AS INT)+1, {BP_SEG_CHARS}) AS seg
      FROM bsegs
    ),
    bboiler AS MATERIALIZED (
      SELECT seg FROM bs2 GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= {BP_MIN_DOCS}
    ),
    brec AS MATERIALIZED (
      SELECT doc_id, string_agg(seg, '' ORDER BY seg_no) AS text,
             CAST(SUM(length(seg)) AS BIGINT) AS kept_chars
      FROM bs2 s ANTI JOIN bboiler b ON b.seg = s.seg
      GROUP BY doc_id
    ),
    bstat AS MATERIALIZED (
      SELECT c.doc_id,
             CASE WHEN length(c.text) > 0
                  THEN CAST(length(c.text) - COALESCE(r.kept_chars, 0) AS DOUBLE)
                       / length(c.text)
                  ELSE CAST(0 AS DOUBLE) END AS rfrac
      FROM cand0 c LEFT JOIN brec r USING (doc_id)
    ),
    cand AS MATERIALIZED (
      SELECT c.doc_id, c.lang, COALESCE(r.text, '') AS text
      FROM cand0 c
      JOIN bstat bs USING (doc_id)
      LEFT JOIN brec r USING (doc_id)
      WHERE bs.rfrac <= CAST({BP_MAX_REMOVED_FRAC} AS DOUBLE)
    ),
    {duck_gopher_m_cte(source="cand")},
    gq AS MATERIALIZED (SELECT doc_id,
           {" AND ".join(f"({GOPHER_RULES_SQL[r]})" for r in DAG_GOPHER_RULES)}
             AS passes_all FROM gm),
    quality AS MATERIALIZED (
      SELECT c.* FROM cand c JOIN gq USING (doc_id) WHERE gq.passes_all
    ),
    exr AS MATERIALIZED (
      SELECT doc_id, row_number() OVER (
        PARTITION BY {duck_fingerprint('text')}
        ORDER BY doc_id) AS rn
      FROM quality
    ),
    s4 AS MATERIALIZED (
      SELECT q.* FROM quality q JOIN exr USING (doc_id) WHERE exr.rn = 1
    ),
    {_duck_sigs_cte(source="s4")}{_duck_bands_cte()},
    bands_m AS MATERIALIZED (SELECT * FROM bands),
    near_losers AS MATERIALIZED (
      -- _DUCK_BAND_PAIRS over the materialized band table
      SELECT DISTINCT b.doc_id AS doc_id
      FROM bands_m a JOIN bands_m b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE {frac} >= {NEAR_DUP_JACCARD}
    ),
    s5 AS MATERIALIZED (
      SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
    ),
    wsrc AS MATERIALIZED (
      SELECT doc_id, text FROM docs_n WHERE doc_id % {DECON_SPAN_MOD} = 0
      UNION ALL
      SELECT doc_id, text FROM s5
    ),
    {_duck_winnow_sels_cte(source="wsrc")},
    fpe AS (SELECT doc_id, unnest(fps) AS key FROM sels),
    pos AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             (key + {b - 1}) // {b} AS h,
             ((key + {b - 1}) // {b}) * {b} - key AS pos
      FROM fpe
    ),
    bh AS (SELECT DISTINCT h FROM pos WHERE doc_id % {DECON_SPAN_MOD} = 0),
    flagged AS (
      SELECT DISTINCT doc_id, pos FROM pos
      WHERE doc_id % {DECON_SPAN_MOD} <> 0 AND h IN (SELECT h FROM bh)
    ),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_MERGE_GAP}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    ),
    spans AS MATERIALIZED (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end
      FROM isl GROUP BY doc_id, island HAVING COUNT(*) >= {SPAN_MIN_FPS}
    ),
    seg AS (
      SELECT doc_id,
             coalesce(lag(span_end) OVER (PARTITION BY doc_id
                                          ORDER BY span_start), 0) + 1
               AS seg_start,
             span_start - 1 AS seg_end
      FROM spans
      UNION ALL
      SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
             length(d.text) AS seg_end
      FROM spans s JOIN s5 d USING (doc_id)
      GROUP BY s.doc_id, length(d.text)
    ),
    pieces AS (
      SELECT g.doc_id, g.seg_start,
             substring(d.text, CAST(g.seg_start AS INT),
                       CAST(g.seg_end - g.seg_start + 1 AS INT)) AS piece
      FROM seg g JOIN s5 d USING (doc_id)
      WHERE g.seg_end >= g.seg_start
    ),
    cleaned AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS clean_text
      FROM pieces GROUP BY doc_id
    ),
    spanned AS (SELECT DISTINCT doc_id FROM spans),
    cut AS (
      SELECT d.doc_id,
             CASE WHEN sp.doc_id IS NULL THEN d.text
                  ELSE coalesce(c.clean_text, '') END AS clean_text,
             CAST(length(d.text) - length(CASE WHEN sp.doc_id IS NULL
                    THEN d.text ELSE coalesce(c.clean_text, '') END)
               AS BIGINT) AS cut_chars
      FROM s5 d
      LEFT JOIN spanned sp USING (doc_id)
      LEFT JOIN cleaned c USING (doc_id)
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, clean_text, cut_chars,
             CAST({duck_token_count("clean_text")} AS BIGINT)
               AS n_tokens
      FROM cut
    ),
    alive AS MATERIALIZED (SELECT * FROM tok WHERE n_tokens > 0),
    dcap AS (
      SELECT doc_id, n_tokens, cut_chars,
             row_number() OVER (
               PARTITION BY 'example' || CAST(doc_id % 40 AS VARCHAR) || '.com'
               ORDER BY length(clean_text) DESC, doc_id) AS cap_rank
      FROM alive
    ),
    capped AS MATERIALIZED (SELECT * FROM dcap WHERE cap_rank <= {DOMAIN_CAP}),
    hubs AS (
      SELECT band_idx, band_key, MIN(b.doc_id) AS hub, COUNT(*) AS occ
      FROM bands_m b JOIN capped USING (doc_id)
      GROUP BY 1, 2
    ),
    star AS (
      SELECT DISTINCT h.hub AS u, b.doc_id AS v
      FROM bands_m b
      JOIN capped USING (doc_id)
      JOIN hubs h USING (band_idx, band_key)
      WHERE h.occ >= 2 AND b.doc_id <> h.hub
    ),
    edges AS MATERIALIZED (
      SELECT u, v FROM star UNION SELECT v, u FROM star
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    split_t AS (
      SELECT k.doc_id, k.n_tokens, k.cut_chars,
             CASE WHEN CAST(('0x' || substr(md5('{SPLIT_SALT}' ||
                       CAST(COALESCE(c.cluster_id, k.doc_id) AS VARCHAR)),
                       1, 8)) AS BIGINT) % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'val' END AS split
      FROM capped k LEFT JOIN comp c ON c.node = k.doc_id
    ),
    packed AS (
      SELECT s.doc_id, s.split, s.n_tokens, s.cut_chars,
             CAST((SUM(s.n_tokens) OVER (
                     PARTITION BY s.split, d.lang ORDER BY s.doc_id
                     ROWS UNBOUNDED PRECEDING) - s.n_tokens)
                  // {SEQ_BUDGET} AS BIGINT) AS seq_id
      FROM split_t s JOIN docs_n d USING (doc_id)
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % {DECON_SPAN_MOD} = 0 THEN 'bench'
                WHEN bs.rfrac > CAST({BP_MAX_REMOVED_FRAC} AS DOUBLE)
                  THEN 'boilerplate'
                WHEN NOT gq.passes_all THEN 'quality'
                WHEN exr.rn <> 1 THEN 'exact_dup'
                WHEN nl.doc_id IS NOT NULL THEN 'near_dup'
                WHEN t.n_tokens = 0 THEN 'decontaminated'
                WHEN p.doc_id IS NULL THEN 'domain_cap'
                ELSE 'kept' END AS stage,
           p.split,
           p.seq_id,
           CASE WHEN p.doc_id IS NOT NULL THEN p.n_tokens END AS n_tokens,
           CASE WHEN p.doc_id IS NOT NULL THEN p.cut_chars END AS cut_chars
    FROM {source} d
    LEFT JOIN bstat bs ON bs.doc_id = d.doc_id
    LEFT JOIN gq ON gq.doc_id = d.doc_id
    LEFT JOIN exr ON exr.doc_id = d.doc_id
    LEFT JOIN near_losers nl ON nl.doc_id = d.doc_id
    LEFT JOIN tok t ON t.doc_id = d.doc_id
    LEFT JOIN packed p ON p.doc_id = d.doc_id
    """


@register(
    "txt_curation_dag",
    oracle=_duck_dag_oracle(),
    tags=("text", "dedup", "curation", "M5", "e2e", "iterative",
          "arrow-udf", "bench"),
    doc="The composed production curation DAG (see module docstring): "
    "normalize → bench holdout → cross-doc boilerplate strip (CCNet "
    "order — frequency-threshold line dedup BEFORE quality, so Gopher "
    "scores content, not nav bars; docs losing >30% of chars exit "
    "'boilerplate') → Gopher gates → exact dedup → MinHash "
    "near dedup → span decontamination (cut) → domain cap → grouped "
    "split → sequence packing, emitting one disposition row per input "
    "document. Every stage is the SAME core as its standalone driver-"
    "verified query; the oracle chains the stage oracles as one "
    "WITH RECURSIVE block (star-edge clustering via recursive CTE). "
    "This is the composition proof for the curation surface, the way "
    "pl_e2e_results proves the sentiment dataflow.",
)
def txt_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return disposition(curation_stages(spark, sf_dir))


def disposition(st: dict[str, DataFrame]) -> DataFrame:
    """Per-doc disposition from an already-built stage dict — split out
    so jobs.py curate can write the corpus AND the audit table from ONE
    curation_stages pass instead of running the pipeline twice."""
    docs, gq = st["docs"], st["gq"]
    bp_kept = st["bp"].select("doc_id", F.col("doc_kept").alias("_bpk"))
    exact_keep = st["exact_ranked"].select("doc_id").withColumn(
        "_ex", F.lit(True)
    )
    # quality docs that LOST exact dedup: in quality, not in survivors
    near = st["near_losers"].withColumn("_nd", F.lit(True))
    tok = st["cut"].select("doc_id", F.col("n_tokens").alias("_tok"))
    packed = st["packed"]

    out = (
        docs.select("doc_id")
        .join(bp_kept, "doc_id", "left")
        .join(gq, "doc_id", "left")
        .join(exact_keep, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(tok, "doc_id", "left")
        .join(packed, "doc_id", "left")
    )
    is_bench = F.col("doc_id") % DECON_SPAN_MOD == 0
    kept = F.col("seq_id").isNotNull()
    stage = (
        F.when(is_bench, "bench")
        .when(~F.col("_bpk"), "boilerplate")
        .when(~F.col("passes_all"), "quality")
        .when(F.col("_ex").isNull(), "exact_dup")
        .when(F.col("_nd").isNotNull(), "near_dup")
        .when(F.col("_tok") == 0, "decontaminated")
        .when(~kept, "domain_cap")
        .otherwise("kept")
    )
    return out.select(
        "doc_id",
        stage.alias("stage"),
        "split",
        "seq_id",
        F.when(kept, F.col("n_tokens")).alias("n_tokens"),
        F.when(kept, F.col("cut_chars")).alias("cut_chars"),
    )
