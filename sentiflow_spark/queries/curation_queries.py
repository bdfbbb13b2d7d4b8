"""Corpus-curation declared queries — the cleaning stages a large-scale
LLM training-data pipeline runs between raw crawl and tokenizer: PII
redaction, benchmark decontamination, repetition filtering,
distribution rebalancing, and deterministic shard shuffling.

These extend the reference's single-document hygiene (empty-content
filter, internal/producer/fetch.go:157; low-value summary filter,
internal/consumers/summary_consumer.go:100-104) to the corpus level.
Every query is a deterministic Spark plan with a DuckDB oracle; no
rand(), no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sentiflow_spark.functions.hashing import (
    duck_md5_i32,
    duck_md5_i60,
    md5_i32,
    md5_i60,
)
from sentiflow_spark.functions.text import (
    duck_shingles,
    duck_token_count,
    duck_word_tokens,
    duck_ws_tokens,
    shingles_from_tokens,
    token_count,
    word_tokens,
    ws_tokens,
)
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load

# Both engines run RE2/Java-compatible subsets of these patterns.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGIT_RUN_RE = "[0-9]{7,}"


@register(
    "txt_pii_redact",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com asap'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' ref 99' || lpad(CAST(doc_id AS VARCHAR), 7, '0')
                       ELSE '' END AS text
      FROM documents
    ),
    pass1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
             regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
      FROM dirty
    )
    SELECT doc_id, n_emails,
           len(regexp_extract_all(t1, '{DIGIT_RUN_RE}')) AS n_numbers,
           regexp_replace(t1, '{DIGIT_RUN_RE}', '<NUM>', 'g') AS clean_text
    FROM pass1
    """,
    tags=("text", "M5", "curation"),
    doc="PII redaction: mask emails then long digit runs, counting "
    "each (synthetic PII is injected deterministically by doc_id so "
    "the op is exercised on the clean corpus). Pure map-side "
    "regexp_replace chain — no shuffle, scales linearly, stays in "
    "WholeStageCodegen.",
)
def txt_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com asap")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" ref 99"), F.lpad(did.cast("string"), 7, "0")),
        ).otherwise(F.lit("")),
    )
    pass1 = docs.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_replace(dirty, EMAIL_RE, "<EMAIL>").alias("t1"),
    )
    return pass1.select(
        "doc_id",
        "n_emails",
        F.regexp_count(F.col("t1"), F.lit(DIGIT_RUN_RE)).alias("n_numbers"),
        F.regexp_replace(F.col("t1"), DIGIT_RUN_RE, "<NUM>").alias("clean_text"),
    )


@register(
    "txt_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({duck_word_tokens("text")}) AS tok
      FROM documents
    ),
    c AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    m AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
             MAX(n) AS mx, COUNT(*) AS uniq
      FROM c GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           CAST(mx AS DOUBLE) / n_tokens AS top_share,
           1 - CAST(uniq AS DOUBLE) / n_tokens AS dup_frac
    FROM m
    WHERE CAST(mx AS DOUBLE) / n_tokens <= 0.09
      AND 1 - CAST(uniq AS DOUBLE) / n_tokens <= 0.75
    """,
    tags=("text", "M5", "curation", "bench"),
    doc="Gopher-style repetition filter: drop documents whose most "
    "frequent token exceeds 9% of tokens or whose duplicate-token "
    "fraction exceeds 0.75. explode → (doc,tok) count with map-side "
    "partial aggregation → per-doc metrics; both shuffles carry only "
    "(id, token-hash, count)-width rows. The tempting single-pass "
    "higher-order-function alternative is O(tokens²) per document — "
    "explode+agg is the shape that survives 100 TB.",
)
def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("mx"),
        F.count(F.lit(1)).alias("uniq"),
    )
    top_share = F.col("mx").cast("double") / F.col("n_tokens")
    dup_frac = F.lit(1) - F.col("uniq").cast("double") / F.col("n_tokens")
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            top_share.alias("top_share"),
            dup_frac.alias("dup_frac"),
        )
        .filter((F.col("top_share") <= 0.09) & (F.col("dup_frac") <= 0.75))
    )


@register(
    "txt_lang_rebalance",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
    r AS (
      SELECT lang, ((SELECT MIN(cnt) FROM counts) * 1000000) // cnt AS keep_ppm
      FROM counts
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE {duck_md5_i32("'mix42:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.keep_ppm
    """,
    tags=("text", "M5", "curation", "sampling"),
    doc="Distribution rebalancing with DATA-DERIVED rates: downsample "
    "every language to the rarest language's row count (keep-rate = "
    "min_count/count in exact integer ppm), selecting rows by salted "
    "hash-mod. Two-pass: a counts aggregate (tiny result) broadcast "
    "back onto the fact scan — the broadcast join keeps the second "
    "pass shuffle-free, so at 100 TB the cost is two scans and no "
    "repartition. Unlike txt_stratified_sample, the rate map here is "
    "computed from the corpus, not compiled in.",
)
def txt_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    target = counts.agg(F.min("cnt").alias("target"))
    # exact integer floor-division in Column form; products stay far
    # below 2^53 (min_count * 1e6), so the double division is exact
    rates = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.floor((F.col("target") * F.lit(1_000_000)) / F.col("cnt")).cast("long").alias(
            "keep_ppm"
        ),
    )
    bucket = md5_i32(F.concat(F.lit("mix42:"), F.col("doc_id").cast("string"))) % 1000000
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("keep_ppm"))
        .select("doc_id", "lang")
    )


DECON_NGRAM = 3
BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set


@register(
    "dd_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({duck_shingles("text", DECON_NGRAM)}) AS gram
      FROM documents
    ),
    h AS (SELECT doc_id, {duck_md5_i60("gram")} AS hh FROM g),
    bench AS (SELECT DISTINCT hh FROM h WHERE doc_id % {BENCH_MOD} = 0),
    bad AS (
      SELECT DISTINCT h.doc_id FROM h JOIN bench USING (hh)
      WHERE h.doc_id % {BENCH_MOD} <> 0
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % {BENCH_MOD} <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    tags=("dedup", "M5", "curation", "bench"),
    doc="Benchmark decontamination: remove training documents sharing "
    "any word n-gram with the held-out benchmark split (the standard "
    "n-gram-overlap decontamination step before LLM training). Grams "
    "are hashed to 60-bit ints (first 15 hex chars of md5 — wide "
    "enough that collisions against billions of training grams are "
    "~n²/2^61, and any residual collision only over-removes, the "
    "conservative direction). The benchmark gram set is a distinct "
    "8-byte-key set; the probe is a semi join over the training scan "
    "and AQE plans it broadcast while the set is under the broadcast "
    "threshold, shuffle otherwise — no mandatory hint, so a large "
    "benchmark split can't OOM the build side. Only the distinct "
    "contaminated-id set (bounded by corpus rows) shuffles after it.",
)
def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("t"), DECON_NGRAM)).alias("gram"),
    ).select("doc_id", md5_i60(F.col("gram")).alias("hh"))
    bench = grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("hh").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(bench, "hh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


N_SHARDS = 64


@register(
    "txt_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             {duck_md5_i32("'shard42:' || CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
             md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
    FROM keyed
    """,
    tags=("text", "M5", "curation", "sampling"),
    doc="Deterministic corpus shuffle into training shards: every row "
    "gets a hash shard and a pseudo-random position within it — the "
    "reproducible global shuffle a trainer consumes (shard files read "
    "in pos order). One shuffle on the shard key; the per-shard sort "
    "is bounded by corpus_size/n_shards, so at 100 TB you raise "
    "N_SHARDS, never the per-task memory. A single global ORDER BY "
    "row_number would funnel through one window partition — this "
    "shape is why shards exist.",
)
def txt_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        (md5_i32(F.concat(F.lit("shard42:"), F.col("doc_id").cast("string"))) % N_SHARDS).alias(
            "shard"
        ),
        F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))).alias("skey"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select("doc_id", "shard", F.row_number().over(w).alias("pos"))


# ------------------------------------------------------------- URL dedup
# Pretraining crawls key documents by URL; the same page arrives under
# many spellings (case-variant hosts, default ports, tracking params,
# fragments, trailing slashes). Canonicalize-then-dedup is the standard
# first curation pass (before any content hashing). The documents table
# carries no URL, so — exactly like txt_pii_redact's injected PII — a
# messy URL is synthesized deterministically per doc_id: 5 spelling
# variants over (doc_id % 40) hosts × (doc_id % 7) paths, so distinct
# pages collide only after canonicalization.

_TRACKING_RE = "(utm_[a-z]+|fbclid|gclid)=[^&#]*"

_DUCK_RAW_URLS = """
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INTEGER)
             WHEN 0 THEN 'https://Example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.COM:443/a/' || CAST(doc_id % 7 AS VARCHAR)
             WHEN 1 THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.com/a/' || CAST(doc_id % 7 AS VARCHAR) || '/'
             WHEN 2 THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.com/a/' || CAST(doc_id % 7 AS VARCHAR)
                    || '?utm_source=feed&utm_campaign=x'
             WHEN 3 THEN 'https://example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.com/a/' || CAST(doc_id % 7 AS VARCHAR)
                    || '?id=9&fbclid=abc#frag'
             ELSE 'http://example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.com:80/a/' || CAST(doc_id % 7 AS VARCHAR) || '?id=9'
           END AS url
    FROM documents
"""


def _spark_raw_urls(docs: DataFrame) -> DataFrame:
    host = (F.col("doc_id") % 40).cast("string")
    path = (F.col("doc_id") % 7).cast("string")
    variant = (F.col("doc_id") % 5).cast("int")
    url = (
        F.when(variant == 0, F.concat(F.lit("https://Example"), host, F.lit(".COM:443/a/"), path))
        .when(variant == 1, F.concat(F.lit("https://example"), host, F.lit(".com/a/"), path, F.lit("/")))
        .when(variant == 2, F.concat(F.lit("https://example"), host, F.lit(".com/a/"), path,
                                     F.lit("?utm_source=feed&utm_campaign=x")))
        .when(variant == 3, F.concat(F.lit("https://example"), host, F.lit(".com/a/"), path,
                                     F.lit("?id=9&fbclid=abc#frag")))
        .otherwise(F.concat(F.lit("http://example"), host, F.lit(".com:80/a/"), path, F.lit("?id=9")))
    )
    return docs.select("doc_id", url.alias("url"))


def canonical_url(col):
    """URL canonicalization as pure codegen'd string expressions (no
    UDF): drop fragment → strip tracking params (and the separator
    debris they leave) → lowercase scheme://host and drop default
    ports → strip one trailing slash on a non-root path. Identical
    regex semantics in the DuckDB twin below."""
    u = F.regexp_replace(col, "#.*$", "")
    u = F.regexp_replace(u, _TRACKING_RE + "&?", "")
    u = F.regexp_replace(u, "[?&]$", "")
    scheme = F.lower(F.regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    host = F.when(
        (scheme == "https") & hostport.endswith(":443"),
        F.substring(hostport, 1, F.length(hostport) - 4),
    ).when(
        (scheme == "http") & hostport.endswith(":80"),
        F.substring(hostport, 1, F.length(hostport) - 3),
    ).otherwise(hostport)
    rest = F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$", 1)
    rest = F.regexp_replace(rest, "/$", "")
    return F.concat(scheme, F.lit("://"), host, rest)


def duck_canonical_url(expr: str) -> str:
    """DuckDB fragment computing exactly ``canonical_url``."""
    u = f"regexp_replace({expr}, '#.*$', '')"
    u = f"regexp_replace({u}, '{_TRACKING_RE}&?', '', 'g')"
    u = f"regexp_replace({u}, '[?&]$', '')"
    scheme = f"lower(regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    hostport = f"lower(regexp_extract({u}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' AND {hostport} LIKE '%:443'"
        f" THEN substring({hostport}, 1, length({hostport}) - 4)"
        f" WHEN {scheme} = 'http' AND {hostport} LIKE '%:80'"
        f" THEN substring({hostport}, 1, length({hostport}) - 3)"
        f" ELSE {hostport} END"
    )
    rest = (
        f"regexp_replace(regexp_extract({u},"
        f" '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$', 1), '/$', '')"
    )
    return f"{scheme} || '://' || {host} || {rest}"


@register(
    "txt_url_canonicalize",
    oracle=f"""
    WITH raw AS ({_DUCK_RAW_URLS})
    SELECT doc_id, url, {duck_canonical_url("url")} AS canon
    FROM raw
    """,
    tags=("text", "M5", "curation", "url"),
    doc="URL canonicalization: fragment/tracking-param removal, "
    "case/port normalization, trailing-slash strip — pure map-side "
    "regexp chain, WholeStageCodegen, zero shuffles at any scale.",
)
def txt_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    raw = _spark_raw_urls(docs)
    return raw.select("doc_id", "url", canonical_url(F.col("url")).alias("canon"))


@register(
    "dd_url_dedup",
    oracle=f"""
    WITH raw AS ({_DUCK_RAW_URLS}),
    canon AS (
      SELECT doc_id, {duck_canonical_url("url")} AS canon FROM raw
    )
    SELECT doc_id, canon FROM (
      SELECT doc_id, canon,
             ROW_NUMBER() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
      FROM canon
    ) WHERE rn = 1
    """,
    tags=("dedup", "M5", "curation", "url"),
    doc="URL-level dedup: first-wins survivor per canonical URL. The "
    "canonicalization is map-side; the only shuffle is the one "
    "hash-partitioned window on the canonical key (same shape as "
    "dd_exact_dedup — no skew risk beyond true per-URL duplicate "
    "counts, which is the workload's intrinsic output).",
)
def dd_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    canon = _spark_raw_urls(docs).select(
        "doc_id", canonical_url(F.col("url")).alias("canon")
    )
    w = Window.partitionBy("canon").orderBy("doc_id")
    return (
        canon.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "canon")
    )


# ------------------------------------------------------- DSIR weights

DSIR_BUCKETS = 1024  # hashed n-gram feature space (paper uses 10k)


@register(
    "txt_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {duck_word_tokens("text")} AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             {duck_md5_i32("g")} % {DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 1, 0)),
                 i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks
      )
    ),
    src AS (SELECT b, COUNT(*) AS cs FROM feats GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
    ns AS (SELECT COUNT(*) AS n_src FROM feats),
    nt AS (SELECT COUNT(*) AS n_tgt FROM feats WHERE lang = 'en'),
    lr AS (
      SELECT s.b,
             CAST(round(ln(
               (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                 * (ns.n_src + {DSIR_BUCKETS}))
               / (CAST(s.cs + 1 AS DOUBLE) * (nt.n_tgt + {DSIR_BUCKETS}))
             ), 6) AS DECIMAL(18,6)) AS logratio
      FROM src s LEFT JOIN tgt t USING (b)
      CROSS JOIN ns CROSS JOIN nt
    )
    SELECT doc_id, n_feats, logw FROM (
      SELECT f.doc_id, COUNT(*) AS n_feats,
             -- + 0.0 normalizes IEEE negative zero: a tiny negative
             -- sum rounds to -0.0 here but 0.0 in Spark
             round(CAST(SUM(lr.logratio) AS DOUBLE), 3) + 0.0 AS logw
      FROM feats f JOIN lr USING (b)
      GROUP BY f.doc_id
    )
    """,
    tags=("text", "M5", "curation", "sampling", "dsir"),
    doc="DSIR importance weights (Xie et al., 'Data Selection for "
    "Language Models via Importance Resampling', NeurIPS 2023): score "
    "every raw document by log p_target/p_source under hashed-bigram "
    f"bag-of-words models ({DSIR_BUCKETS} md5 buckets; the target "
    "distribution is the corpus's lang='en' slice standing in for the "
    "high-quality reference corpus, the source is the whole corpus). "
    "Resampling by these weights is the principled alternative to the "
    "hard quality gates in txt_quality_filter. Plan shape: tokenize → "
    "map-side bigram assembly (zip with own tail, no self-join) → two "
    "partial-agg bucket counts (source and target in one pass family) "
    "→ a BUCKET-space log-ratio table (1024 rows, broadcast onto the "
    "feature stream) → per-doc partial-agg sum. The only data-sized "
    "shuffles key on the bucket id and the doc id; the model itself "
    "is O(buckets), so the same plan holds when the corpus is 100 TB "
    "— the per-bucket counts are the sufficient statistic, never the "
    "features. Cross-engine determinism: one ln() per bucket (not per "
    "token instance), quantized fine (1e-6, exact DECIMAL sums) with "
    "the per-doc output rounded coarse (1e-3) — the "
    "txt_unigram_logprob discipline.",
)
def txt_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", word_tokens(F.col("text")).alias("t"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    ).select("doc_id", "lang", (md5_i32(F.col("g")) % DSIR_BUCKETS).alias("b"))
    # pinned: the hashed-bigram feature stream has FIVE consumers
    # (source/target bucket counts, both totals, the scoring join) —
    # unpinned each re-ran tokenize + bigram zip + md5 from the scan
    # (r12, guide §5 compute-once)
    feats = feats.localCheckpoint(eager=False)
    src = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        feats.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ns = feats.agg(F.count(F.lit(1)).alias("n_src"))
    nt = feats.filter(F.col("lang") == "en").agg(
        F.count(F.lit(1)).alias("n_tgt")
    )
    lr = (
        src.join(tgt, "b", "left")
        .join(F.broadcast(ns))
        .join(F.broadcast(nt))
        .select(
            "b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        * (F.col("n_src") + F.lit(DSIR_BUCKETS))
                    )
                    / (
                        (F.col("cs") + 1).cast("double")
                        * (F.col("n_tgt") + F.lit(DSIR_BUCKETS))
                    )
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logratio"),
        )
    )
    return (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            (F.round(F.sum("logratio").cast("double"), 3) + F.lit(0.0)).alias(
                "logw"
            ),
        )
        .select("doc_id", "n_feats", "logw")
    )


# --------------------------------------------------- Gopher rule set

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000

# One source of truth for the five Gopher rules (exact integer
# arithmetic, cross-multiplied ratios) — consumed by txt_gopher_rules'
# oracle AND the composed txt_curation_dag oracle.
GOPHER_RULES_SQL = {
    "ok_word_count": f"n_words >= {GOPHER_MIN_WORDS} AND "
    f"n_words <= {GOPHER_MAX_WORDS}",
    "ok_mean_word_len": "3 * n_words <= sum_len AND sum_len <= 10 * n_words",
    "ok_symbol_ratio": "10 * n_symbols < n_words",
    "ok_alpha_frac": "5 * n_alpha >= 4 * n_words",
    "ok_stopwords": "n_stop >= 2",
}
GOPHER_PASS_SQL = " AND ".join(f"({e})" for e in GOPHER_RULES_SQL.values())


def duck_gopher_m_cte(source: str = "documents", prefix: str = "") -> str:
    """{p}gbase → {p}gm CTE chain computing the Gopher rule metrics
    (n_words, sum_len, n_symbols, n_alpha, n_stop) per doc of
    ``source``. The rule predicates themselves are GOPHER_RULES_SQL /
    GOPHER_PASS_SQL over {p}gm."""
    p = prefix
    return f"""{p}gbase AS (
      SELECT doc_id,
             {duck_ws_tokens("text")} AS toks,
             {duck_word_tokens("text")} AS words,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
               AS n_symbols
      FROM {source}
    ),
    {p}gm AS (
      SELECT doc_id, n_symbols,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len,
             CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
             CAST(len(list_intersect(list_distinct(words),
                    [{", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)}])) AS BIGINT)
               AS n_stop
      FROM {p}gbase
    )"""


def gopher_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, ok_*..., passes_all) — the Gopher rule set as
    one map-side plan over any (doc_id, text) DataFrame. Shared by
    txt_gopher_rules and txt_curation_dag."""
    base = docs.select(
        "doc_id",
        ws_tokens(F.col("text")).alias("toks"),
        word_tokens(F.col("text")).alias("words"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            .cast("long")
            + F.floor(
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit("...")))
                )
                / 3
            ).cast("long")
        ).alias("n_symbols"),
    )
    m = base.select(
        "doc_id",
        "n_symbols",
        F.size("toks").cast("long").alias("n_words"),
        F.aggregate(
            F.transform(F.col("toks"), lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.size(
            F.filter(F.col("toks"), lambda x: x.rlike("[A-Za-z]"))
        )
        .cast("long")
        .alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.col("words")),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )
        )
        .cast("long")
        .alias("n_stop"),
    )
    ok_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_mwl = (3 * F.col("n_words") <= F.col("sum_len")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    ok_sym = 10 * F.col("n_symbols") < F.col("n_words")
    ok_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    ok_stop = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "n_words",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("passes_all"),
    )


@register(
    "txt_gopher_rules",
    oracle=f"""
    WITH {duck_gopher_m_cte()}
    SELECT doc_id, n_words,
           {GOPHER_RULES_SQL["ok_word_count"]} AS ok_word_count,
           {GOPHER_RULES_SQL["ok_mean_word_len"]} AS ok_mean_word_len,
           {GOPHER_RULES_SQL["ok_symbol_ratio"]} AS ok_symbol_ratio,
           {GOPHER_RULES_SQL["ok_alpha_frac"]} AS ok_alpha_frac,
           {GOPHER_RULES_SQL["ok_stopwords"]} AS ok_stopwords,
           {GOPHER_PASS_SQL} AS passes_all
    FROM gm
    """,
    tags=("text", "M5", "curation", "quality", "gopher"),
    doc="The Gopher quality rule set (Rae et al. 2021, arXiv:2112.11446 "
    "§A1.1) as ONE map-side plan — the reference heuristic suite most "
    "pretraining curation stacks start from: word-count bounds "
    f"[{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length in "
    "[3, 10], symbol-to-word ratio (#/ellipsis) < 0.1, >= 80% of "
    "tokens containing an alphabetic character, and >= 2 distinct "
    "required stop words. Every rule is evaluated in EXACT integer "
    "arithmetic (ratio thresholds cross-multiplied: 10*symbols < "
    "words, 5*alpha >= 4*words, 3n <= sum_len <= 10n) so both engines "
    "agree bitwise with no float boundaries at all. All counts come "
    "from higher-order array expressions over each row — zero "
    "shuffles, zero explodes; at 100 TB this is a pure scan-side "
    "gate that composes with any downstream pass (the per-rule "
    "booleans, not just the verdict, are emitted because curation "
    "tuning needs the breakdown).",
)
def txt_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flags(load(spark, sf_dir, "documents"))


# ------------------------------------------ Tokenizer training (BPE)

BPE_PAIR_TOPK = 25


@register(
    "txt_bpe_pairs",
    oracle=f"""
    WITH words AS (
      SELECT unnest({duck_word_tokens("text")}) AS w
      FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY w),
    pairs AS (
      SELECT unnest(list_append(
               list_transform(range(1, length(w)),
                 i -> substring(w, CAST(i AS INT), 1) || ' ' ||
                      substring(w, CAST(i AS INT) + 1, 1)),
               substring(w, length(w), 1) || ' </w>')) AS pair,
             f
      FROM wf
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT {BPE_PAIR_TOPK}
    """,
    tags=("curation", "M5", "tokenizer", "aggregate"),
    doc="The distributed step of BPE tokenizer training (Sennrich et "
    "al., ACL 2016): adjacent-symbol pair counts over the corpus, "
    "top-25 merge candidates with a lexicographic tiebreak. The key "
    "scale move is counting over the VOCABULARY, not the corpus: one "
    "word-frequency partial aggregate compresses 100 TB of text to "
    "its Zipf-bounded distinct-word table, and the per-word "
    "char-pair explosion (with the classic </w> end-of-word marker) "
    "runs over that compressed table weighted by frequency — exactly "
    "how production tokenizer trainers split the work (distributed "
    "word count, then merge-loop over the count dict). Pair counts "
    "are frequency-weighted exact integers on both engines.",
)
def txt_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    # chars + end-of-word marker; pairs = zip of the symbol array with
    # its own tail (same no-self-join idiom as txt_ngram_counts)
    cs = F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>")))
    npairs = F.greatest(F.size(cs) - 1, F.lit(0))
    pairs = wf.select(
        F.explode(
            F.zip_with(
                F.slice(cs, 1, npairs),
                F.slice(cs, 2, npairs),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_PAIR_TOPK)
    )


# ------------------------------------- Data-constrained mixing planner

MIX_BUDGET_X = 2        # token budget as a multiple of corpus size
MIX_MAX_EPOCHS_PM = 4000  # repeat cap, permille (4 epochs)


@register(
    "txt_mix_epochs",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             {duck_token_count("text")} AS nt
      FROM documents
    ),
    per AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS tokens
            FROM tok GROUP BY source),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
                   COUNT(*) AS n_src FROM per)
    SELECT source, tokens,
           LEAST({MIX_MAX_EPOCHS_PM},
                 ((({MIX_BUDGET_X} * total) // n_src) * 1000) // tokens)
             AS epochs_permille,
           (tokens * LEAST({MIX_MAX_EPOCHS_PM},
                 ((({MIX_BUDGET_X} * total) // n_src) * 1000) // tokens))
             // 1000 AS sampled_tokens
    FROM per CROSS JOIN tot
    """,
    tags=("curation", "M5", "mixing", "aggregate"),
    doc="Data-constrained mixing planner (Muennighoff et al., NeurIPS "
    "2023 'Scaling Data-Constrained Language Models'): given a token "
    "budget of 2x the corpus and an equal per-source allocation, "
    "compute each source's repeat factor capped at 4 epochs (beyond "
    "which repeated data stops helping) and the resulting sampled "
    "token count. One partial-agg scan to per-source token counts, "
    "then a broadcast of the 1-row corpus total onto the 20-row "
    "source table — the whole plan after the scan is metadata-sized "
    "at any corpus scale. All arithmetic is integer permille "
    "(cross-multiplied, no doubles), bit-identical across engines.",
)
def txt_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", token_count(F.col("text")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("tokens"))
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_src"),
    )
    fair_pm = F.expr(
        f"((({MIX_BUDGET_X} * total) DIV n_src) * 1000) DIV tokens"
    )
    epochs = F.least(F.lit(MIX_MAX_EPOCHS_PM).cast("long"), fair_pm)
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        epochs.alias("epochs_permille"),
        F.expr(
            f"(tokens * least(CAST({MIX_MAX_EPOCHS_PM} AS BIGINT),"
            f" ((({MIX_BUDGET_X} * total) DIV n_src) * 1000) DIV tokens))"
            " DIV 1000"
        ).alias("sampled_tokens"),
    )


# ------------------------------------------ Unicode normalization

# \x{...} escapes: the one hex form BOTH Java regex (Spark) and RE2
# (DuckDB) parse — RE2 silently mis-reads Java's \uXXXX (caught by the
# non-ASCII unit fixture, which cross-checks the two engines directly)
_ZW_RE = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"      # zero-width + BOM
_CTRL_RE = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"  # C0 minus \t \n \r


def nfc_norm_expr(col: F.Column) -> F.Column:
    """The corpus normalization chain as a reusable Column: NFC
    composition (Arrow-batched pandas UDF over unicodedata — Spark has
    no builtin normalizer), zero-width/BOM strip, C0 control strip
    (tab/newline kept), whitespace-run collapse, trim. Shared by
    txt_nfc_normalize and the composed txt_curation_dag so the two
    can't drift."""
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(s):
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    _nfc = pandas_udf(_nfc_batch, "string")
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(_nfc(col), _ZW_RE, ""),
                _CTRL_RE,
                "",
            ),
            "[ \\t]+",
            " ",
        )
    )


def duck_norm_sql(col: str) -> str:
    """DuckDB mirror of nfc_norm_expr (nfc_normalize implements the
    same Unicode algorithm — verified bit-identical cross-engine)."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"nfc_normalize({col}), '{_ZW_RE}', '', 'g'), "
        f"'{_CTRL_RE}', '', 'g'), '[ \\t]+', ' ', 'g'))"
    )


@register(
    "txt_nfc_normalize",
    oracle=f"""
    SELECT doc_id, norm_text,
           CAST(norm_text <> text AS BOOLEAN) AS changed
    FROM (
      SELECT doc_id, text, {duck_norm_sql('text')} AS norm_text
      FROM documents
    )
    """,
    tags=("curation", "M5", "normalize", "arrow-udf"),
    doc="Unicode text normalization — the first pass of every corpus "
    "pipeline: NFC composition (so 'e%CC%81' and precomposed "
    "'\\u00e9' dedup/tokenize identically), zero-width/BOM strip, C0 "
    "control strip (tab/newline kept), whitespace-run collapse, trim. "
    "NFC runs as an Arrow-batched pandas UDF over Python's "
    "unicodedata (Spark has no builtin normalizer); everything else "
    "is JVM-side regexp. DuckDB's nfc_normalize implements the same "
    "Unicode algorithm — verified bit-identical cross-engine; the "
    "non-ASCII path (combining marks, mojibake survivors) is pinned "
    "by unit fixtures since the synthetic corpus is pure ASCII. "
    "Map-side only: zero shuffles at any corpus size.",
)
def txt_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = nfc_norm_expr(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).alias("changed"),
    )


# --------------------------------------- Tokenizer apply (BPE encode)

BPE_ENC_MERGES = 8


def _bpe_oracle() -> str:
    """Generate the DuckDB mirror of the iterative BPE trainer+apply:
    BPE_ENC_MERGES repetitions of (pair-count over the current
    segmentations, 1-row argmax, literal-replace apply) as a chained
    CTE block, then the per-doc encode join. Built by a loop at import
    time; the registered oracle is still a static string."""
    parts = [
        f"WITH words0 AS (SELECT unnest({duck_word_tokens('text')}) AS w"
        " FROM documents),",
        "wf AS (SELECT w, COUNT(*) AS f FROM words0 GROUP BY w),",
        "seg0 AS (SELECT w, f, '⟨' || array_to_string(list_append("
        "regexp_extract_all(w, '.'), '</w>'), '⟩⟨') ||"
        " '⟩' AS s FROM wf),",
    ]
    for i in range(BPE_ENC_MERGES):
        parts += [
            f"li{i} AS (SELECT f, s, regexp_extract_all(s,"
            f" '⟨([^⟩]*)⟩', 1) AS li FROM seg{i}),",
            f"pr{i} AS (SELECT unnest(list_transform(generate_series(1,"
            f" len(li) - 1), k -> li[k] || ' ' || li[k+1])) AS pair, f"
            f" FROM li{i}),",
            f"best{i} AS (SELECT pair FROM (SELECT pair, SUM(f) AS n"
            f" FROM pr{i} GROUP BY pair) ORDER BY n DESC, pair LIMIT 1),",
            f"seg{i + 1} AS (SELECT w, f, replace(s,"
            f" '⟨' || split_part(pair, ' ', 1) || '⟩⟨' ||"
            f" split_part(pair, ' ', 2) || '⟩',"
            f" '⟨' || replace(pair, ' ', '') || '⟩') AS s"
            f" FROM seg{i} CROSS JOIN best{i}),",
        ]
    parts += [
        f"wtok AS (SELECT w, len(regexp_extract_all(s,"
        f" '⟨([^⟩]*)⟩', 1)) AS nt"
        f" FROM seg{BPE_ENC_MERGES}),",
        f"dw AS (SELECT doc_id, unnest({duck_word_tokens('text')}) AS w"
        " FROM documents),",
        "agg AS (SELECT doc_id, CAST(SUM(nt) AS BIGINT) AS n FROM dw"
        " JOIN wtok USING (w) GROUP BY doc_id)",
        "SELECT d.doc_id, COALESCE(agg.n, 0) AS n_bpe_tokens"
        " FROM documents d LEFT JOIN agg USING (doc_id)",
    ]
    return "\n".join(parts)


@register(
    "txt_bpe_encode",
    oracle=_bpe_oracle(),
    tags=("curation", "M5", "tokenizer", "aggregate", "join", "iterative"),
    doc="Closes the BPE loop (Sennrich et al., ACL 2016): train "
    f"{BPE_ENC_MERGES} merges end-to-end, then ENCODE the corpus — "
    "per-doc BPE token counts. Scale shape: segmentations live as "
    "⟨sym⟩ block strings on the Zipf-bounded VOCABULARY "
    "table (never the corpus); each training iteration is a "
    "distributed pair-count partial agg over that table and the "
    "driver collects exactly ONE row (the argmax pair) per merge — "
    "the same bounded-metadata contract as the k-means centroid "
    "loop. Merge application is a literal string replace (left-to-"
    "right non-overlapping — exactly BPE's one-pass merge rule), "
    "identical on both engines. The encode pass touches the corpus "
    "once: word stream -> broadcast join against the tiny "
    "word->token-count map -> per-doc sum. Ties in the argmax break "
    "(count DESC, pair ASC) on both sides.",
)
def txt_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    sym_arr = F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>")))
    seg0 = F.concat(
        F.lit("⟨"), F.array_join(sym_arr, "⟩⟨"), F.lit("⟩")
    )
    # vocab is the sufficient statistic: localCheckpoint pins it so the
    # corpus scan runs once, and re-pins each iteration so the replace
    # chain doesn't deepen the plan
    cur = wf.select("w", "f", seg0.alias("s")).localCheckpoint(eager=False)
    blocks = F.regexp_extract_all(
        F.col("s"), F.lit("⟨([^⟩]*)⟩"), 1
    )
    for _ in range(BPE_ENC_MERGES):
        npair = F.greatest(F.size(blocks) - 1, F.lit(0))
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice(blocks, 1, npair),
                    F.slice(blocks, 2, npair),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "f",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("f").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["pair"].split(" ")
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f"⟨{a}⟩⟨{b}⟩"),
                F.lit(f"⟨{a}{b}⟩"),
            ),
        ).localCheckpoint(eager=False)
    wtok = cur.select("w", F.size(blocks).alias("nt"))
    dw = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("w"))
    agg = (
        dw.join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(F.sum("nt").cast("long").alias("n"))
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_bpe_tokens"),
    )


# ------------------- WordPiece-style greedy longest-match tokenizer

WP_MAX_PIECE = 4   # max piece length admitted to the vocabulary
WP_MIN_COUNT = 5   # weighted corpus occurrences to admit a piece


def _duck_wordpiece_oracle() -> str:
    l, mc = WP_MAX_PIECE, WP_MIN_COUNT
    return f"""
    WITH RECURSIVE words0 AS (
      SELECT unnest({duck_word_tokens("text")}) AS w
      FROM documents
    ),
    wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words0 GROUP BY w
    ),
    posw AS (
      SELECT w, f, CAST(unnest(range(1, length(w) + 1)) AS INT) AS p
      FROM wf
    ),
    posl AS MATERIALIZED (
      SELECT w, f, p,
             CAST(unnest(range(1, least({l}, length(w) - p + 1) + 1)) AS INT)
               AS pl
      FROM posw
    ),
    cand AS MATERIALIZED (
      SELECT w, f, p, pl, substr(w, p, pl) AS piece FROM posl
    ),
    pieces AS MATERIALIZED (
      SELECT piece FROM (
        SELECT piece, SUM(f) AS pf FROM cand GROUP BY piece
      ) WHERE pf >= {mc} OR length(piece) = 1
    ),
    ml AS MATERIALIZED (
      SELECT c.w, c.p, MAX(c.pl) AS ml
      FROM cand c JOIN pieces USING (piece) GROUP BY 1, 2
    ),
    -- The greedy walk is a RECURSIVE CTE over the (w, p) -> ml TABLE:
    -- one chain per word, each step jumps pos by the longest match at
    -- pos (the join fails once pos > len(w), ending the chain). No
    -- lambdas anywhere: DuckDB 1.0's reduce() with list-typed
    -- accumulators / outer-column capture is NONDETERMINISTIC on
    -- multi-row RAGGED inputs — measured: repeated runs returned
    -- different token counts for a changing subset of words, even at
    -- threads=1. Single chars are always admitted, so every step
    -- advances >= 1 and the walk terminates in len(w) steps.
    walk(w, pos, cnt) AS (
      SELECT w, 1, 0 FROM wf
      UNION ALL
      SELECT k.w, k.pos + m.ml, k.cnt + 1
      FROM walk k JOIN ml m ON m.w = k.w AND m.p = k.pos
    ),
    wtok AS (
      SELECT w, CAST(MAX(cnt) AS BIGINT) AS nt FROM walk GROUP BY w
    ),
    dw AS (
      SELECT doc_id, unnest({duck_word_tokens("text")}) AS w
      FROM documents
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(nt) AS BIGINT) AS n
      FROM dw JOIN wtok USING (w) GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(agg.n, 0) AS n_wp_tokens
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


@register(
    "txt_wordpiece_encode",
    oracle=_duck_wordpiece_oracle(),
    tags=("curation", "M5", "tokenizer", "aggregate", "join"),
    doc=f"The OTHER major subword-tokenizer family, completing the pair "
    "with txt_bpe_encode: WordPiece-style greedy longest-match-first "
    "encoding (the BERT lineage — Wu et al. 2016 §4.1's inference "
    "rule; BPE applies learned merges, WordPiece greedily takes the "
    f"longest vocabulary piece at each position). Vocabulary = every "
    f"word substring of length <= {WP_MAX_PIECE} with >= {WP_MIN_COUNT} "
    "frequency-weighted corpus occurrences, plus all single chars "
    "(the fallback that guarantees every word tokenizes). Scale "
    "shape, same contract as the BPE loop: all tokenizer work runs on "
    "the Zipf-bounded DISTINCT-WORD table, never the corpus — "
    "candidate pieces are one explode over word x position x length, "
    "admission one partial agg, the per-position longest match one "
    "vocab semi-join + max, and the greedy walk a higher-order "
    "aggregate fold over each word's match-length array (advance >= 1 "
    "per step, so len(w) steps always suffice). The corpus is touched "
    "once: word stream -> broadcast join against the word->count map "
    "-> per-doc sum. Integer arithmetic end to end — no log-prob "
    "floats anywhere, so both engines agree bitwise.",
)
def txt_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pos_l = (
        wf.select(
            "w",
            "f",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("p"),
        )
        .select(
            "w",
            "f",
            "p",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(WP_MAX_PIECE), F.length("w") - F.col("p") + 1
                    ),
                )
            ).alias("pl"),
        )
        .withColumn("piece", F.col("w").substr(F.col("p"), F.col("pl")))
        # pinned: same two-consumer piece explosion as
        # txt_unigram_tokenize (vocab aggregate + encode join) — one
        # tokenize+double-explode instead of two (r12)
        .localCheckpoint(eager=False)
    )
    pieces = (
        pos_l.groupBy("piece")
        .agg(F.sum("f").alias("pf"))
        .filter((F.col("pf") >= WP_MIN_COUNT) | (F.length("piece") == 1))
        .select("piece")
    )
    ml = (
        pos_l.join(F.broadcast(pieces), "piece", "left_semi")
        .groupBy("w", "p")
        .agg(F.max("pl").alias("ml"))
    )
    mla = ml.groupBy("w").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "ml"))),
            lambda s: s["ml"],
        ).alias("mla")
    )
    # greedy longest-match walk: fold len(w) steps carrying (pos, cnt);
    # single chars are always admitted so every step advances >= 1
    zero = F.struct(
        F.lit(1).cast("int").alias("pos"), F.lit(0).cast("long").alias("cnt")
    )
    walk = F.aggregate(
        F.sequence(F.lit(1), F.size(F.col("mla"))),
        zero,
        lambda acc, _: F.when(
            acc["pos"] <= F.size(F.col("mla")),
            F.struct(
                (acc["pos"] + F.element_at(F.col("mla"), acc["pos"]))
                .cast("int")
                .alias("pos"),
                (acc["cnt"] + 1).alias("cnt"),
            ),
        ).otherwise(acc),
    )
    wtok = mla.select("w", walk.getField("cnt").alias("nt"))
    dw = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("w"))
    agg = (
        dw.join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(F.sum("nt").cast("long").alias("n"))
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_wp_tokens"),
    )


# --------------- unigram-LM (Viterbi) subword tokenizer, Kudo 2018

UG_MAX_PIECE = 4    # max piece length admitted to the vocabulary
UG_MIN_COUNT = 5    # weighted corpus occurrences to admit a piece
UG_NT_STRIDE = 1024  # combined = cost * stride + n_tokens (words <= 8 chars)
UG_BIG = 2**61      # infeasible-transition sentinel (> any real path)


def _duck_unigram_oracle() -> str:
    l, mc = UG_MAX_PIECE, UG_MIN_COUNT
    s, big = UG_NT_STRIDE, UG_BIG
    # dp[k] = min over piece lengths j (1..L, vocab-matched, ending at
    # k) of dp[k-j] + cost_j, with ties broken by FEWEST tokens —
    # encoded lexicographically as combined = cost * stride + nt, so
    # the transition is just parent + cost_j * stride + 1 and MIN is
    # exact. The walk carries the last L dp values as a fixed-length
    # list; each step is fully unrolled into scalar expressions
    # (lambda-free, like the round-7 DTW oracle): prevs[L-j+1] = dp[k-j].
    terms = ", ".join(
        f"coalesce(k.prevs[{l} - {j} + 1] + e.c{j} * {s} + 1, CAST({big} AS BIGINT))"
        for j in range(1, l + 1)
    )
    shift = ", ".join(f"k.prevs[{i}]" for i in range(2, l + 1))
    ccols = ", ".join(
        f"MAX(CASE WHEN pl = {j} THEN cost END) AS c{j}" for j in range(1, l + 1)
    )
    return f"""
    WITH RECURSIVE words0 AS (
      SELECT unnest({duck_word_tokens("text")}) AS w
      FROM documents
    ),
    wf AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words0 GROUP BY w
    ),
    posw AS (
      SELECT w, f, CAST(unnest(range(1, length(w) + 1)) AS INT) AS p
      FROM wf
    ),
    posl AS MATERIALIZED (
      SELECT w, f, p,
             CAST(unnest(range(1, least({l}, length(w) - p + 1) + 1)) AS INT)
               AS pl
      FROM posw
    ),
    cand AS MATERIALIZED (
      SELECT w, f, p, pl, substr(w, p, pl) AS piece FROM posl
    ),
    piecef AS MATERIALIZED (
      SELECT piece, length(piece) AS pl, SUM(f) AS pf FROM cand GROUP BY 1, 2
    ),
    vocab AS MATERIALIZED (
      SELECT piece, pl, pf FROM piecef WHERE pf >= {mc} OR pl = 1
    ),
    tot AS (SELECT CAST(SUM(pf) AS DOUBLE) AS t FROM vocab),
    vc AS MATERIALIZED (
      SELECT piece, pl,
             CAST(round(-1000000.0 * ln(CAST(pf AS DOUBLE) / tot.t), 0)
                  AS BIGINT) AS cost
      FROM vocab CROSS JOIN tot
    ),
    endw AS MATERIALIZED (
      SELECT w, k, {ccols} FROM (
        SELECT c.w AS w, c.p + c.pl - 1 AS k, c.pl AS pl, vc.cost AS cost
        FROM cand c JOIN vc ON vc.piece = c.piece AND vc.pl = c.pl
      )
      GROUP BY 1, 2
    ),
    walk(w, k, prevs, dpk) AS (
      SELECT w, 0,
             list_transform(range({l - 1}), x -> CAST({big} AS BIGINT))
               || [CAST(0 AS BIGINT)],
             CAST(0 AS BIGINT)
      FROM wf
      UNION ALL
      SELECT k.w, k.k + 1,
             [{shift}, least({terms})],
             least({terms})
      FROM walk k JOIN endw e ON e.w = k.w AND e.k = k.k + 1
    ),
    wtok AS (
      SELECT k.w, CAST(k.dpk // {s} AS BIGINT) AS wcost,
             CAST(k.dpk % {s} AS BIGINT) AS wnt
      FROM walk k JOIN wf ON wf.w = k.w
      WHERE k.k = length(k.w)
    ),
    dw AS (
      SELECT doc_id, unnest({duck_word_tokens("text")}) AS w
      FROM documents
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(wnt) AS BIGINT) AS n,
             CAST(SUM(wcost) AS BIGINT) AS c
      FROM dw JOIN wtok USING (w) GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(agg.n, 0) AS n_ug_tokens,
           COALESCE(agg.c, 0) AS ug_cost
    FROM documents d LEFT JOIN agg USING (doc_id)
    """


@register(
    "txt_unigram_tokenize",
    oracle=_duck_unigram_oracle(),
    tags=("curation", "M5", "tokenizer", "aggregate", "join"),
    doc=f"The THIRD major subword-tokenizer family, completing the "
    "triangle with txt_bpe_encode (merge-order) and "
    "txt_wordpiece_encode (greedy longest-match): unigram-LM "
    "segmentation (Kudo, ACL 2018 — the SentencePiece default), where "
    "each word takes its GLOBALLY OPTIMAL segmentation — minimum total "
    "self-information under a piece unigram model, ties to fewest "
    f"pieces. Vocabulary = word substrings of length <= {UG_MAX_PIECE} "
    f"with >= {UG_MIN_COUNT} weighted occurrences plus all single "
    "chars (feasibility fallback); piece costs are integer MICRO-NATS "
    "(round(-1e6*ln(pf/total)) — the txt_unigram_logprob quantization "
    "device; NB this is mitigation, not proof: a cost can land "
    "arbitrarily close to a .5 rounding boundary where a 1-ulp ln() "
    "difference between engines could still flip the integer by one — "
    "residual cross-engine risk ~1e-9 per distinct piece, accepted and "
    "watched by the sweep rather than engineered away), and the "
    "Viterbi value AFTER quantization is the lexicographic "
    f"(cost, n_tokens) pair packed as cost*{UG_NT_STRIDE}+nt so the "
    "whole DP is exact BIGINT MIN — both engines agree bitwise. Scale "
    "shape, same sufficient-statistic contract as the other two "
    "tokenizers: vocabulary, costs and the per-word DP all run on the "
    "Zipf-bounded DISTINCT-WORD table (max word length 8 here, so "
    "<= 8 DP steps of <= 4 unrolled transitions each); the corpus is "
    "touched once — word stream -> broadcast word->(cost,nt) map -> "
    "per-doc sum. Emits per-doc optimal token count AND total encoding "
    "cost, the quantity a compression-quality curation gate thresholds "
    "(high cost/token = far from the corpus piece distribution).",
)
def txt_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pos_l = (
        wf.select(
            "w",
            "f",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("p"),
        )
        .select(
            "w",
            "f",
            "p",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(UG_MAX_PIECE), F.length("w") - F.col("p") + 1
                    ),
                )
            ).alias("pl"),
        )
        .withColumn("piece", F.col("w").substr(F.col("p"), F.col("pl")))
        # pinned: the positional piece explosion feeds both the piece-
        # frequency aggregate and the DP transition join — one
        # tokenize+double-explode instead of two (r12)
        .localCheckpoint(eager=False)
    )
    piecef = pos_l.groupBy("piece", F.length("piece").alias("pl")).agg(
        F.sum("f").alias("pf")
    )
    vocab = piecef.filter(
        (F.col("pf") >= UG_MIN_COUNT) | (F.col("pl") == 1)
    ).localCheckpoint(eager=False)  # two consumers: total + costs
    tot = vocab.agg(F.sum("pf").cast("double").alias("t"))
    vc = vocab.join(F.broadcast(tot)).select(
        "piece",
        "pl",
        F.round(
            F.lit(-1000000.0) * F.log(F.col("pf").cast("double") / F.col("t")),
            0,
        )
        .cast("long")
        .alias("cost"),
    )
    # per (word, END position): cost of the vocab piece of each length
    # ending there (NULL when absent) — the DP's transition table
    endw = (
        pos_l.join(F.broadcast(vc), ["piece", "pl"])
        .groupBy("w", (F.col("p") + F.col("pl") - 1).alias("k"))
        .agg(
            *[
                F.max(F.when(F.col("pl") == j, F.col("cost"))).alias(f"c{j}")
                for j in range(1, UG_MAX_PIECE + 1)
            ]
        )
    )
    carr = endw.groupBy("w").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "k", *[f"c{j}" for j in range(1, UG_MAX_PIECE + 1)]
                    )
                )
            ),
            lambda st: F.struct(
                *[st[f"c{j}"].alias(f"c{j}") for j in range(1, UG_MAX_PIECE + 1)]
            ),
        ).alias("ends")
    )
    BIG = F.lit(UG_BIG).cast("long")
    S = F.lit(UG_NT_STRIDE).cast("long")

    # Viterbi fold over END positions k = 1..len(w): the accumulator is
    # the full dp list (dp[0..k-1], combined encoding); every transition
    # is feasible only via a non-NULL c_j, and element_at(acc, k-j+1)
    # is in range whenever c_j is non-NULL (a length-j piece ending at
    # k starts at k-j+1 >= 1).
    def step(acc, k):
        e = F.element_at(F.col("ends"), k.cast("int"))
        cands = [
            F.coalesce(
                # the index is clamped only so ANSI element_at never
                # sees 0/negative when k < j — there c_j is NULL, the
                # whole candidate is NULL, and coalesce yields BIG
                F.element_at(
                    acc, F.greatest(k - j + 1, F.lit(1)).cast("int")
                )
                + e[f"c{j}"] * S
                + F.lit(1),
                BIG,
            )
            for j in range(1, UG_MAX_PIECE + 1)
        ]
        return F.concat(acc, F.array(F.least(*cands)))

    dp = F.aggregate(
        F.sequence(F.lit(1), F.size(F.col("ends"))),
        F.array(F.lit(0).cast("long")),
        step,
    )
    combined = F.element_at(dp, F.size(F.col("ends")) + 1)
    wtok = carr.select(
        "w",
        (combined / S).cast("long").alias("wcost"),
        (combined % S).cast("long").alias("wnt"),
    )
    dw = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("w"))
    agg = (
        dw.join(F.broadcast(wtok), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("wnt").cast("long").alias("n"),
            F.sum("wcost").cast("long").alias("c"),
        )
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_ug_tokens"),
        F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("ug_cost"),
    )


# --------------------------------- CCNet-style perplexity bucketing

PPL_REF_SOURCES = ("src0", "src1", "src2", "src3")
_PPL_REF_SQL = ", ".join(f"'{s}'" for s in PPL_REF_SOURCES)


@register(
    "txt_perplexity_bucket",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             {duck_word_tokens("text")} AS t
      FROM documents
    ),
    bigr AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg
      FROM toks
    ),
    db AS (SELECT doc_id, source, bg.w1 AS w1, bg.w2 AS w2 FROM bigr),
    c2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM db
      WHERE source IN ({_PPL_REF_SQL}) GROUP BY 1, 2
    ),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT tok) + 1 AS v FROM (
        SELECT unnest(t) AS tok FROM toks WHERE source IN ({_PPL_REF_SQL}))
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(round(ln((COALESCE(c2.c2, 0) + 1.0)
                           / (COALESCE(c1.c1, 0) + (SELECT v FROM vocab))), 6)
                  AS DECIMAL(18,6)) AS logp
      FROM db d
      LEFT JOIN c2 ON c2.w1 = d.w1 AND c2.w2 = d.w2
      LEFT JOIN c1 ON c1.w1 = d.w1
    ),
    h AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(round(-CAST(SUM(logp) AS DOUBLE) / COUNT(*) * 1000)
                  AS BIGINT) AS h_milli
      FROM scored GROUP BY doc_id
    ),
    thr AS (
      SELECT quantile_cont(h_milli, 1.0/3.0) AS t1,
             quantile_cont(h_milli, 2.0/3.0) AS t2
      FROM h
    )
    SELECT doc_id, n_bigrams, h_milli,
           CASE WHEN h_milli <= (SELECT t1 FROM thr) THEN 'head'
                WHEN h_milli <= (SELECT t2 FROM thr) THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM h
    """,
    tags=("text", "M5", "curation", "quality", "lm", "bench"),
    doc="CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 "
    "'CCNet: Extracting High Quality Monolingual Datasets from Web "
    "Crawl Data'): a Laplace-smoothed bigram LM is trained on the "
    f"reference subset (source in {PPL_REF_SOURCES} — the Wikipedia "
    "stand-in), every document is scored by cross-entropy under it "
    "(p(w2|w1) = (c+1)/(ctx+V), unseen contexts fall back to 1/V), "
    "and the corpus splits into head/middle/tail at the tercile "
    "boundaries — the bucket decides keep/drop in CCNet's pipeline. "
    "Plan: the bigram LM is two partial-agg shuffles over the "
    "REFERENCE slice only (vocab-bounded output); scoring joins each "
    "corpus bigram to the model (AQE broadcasts while it fits); "
    "tercile thresholds come from ONE exact-percentile aggregate over "
    "doc-level rows and broadcast back — no global sort/ntile "
    "single-partition window (at 100 TB swap in approx_percentile; "
    "the threshold-join shape is unchanged). Determinism: per-bigram "
    "log-probs quantized at 1e-6 and DECIMAL-summed (the "
    "txt_unigram_logprob discipline), cross-entropy shipped as "
    "integer milli-nats, and percentile interpolation over integers "
    "is bit-identical in both engines (rel_percentile precedent).",
)
def txt_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", word_tokens(F.col("text")).alias("t")
    )
    tail_len = F.greatest(F.size("t") - 1, F.lit(0))
    db = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, tail_len),
                F.slice(F.col("t"), 2, tail_len),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # pinned: the bigram table has TWO consumers (the reference-count
    # branch and the scoring join), each of which would re-run the
    # tokenize + zip_with bigram explode from the corpus scan (r12,
    # guide §5 compute-once); the vocab scalar keeps its own scan — it
    # needs whole-token distincts the bigram stream can't supply
    db = db.localCheckpoint(eager=False)
    ref = db.filter(F.col("source").isin(*PPL_REF_SOURCES))
    c2 = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = (
        toks.filter(F.col("source").isin(*PPL_REF_SOURCES))
        .select(F.explode("t").alias("tok"))
        .agg((F.countDistinct("tok") + 1).alias("v"))
    )
    scored = (
        db.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    h = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(-F.sum("logp").cast("double") / F.count(F.lit(1)) * 1000, 0)
        .cast("long")
        .alias("h_milli"),
    )
    thr = h.agg(
        F.expr("percentile(h_milli, 1.0D/3.0D)").alias("t1"),
        F.expr("percentile(h_milli, 2.0D/3.0D)").alias("t2"),
    )
    return h.join(F.broadcast(thr)).select(
        "doc_id",
        "n_bigrams",
        "h_milli",
        F.when(F.col("h_milli") <= F.col("t1"), F.lit("head"))
        .when(F.col("h_milli") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


# ------------------------------ ingest drift monitoring (PSI)

PSI_LEN_BAND = 100   # chars per length bucket
PSI_LEN_MAX_B = 9    # buckets 0..9 (>=900 chars pools into the top band)


@register(
    "txt_drift_psi",
    oracle=f"""
    WITH feat AS (
      SELECT source, metric, bucket FROM (
        SELECT source, 'length' AS metric,
               CAST(least(n_chars // {PSI_LEN_BAND}, {PSI_LEN_MAX_B})
                    AS VARCHAR) AS bucket
        FROM documents
        UNION ALL
        SELECT source, 'lang' AS metric, lang AS bucket FROM documents
      )
    ),
    domain AS (SELECT DISTINCT metric, bucket FROM feat),
    bsz AS (SELECT metric, COUNT(*) AS b FROM domain GROUP BY 1),
    refc AS (
      SELECT metric, bucket, COUNT(*) AS c
      FROM feat WHERE source IN ({_PPL_REF_SQL}) GROUP BY 1, 2
    ),
    refn AS (
      SELECT metric, CAST(SUM(c) AS BIGINT) AS n FROM refc GROUP BY 1
    ),
    srcc AS (
      SELECT source, metric, bucket, COUNT(*) AS c
      FROM feat WHERE source NOT IN ({_PPL_REF_SQL}) GROUP BY 1, 2, 3
    ),
    srcn AS (
      SELECT source, metric, CAST(SUM(c) AS BIGINT) AS n
      FROM srcc GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, d.metric, d.bucket,
             COALESCE(r.c, 0) AS cr, COALESCE(c.c, 0) AS cs,
             rn.n AS nr, s.n AS ns, z.b AS b
      FROM srcn s
      JOIN domain d ON d.metric = s.metric
      JOIN bsz z ON z.metric = d.metric
      JOIN refn rn ON rn.metric = d.metric
      LEFT JOIN refc r ON r.metric = d.metric AND r.bucket = d.bucket
      LEFT JOIN srcc c ON c.source = s.source AND c.metric = d.metric
                      AND c.bucket = d.bucket
    ),
    terms AS (
      SELECT source, metric, ns,
             CAST(round(((cr + 1.0) / (nr + b) - (cs + 1.0) / (ns + b))
                        * ln(((cr + 1.0) * (ns + b))
                             / ((cs + 1.0) * (nr + b))), 6)
                  AS DECIMAL(18,6)) AS term
      FROM grid
    )
    SELECT source, metric,
           CAST(CAST(SUM(term) AS DECIMAL(18,6)) AS DOUBLE) AS psi,
           CAST(MAX(ns) AS BIGINT) AS n_docs
    FROM terms GROUP BY 1, 2
    """,
    tags=("text", "M5", "curation", "monitoring"),
    doc=f"Ingest drift monitoring via the Population Stability Index "
    f"(the standard model-monitoring drift statistic): every non-"
    f"reference source's length distribution ({PSI_LEN_BAND}-char "
    f"bands, top band pooled) and language distribution are compared "
    f"against the curated reference slice (source in "
    f"{PPL_REF_SOURCES}), PSI = sum((p-q)*ln(p/q)) with add-one "
    "smoothing over the observed bucket domain. The rule-of-thumb "
    "gates (<0.1 stable, 0.1-0.25 drifting, >0.25 shifted) tell an "
    "ingest pipeline a crawl snapshot changed under it BEFORE the "
    "corpus is spent on training. Each per-bucket term is rounded to "
    "DECIMAL(18,6) BEFORE the sum, so the final PSI is an exact "
    "decimal addition — order-independent, hence bit-identical under "
    "any shuffle/partitioning and hash-checkable cross-engine (the "
    "same trick as txt_unigram_logprob). Plan: one scan melted to "
    "(source, metric, bucket) partial-agg counts; everything after "
    "is metadata-sized (sources x buckets rows) at any corpus scale.",
)
def txt_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    # Materialize the bucket-count table (sources x buckets rows):
    # _psi_from_counts references it through SIX join branches (domain,
    # bucket sizes, ref/source counts and totals) whose projections and
    # filters all DIFFER, so exchange reuse cannot collapse them and
    # each re-expands to its own corpus scan — the plan read 12
    # FileScans of documents for a metadata-sized aggregate (r7
    # scan-fanout audit). localCheckpoint(eager=False), not persist():
    # both pin the single scan, but persist() registers in the session
    # CacheManager and the blocks outlive the query (they accumulated
    # across the sweep/bench harness until LRU eviction — r7 ADVICE);
    # a local checkpoint's blocks are freed by the ContextCleaner once
    # the returned frame is garbage-collected. Lazy, so plan lints and
    # query construction stay job-free. The streaming twin already
    # materializes this boundary (st_drift_psi's run_to_table +
    # localCheckpoint).
    counts = (
        _psi_feat(docs)
        .groupBy("source", "metric", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    return _psi_from_counts(counts)


def _psi_feat(docs: DataFrame) -> DataFrame:
    """Melt documents to the monitored (source, metric, bucket) long
    form — works identically on a batch frame and a streaming frame.
    The melt is ONE pass: explode over an array of (metric, bucket)
    structs, not a unionByName of per-metric selects (which plans a
    separate corpus scan per metric arm — the same duplicate-lineage
    shape fixed in dd_doc_sim_topk this round)."""
    len_b = F.least(
        F.floor(F.col("n_chars") / PSI_LEN_BAND), F.lit(PSI_LEN_MAX_B)
    ).cast("string")
    m = F.explode(
        F.array(
            F.struct(
                F.lit("length").alias("metric"), len_b.alias("bucket")
            ),
            F.struct(
                F.lit("lang").alias("metric"),
                F.col("lang").cast("string").alias("bucket"),
            ),
        )
    ).alias("m")
    return docs.select("source", m).select("source", "m.metric", "m.bucket")


def _psi_from_counts(counts: DataFrame) -> DataFrame:
    """PSI over a (source, metric, bucket, c) count table — the tiny
    metadata-sized tail shared by the batch and streaming forms."""
    is_ref = F.col("source").isin(*PPL_REF_SOURCES)
    domain = counts.select("metric", "bucket").distinct()
    bsz = domain.groupBy("metric").agg(F.count(F.lit(1)).alias("b"))
    refc = (
        counts.filter(is_ref)
        .groupBy("metric", "bucket")
        .agg(F.sum("c").cast("long").alias("cr"))
    )
    refn = refc.groupBy("metric").agg(F.sum("cr").cast("long").alias("nr"))
    srcc = (
        counts.filter(~is_ref)
        .groupBy("source", "metric", "bucket")
        .agg(F.sum("c").cast("long").alias("cs"))
    )
    srcn = srcc.groupBy("source", "metric").agg(F.sum("cs").cast("long").alias("ns"))
    # every side of this join tree is a partial-agg output of at most
    # sources x buckets rows — broadcast joins end to end
    grid = (
        srcn.join(F.broadcast(domain), "metric")
        .join(F.broadcast(bsz), "metric")
        .join(F.broadcast(refn), "metric")
        .join(F.broadcast(refc), ["metric", "bucket"], "left")
        .join(F.broadcast(srcc), ["source", "metric", "bucket"], "left")
        .select(
            "source",
            "metric",
            "ns",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("cs", F.lit(0)).alias("cs"),
            "nr",
            "b",
        )
    )
    p = (F.col("cr") + 1.0) / (F.col("nr") + F.col("b"))
    q = (F.col("cs") + 1.0) / (F.col("ns") + F.col("b"))
    ratio = ((F.col("cr") + 1.0) * (F.col("ns") + F.col("b"))) / (
        (F.col("cs") + 1.0) * (F.col("nr") + F.col("b"))
    )
    term = F.round((p - q) * F.log(ratio), 6).cast("decimal(18,6)")
    return (
        grid.select("source", "metric", "ns", term.alias("term"))
        .groupBy("source", "metric")
        .agg(
            F.sum("term").cast("decimal(18,6)").cast("double").alias("psi"),
            F.max("ns").cast("long").alias("n_docs"),
        )
    )


# --------------------------------------- per-domain document cap

DOMAIN_CAP = 10  # max documents admitted per registered domain


@register(
    "txt_domain_cap",
    oracle=f"""
    WITH raw AS ({_DUCK_RAW_URLS}),
    canon AS (
      SELECT r.doc_id, d.n_chars, {duck_canonical_url("r.url")} AS canon
      FROM raw r JOIN documents d ON d.doc_id = r.doc_id
    ),
    dom AS (
      SELECT doc_id, n_chars,
             regexp_extract(canon, 'https?://([^/:]+)', 1) AS domain
      FROM canon
    )
    SELECT doc_id, domain, CAST(rnk AS BIGINT) AS domain_rank FROM (
      SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM dom
    ) WHERE rnk <= {DOMAIN_CAP}
    """,
    tags=("text", "M5", "curation", "url", "sampling"),
    doc=f"Per-domain document cap (the anti-spam / anti-SEO-farm "
    f"curation gate the C4/Gopher lineage applies so no single host "
    f"dominates the corpus): admit at most {DOMAIN_CAP} documents per "
    "registered domain, priority = longest document first (the cheap "
    "quality proxy), ties to the smallest doc_id. The rank <= N "
    "filter compiles to WindowGroupLimit (Spark 3.5+), which takes "
    "per-partition partial top-N BEFORE the shuffle — so a hot domain "
    "with 10M pages ships only N rows per input partition, not 10M, "
    "and the per-domain window never materializes the whole domain.",
)
def txt_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    canon = _spark_raw_urls(docs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).select(
        "doc_id",
        "n_chars",
        canonical_url(F.col("url")).alias("canon"),
    )
    dom = canon.select(
        "doc_id",
        "n_chars",
        F.regexp_extract(F.col("canon"), r"https?://([^/:]+)", 1).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        dom.withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= DOMAIN_CAP)
        .select("doc_id", "domain", F.col("domain_rank").cast("long").alias("domain_rank"))
    )
